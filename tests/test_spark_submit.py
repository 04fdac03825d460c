"""spark-submit smoke test: the deployment surface, launched for real.

The package zip from tools/package.py goes to spark-submit --py-files.
(a) the launcher's master and --conf reach the session that get_spark
builds, over its local[SPARK_GRAFT_CPUS] defaults; (b) the job
jobs/run_pipeline_job.py is the CLI's `run`: same flags (--dedup), and
a result line equal to an in-process `run` on the same input.  Each
launch ends when its process exits; the timeout only guards a hang.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from hetman_spark.__main__ import main as cli_main
from tools.package import build

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "spark-submit")):
        return os.path.join(home, "bin", "spark-submit")
    return shutil.which("spark-submit")


@pytest.fixture(scope="module")
def submit(tmp_path_factory):
    """Run spark-submit with the package zip; return the last stdout line."""
    exe = _spark_submit()
    if exe is None:
        pytest.skip("spark-submit not found on SPARK_HOME or PATH")
    work = tmp_path_factory.mktemp("submit")
    zip_path = build(str(work / "hetman_spark.zip"))
    # the child imports the package from the zip only
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="4", PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)

    def run(script: str, *args: str, conf: dict[str, str] | None = None) -> str:
        cmd = [exe, "--master", "local[2]", "--driver-memory", "1g"]
        for k, v in (conf or {}).items():
            cmd += ["--conf", f"{k}={v}"]
        cmd += ["--py-files", zip_path, script, *args]
        proc = subprocess.run(cmd, cwd=work, env=env, capture_output=True, text=True,
                              timeout=600)
        assert proc.returncode == 0, proc.stderr[-4000:]
        return proc.stdout.strip().splitlines()[-1]

    run.work = work
    return run


def test_launcher_master_and_conf_reach_the_session(submit):
    probe = submit.work / "probe.py"
    probe.write_text(
        "from hetman_spark.session import get_spark\n"
        "s = get_spark()\n"
        "print(s.sparkContext.master, s.conf.get('spark.sql.shuffle.partitions'))\n"
    )
    line = submit(str(probe), conf={"spark.sql.shuffle.partitions": "3"})
    assert line.split() == ["local[2]", "3"]


def test_submitted_job_equals_an_in_process_run(spark, submit, capsys):
    from hetman_spark.sources.webtext import write_webtext

    inp = str(submit.work / "webtext")
    write_webtext(spark, inp, 300, n_splits=4)
    job = os.path.join(REPO, "jobs", "run_pipeline_job.py")
    submitted = json.loads(submit(job, "--input", inp, "--out", str(submit.work / "out_job"),
                                  "--dedup"))

    assert cli_main(["run", "--input", inp, "--out", str(submit.work / "out_cli"), "--dedup",
                     "--master", "local[4]"]) == 0
    local = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert submitted["cmd"] == "run"
    assert submitted["rows_in"] == local["rows_in"] == 300
    for key in ("sink_counts", "stage_counts"):
        assert submitted[key] == local[key], key
    assert "dedup.dropped" in submitted["stage_counts"]
