"""spark-submit entrypoint (the cluster deployment surface).

    python tools/package.py hetman_spark.zip
    spark-submit --master yarn --deploy-mode cluster \
        --py-files hetman_spark.zip \
        jobs/run_pipeline_job.py --input s3://.../webtext --out s3://.../out

The job is the CLI's `run` (hetman_spark/__main__.py): the same flags,
defaults and result line.  The session takes spark-submit's master and
every --conf over its own defaults (hetman_spark/session.py get_spark).
"""

from __future__ import annotations

import sys

from hetman_spark.__main__ import main as cli_main


def main(argv: list[str] | None = None) -> int:
    return cli_main(["run", *(sys.argv[1:] if argv is None else argv)])


if __name__ == "__main__":
    sys.exit(main())
