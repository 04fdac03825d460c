"""Build hetman_spark.zip for spark-submit --py-files.

Usage:
    python tools/package.py [dest.zip]
    spark-submit --master <cluster> [--conf k=v ...] --py-files hetman_spark.zip \
        jobs/run_pipeline_job.py --input ... --out ... [any other `run` flag]

The job is the CLI's `run` (same flags, defaults and result line); the
session takes spark-submit's master and --conf over its own defaults.
tests/test_spark_submit.py builds this zip and launches both.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(dest: str = "hetman_spark.zip") -> str:
    dest = os.path.abspath(dest)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "hetman_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return dest


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else "hetman_spark.zip"))
