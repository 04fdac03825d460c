"""SparkSession factory with scale-aware defaults.

The reference tunes fixed constants (batch 20, channel cap 1024,
1 s flush — /root/reference/internal/buffer/buffer.go:64,94,107).  The
Spark analogs are session configs, set once here for every entry point:
the CLI, the spark-submit job (which is the CLI), tests and bench.
Under spark-submit the launcher's master and --conf values win over
these defaults, so the same job runs on a laptop and on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _launcher_conf() -> dict[str, str]:
    """The conf spark-submit handed the driver: its master, every
    --conf and the properties file, read from the launcher's JVM.
    Empty in a plain `python` process, which has no launcher JVM."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "hetman_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Precedence: the explicit arguments (master, shuffle_partitions,
    extra_conf) beat what a launcher set (spark-submit's master, its
    --conf and properties file), which beats the defaults below.  A
    plain `python` process has no launcher, so it runs on
    local[SPARK_GRAFT_CPUS] with every default.

    Defaults chosen for the webtext workload:
    - AQE on (+ skew join): runtime re-plan is the backstop for
      hot-domain/lang skew the north_rule calls out.
    - Arrow enabled for the pandas UDFs that remain (dynamic JSON,
      the modifier's Go-semantics regex fallback, some entry queries
      and text functions); the html parse runs in the JVM and crosses
      no Arrow boundary.
    - UTC session TZ so DuckDB-oracle comparisons are stable.
    - PySpark call-site capture off: it costs about 2 ms of driver
      time per Column operation, serial time in every batch's plan
      build.
    - shuffle partitions ~ cores of the master (at least 8).
    """
    launcher = _launcher_conf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    run_master = master or launcher.get("spark.master") or f"local[{cpus}]"
    spec = (
        run_master[run_master.find("[") + 1 : run_master.find("]")] if "[" in run_master else "32"
    )
    if spec == "*":
        total = 32
    elif "," in spec:  # local-cluster[N,coresPerExec,mem]
        parts = spec.split(",")
        total = int(parts[0]) * int(parts[1])
    else:
        total = int(spec)
    defaults = {
        "spark.app.name": app_name,
        "spark.master": run_master,
        "spark.sql.shuffle.partitions": str(max(8, total)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # rebalanced write parallelism: 64MB advisory partitions
        # coalesce a few-hundred-MB stage to ~5 tasks and starve the
        # executors (measured: write phase scaled 2->8 cores at 0.54
        # efficiency); 16MB keeps small stages parallel while still
        # producing sane file sizes — at real scale splits are GBs and
        # this knob stops mattering.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 8192 rows per Arrow batch: fewer Python round-trips for the
        # pandas UDFs.  A UDF over a column of multi-KB values should
        # lower this so a batch stays ~10s of MB (SURVEY §4 "big
        # binary rows vs Arrow batches").
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # stderr progress bars corrupt captured bench/driver output
        "spark.ui.showConsoleProgress": "false",
        # every writer in this engine relies on partition-scoped
        # overwrite for idempotent commits (batch manifest + streaming
        # epoch sink); static mode would wipe sibling partitions
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # the `stream` CLI sums rows over recentProgress; the default
        # 100-entry window would undercount drains of >100 micro-batches
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # PySpark's call-site capture (_with_origin) walks the Python
        # stack and retries `import IPython` on every Column and
        # DataFrame call: `F.col("a") + 1` took 2.8 ms with it and
        # 0.6 ms without (4-CPU box, mean of 2000 calls).  One
        # pipeline batch's plan makes about 130 such calls.  Analysis
        # errors still name the column and show the plan; runtime
        # errors keep their error class but lose the Python file:line.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if os.environ.get("HETMAN_SPARK_KAFKA_PACKAGES"):
        # S5/F4 last mile: pull the Kafka connector from Maven at
        # session build.  Opt-in via env because this sandbox has NO
        # network (curl to repo1.maven.org: exit 6, DNS failure —
        # recorded in BENCH.md) and an unreachable resolver would hang
        # every session for minutes of ivy retries.  On a networked
        # cluster: HETMAN_SPARK_KAFKA_PACKAGES=1 (or spark-submit
        # --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2).
        defaults["spark.jars.packages"] = "org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2"
    explicit = dict(extra_conf or {})
    if master:
        explicit["spark.master"] = master
    if shuffle_partitions is not None:
        explicit["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf = {k: v for k, v in defaults.items() if k not in launcher}
    builder = SparkSession.builder
    for k, v in {**conf, **explicit}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
