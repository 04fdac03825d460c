"""Table reader: parquet (default) with Iceberg gated behind an
import/classpath check.

The north_star names an Iceberg webtext table; this container has no
Iceberg runtime jars, so parquet is the storage engine here and the
Iceberg read path activates when the jar + catalog conf exist
(documented, not stubbed with fakes).  Both branches return the same
DataFrame shape.  The pipeline's sinks are always hive-style parquet
dirs (plans/pipeline.py), so manifest resume and split_id partition
pruning do not depend on the input's storage engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog", False,
            spark._jvm.Thread.currentThread().getContextClassLoader(),
        )
        return True
    except Exception:
        return False


def read_webtext(spark: SparkSession, location: str) -> DataFrame:
    """Read the webtext table from either an Iceberg table identifier
    (catalog.db.table) or a parquet path.

    Iceberg identifiers contain no '/' — that plus availability of the
    runtime picks the branch.
    """
    if "/" not in location and iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)
