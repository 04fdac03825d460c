"""hetman_spark — a from-scratch PySpark-native rebuild of the dataflow
semantics of hainenber/hetman (a Go log-shipping agent).

The reference moves one record at a time through goroutine stages:
tail -> parse -> modify -> buffer -> forward (see
/root/reference/internal/orchestrator/orchestrator.go:242-425).  This
package re-expresses the same per-record semantics as a batch-resumable
Spark pipeline over a Common-Crawl-style webtext table:

    read (parquet/iceberg) -> vectorized parse -> broadcast-join enrich
      -> tag-driven route -> per-sink partitioned writes
      + per-partition lineage + checkpoint-manifest resume.

Everything relational is stock Catalyst; custom code is confined to the
html slicing and grok parse (JVM column expressions), the
manifest/commit protocol, and the lineage side-output (SURVEY.md §7).
"""

__version__ = "0.1.0"
