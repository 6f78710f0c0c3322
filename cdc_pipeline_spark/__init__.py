"""cdc_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference real-time analytics pipeline (ANZER03/cdc-pipeline, surveyed in
/root/repo/SURVEY.md), re-expressed Spark-first:

* declarative DataFrame/SQL plans (Catalyst optimizes; no hand scheduling)
* windowed event-time aggregations (sliding + tumbling) for the KPI /
  region / traffic / health / geo pipelines
* CDC semantics (Debezium-style envelope: op filter, timestamp
  normalization, latest-state-per-key dedup)
* broadcast dimension enrichment joins
* Structured Streaming wrappers with watermark + foreachBatch kv sinks
* large-scale training-data operators: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding-cosine), similarity search,
  text analysis, multimodal column plumbing

Everything in the hot path is built from `pyspark.sql.functions` built-ins
so plans stay inside whole-stage codegen; Python only appears in
Arrow-batched `mapInPandas`/`applyInPandas` operators where DataFrame
built-ins genuinely cannot express the semantics.
"""

__version__ = "0.1.0"
