"""cs_tutorial_reporting_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the reference
``astronomer/cs-tutorial-reporting`` (an Airflow-orchestrated ELT reporting
pipeline) as an idiomatic Spark DataFrame/SQL library, and extends the
surface with large-scale LLM-training-data operators (dedup, similarity
search, text analysis, multimodal column plumbing).

Layout
------
- ``session``    SparkSession factory (UTC, AQE, Arrow).
- ``schemas``    explicit StructType catalog (reference rpt.* tables +
                 the driver star schema).
- ``sources``    readers/sinks: parquet, line-mode JSON arrays, CSV with
                 ''→NULL, partitioned/compressed writes.
- ``operators``  the reference's operator semantics as DataFrame
                 combinators (watermark / incremental / anti-join dedup /
                 project_cast) plus the [EXT] operators Spark lacks
                 natively (minhash-LSH dedup, ANN search, sessionization,
                 as-of join).
- ``functions``  columnar helper expressions (text stats, vector math) —
                 built-in ``pyspark.sql.functions`` compositions, JVM-side.
- ``plans``      the reference's three pipelines (EP1-EP3) as lazy
                 DataFrame chains.
- ``streaming``  Structured Streaming variants (windowed aggregation,
                 session windows) of the batch operators.
- ``multimodal`` opaque binary columns + typed metadata; decode stubs.

Design rules (see SURVEY.md §4, §7): declarative DataFrame plans only —
no RDDs, no driver-side row loops, no row-at-a-time Python UDFs on hot
paths; Arrow ``pandas_udf`` / ``applyInPandas`` only where no built-in
expression exists. Zero custom Catalyst rules are needed for reference
parity.
"""

__version__ = "0.1.0"
