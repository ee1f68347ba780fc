"""PySpark-native analytics engine with the query and data-processing
capabilities of Nonprofit-Open-Data-Collective/irs-990-efiler-database.

Architecture (Spark-first, NOT a port of the reference's R engine):

- ``session``     — tuned SparkSession factory (AQE, Arrow, UTC).
- ``catalog``     — parquet table catalog over the test/star schema.
- ``sources``     — index (JSON), return XML (native Spark 4 XML source)
                    with PERMISSIVE parse + dead-letter split.
- ``plans``       — the concordance planner: metadata rows -> Catalyst
                    Column expressions (replaces the reference's R
                    metaprogramming, build_efile_database_functions.R:5186-5291).
- ``extract``     — CORE / Part VII / Schedule J / Schedule N builders
                    (reference: scrapeXML :307-4149, buildPartVII :4161-4414,
                    buildSchedJ :4424-4915, Sched N :2875-4140) + the
                    independent ElementTree golden oracle.
- ``queries``     — oracle-gated query registry: relational surface,
                    TPC-H-style analytics, extraction tables, index
                    pipeline, and training-data-pipeline operators
                    (dedup, similarity, text analysis).
- ``operators``   — training-data-pipeline operators: fuzzy dedup
                    (MinHash-LSH, SimHash, n-gram Jaccard) and vector
                    similarity search (cosine top-k, sign-LSH ANN).
- ``streaming``   — Structured Streaming over event feeds (watermarked
                    tumbling + session windows, availableNow drains)
                    with asserted batch parity.
- ``sinks``       — partitioned parquet / CSV / dead-letter writers,
                    partition upsert, compaction and Stata/SPSS export
                    (reference: saveRDS+write.csv :5136-5163).
- ``jobs``        — orchestration (reference: buildDatabase :4938-5177,
                    buildYear chunking replaced by dynamic partition
                    overwrite).
"""

__version__ = "0.1.0"
