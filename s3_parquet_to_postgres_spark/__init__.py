"""PySpark-native analytics engine with the capabilities of
opsgang/s3-parquet-to-postgres, rebuilt Spark-first.

The reference is a checkpointed Parquet->Postgres ETL pipeline
(reference: src/runner.rs:47-112). This package re-expresses its data
model (per-file row streams, projected/renamed/cast flat columns,
resumable work lists, fail-fast destination validation) on top of the
Spark DataFrame API, and extends it with the relational query surface
its tests exercise plus LLM-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns).

Layout:
  session     SparkSession factory tuned for scale (AQE, Arrow, UTC)
  catalog     test-table loading helpers (incl. ns-timestamp handling)
  config      YAML job-spec model (reference: src/config.rs:7-37)
  sources/    parquet scan, work-list manifest, S3 REST staging client
  operators/  cast planner, dedup ladder (exact/MinHash/SimHash/
              Jaccard/components), similarity (exact/LSH/IVF), text
              stats + PII scrub, as-of & range joins, skew salting,
              multimodal binary columns
  functions/  cross-engine-exact numerics, UDF surface, layout helpers
  sinks/      Postgres COPY writer (BINARY/TEXT) with its catalog
              check, pure-stdlib wire client, staging-table swap
  plans/      declared query catalog (Spark query + DuckDB oracle SQL)
  pipeline    the one resumable drain: work list -> scan -> sink
              (reference: src/runner.rs:47-112)
"""

__version__ = "0.1.0"
