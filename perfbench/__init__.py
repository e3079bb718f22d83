"""Benchmark of the Parquet-to-Postgres drain and the curation catalog."""
