"""uquery_rs_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of fb64/uquery-rs (µQuery).

The reference (see /root/reference, SURVEY.md) is an HTTP SQL gateway that
delegates all query execution to an embedded DuckDB and streams Arrow record
batches out as JSON / JSONL / CSV / Arrow IPC. This package re-expresses that
capability Spark-first:

- ``session``   — SparkSession factory tuned for OLAP (AQE, Arrow, UTC).
- ``engine``    — prepare/execute facade mirroring the reference's
                  ``UQueryEngine`` / ``RecordBatchConsumer`` contract
                  (reference: src/core/engine.rs:4-19): the JVM's Arrow
                  batches stream to the driver in result order.
- ``rewrite``   — pre-Catalyst SQL rewriting: path-as-table, read_* table
                  functions, macro expansion, dialect fixes, sandboxing
                  (reference: src/cli/options.rs, src/main.rs:327).
- ``writers``   — streaming result writers: JSON array, JSON Lines, CSV,
                  Arrow IPC, each encoding batches on the driver
                  (reference: src/web/consumers.rs).
- ``web``       — the HTTP service contract: POST / + GET /health, content
                  negotiation, problem+json errors, first-batch timeout
                  (reference: src/web/routers.rs).
- ``operators`` — DataFrame kernels beyond the reference's surface, used
                  by the registry's code entries and bench.py (the
                  served path does not import them): dedup (n-gram
                  Jaccard / MinHash-LSH / SimHash / winnowing), embedding
                  similarity search, text analysis, as-of join,
                  multimodal codecs.
- ``queries``   — the oracle-checked query corpus (one entry per operator
                  in SURVEY.md §2), exported through ``__spark_entry__``.
"""

__version__ = "0.1.0"
