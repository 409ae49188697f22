"""flink_kafka_spark — a PySpark-native analytics engine.

Re-implements, Spark-first, the query and data-processing capabilities of
the reference repo `wmyBigdata-1/Flink-kafka` (a Flink 1.13 user-behavior
analytics project: hot-items Top-N, network-flow PV/UV, marketing channel
stats, login-fail detection, order-pay timeout + reconciliation), and
extends them with large-scale training-data-pipeline operators
(deduplication, similarity search, multimodal plumbing, text analysis).

Architecture (see SURVEY.md §7):

- ``session``    — tuned SparkSession factory (AQE, UTC, arrow).
- ``pyworker``   — PySpark's worker daemon with the per-task zip
  importer re-reads removed (``get_spark`` sessions use it).
- ``tables``     — testdata/fixture loaders + temp-view registration.
- ``schemas``    — schemas and CSV line parsers for the reference's
  input streams and checked-in fixtures.
- ``io``         — partitioned/bucketed parquet, JSONL with corrupt-line
  capture, small-file compaction, epoch-order writers.
- ``caching``    — lifecycle tracking for operator-internal persists,
  released at query boundaries.
- ``operators/`` — reusable ``DataFrame -> DataFrame`` building blocks,
  one module per capability family (windows, topn, joins, patterns,
  dedup, similarity, text, multimodal, sketches, graph, iterate, dq,
  drift, layout, sampling, timeseries, versioning). Batch and
  streaming share these.
- ``queries/``   — the registry of named queries: each entry pairs a
  Spark callable ``(spark, sf_dir) -> DataFrame`` with an ANSI-SQL
  oracle string runnable by DuckDB on the same tables.
- ``streaming/`` — Structured Streaming variants: sources (kafka /
  socket / rate / file), sinks, watermarked windowed aggs, and the
  stateful operators (applyInPandasWithState) for CEP-like detection.

Everything here is built only on the public Apache Spark / PySpark API.
"""

__version__ = "0.1.0"
