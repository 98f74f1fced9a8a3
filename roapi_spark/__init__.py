"""roapi_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of roapi/roapi (reference surveyed in SURVEY.md).

Architecture (Spark-first, not a port):

- ``session``   — SparkSession factory tuned for columnar scans + AQE.
- ``config``    — YAML table/config parsing (reference: roapi/src/config.rs).
- ``types``     — declared Arrow-style schema syntax -> Spark StructType
                  (reference: columnq/src/table/mod.rs:170-219).
- ``catalog``   — table registry: load/register/drop/refresh + KV store
                  (reference: columnq/src/columnq.rs).
- ``sources``   — format loaders (csv/json/ndjson/parquet/delta/arrow-ipc/
                  excel/jdbc/stdin/http), reference: columnq/src/table/*.
- ``query``     — SQL passthrough + REST & GraphQL planners
                  (reference: columnq/src/query/*).
- ``encoders``  — response encoders json/csv/parquet/arrow + content
                  negotiation (reference: columnq/src/encoding/*).
- ``server``    — HTTP API layer (reference: roapi/src/api/*).
- ``functions`` — LLM-data-pipeline operators beyond the reference surface,
                  one module per domain: text (shared reader and
                  tokenizers), quality, tokenizers, dedup, selection,
                  similarity, crawl, formats (source/encoder/Delta gates),
                  fixtures, multimodal.

Everything executes through Spark SQL / Catalyst; the only Python-side work
is API translation and driver-side encoding.
"""

__version__ = "0.4.0"
