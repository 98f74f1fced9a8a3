"""Format loaders: TableSource -> DataFrame.

Dispatch by explicit ``option.format`` or extension/scheme sniffing
(reference: table::load, columnq/src/table/mod.rs:790-858).

Memory-table semantics: the reference fully materializes by default
(``use_memory_table: true``, mod.rs:292-294). At 100 TB that default is
wrong, so ours flips: lazy scan unless ``use_memory_table: true`` is
explicit — then we ``.cache()`` (deserialized columnar, the Spark analogue
of a MemTable). Documented deviation.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from roapi_spark.config import TableSource

LoaderFn = Callable[[SparkSession, TableSource], DataFrame]

_LOADERS: dict[str, str] = {
    "csv": "roapi_spark.sources.csv",
    "tsv": "roapi_spark.sources.csv",
    "json": "roapi_spark.sources.json_doc",
    "ndjson": "roapi_spark.sources.ndjson",
    "jsonl": "roapi_spark.sources.ndjson",
    "parquet": "roapi_spark.sources.parquet",
    "orc": "roapi_spark.sources.orc",
    "avro": "roapi_spark.sources.avro",
    "delta": "roapi_spark.sources.delta",
    "hudi": "roapi_spark.sources.hudi",
    "iceberg": "roapi_spark.sources.iceberg",
    "arrow": "roapi_spark.sources.arrow_ipc",
    "arrows": "roapi_spark.sources.arrow_ipc",
    "xlsx": "roapi_spark.sources.excel",
    "xls": "roapi_spark.sources.excel",
    "xlsb": "roapi_spark.sources.excel",
    "ods": "roapi_spark.sources.excel",
    "sqlite": "roapi_spark.sources.database",
    "mysql": "roapi_spark.sources.database",
    "postgres": "roapi_spark.sources.database",
    "google_spreadsheet": "roapi_spark.sources.gsheets",
    "airtable": "roapi_spark.sources.airtable",
    "binary": "roapi_spark.sources.binaryfile",
    "warc": "roapi_spark.sources.warc",
    "cdx": "roapi_spark.sources.cdx",
    "sitemap": "roapi_spark.sources.sitemap",
}


class LoadError(RuntimeError):
    pass


# Serializes the save/set/restore of the session-global batch confs below.
# Without it, the catalog refresh thread reloading a batch_size table while
# another thread runs a query briefly applies that table's batch size to the
# unrelated query, and two interleaved loads can restore a stale value
# permanently (set A, set B, restore A, restore original → A sticks).
_BATCH_CONF_LOCK = threading.Lock()


def load_table(spark: SparkSession, ts: TableSource) -> DataFrame:
    """Load a table source into a (lazy where possible) DataFrame."""
    import importlib

    from roapi_spark.sources.http import fetch_to_local, is_download

    uri = ts.uri
    if is_download(ts):
        ts = fetch_to_local(ts)
    elif uri == "stdin" or uri == "-":
        from roapi_spark.sources.stdin import stdin_to_local

        ts = stdin_to_local(ts)
    else:
        from roapi_spark.sources.object_store import (
            OBJECT_STORE_SCHEMES,
            apply_object_store_conf,
        )

        if uri.split("://", 1)[0] in OBJECT_STORE_SCHEMES:
            ts = apply_object_store_conf(spark, ts)

    fmt = ts.resolved_format()
    mod_name = _LOADERS.get(fmt)
    if mod_name is None:
        raise LoadError(f"no loader for format {fmt!r} (table {ts.name!r})")
    if not ts.batch_size:
        mod = importlib.import_module(mod_name)
        df = mod.to_dataframe(spark, ts)
        if ts.use_memory_table:
            df = df.cache()
        return df

    # parity knob (columnq table/mod.rs:570-572, default 8192): columnq
    # slices the table into RecordBatches at LOAD time, so batch_size is
    # naturally per-table there. Spark reads its batch confs at QUERY
    # time, so a session-wide set would leak to every other table
    # (last-loaded wins). Scope the confs to this load instead, and for
    # use_memory_table force materialization inside the scope so the
    # cached InMemoryRelation is actually built at this batch size —
    # the closest faithful mapping of columnq's load-time batching.
    confs = (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.parquet.columnarReaderBatchSize",
    )
    with _BATCH_CONF_LOCK:
        saved = {}
        for k in confs:
            try:
                saved[k] = spark.conf.get(k)
            except Exception:  # noqa: BLE001 — conf unset: restore by unset
                saved[k] = None
        try:
            for k in confs:
                spark.conf.set(k, str(ts.batch_size))
            mod = importlib.import_module(mod_name)
            df = mod.to_dataframe(spark, ts)
            if ts.use_memory_table:
                df = df.cache()
                df.count()  # materialize under the scoped batch size
            return df
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
