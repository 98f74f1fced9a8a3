"""Source-format, response-encoder and Delta gates under the oracle.

Each gate writes a deterministic slice of a base table into the format
under test, loads it back through ``roapi_spark.sources.load_table`` or
reads it through the writer's own index, and aggregates; the DuckDB
oracle computes the same aggregate from the raw parquet, so a loader or
writer that drops rows, mangles types or mis-decodes a value
hash-mismatches.

* Sources: CSV/TSV/NDJSON/JSON-pointer, Arrow file and stream, Avro,
  ORC, SQLite, XLSX, Hive-partitioned directories, HTTP, Postgres, Hudi
  and Iceberg (``q_src_*``), plus the crawl formats: WARC, CDXJ and
  sitemaps.
* Encoders: CSV, JSON, Arrow file and stream, Parquet (``q_enc_*``) and
  the key-value store (``q_kv_lookup``).
* Delta: MERGE, time travel, checkpoint reads and Z-order skipping
  (``q_delta_*``), and the SQL surface over the catalog: maintenance,
  RESTORE, time travel, change data feed and CDC images
  (``q_sql_*``, ``stream_cdc_feed``).
* Crawl write-side round trips: WARC/WET/WAT sinks, CDX index build,
  merge, prefix and ZipNum lookups, as-of fetches and the sitemap sink.
"""

from __future__ import annotations

import json
import os
import sqlite3
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roapi_spark.functions.crawl import (
    EXTRACT_SCHEMA,
    NORM_LEN,
    URL_CTE,
    extract_kernel,
)
from roapi_spark.functions.fixtures import (
    N_SHARDS,
    cdx_fixture_dir,
    links_snapshot,
    range_master_dir,
    read_warc,
    sitemap_fixture_dir,
    two_round_crawl_dir,
    warc_fixture_dir,
    zipnum_master_dir,
)
from roapi_spark.functions.web import url_to_surt, url_to_surt_sql
from roapi_spark.plans.registry import register
from roapi_spark.util import serve_persist


# --- Delta MERGE end-to-end gate -------------------------------------------

_MERGE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


def _merged_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once Delta artifact: a base table from ``orders`` plus ONE
    MERGE commit exercising all three clauses (update, delete, insert)
    through the copy-on-write writer. The registered query reads the
    post-merge table back through the pure-Python delta source, so the
    oracle row checks writer DML + log commit + reader replay end to
    end."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import merge_delta, write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "deltamerge-v1")

    def ready(d: str) -> bool:
        return os.path.isfile(
            os.path.join(d, "_delta_log", f"{1:020d}.json")
        )

    def build(tmp: str) -> None:
        orders = spark.read.parquet(src)
        base = orders.filter("o_orderkey % 4 = 0").select(_MERGE_COLS)
        write_delta(base, tmp, mode="overwrite")
        source = (
            orders.filter("o_orderkey % 8 = 0 OR o_orderkey % 4 = 1")
            .select(_MERGE_COLS)
            .withColumn("o_orderstatus", F.lit("N"))
        )
        merge_delta(
            spark,
            tmp,
            source,
            on=["o_orderkey"],
            when_matched_update={
                "o_totalprice": "s.o_totalprice * 2",
                "o_orderstatus": "'U'",
            },
            when_matched_delete="t.o_orderkey % 16 = 0",
            when_not_matched_insert=True,
        )

    return build_once(out, ready, build)


@register(
    "q_delta_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 4 = 0
    ), src AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1
    ), merged AS (
      SELECT b.o_orderkey, b.o_custkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                  THEN b.o_totalprice * 2 ELSE b.o_totalprice
             END AS o_totalprice,
             CASE WHEN s.o_orderkey IS NOT NULL
                  THEN 'U' ELSE b.o_orderstatus
             END AS o_orderstatus
      FROM base b LEFT JOIN src s USING (o_orderkey)
      WHERE NOT (s.o_orderkey IS NOT NULL AND b.o_orderkey % 16 = 0)
      UNION ALL
      SELECT s.* FROM src s ANTI JOIN base b USING (o_orderkey)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="End-to-end gate for Delta row-level DML: a MERGE with matched-"
    "update (price doubled, status 'U'), matched-delete (every 16th "
    "key), and not-matched-insert (status 'N') committed copy-on-write "
    "by sinks/delta.merge_delta, then read back through the pure-Python "
    "log replay and aggregated by status. The oracle replicates the "
    "MERGE relationally, so a wrong rewrite (lost rows, double-applied "
    "updates, resurrected deletes) hash-mismatches. Plan: serve path is "
    "one FileScan of the build-once artifact + a 3-group agg; the merge "
    "itself rewrites only files containing matched keys (provenance "
    "semi-join), the scale-correct copy-on-write shape.",
    tags=("sql", "delta"),
)
def q_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources.delta import to_dataframe

    path = _merged_orders_table(spark, sf_dir)
    ts = TableSource(name="_merged", uri=path, format="delta", option={})
    return (
        to_dataframe(spark, ts)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_delta_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 4 = 0
    ), src AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1
    ), merged AS (
      SELECT b.o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                  THEN b.o_totalprice * 2 ELSE b.o_totalprice
             END AS o_totalprice
      FROM base b LEFT JOIN src s USING (o_orderkey)
      WHERE NOT (s.o_orderkey IS NOT NULL AND b.o_orderkey % 16 = 0)
      UNION ALL
      SELECT s.o_orderkey, s.o_totalprice
      FROM src s ANTI JOIN base b USING (o_orderkey)
    ),
    v0 AS (SELECT CAST(0 AS BIGINT) AS version,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS sum_cents
           FROM base),
    v1 AS (SELECT CAST(1 AS BIGINT) AS version,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS sum_cents
           FROM merged)
    SELECT * FROM v0 UNION ALL SELECT * FROM v1 ORDER BY version
    """,
    doc="Time travel under the driver gate: the post-MERGE Delta "
    "artifact is read BOTH at version=0 (the pre-merge base) and at "
    "HEAD through the pure-Python log replay, and each snapshot is "
    "summarized (row count + exact-integer cent sum). The oracle "
    "reconstructs both states relationally from orders, so a replay "
    "that leaks post-merge files into the v0 snapshot (or vice versa) "
    "hash-mismatches. Plan: two FileScans over disjoint snapshot file "
    "lists + two global aggs + a 2-row union — snapshot resolution is "
    "driver-side log replay, bounded by log size, never a data scan.",
    tags=("sql", "delta"),
)
def q_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources.delta import to_dataframe

    path = _merged_orders_table(spark, sf_dir)

    def snap(version: int | None, tag: int) -> DataFrame:
        opt = {} if version is None else {"version": str(version)}
        ts = TableSource(name=f"_tt{tag}", uri=path, format="delta", option=opt)
        return (
            to_dataframe(spark, ts)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(tag).cast("bigint").alias("version"),
                "n_rows",
                "sum_cents",
            )
        )
    return snap(0, 0).unionAll(snap(None, 1)).orderBy("version")


def _checkpointed_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once Delta artifact exercising checkpoint-seeded replay:
    base slice (v0), append (v1), classic parquet checkpoint at v1,
    then a post-checkpoint append (v2). Readers must seed from the
    checkpoint (columnar harvest, sources/delta._checkpoint_file_state)
    and replay only v2's json on top."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import write_checkpoint, write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "deltackpt-v1")

    def ready(d: str) -> bool:
        return os.path.isfile(
            os.path.join(d, "_delta_log", "_last_checkpoint")
        ) and os.path.isfile(os.path.join(d, "_delta_log", f"{2:020d}.json"))

    def build(tmp: str) -> None:
        orders = spark.read.parquet(src).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        write_delta(orders.filter("o_orderkey % 3 = 0"), tmp, mode="overwrite")
        write_delta(orders.filter("o_orderkey % 3 = 1"), tmp, mode="append")
        write_checkpoint(tmp)
        write_delta(orders.filter("o_orderkey % 3 = 2"), tmp, mode="append")

    return build_once(out, ready, build)


@register(
    "q_delta_checkpoint_read",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    """,
    doc="Checkpoint-seeded replay under the driver gate: the artifact "
    "has a classic parquet checkpoint at v1 (written by "
    "sinks/delta.write_checkpoint) plus a post-checkpoint json commit; "
    "the reader seeds its active set from the checkpoint via the "
    "columnar struct-field harvest and replays only v2 on top. The "
    "oracle is the full orders table (the three slices partition it), "
    "so a checkpoint that drops/duplicates adds, or a replay that "
    "re-applies pre-checkpoint commits, hash-mismatches. Plan: one "
    "FileScan over the snapshot file list + global agg; checkpoint "
    "parsing is driver-side and columnar (0.23 s at 100k adds, "
    "docs/SCALE.md round-9).",
    tags=("sql", "delta"),
)
def q_delta_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources.delta import to_dataframe

    path = _checkpointed_orders_table(spark, sf_dir)
    ts = TableSource(name="_ckpt", uri=path, format="delta", option={})
    return to_dataframe(spark, ts).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).cast("bigint").alias("sum_cents"),
    )


def _zordered_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once Delta artifact: orders written UNCLUSTERED across 8
    hash-partitioned files, then OPTIMIZE ZORDER BY (o_custkey,
    o_totalprice) — the two-dimensional clustering whose per-file
    min/max stats make selective predicates on either column prune
    files (measured 16x file-skip in tools/zorder_audit.py)."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import compact, write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "deltazorder-v1")

    def ready(d: str) -> bool:
        return os.path.isfile(
            os.path.join(d, "_delta_log", f"{1:020d}.json")
        )

    def build(tmp: str) -> None:
        orders = spark.read.parquet(src).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        write_delta(orders.repartition(8), tmp, mode="overwrite")
        compact(spark, tmp, target_partitions=8,
                zorder_by=["o_custkey", "o_totalprice"])

    return build_once(out, ready, build)


_ZORDER_CK = (100, 400)
_ZORDER_TP = (50_000.0, 150_000.0)


@register(
    "q_delta_zorder",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_custkey BETWEEN {_ZORDER_CK[0]} AND {_ZORDER_CK[1]}
      AND o_totalprice BETWEEN {_ZORDER_TP[0]} AND {_ZORDER_TP[1]}
    """,
    doc="End-to-end gate for OPTIMIZE ZORDER + stats-based file "
    "skipping: orders is written unclustered, Morton-clustered by "
    "(o_custkey, o_totalprice) via sinks/delta.compact, and the serve "
    "path resolves the file list through "
    "sources/delta.snapshot_adds_pruned — ONLY files whose add.stats "
    "min/max overlap the two-column range predicate are handed to the "
    "parquet scan. The oracle runs the same predicate over the raw "
    "orders table, so a skip of a file that held matching rows (stats "
    "written wrong, pruning too eager) hash-mismatches, and sum_cents "
    "is exact-integer so the check is engine-independent. Plan: one "
    "FileScan over the pruned candidates + global agg; at 100 TB the "
    "pruning shrinks the FILE LIST before any footer is opened — "
    "measured 4/64 files, 5.4/90 MB on an independent-uniform 2M-row "
    "table (tools/zorder_audit.py, docs/SCALE.md round-9).",
    tags=("sql", "delta"),
)
def q_delta_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.sources.delta import snapshot_adds_pruned

    path = _zordered_orders_table(spark, sf_dir)
    cand, _skipped, _cb, _tb = snapshot_adds_pruned(
        path,
        {"o_custkey": _ZORDER_CK, "o_totalprice": _ZORDER_TP},
    )
    return (
        spark.read.parquet(*sorted(cand))
        .filter(
            (F.col("o_custkey").between(*_ZORDER_CK))
            & (F.col("o_totalprice").between(*_ZORDER_TP))
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("sum_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


_COLS = ["o_orderkey", "o_custkey", "o_orderstatus"]

_SRC_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           MIN(o_orderstatus) AS min_status,
           MAX(o_orderstatus) AS max_status
    FROM orders WHERE o_orderkey % 10 = 0
"""


def _rows(spark: SparkSession, sf_dir: str) -> list[tuple[int, int, str]]:
    df = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter("o_orderkey % 10 = 0")
        .select(*_COLS)
        .orderBy("o_orderkey")
    )
    return [(r[0], r[1], r[2]) for r in df.collect()]


def _col_letters(ci: int) -> str:
    out = ""
    ci += 1
    while ci:
        ci, rem = divmod(ci - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _write_xlsx(path: str, rows: list[list]) -> None:
    """Minimal OOXML workbook (ECMA-376: workbook + one sheet + shared
    strings) — numbers as inline <v>, strings via the shared table."""
    shared: list[str] = []

    def cell(ref: str, v) -> str:
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if v not in shared:
            shared.append(v)
        return f'<c r="{ref}" t="s"><v>{shared.index(v)}</v></c>'

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    body = "".join(
        f'<row r="{ri + 1}">'
        + "".join(cell(f"{_col_letters(ci)}{ri + 1}", v) for ci, v in enumerate(row))
        + "</row>"
        for ri, row in enumerate(rows)
    )
    sst = "".join(f"<si><t>{s}</t></si>" for s in shared)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook {ns} {rns}><sheets>'
            f'<sheet name="orders" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
            'relationships"><Relationship Id="rId1" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/worksheet\" "
            'Target="worksheets/sheet1.xml"/></Relationships>',
        )
        zf.writestr("xl/sharedStrings.xml", f"<sst {ns}>{sst}</sst>")
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f"<worksheet {ns}><sheetData>{body}</sheetData></worksheet>",
        )


def _formats_dir(spark: SparkSession, sf_dir: str) -> str:
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sources.avro_lite import write_container

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srcfmt-v1")
    names = (
        "orders.csv", "orders.tsv", "orders.ndjson", "orders.json",
        "orders.arrow", "orders.arrows", "orders.avro", "orders_orc",
        "orders.db", "orders.xlsx",
    )

    def ready(d: str) -> bool:
        return all(os.path.exists(os.path.join(d, n)) for n in names)

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.ipc as ipc

        os.makedirs(tmp, exist_ok=True)
        rows = _rows(spark, sf_dir)

        with open(os.path.join(tmp, "orders.csv"), "w") as f:
            f.write(",".join(_COLS) + "\n")
            for k, c, s in rows:
                f.write(f"{k},{c},{s}\n")

        with open(os.path.join(tmp, "orders.tsv"), "w") as f:
            f.write("\t".join(_COLS) + "\n")
            for k, c, s_ in rows:
                f.write(f"{k}\t{c}\t{s_}\n")

        with open(os.path.join(tmp, "orders.ndjson"), "w") as f:
            for k, c, s in rows:
                f.write(json.dumps(dict(zip(_COLS, (k, c, s)))) + "\n")

        # nested document + RFC-6901 pointer (json.rs:57-80 parity shape)
        with open(os.path.join(tmp, "orders.json"), "w") as f:
            json.dump(
                {"meta": {"table": "orders"},
                 "data": {"rows": [dict(zip(_COLS, r)) for r in rows]}},
                f,
            )

        tbl = pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
                "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        with ipc.new_file(os.path.join(tmp, "orders.arrow"), tbl.schema) as w:
            w.write_table(tbl)
        with ipc.new_stream(os.path.join(tmp, "orders.arrows"), tbl.schema) as w:
            w.write_table(tbl)

        schema = {
            "type": "record",
            "name": "orders",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_custkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
            ],
        }
        with open(os.path.join(tmp, "orders.avro"), "wb") as f:
            f.write(
                write_container(
                    schema,
                    [dict(zip(_COLS, r)) for r in rows],
                    codec="deflate",
                )
            )

        (
            spark.createDataFrame(rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string")
            .coalesce(1)
            .write.mode("overwrite")
            .orc(os.path.join(tmp, "orders_orc"))
        )

        conn = sqlite3.connect(os.path.join(tmp, "orders.db"))
        conn.execute(
            "CREATE TABLE orders (o_orderkey INTEGER, o_custkey INTEGER, "
            "o_orderstatus TEXT)"
        )
        conn.executemany("INSERT INTO orders VALUES (?,?,?)", rows)
        conn.commit()
        conn.close()

        _write_xlsx(
            os.path.join(tmp, "orders.xlsx"),
            [list(_COLS)] + [list(r) for r in rows],
        )

    return build_once(out, ready, build)


def _agg(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("sum_key"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
    )


def _load(spark: SparkSession, path: str, fmt: str, option: dict | None = None):
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    return load_table(
        spark,
        TableSource(name="_fmt", uri=path, format=fmt, option=option or {}),
    )


def _gate(name: str, fmt: str, filename: str, option: dict | None = None,
          doc_extra: str = ""):
    @register(
        name,
        oracle=_SRC_ORACLE,
        doc=f"Source-format gate for the {fmt} loader: a deterministic "
        f"orders slice is materialized as {filename} and read back "
        f"through sources.load_table (the server's registration path), "
        f"then aggregated; the oracle computes the same aggregate from "
        f"the raw parquet, so dropped rows / type mangling / schema "
        f"mis-inference hash-mismatch. {doc_extra}Plan: fixture-sized "
        f"scan + global agg — the gate exercises decode correctness, "
        f"not scale (the scale path for bulk data is parquet/delta).",
        tags=("source", fmt),
    )
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = _formats_dir(spark, sf_dir)
        df = _load(spark, os.path.join(d, filename), fmt, option)
        return _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )

    q.__name__ = name
    return q


q_src_csv = _gate("q_src_csv", "csv", "orders.csv",
                  option={"has_header": True},
                  doc_extra="Schema inference over headered CSV. ")
q_src_ndjson = _gate("q_src_ndjson", "ndjson", "orders.ndjson")
q_src_json_pointer = _gate(
    "q_src_json_pointer", "json", "orders.json",
    option={"pointer": "/data/rows"},
    doc_extra="RFC-6901 pointer walk into a nested document. ")
q_src_arrow_file = _gate("q_src_arrow_file", "arrow", "orders.arrow")
q_src_arrow_stream = _gate("q_src_arrow_stream", "arrows", "orders.arrows")
q_src_avro = _gate(
    "q_src_avro", "avro", "orders.avro",
    doc_extra="Write side uses this repo's own avro_lite container "
    "encoder (deflate codec), so the gate pins encoder+decoder. ")
q_src_orc = _gate("q_src_orc", "orc", "orders_orc")
q_src_sqlite = _gate(
    "q_src_sqlite", "sqlite", "orders.db",
    option={"table": "orders"},
    doc_extra="stdlib sqlite3 database file through the database "
    "loader (S10). ")
q_src_xlsx = _gate(
    "q_src_xlsx", "xlsx", "orders.xlsx",
    doc_extra="Hand-rolled ECMA-376 workbook (shared strings + numeric "
    "cells) through the pure-Python xlsx decoder (S8). ")


q_src_tsv = _gate("q_src_tsv", "tsv", "orders.tsv",
                  option={"has_header": True},
                  doc_extra="Tab-delimiter variant of the CSV loader. ")


@register(
    "q_src_hive_partitioned",
    oracle=_SRC_ORACLE,
    doc="Hive-partition discovery gate (S13): the orders slice is "
    "written as o_orderstatus=<v>/ directories; the parquet loader must "
    "reconstruct the partition column from the directory names (the "
    "data files do not carry it) and the values must round-trip "
    "exactly. Aggregates include the partition column, so a dropped or "
    "mis-decoded partition value hash-mismatches. Plan: partition-"
    "discovering FileScan + global agg.",
    tags=("source", "parquet"),
)
def q_src_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srchive-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def build(tmp: str) -> None:
        (
            spark.read.parquet(src)
            .filter("o_orderkey % 10 = 0")
            .select(*_COLS)
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(tmp)
        )

    d = build_once(out, ready, build)
    return _agg(
        _load(spark, d, "parquet").select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        )
    )


@register(
    "q_src_http",
    oracle=_SRC_ORACLE,
    doc="HTTP IO-backend gate (S12): the csv fixture is served from an "
    "ephemeral localhost http.server and registered with an http:// "
    "uri — sources.http.fetch_to_local must download it, sniff/keep "
    "the csv format, and hand it to the csv loader. No external "
    "network: the server binds 127.0.0.1 for the duration of the "
    "load only. Plan: identical to q_src_csv after the fetch.",
    tags=("source", "http"),
)
def q_src_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    import http.server
    import socketserver
    import threading

    d = _formats_dir(spark, sf_dir)

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=d, **kw)

        def log_message(self, *a):  # noqa: D102 — quiet
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as srv:
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            df = _load(
                spark,
                f"http://127.0.0.1:{port}/orders.csv",
                "csv",
                {"has_header": True},
            )
            out = _agg(
                df.select(
                    F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                    F.col("o_custkey").cast("bigint").alias("o_custkey"),
                    F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
                )
            )
            # materialize before the server dies: the fetch is eager
            # (fetch_to_local downloads at registration), but keep the
            # window explicit
            out.count()
            return out
        finally:
            srv.shutdown()
            t.join(timeout=5)


@register(
    "q_src_hudi",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN o_custkey + 1000000 ELSE o_custkey END)
                AS BIGINT) AS sum_cust,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
    FROM orders WHERE o_orderkey % 10 = 0
    """,
    doc="Hudi CoW timeline gate: a hand-built .hoodie table (public "
    "Hudi layout — hoodie.properties, completed commit instants, "
    "hive-partitioned base files named fileId_writeToken_instant) with "
    "three instants: initial write per status partition, a "
    "copy-on-write UPDATE rewriting the 'O' partition's file group "
    "(custkey shifted by 1e6 — the oracle replicates the shift), and a "
    "replacecommit re-clustering another partition. The loader must "
    "serve ONLY each file group's latest base file, honor the "
    "replacecommit tombstone, reconstruct the partition column from "
    "the path, and ignore the planted inflight instant. Plan: "
    "fixture-sized FileScan + global agg.",
    tags=("source", "hudi"),
)
def q_src_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srchudi-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, ".hoodie", "003.replacecommit"))

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        meta = os.path.join(tmp, ".hoodie")
        os.makedirs(meta)
        with open(os.path.join(meta, "hoodie.properties"), "w") as f:
            f.write("hoodie.table.name=orders\nhoodie.table.type=COPY_ON_WRITE\n")
        rows = _rows(spark, sf_dir)
        by_status: dict[str, list] = {}
        for k, c, s in rows:
            by_status.setdefault(s, []).append((k, c))

        def base_file(status: str, file_id: str, instant: str, recs, shift=0):
            part = f"o_orderstatus={status}"
            os.makedirs(os.path.join(tmp, part), exist_ok=True)
            name = f"{file_id}_0-1-0_{instant}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "o_orderkey": pa.array([r[0] for r in recs], pa.int64()),
                        "o_custkey": pa.array(
                            [r[1] + shift for r in recs], pa.int64()
                        ),
                    }
                ),
                os.path.join(tmp, part, name),
            )
            return f"{part}/{name}"

        def commit(instant: str, stats: dict, replaced=None, kind="commit"):
            body = {"partitionToWriteStats": stats}
            if replaced:
                body["partitionToReplaceFileIds"] = replaced
            with open(os.path.join(meta, f"{instant}.{kind}"), "w") as f:
                json.dump(body, f)

        statuses = sorted(by_status)
        stats1 = {
            f"o_orderstatus={s}": [
                {"fileId": f"fg{i}", "path": base_file(s, f"fg{i}", "001", by_status[s])}
            ]
            for i, s in enumerate(statuses)
        }
        commit("001", stats1)
        # 002: CoW update — rewrite the 'O' partition's file group with
        # custkey shifted (same fileId, newer instant wins)
        io = statuses.index("O")
        commit(
            "002",
            {"o_orderstatus=O": [
                {"fileId": f"fg{io}",
                 "path": base_file("O", f"fg{io}", "002", by_status["O"], shift=1_000_000)}
            ]},
        )
        # 003: replacecommit re-clusters the first partition into a new
        # file group (same data, new fileId; old one tombstoned)
        s0 = statuses[0] if statuses[0] != "O" else statuses[1]
        i0 = statuses.index(s0)
        commit(
            "003",
            {f"o_orderstatus={s0}": [
                {"fileId": "fgR", "path": base_file(s0, "fgR", "003", by_status[s0])}
            ]},
            replaced={f"o_orderstatus={s0}": [f"fg{i0}"]},
            kind="replacecommit",
        )
        # incomplete instants must stay invisible
        open(os.path.join(meta, "004.commit.requested"), "w").close()
        open(os.path.join(meta, "004.inflight"), "w").close()

    d = build_once(out, ready, build)
    df = _load(spark, d, "hudi")
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("sum_key"),
        F.sum(F.col("o_custkey").cast("bigint")).cast("bigint").alias("sum_cust"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_status"),
    )


@register(
    "q_src_iceberg",
    oracle="""
    WITH slice AS (
      SELECT o_orderkey, o_custkey, o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    ), a AS (
      SELECT * FROM slice WHERE o_orderkey % 20 = 0
        AND o_orderkey > (SELECT MIN(o_orderkey) FROM slice
                          WHERE o_orderkey % 20 = 0)
    ), b AS (
      SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus
      FROM slice WHERE o_orderkey % 20 = 10
    ), state AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
    FROM state
    """,
    doc="Iceberg v2 metadata gate: a hand-built table (version-hint -> "
    "metadata.json -> manifest list -> manifests, all avro via this "
    "repo's own avro_lite encoder) with two snapshots — snapshot 2 "
    "removes one data file (status=2), adds its custkey-shifted "
    "replacement, and attaches a positional delete dropping the first "
    "row of the surviving file. The reader must serve the CURRENT "
    "snapshot only, apply the pos-delete by (file, ordinal), and skip "
    "the removed file; the oracle reconstructs that exact state "
    "relationally. Plan: fixture-sized FileScan + anti-join for the "
    "pos-delete + global agg.",
    tags=("source", "iceberg"),
)
def q_src_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sources.avro_lite import write_container

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srciceberg-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "metadata", "version-hint.text"))

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        data = os.path.join(tmp, "data")
        meta = os.path.join(tmp, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        rows = _rows(spark, sf_dir)
        f1_rows = [r for r in rows if r[0] % 20 == 0]
        f2_rows = [r for r in rows if r[0] % 20 == 10]

        def wpq(name: str, recs, shift: int = 0) -> str:
            p = os.path.join(data, name)
            pq.write_table(
                pa.table(
                    {
                        "o_orderkey": pa.array([r[0] for r in recs], pa.int64()),
                        "o_custkey": pa.array(
                            [r[1] + shift for r in recs], pa.int64()
                        ),
                        "o_orderstatus": pa.array(
                            [r[2] for r in recs], pa.string()
                        ),
                    }
                ),
                p,
            )
            return p

        f1 = wpq("f1.parquet", f1_rows)
        f2 = wpq("f2.parquet", f2_rows)
        f3 = wpq("f3.parquet", f2_rows, shift=1_000_000)
        pd = os.path.join(data, "pd1.parquet")
        pq.write_table(
            pa.table({"file_path": [f1], "pos": pa.array([0], pa.int64())}),
            pd,
        )

        mf_list_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }
        mf_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"]},
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                            {"name": "equality_ids",
                             "type": ["null", {"type": "array", "items": "int"}]},
                        ],
                    },
                },
            ],
        }

        def entry(path: str, status: int = 1, content: int = 0, n: int = 1):
            return {
                "status": status,
                "snapshot_id": None,
                "data_file": {
                    "content": content,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "record_count": n,
                    "file_size_in_bytes": 1,
                    "equality_ids": None,
                },
            }

        def wavro(name: str, schema: dict, recs: list) -> str:
            p = os.path.join(meta, name)
            with open(p, "wb") as f:
                f.write(write_container(schema, recs))
            return p

        m1 = wavro("m1.avro", mf_schema,
                   [entry(f1, n=len(f1_rows)), entry(f2, n=len(f2_rows))])
        ml1 = wavro("ml1.avro", mf_list_schema, [
            {"manifest_path": m1, "manifest_length": 1, "content": 0,
             "added_snapshot_id": 100}])
        m2 = wavro("m2.avro", mf_schema, [
            entry(f1, status=0, n=len(f1_rows)),
            entry(f2, status=2, n=len(f2_rows)),
            entry(f3, n=len(f2_rows)),
        ])
        md2 = wavro("md2.avro", mf_schema, [entry(pd, content=1)])
        ml2 = wavro("ml2.avro", mf_list_schema, [
            {"manifest_path": m2, "manifest_length": 1, "content": 0,
             "added_snapshot_id": 200},
            {"manifest_path": md2, "manifest_length": 1, "content": 1,
             "added_snapshot_id": 200}])
        with open(os.path.join(meta, "v2.metadata.json"), "w") as f:
            json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "srciceberg",
                    "location": tmp,
                    "current-snapshot-id": 200,
                    "snapshots": [
                        {"snapshot-id": 100, "timestamp-ms": 1_000,
                         "manifest-list": ml1},
                        {"snapshot-id": 200, "timestamp-ms": 2_000,
                         "manifest-list": ml2},
                    ],
                },
                f,
            )
        with open(os.path.join(meta, "version-hint.text"), "w") as f:
            f.write("2")

    d = build_once(out, ready, build)
    df = _load(spark, d, "iceberg")
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("sum_key"),
        F.sum(F.col("o_custkey").cast("bigint")).cast("bigint").alias("sum_cust"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_status"),
    )


@register(
    "q_src_postgres",
    oracle=_SRC_ORACLE,
    doc="postgres:// source gate, loopback: the csv fixture is served "
    "by this repo's OWN pg-wire server (server/postgres.py) and read "
    "back through the pure-Python wire-v3 client fallback "
    "(sources/pgwire.py — the stand-in for ConnectorX when JDBC jars "
    "are absent, columnq/src/table/database.rs:37-73), typed decode "
    "included. One oracle row gates server encode + client decode + "
    "loader registration together. No external network: the server "
    "binds 127.0.0.1 for the duration of the load.",
    tags=("source", "postgres"),
)
def q_src_postgres(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config
    from roapi_spark.server.postgres import PostgresServer

    d = _formats_dir(spark, sf_dir)
    cat = Catalog(spark)
    cat.load_table(
        parse_table_config(
            {"name": "orders", "uri": os.path.join(d, "orders.csv"),
             "option": {"format": "csv"}}
        )
    )
    server = PostgresServer(cat)
    server.start()
    try:
        df = _load(
            spark,
            f"postgres://gate@127.0.0.1:{server.port}/postgres",
            "postgres",
            {"table": "orders"},
        )
        out = _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )
        out.count()  # materialize while the server is up (wire read is eager)
        return out
    finally:
        server.stop()


# --- response-encoder gates (E-rows): encode -> re-ingest -> oracle ---------

def _enc_gate(name: str, fmt: str, reload_fmt: str, suffix: str,
              reload_option: dict | None = None):
    @register(
        name,
        oracle=_SRC_ORACLE,
        doc=f"Response-encoder gate for the {fmt} encoder (E-rows): the "
        f"orders slice is encoded through encoders.encode_batches_iter "
        f"(the SAME streaming path the HTTP content-negotiation layer "
        f"uses — chunked, memory-bounded), the bytes are written to a "
        f"file, re-ingested through the {reload_fmt} loader, and "
        f"aggregated against the shared parquet oracle. A lossy or "
        f"misframed encoding (wrong quoting, truncated stream, schema "
        f"drift) hash-mismatches. Plan: fixture-sized encode/decode + "
        f"global agg.",
        tags=("encoder", fmt),
    )
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from roapi_spark.encoders import encode_batches_iter
        from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

        out_dir = snapshot_cache_dir(
            os.path.join(sf_dir, "orders.parquet"), "encgate-v1"
        )
        fname = f"orders{suffix}"

        def ready(d: str) -> bool:
            return os.path.exists(os.path.join(d, fname))

        def build(tmp: str) -> None:
            os.makedirs(tmp, exist_ok=True)
            src = (
                spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
                .filter("o_orderkey % 10 = 0")
                .select(*_COLS)
            )
            with open(os.path.join(tmp, fname), "wb") as f:
                # small chunks force the multi-chunk framing paths
                for chunk in encode_batches_iter(src, fmt, chunk_rows=257):
                    f.write(chunk)

        d = build_once(out_dir, ready, build)
        df = _load(spark, os.path.join(d, fname), reload_fmt, reload_option)
        return _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )

    q.__name__ = name
    return q


q_enc_csv = _enc_gate("q_enc_csv", "csv", "csv", ".csv",
                      {"has_header": True})
q_enc_arrows = _enc_gate("q_enc_arrows", "arrows", "arrows", ".arrows")


def _enc_single_gate(name: str, fmt: str, reload_fmt: str, suffix: str,
                     reload_option: dict | None = None):
    @register(
        name,
        oracle=_SRC_ORACLE,
        doc=f"Response-encoder gate for the single-shot {fmt} encoder "
        f"(encoders.encode_dataframe — the exact function the HTTP "
        f"content-negotiation layer and the CLI -o path call): encode "
        f"the orders slice, re-ingest through the {reload_fmt} loader, "
        f"aggregate against the shared parquet oracle. Plan: "
        f"fixture-sized encode/decode + global agg.",
        tags=("encoder", fmt),
    )
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from roapi_spark.encoders import encode_dataframe
        from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

        out_dir = snapshot_cache_dir(
            os.path.join(sf_dir, "orders.parquet"), "encgate-v1"
        )
        fname = f"orders_single{suffix}"

        def ready(d: str) -> bool:
            return os.path.exists(os.path.join(d, fname))

        def build(tmp: str) -> None:
            os.makedirs(tmp, exist_ok=True)
            src = (
                spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
                .filter("o_orderkey % 10 = 0")
                .select(*_COLS)
            )
            with open(os.path.join(tmp, fname), "wb") as f:
                f.write(encode_dataframe(src, fmt))

        d = build_once(out_dir, ready, build)
        df = _load(spark, os.path.join(d, fname), reload_fmt, reload_option)
        return _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )

    q.__name__ = name
    return q


q_enc_json = _enc_single_gate("q_enc_json", "json", "json", ".json")
q_enc_arrow_file = _enc_single_gate("q_enc_arrow_file", "arrow", "arrow", ".arrow")
q_enc_parquet = _enc_single_gate("q_enc_parquet", "parquet", "parquet", ".parquet")


@register(
    "q_kv_lookup",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS k, o_orderstatus AS v
    FROM orders
    WHERE o_orderkey IN (10, 20, 30, 40, 50)
    ORDER BY o_orderkey
    """,
    doc="Key-value store gate (M4, columnq.rs:275-331 parity): the csv "
    "fixture is registered through catalog.load_kv (key/value columns "
    "materialized to a driver dict — the reference's HashMap contract, "
    "Utf8-stringified) and five deterministic keys are looked up via "
    "kv_get, the same call the /api/kv/{name}/{key} route makes. The "
    "oracle selects the same pairs relationally, so a mis-keyed or "
    "value-mangling materialization hash-mismatches. Plan: driver-side "
    "dict build from one fixture scan + a 5-row local DataFrame.",
    tags=("kv", "api"),
)
def q_kv_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_kv_config

    d = _formats_dir(spark, sf_dir)
    cat = Catalog(spark)
    cat.load_kv(
        parse_kv_config(
            {
                "name": "status_by_key",
                "uri": os.path.join(d, "orders.csv"),
                "option": {"format": "csv"},
                "key": "o_orderkey",
                "value": "o_orderstatus",
            }
        )
    )
    keys = ["10", "20", "30", "40", "50"]
    rows = [(k, cat.kv_get("status_by_key", k)) for k in keys]
    return spark.createDataFrame(rows, "k string, v string")


def _sql_gate_table(
    spark: SparkSession, sf_dir: str, gate: str, cdf: bool = False
) -> str:
    """Fresh per-run delta table for a SQL gate, copied from a pristine
    v0 fixture built ONCE per testdata content and disk-cached (the
    same build_once pattern the source gates use). The copy keeps the
    'rebuilt fresh each run so every statement actually executes'
    property while dropping the per-run Spark read+write job the SQL
    gates used to repeat — the dominant fixed cost of the bench's
    gate family. ``cdf=True`` selects the change-data-feed-enabled
    variant of the fixture (separate cache tag, same slice)."""
    import shutil
    import tempfile

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    tag = "sqlcdcfix-v1" if cdf else "sqlgatefix-v1"
    fixture = snapshot_cache_dir(src, tag)

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_delta_log", f"{0:020d}.json"))

    def build(tmp: str) -> None:
        base = (
            spark.read.parquet(src)
            .filter("o_orderkey % 10 = 0")
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        write_delta(
            base.repartition(4),
            tmp,
            mode="overwrite",
            configuration=(
                {"delta.enableChangeDataFeed": "true"} if cdf else None
            ),
        )  # v0

    build_once(fixture, ready, build)
    # session-scoped copy: two sessions gating concurrently (driver +
    # local check) must not race on one table path
    dst = os.path.join(
        tempfile.gettempdir(),
        f"roapi_spark_{gate}-{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(fixture, dst)
    return dst


@register(
    "q_sql_maintenance",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_custkey % 7 <> 0
    """,
    doc="SQL table-maintenance gate: a delta table built "
    "from the 1/10 orders slice is driven ENTIRELY through the SQL "
    "surface of a read-write catalog — DELETE FROM ... WHERE "
    "(copy-on-write rewrite), OPTIMIZE ... ZORDER BY (Morton "
    "re-clustering via the compaction sink), VACUUM ... RETAIN 168 "
    "HOURS (time-based retention, must reclaim nothing on a "
    "seconds-old table), then VACUUM ... RETAIN 1 VERSIONS (physical "
    "reclaim of the files only dead versions reference) — and the "
    "surviving rows are aggregated through the "
    "same catalog's SELECT path. The oracle applies the identical "
    "slice+delete predicate to the raw orders table, so a DELETE that "
    "dropped wrong rows, an OPTIMIZE that lost/duplicated rows, or a "
    "VACUUM that reclaimed a LIVE file all hash-mismatch (the last as "
    "a loud missing-file read error). sum_cents is exact-integer. "
    "Plan: fixture-sized (1.5k rows at sf0.01) — this gates the SQL "
    "routing + maintenance correctness, not volume; the table is "
    "rebuilt fresh each run so every statement actually executes.",
    tags=("sql", "delta", "gate"),
)
def q_sql_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlmaint")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "maint_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d = cat.query_sql("DELETE FROM maint_t WHERE o_custkey % 7 = 0").collect()[0]
    o = cat.query_sql(
        "OPTIMIZE maint_t ZORDER BY (o_custkey, o_totalprice)"
    ).collect()[0]
    # time-based retention first (delta-spark grammar): every commit is
    # seconds old, so a 168h window must reclaim nothing
    vh = cat.query_sql("VACUUM maint_t RETAIN 168 HOURS").collect()[0]
    v = cat.query_sql("VACUUM maint_t RETAIN 1 VERSIONS").collect()[0]
    if (d.version, o.version) != (1, 2) or vh.files_deleted != 0 or v.files_deleted < 1:
        raise RuntimeError(
            f"maintenance route misbehaved: delete v{d.version}, "
            f"optimize v{o.version}, vacuum reclaimed "
            f"{vh.files_deleted}/{v.files_deleted}"
        )
    return cat.query_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM maint_t"
    )


@register(
    "q_sql_restore",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    doc="SQL RESTORE gate: a delta table built from the 1/10 "
    "orders slice loses half its rows to DELETE (v1), then RESTORE "
    "TABLE ... TO VERSION AS OF 0 re-activates the original file set "
    "in one metadata-only commit (v2) — the oracle is the aggregate of "
    "the UNTOUCHED slice, so a restore that loses rows, resurrects the "
    "wrong snapshot, or leaves the delete's rewrite active "
    "hash-mismatches. DESCRIBE HISTORY order and the restored row "
    "count are asserted in-line. Plan: fixture-sized (1.5k rows at "
    "sf0.01); rebuilt fresh each run so every statement executes.",
    tags=("sql", "delta", "gate"),
)
def q_sql_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlrestore")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "restore_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d = cat.query_sql("DELETE FROM restore_t WHERE o_custkey % 2 = 0").collect()[0]
    r = cat.query_sql("RESTORE TABLE restore_t TO VERSION AS OF 0").collect()[0]
    hist = [
        row.operation
        for row in cat.query_sql("DESCRIBE HISTORY restore_t").collect()
    ]
    if (d.version, r.version) != (1, 2) or hist != ["RESTORE", "DELETE", "WRITE"]:
        raise RuntimeError(
            f"restore route misbehaved: delete v{d.version}, "
            f"restore v{r.version}, history {hist}"
        )
    return cat.query_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM restore_t"
    )


@register(
    "q_sql_time_travel",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    doc="SELECT-level time travel gate: after a DELETE "
    "halves the delta table (v1), the query text itself selects the "
    "untouched v0 — `SELECT ... FROM tt_t VERSION AS OF 0` — through a "
    "READ-ONLY catalog (time travel is a read; the rewrite pins a "
    "snapshot view over the v0 file set, catalog._rewrite_time_travel)."
    " The oracle is the aggregate of the untouched slice, so a rewrite "
    "that serves the current version, the wrong version, or leaks the "
    "DELETE's rewrite into the pinned snapshot hash-mismatches. The "
    "current-version row count is asserted in-line to prove the DELETE "
    "actually landed before the travel. delta-spark grammar parity: "
    "spark.sql('... VERSION AS OF 0') on a delta v2 table. Plan: "
    "fixture-sized; one log replay + pruned FileScan over v0's files.",
    tags=("sql", "delta", "gate"),
)
def q_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqltt")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "tt_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    full = cat.query_sql("SELECT COUNT(*) AS n FROM tt_t").collect()[0].n
    d = cat.query_sql("DELETE FROM tt_t WHERE o_custkey % 2 = 0").collect()[0]
    cur = cat.query_sql("SELECT COUNT(*) AS n FROM tt_t").collect()[0].n
    if d.version != 1 or not 0 < cur < full:
        raise RuntimeError(
            f"time-travel gate setup misbehaved: delete v{d.version}, "
            f"rows {full} -> {cur}"
        )
    ro = Catalog(spark, read_only=True)
    ro.sources = cat.sources
    return ro.query_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM tt_t VERSION AS OF 0"
    )


@register(
    "q_sql_cdf",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM (
      SELECT 'delete' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM s
      UNION ALL
      SELECT 'insert' AS change_type,
             CAST(COUNT(*) + SUM(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey)
                  + SUM(CASE WHEN o_custkey % 2 <> 0 THEN o_orderkey ELSE 0 END)
                  AS BIGINT) AS sum_key
      FROM s
    ) ORDER BY change_type
    """,
    doc="Change Data Feed SQL gate: `SELECT ... FROM "
    "table_changes('cdf_t', 0)` — delta-spark's CDF TVF, rewritten by "
    "the catalog to a view over the pure-Python CDF reader "
    "(sources/delta.table_changes). The fixture takes one DELETE "
    "(o_custkey % 2 = 0), so the full change stream is: v0's blind "
    "write -> one insert per slice row; v1's copy-on-write DELETE -> "
    "one delete per row of every touched file and one re-insert per "
    "survivor. Each fixture file holds ~375 rows at sf0.01 with a ~1/2 "
    "match rate, so every file is touched (miss odds 2^-375) and the "
    "counts are layout-independent: deletes = N, inserts = N + "
    "survivors. The oracle computes both aggregates from the raw "
    "slice; a CDF reader that drops a commit, mislabels a change type, "
    "or double-serves a rewrite hash-mismatches. Runs through a "
    "READ-ONLY catalog (CDF is a read). Plan: fixture-sized log replay "
    "+ per-commit file reads.",
    tags=("sql", "delta", "gate"),
)
def q_sql_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlcdf")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "cdf_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d = cat.query_sql("DELETE FROM cdf_t WHERE o_custkey % 2 = 0").collect()[0]
    if d.version != 1:
        raise RuntimeError(f"cdf gate setup misbehaved: delete v{d.version}")
    ro = Catalog(spark, read_only=True)
    ro.sources = cat.sources
    return ro.query_sql(
        "SELECT _change_type AS change_type, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key "
        "FROM table_changes('cdf_t', 0) "
        "GROUP BY _change_type ORDER BY change_type"
    )


@register(
    "q_sql_cdf_ts",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM (
      SELECT 'delete' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM s
      UNION ALL
      SELECT 'insert' AS change_type,
             CAST(SUM(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_custkey % 2 <> 0 THEN o_orderkey ELSE 0 END)
                  AS BIGINT) AS sum_key
      FROM s
    ) ORDER BY change_type
    """,
    doc="CDF TVF timestamp-bound gate: `table_changes('t', "
    "'<ts>', '<ts>')` with ISO timestamps instead of versions — "
    "delta-spark semantics: the start timestamp resolves to the FIRST "
    "commit at-or-after it, the end to the LAST at-or-before, against "
    "commit-file mtimes (the same source timestamp time travel uses). "
    "The fixture takes TWO deletes (v1: o_custkey%2, v2: o_custkey%3) "
    "and the gate reads a window whose midpoint timestamps must "
    "resolve to exactly [v1, v1] — v0's blind insert and v2's second "
    "delete both excluded, so an off-by-one in either bound direction "
    "hash-mismatches against the v1-only closed form. The gate also "
    "asserts delta-spark's out-of-range behavior first: a start "
    "timestamp after the newest commit and an end timestamp before "
    "the oldest must raise, never serve an empty feed. Plan: "
    "fixture-sized log replay + per-commit file reads; timestamp "
    "resolution is one mtime scan of the (KB-scale) commit list.",
    tags=("sql", "delta", "gate"),
)
def q_sql_cdf_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config
    from roapi_spark.sources.delta import (
        LoadError,
        _log_versions,
        table_changes,
    )

    path = _sql_gate_table(spark, sf_dir, "sqlcdfts")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "cdfts_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d1 = cat.query_sql("DELETE FROM cdfts_t WHERE o_custkey % 2 = 0")
    d2 = cat.query_sql("DELETE FROM cdfts_t WHERE o_custkey % 3 = 0")
    versions = (d1.collect()[0].version, d2.collect()[0].version)
    if versions != (1, 2):
        raise RuntimeError(f"cdf_ts gate setup misbehaved: {versions}")
    mts = [
        os.path.getmtime(p)
        for _, p in _log_versions(os.path.join(path, "_delta_log"))
    ]
    if not (mts[0] < mts[1] < mts[2]):
        raise RuntimeError(f"commit mtimes not strictly ordered: {mts}")

    def iso(t: float) -> str:
        return (
            datetime.fromtimestamp(t, tz=timezone.utc)
            .replace(tzinfo=None)
            .isoformat()
        )

    # out-of-range bounds must fail like delta-spark, not serve empties
    for bad_start, bad_end in (
        (iso(mts[2] + 3600), None),
        (0, iso(mts[0] - 3600)),
    ):
        try:
            table_changes(spark, path, bad_start, bad_end)
        except LoadError:
            pass
        else:
            raise RuntimeError(
                f"out-of-range CDF bound ({bad_start!r}, {bad_end!r}) "
                "did not error"
            )

    start_ts, end_ts = iso((mts[0] + mts[1]) / 2), iso((mts[1] + mts[2]) / 2)
    ro = Catalog(spark, read_only=True)
    ro.sources = cat.sources
    return ro.query_sql(
        "SELECT _change_type AS change_type, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key "
        f"FROM table_changes('cdfts_t', '{start_ts}', '{end_ts}') "
        "GROUP BY _change_type ORDER BY change_type"
    )


@register(
    "q_sql_cdc_images",
    oracle="""
    WITH m AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 10 = 0 AND o_custkey % 3 = 0
    )
    SELECT * FROM (
      SELECT 'update_postimage' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM m
      UNION ALL
      SELECT 'update_preimage' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM m
    ) ORDER BY change_type
    """,
    doc="CDC write-path gate: the fixture is rebuilt as a "
    "CDF-ENABLED delta table (delta.enableChangeDataFeed=true, "
    "minWriterVersion 4), one SQL UPDATE doubles o_totalprice for the "
    "o_custkey%3 slice, and the gate aggregates the _change_data rows "
    "the DML sink WROTE — update_preimage must carry the original "
    "prices, update_postimage the doubled ones, over exactly the "
    "matched keys. Unlike derivation gates this is layout-independent "
    "(images are the matched rows themselves, never whole-file churn), "
    "so a cdc writer that stages the wrong rows, swaps image labels, "
    "applies SET exprs to the preimage, or loses rows in the atomic "
    "publish hash-mismatches against the raw-slice oracle. sum_cents "
    "is exact-integer on both sides. Plan: fixture-sized; one "
    "copy-on-write UPDATE + one cdc parquet write + a pruned read of "
    "_change_data via the table_changes TVF.",
    tags=("sql", "delta", "gate"),
)
def q_sql_cdc_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlcdc", cdf=True)
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "cdc_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    u = cat.query_sql(
        "UPDATE cdc_t SET o_totalprice = o_totalprice * 2 "
        "WHERE o_custkey % 3 = 0"
    ).collect()[0]
    if u.version != 1:
        raise RuntimeError(f"cdc gate setup misbehaved: update v{u.version}")
    return cat.query_sql(
        "SELECT _change_type AS change_type, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key "
        "FROM table_changes('cdc_t', 1, 1) "
        "GROUP BY _change_type ORDER BY change_type"
    )


@register(
    "stream_cdc_feed",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM s
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'update_preimage',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT),
             CAST(SUM(o_orderkey) AS BIGINT)
      FROM s WHERE o_custkey % 3 = 0
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'update_postimage',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
                  AS BIGINT),
             CAST(SUM(o_orderkey) AS BIGINT)
      FROM s WHERE o_custkey % 3 = 0
    ) ORDER BY commit_version, change_type
    """,
    doc="Streaming CDF gate: the change stream of a "
    "CDF-enabled delta table is consumed through an actual Structured "
    "Streaming query (streaming/cdf.py: file source over the log = "
    "exactly-once version cursor, batch CDF reader per version) — v0's "
    "blind-write inserts and v1's UPDATE pre/post images arrive as "
    "separate per-version deliveries, aggregated per (version, "
    "change_type) and compared against the raw-slice oracle. A stream "
    "that drops a version, double-delivers, mixes versions, or serves "
    "derived churn instead of cdc images hash-mismatches. Plan: "
    "fixture-sized; the stream reads KB of log text + one cdc file — "
    "input volume is the COMMIT RATE, the property that holds at "
    "100 TB. First registry entry driving the streaming subsystem "
    "under the external oracle.",
    tags=("streaming", "delta"),
)
def stream_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.sinks.delta import update_delta
    from roapi_spark.streaming.cdf import stream_table_changes

    path = _sql_gate_table(spark, sf_dir, "streamcdc", cdf=True)
    update_delta(
        spark, path, "o_custkey % 3 = 0", {"o_totalprice": "o_totalprice * 2"}
    )  # v1 with cdc images
    collected: list[tuple] = []

    def process(version: int, changes: DataFrame) -> None:
        rows = (
            changes.groupBy("_change_type")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("sum_cents"),
                F.sum("o_orderkey").cast("bigint").alias("sum_key"),
            )
            .collect()
        )
        for r in rows:
            collected.append(
                (version, r._change_type, r.n_rows, r.sum_cents, r.sum_key)
            )

    # fresh checkpoint per run: it lives inside the per-run table copy,
    # so the stream always starts from version 0
    q = stream_table_changes(
        spark, path, process, os.path.join(path, "_stream_ckpt"),
        query_name="stream_cdc_feed",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.createDataFrame(
        sorted(collected),
        "commit_version bigint, change_type string, n_rows bigint, "
        "sum_cents bigint, sum_key bigint",
    )


# ---- q_src_warc ------------------------------------------------------------


@register(
    "q_src_warc",
    oracle=f"""
    WITH u AS ({URL_CTE})
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM u)
        + CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        + CAST(SUM(CASE WHEN doc_id % 17 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        + {N_SHARDS} AS n_records,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_responses,
      CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_requests,
      CAST({N_SHARDS} AS BIGINT) AS n_warcinfo,
      CAST(SUM(CASE WHEN doc_id % 17 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_revisit,
      CAST(SUM(CASE WHEN doc_id % 11 = 3
               THEN 1 + (CASE WHEN doc_id % 13 = 5 THEN 1 ELSE 0 END)
               ELSE 0 END) AS BIGINT) AS n_404,
      CAST(SUM(CASE WHEN doc_id % 11 <> 3 AND doc_id % 7 = 2
               THEN 1 + (CASE WHEN doc_id % 13 = 5 THEN 1 ELSE 0 END)
               ELSE 0 END) AS BIGINT) AS n_plain,
      CAST(SUM(CASE WHEN doc_id % 11 <> 3 AND doc_id % 7 = 2
               THEN strlen(text)
                    * (1 + (CASE WHEN doc_id % 13 = 5 THEN 1 ELSE 0 END))
               ELSE 0 END) AS BIGINT) AS plain_octets,
      (SELECT CAST(COUNT(DISTINCT raw_url) AS BIGINT) FROM u) AS n_uri,
      (SELECT CAST(SUM(strlen(raw_url)) AS BIGINT) FROM u) AS uri_octets
    FROM documents
    """,
    doc="Source gate for the WARC loader (ISO 28500): a deterministic "
    "crawl fixture (one gzip member per record + an uncompressed file; "
    "warcinfo/request/response types; 404, text/plain, duplicate-URL "
    "records on fixed doc_id residues) is built FROM the documents "
    "table, read back through sources.load_table, and aggregated by "
    "record type / HTTP status / payload octets / distinct URI; the "
    "oracle recomputes every figure from the raw parquet via the same "
    "residue arithmetic, so dropped records, framing errors, or payload "
    "corruption hash-mismatch. Plan: per-file streaming mapInPandas "
    "scan (parallelism = WARC files, the Common Crawl unit) + one "
    "global agg — no shuffle before the final exchange.",
    tags=("source", "warc", "web"),
)
def q_src_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_warc(spark, sf_dir)
    is_resp = F.col("warc_type") == "response"
    return df.agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(is_resp.cast("bigint")).cast("bigint").alias("n_responses"),
        F.sum((F.col("warc_type") == "request").cast("bigint"))
        .cast("bigint")
        .alias("n_requests"),
        F.sum((F.col("warc_type") == "warcinfo").cast("bigint"))
        .cast("bigint")
        .alias("n_warcinfo"),
        F.sum((F.col("warc_type") == "revisit").cast("bigint"))
        .cast("bigint")
        .alias("n_revisit"),
        F.sum((is_resp & (F.col("http_status") == 404)).cast("bigint"))
        .cast("bigint")
        .alias("n_404"),
        F.sum(
            (
                is_resp
                & (F.col("http_status") == 200)
                & F.col("http_content_type").startswith("text/plain")
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_plain"),
        F.sum(
            F.when(
                is_resp
                & (F.col("http_status") == 200)
                & F.col("http_content_type").startswith("text/plain"),
                F.length("payload").cast("bigint"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("plain_octets"),
        F.count_distinct(F.when(is_resp, F.col("target_uri")))
        .cast("bigint")
        .alias("n_uri"),
        F.sum(
            F.when(is_resp, F.length("target_uri").cast("bigint")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("uri_octets"),
    )


@register(
    "q_src_cdx",
    oracle=f"""
    WITH u AS ({URL_CTE}),
    d AS (
      SELECT doc_id,
             (doc_id % 11 = 3) AS is404,
             (doc_id % 11 <> 3 AND doc_id % 7 = 2) AS isplain,
             (CASE WHEN doc_id % 13 = 5 THEN 2 ELSE 1 END) AS m,
             100 + (doc_id % 251) AS len,
             (doc_id * 7919) % 1000003 AS off
      FROM documents
    )
    SELECT CAST(SUM(m) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN NOT is404 THEN m ELSE 0 END) AS BIGINT)
             AS n_200,
           CAST(SUM(CASE WHEN is404 THEN m ELSE 0 END) AS BIGINT) AS n_404,
           CAST(SUM(CASE WHEN isplain THEN m ELSE 0 END) AS BIGINT)
             AS n_plain,
           CAST(SUM(m * len) AS BIGINT) AS sum_length,
           CAST(SUM(m * off) AS BIGINT) AS sum_offset,
           (SELECT CAST(COUNT(DISTINCT doc_id % {N_SHARDS}) AS BIGINT)
            FROM documents) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_surt,
           (SELECT CAST(COUNT(DISTINCT raw_url) AS BIGINT) FROM u) AS n_urls
    FROM d
    """,
    doc="CDX(J) index source gate: the per-URL sidecar index a real "
    "crawl queries instead of scanning archives (Common Crawl's "
    "cc-index layout — SURT key, fetch timestamp, JSON blob). The "
    "fixture mirrors the WARC fixture's capture set (primary + %13 "
    "re-capture under the messy URL) across 4 SURT-sorted shard files, "
    "half gzipped; the loader (sources/cdx.py) parses it with COMPOSED "
    "BUILT-INS only — text scan, two codegen'd splits, FAILFAST "
    "from_json, typed casts — and the gate aggregates status/mime "
    "counts, byte/offset checksums, distinct archive filenames, "
    "distinct SURT keys (re-captures of one page share a key: n_surt "
    "= docs while n_records counts captures) and distinct raw URLs, "
    "all replayed by the oracle from residue arithmetic. Plan: "
    "splittable text FileScan (partition parallelism at 100 TB, .gz "
    "transparent) -> WholeStageCodegen parse -> one agg; the index is "
    "~1000x smaller than the archives, which is why page-set joins "
    "read it instead of the WARCs.",
    tags=("source", "web"),
)
def q_src_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    df = load_table(
        spark,
        TableSource(
            name="_cdx", uri=cdx_fixture_dir(spark, sf_dir), format="cdx"
        ),
    )
    return df.agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum((F.col("status") == 200).cast("bigint"))
        .cast("bigint")
        .alias("n_200"),
        F.sum((F.col("status") == 404).cast("bigint"))
        .cast("bigint")
        .alias("n_404"),
        F.sum((F.col("mime") == "text/plain").cast("bigint"))
        .cast("bigint")
        .alias("n_plain"),
        F.sum("length").cast("bigint").alias("sum_length"),
        F.sum("offset").cast("bigint").alias("sum_offset"),
        F.count_distinct("warc_filename").cast("bigint").alias("n_files"),
        F.count_distinct("surt_key").cast("bigint").alias("n_surt"),
        F.count_distinct("url").cast("bigint").alias("n_urls"),
    )


# ---- q_cdx_surt_join -------------------------------------------------------


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw_url) in the fixture's messy variants — the Spark
    twin of the URL_CTE oracle fragment (primary form per doc, plus
    the %13 duplicate form)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    primary = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit("CRAWL.Example.com")
            ).otherwise(F.lit("crawl.example.com")),
            F.when(F.col("doc_id") % 9 == 4, F.lit(":443")).otherwise(
                F.lit("")
            ),
            F.lit("/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 4 == 1, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")
            ).otherwise(F.lit("?a=1&b=2")),
            F.when(F.col("doc_id") % 6 == 3, F.lit("#frag")).otherwise(
                F.lit("")
            ),
        ).alias("raw_url"),
    )
    dup = docs.filter(F.col("doc_id") % 13 == 5).select(
        "doc_id",
        F.concat(
            F.lit("https://crawl.example.com:443/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("/?b=2&a=1&utm_medium=x#x2"),
        ).alias("raw_url"),
    )
    return primary.unionAll(dup)

_SURT_KEY_SQL = (
    "'com,example,crawl)/' || source || '/' || CAST(doc_id AS VARCHAR)"
    " || '?a=1&b=2'"
)


@register(
    "q_cdx_surt_join",
    oracle=f"""
    WITH u AS ({URL_CTE}),
    k AS (SELECT doc_id, {url_to_surt_sql("raw_url")} AS surt FROM u),
    cdx AS (
      SELECT {_SURT_KEY_SQL} AS surt_key,
             CASE WHEN doc_id % 11 = 3 THEN 404 ELSE 200 END AS status
      FROM documents
      UNION ALL
      SELECT {_SURT_KEY_SQL},
             CASE WHEN doc_id % 11 = 3 THEN 404 ELSE 200 END
      FROM documents WHERE doc_id % 13 = 5
    ),
    j AS (SELECT k.surt, cdx.status FROM k JOIN cdx ON k.surt = cdx.surt_key)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT surt) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN status = 404 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_404_pairs,
           MIN(surt) AS min_surt,
           MAX(surt) AS max_surt
    FROM j
    """,
    doc="SURT-key generation gate (the read-side complement of the CDX "
    "source — r12 verdict item 5): url_to_surt turns messy corpus URLs "
    "(mixed host case, explicit :443, trailing slashes, tracking "
    "params, shuffled query order, fragments) into the sort key a "
    "cc-index is ordered by — canonicalize, reverse+comma-join host "
    "labels, ')' separator — as PURE composed built-ins, then "
    "equi-joins the real CDX fixture on surt_key. Every messy variant "
    "must land on its index line: per doc the primary AND %13-dup URL "
    "forms both map to the single fixture key (n_pairs counts the "
    "(1+dup)^2 cross matches; min/max pin exact SURT strings). The "
    "oracle rebuilds the index keys closed-form and runs the SAME "
    "fragment-built SQL mirror of the SURT pipeline in DuckDB. Plan: "
    "both sides whole-stage-codegen'd scans; the join key is computed "
    "(no shuffle skew — one key per page); at 100 TB this is the "
    "URL->index probe pattern: the corpus side shuffles by SURT once "
    "and the index side is ~1000x smaller than the archives.",
    tags=("web", "source"),
)
def q_cdx_surt_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    keyed = _messy_urls(spark, sf_dir).select(
        url_to_surt(F.col("raw_url")).alias("surt")
    )
    idx = load_table(
        spark,
        TableSource(
            name="_cdx", uri=cdx_fixture_dir(spark, sf_dir), format="cdx"
        ),
    ).select("surt_key", "status")
    j = keyed.join(idx, keyed["surt"] == idx["surt_key"], "inner")
    return j.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_distinct("surt").cast("bigint").alias("n_keys"),
        F.sum((F.col("status") == 404).cast("bigint"))
        .cast("bigint")
        .alias("n_404_pairs"),
        F.min("surt").alias("min_surt"),
        F.max("surt").alias("max_surt"),
    )


# ---- q_warc_random_fetch ---------------------------------------------------


@register(
    "q_warc_random_fetch",
    oracle="""
    WITH d AS (
      SELECT doc_id, strlen(text) AS tl,
             (CASE WHEN doc_id % 13 = 5 THEN 2 ELSE 1 END) AS m,
             (doc_id % 11 = 3) AS is404,
             (doc_id % 11 <> 3 AND doc_id % 7 = 2) AS isplain
      FROM documents
    ),
    f AS (SELECT * FROM d WHERE is404 OR isplain)
    SELECT CAST(SUM(m) AS BIGINT) AS n_fetched,
           CAST(SUM(CASE WHEN isplain THEN m ELSE 0 END) AS BIGINT)
             AS n_plain,
           CAST(SUM(CASE WHEN is404 THEN m ELSE 0 END) AS BIGINT) AS n_404,
           CAST(SUM(CASE WHEN isplain THEN m * tl ELSE 0 END) AS BIGINT)
             AS plain_octets,
           CAST(SUM(CASE WHEN is404 THEN m * 37 ELSE 0 END) AS BIGINT)
             AS octets_404,
           CAST(SUM(m) AS BIGINT) AS n_match
    FROM f
    """,
    doc="CDX-pointer RANDOM ACCESS into the archives — the pattern "
    "that makes a 100 TB crawl queryable: the WARC fixture build "
    "records each capture's TRUE coordinates (compressed-member "
    "offset/length in .gz shards, raw record slice in plain shards) "
    "into CDXJ pointer files; the gate filters the INDEX to a sparse "
    "subset (text/plain captures + 404s — the filter prunes before "
    "any archive byte moves), then an Arrow-batched kernel seeks and "
    "reads exactly the pointed-at bytes per capture "
    "(sources/warc.read_record_at: gzip-member or raw slice by magic, "
    "fail-loud framing) and re-parses the record. The gate checks "
    "fetched counts, per-class payload octet sums, AND that every "
    "pointer's url/status equal the fetched record's — a stale "
    "offset, wrong-member read, or framing drift fails n_match. Plan: "
    "codegen'd index scan+filter -> mapInPandas fetch (per-capture "
    "cost is one seek+read of ~one record, NOT a file scan) -> one "
    "agg; at 100 TB this is how you serve 0.001% of pages without "
    "opening the other 99.999%.",
    tags=("web", "source"),
)
def q_warc_random_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    archive_dir = warc_fixture_dir(spark, sf_dir)
    pointers = load_table(
        spark,
        TableSource(
            name="_ptr",
            uri=archive_dir,
            format="cdx",
            option={"glob": "pointers-*.cdxj"},
        ),
    )
    from roapi_spark.sources.warc import fetch_records

    wanted = pointers.filter(
        (F.col("mime") == "text/plain") | (F.col("status") == 404)
    ).select("url", "status", "warc_filename", "offset", "length")

    fetched = fetch_records(wanted, archive_dir)
    is_plain = (F.col("http_status") == 200) & F.col(
        "http_content_type"
    ).startswith("text/plain")
    is_404 = F.col("http_status") == 404
    return fetched.agg(
        F.count("*").cast("bigint").alias("n_fetched"),
        F.sum(is_plain.cast("bigint")).cast("bigint").alias("n_plain"),
        F.sum(is_404.cast("bigint")).cast("bigint").alias("n_404"),
        F.sum(
            F.when(is_plain, F.length("payload").cast("bigint")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("plain_octets"),
        F.sum(
            F.when(is_404, F.length("payload").cast("bigint")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("octets_404"),
        F.sum(
            (
                (F.col("ptr_url") == F.col("target_uri"))
                & (F.col("ptr_status") == F.col("http_status"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_match"),
    )


# ---- q_warc_roundtrip ------------------------------------------------------


@register(
    "q_warc_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) + COUNT(DISTINCT doc_id % 4) AS BIGINT)
             AS n_records,
           CAST(COUNT(*) AS BIGINT) AS n_responses,
           CAST(COUNT(DISTINCT doc_id % 4) AS BIGINT) AS n_files,
           CAST(SUM(strlen(text)) AS BIGINT) AS payload_octets,
           CAST(COUNT(*) AS BIGINT) AS n_uri
    FROM documents
    """,
    doc="WARC write-read round trip: the corpus is exported through "
    "the WARC SINK (sinks/warc.py — one gzip member-per-record archive "
    "per shard value, warcinfo head, tmp+rename atomic publish, "
    "deterministic uuid5 record ids so task retries re-land identical "
    "bytes) and read back through the WARC SOURCE; record/response/"
    "file counts, payload octet sum and distinct-URI count must match "
    "the documents table. A framing bug in EITHER half breaks the trip "
    "— the reader was pinned to hand-assembled spec bytes before the "
    "writer existed, so they cannot share a mistake. Plan: "
    "groupBy(shard) -> applyInPandas write (one task = one archive = "
    "the caller-chosen file size) -> per-file streaming read-back -> "
    "one agg; the sink's member-per-record gzip keeps the OUTPUT "
    "random-accessible and CDX-indexable.",
    tags=("web", "gate"),
)
def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from roapi_spark.config import TableSource
    from roapi_spark.sinks.warc import write_warc
    from roapi_spark.sources import load_table

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rows = docs.select(
        F.concat(
            F.lit("https://corpus.example.org/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(200).alias("http_status"),
        F.lit("text/plain; charset=utf-8").alias("http_content_type"),
        (F.col("doc_id") % 4).alias("shard"),
    )
    out_root = tempfile.mkdtemp(prefix="warc_sink_gate_")
    atexit.register(shutil.rmtree, out_root, ignore_errors=True)
    out_dir = os.path.join(out_root, "export")
    write_warc(rows, out_dir, shard_col="shard").count()  # execute write
    back = load_table(
        spark, TableSource(name="_rt", uri=out_dir, format="warc")
    )
    is_resp = F.col("warc_type") == "response"
    return back.agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(is_resp.cast("bigint")).cast("bigint").alias("n_responses"),
        F.count_distinct("warc_file").cast("bigint").alias("n_files"),
        F.sum(
            F.when(is_resp, F.length("payload").cast("bigint")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("payload_octets"),
        F.count_distinct(F.when(is_resp, F.col("target_uri")))
        .cast("bigint")
        .alias("n_uri"),
    )


# ---- q_wet_roundtrip -------------------------------------------------------


@register(
    "q_wet_roundtrip",
    oracle=f"""
    WITH live AS (
      SELECT doc_id, {NORM_LEN} AS nl FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    )
    SELECT CAST(COUNT(*) + 2 AS BIGINT) AS n_records,
           CAST(COUNT(*) AS BIGINT) AS n_conversion,
           CAST(2 AS BIGINT) AS n_files,
           CAST(SUM(nl) AS BIGINT) AS text_octets,
           CAST(COUNT(*) AS BIGINT) AS n_uri
    FROM live
    """,
    doc="WET derivative round trip (Common Crawl's *.warc.wet layout, "
    "ISO 28500 §6.8 conversion records — what an LLM corpus ingests "
    "instead of raw archives): 200/text/html pages from the WARC "
    "fixture run through main-text extraction, land as conversion "
    "records via sinks/warc.write_wet (2 shards, warcinfo heads, "
    "deterministic bytes), and are read back through the WARC SOURCE; "
    "record/conversion/file counts, text octet sum, and distinct-URI "
    "count must match the documents table's whitespace-normalized "
    "lengths closed-form — so a lost page, a mis-extracted byte, or a "
    "framing bug in either half fails. Plan: streaming WARC scan -> "
    "Arrow-batched extraction (no shuffle) -> groupBy(shard) "
    "applyInPandas write (one task = one WET file) -> streaming "
    "read-back -> one agg; at 100 TB the WET pass is embarrassingly "
    "parallel and its output is ~5x smaller than the archives.",
    tags=("web", "gate", "text"),
)
def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from roapi_spark.config import TableSource
    from roapi_spark.sinks.warc import write_wet
    from roapi_spark.sources import load_table

    resp = read_warc(spark, sf_dir, types="response").filter(
        ~F.col("target_uri").contains("utm_medium=x")  # %13 dup records
    )
    extracted = resp.mapInPandas(
        extract_kernel(schema_needs_text=True),
        EXTRACT_SCHEMA + ", extracted string",
    ).filter((F.col("is_html") == 1) & F.col("extracted").isNotNull())
    wet_rows = extracted.select(
        "target_uri",
        F.col("extracted").alias("text"),
        F.lit("2026-01-03T00:00:00Z").alias("warc_date"),
        F.pmod(F.crc32(F.col("target_uri")), F.lit(2)).alias("shard"),
    )
    out_root = tempfile.mkdtemp(prefix="wet_sink_gate_")
    atexit.register(shutil.rmtree, out_root, ignore_errors=True)
    out_dir = os.path.join(out_root, "wet")
    write_wet(wet_rows, out_dir).count()  # execute the write
    back = load_table(
        spark, TableSource(name="_wet", uri=out_dir, format="warc")
    )
    is_conv = F.col("warc_type") == "conversion"
    return back.agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(is_conv.cast("bigint")).cast("bigint").alias("n_conversion"),
        F.count_distinct("warc_file").cast("bigint").alias("n_files"),
        F.sum(
            F.when(is_conv, F.length("payload").cast("bigint")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("text_octets"),
        F.count_distinct(F.when(is_conv, F.col("target_uri")))
        .cast("bigint")
        .alias("n_uri"),
    )


# ---- q_wat_roundtrip ---------------------------------------------------------

_WAT_SCHEMA = (
    "Envelope struct<"
    "`WARC-Header-Metadata` struct<`WARC-Target-URI` string>, "
    "`Payload-Metadata` struct<`HTTP-Response-Metadata` struct<"
    "`HTML-Metadata` struct<Links array<struct<url string>>>>>>"
)


@register(
    "q_wat_roundtrip",
    oracle="""
    WITH live AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 3 AND doc_id % 7 <> 2
    )
    SELECT CAST(COUNT(*) + 2 AS BIGINT) AS n_records,
           CAST(COUNT(*) AS BIGINT) AS n_meta,
           CAST(2 AS BIGINT) AS n_files,
           CAST(8 * COUNT(*) AS BIGINT) AS sum_links,
           CAST(COUNT(*) AS BIGINT) AS n_uri
    FROM live
    """,
    doc="WAT derivative round trip — the third Common Crawl artifact "
    "(WARC bytes / WET text / WAT structure), closing the write-side "
    "triple: per-page outlink sets from the WAT snapshot land as ISO "
    "28500 metadata records whose payload is the WAT JSON envelope "
    "(Envelope -> Payload-Metadata -> HTML-Metadata -> Links, the "
    "shape WAT consumers parse), via sinks/warc.write_wat (2 shards, "
    "warcinfo heads, deterministic bytes); read back through the WARC "
    "source and the envelopes parsed with from_json — record/metadata/"
    "file counts, per-page link sums (every live page carries exactly "
    "its 6 chrome + 1 corpus + 1 partner links), and distinct-URI "
    "count replay closed-form. Plan: snapshot scan -> (page) "
    "collect_list agg -> groupBy(shard) applyInPandas write -> "
    "streaming read-back -> codegen'd JSON parse -> one agg.",
    tags=("web", "gate", "graph"),
)
def q_wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from roapi_spark.config import TableSource
    from roapi_spark.sinks.warc import write_wat
    from roapi_spark.sources import load_table

    links = links_snapshot(spark, sf_dir)
    pages = (
        links.groupBy(F.col("src_canon").alias("target_uri"))
        .agg(F.collect_set("dst_canon").alias("links"))
        .withColumn(
            "shard", F.pmod(F.crc32(F.col("target_uri")), F.lit(2))
        )
    )
    out_root = tempfile.mkdtemp(prefix="wat_sink_gate_")
    atexit.register(shutil.rmtree, out_root, ignore_errors=True)
    out_dir = os.path.join(out_root, "wat")
    write_wat(pages, out_dir).count()  # execute the write
    back = load_table(
        spark, TableSource(name="_wat", uri=out_dir, format="warc")
    )
    is_meta = F.col("warc_type") == "metadata"
    env = F.from_json(
        F.decode(F.col("payload"), "UTF-8"), _WAT_SCHEMA
    )
    n_links = F.size(
        env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"][
            "HTML-Metadata"
        ]["Links"]
    )
    return back.agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(is_meta.cast("bigint")).cast("bigint").alias("n_meta"),
        F.count_distinct("warc_file").cast("bigint").alias("n_files"),
        F.sum(F.when(is_meta, n_links).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_links"),
        F.count_distinct(F.when(is_meta, F.col("target_uri")))
        .cast("bigint")
        .alias("n_uri"),
    )


# ---- q_warc_dedup_export ----------------------------------------------------


@register(
    "q_warc_dedup_export",
    oracle="""
    WITH caps AS (
      SELECT 'https://corpus.example.org/' || source || '/'
               || CAST(doc_id AS VARCHAR) AS uri,
             text, doc_id % 4 AS shard
      FROM documents
      UNION ALL
      SELECT 'https://mirror.example.org/' || source || '/'
               || CAST(doc_id AS VARCHAR),
             text, doc_id % 4
      FROM documents WHERE doc_id % 13 = 5
    ),
    r AS (
      SELECT uri, strlen(text) AS tl, shard,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY uri) AS rn
      FROM caps
    )
    SELECT CAST(COUNT(*)
                + (SELECT COUNT(DISTINCT shard) FROM caps) AS BIGINT)
             AS n_records,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_responses,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_revisit,
           CAST(SUM(CASE WHEN rn = 1 THEN tl ELSE 0 END) AS BIGINT)
             AS stored_octets,
           CAST(SUM(CASE WHEN rn > 1 THEN tl ELSE 0 END) AS BIGINT)
             AS octets_saved,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resolved
    FROM r
    """,
    doc="Dedup-aware WARC export — the write half of crawl-side dedup "
    "(ISO 28500 §6.7): duplicate captures (%13 re-fetches AND any "
    "cross-document byte-identical payloads — sf0.1 has 8 natural "
    "text dups, which the replay oracle covers) are detected by "
    "payload-digest window (first capture by URI wins) and land as "
    "headers-only REVISIT "
    "records pointing at the original by target URI (WARC 1.1 "
    "WARC-Refers-To-Target-URI) with the shared WARC-Payload-Digest — "
    "the payload is stored ONCE. Read back through the WARC source: "
    "record/response/revisit counts, stored octets (each text once), "
    "octets saved, and revisit->original resolution (every revisit's "
    "refers_to must name a stored response URI — an inner join, no "
    "misses) replay closed-form. Plan: digest window is one shuffle "
    "on the digest key (WindowGroupLimit-free: every capture is "
    "kept, just re-typed); groupBy(shard) applyInPandas write; at "
    "100 TB this is the storage-dedup pass Common Crawl runs at "
    "write time — ~idempotent refetches stop costing archive bytes.",
    tags=("web", "gate", "dedup"),
)
def q_warc_dedup_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import Window

    from roapi_spark.config import TableSource
    from roapi_spark.sinks.warc import write_warc
    from roapi_spark.sources import load_table

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    primary = docs.select(
        F.concat(
            F.lit("https://corpus.example.org/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        (F.col("doc_id") % 4).alias("shard"),
    )
    dup = docs.filter(F.col("doc_id") % 13 == 5).select(
        F.concat(
            F.lit("https://mirror.example.org/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        (F.col("doc_id") % 4).alias("shard"),
    )
    captures = primary.unionAll(dup)
    # crawl-side dedup decision: first capture per payload digest (by
    # URI — corpus.example.org sorts before mirror.example.org) keeps
    # the payload; later captures become revisits pointing at it
    w = Window.partitionBy("digest").orderBy("target_uri")
    marked = (
        captures.withColumn("digest", F.md5(F.col("payload")))
        .withColumn("orig_uri", F.first("target_uri").over(w))
        .withColumn(
            "revisit_of",
            F.when(
                F.col("target_uri") != F.col("orig_uri"), F.col("orig_uri")
            ),
        )
        .drop("digest", "orig_uri")
    )
    out_root = tempfile.mkdtemp(prefix="warc_dedup_gate_")
    atexit.register(shutil.rmtree, out_root, ignore_errors=True)
    out_dir = os.path.join(out_root, "dedup")
    write_warc(marked, out_dir).count()  # execute the write
    back = load_table(
        spark, TableSource(name="_dd", uri=out_dir, format="warc")
    )
    is_resp = F.col("warc_type") == "response"
    is_rev = F.col("warc_type") == "revisit"
    # revisit->original resolution: every revisit's refers_to must name
    # a stored response URI; the join also recovers the octets each
    # revisit AVOIDED storing (= its original's payload length)
    resolved = (
        back.filter(is_rev)
        .select(F.col("refers_to").alias("ref"))
        .join(
            back.filter(is_resp).select(
                F.col("target_uri").alias("ref"),
                F.length("payload").cast("bigint").alias("l"),
            ),
            "ref",
            "inner",
        )
        .agg(
            F.sum("l").cast("bigint").alias("octets_saved"),
            F.count("*").cast("bigint").alias("n_resolved"),
        )
    )
    agg = back.agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(is_resp.cast("bigint")).cast("bigint").alias("n_responses"),
        F.sum(is_rev.cast("bigint")).cast("bigint").alias("n_revisit"),
        F.sum(
            F.when(is_resp, F.length("payload").cast("bigint")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("stored_octets"),
    )
    return agg.crossJoin(F.broadcast(resolved)).select(
        "n_records", "n_responses", "n_revisit", "stored_octets",
        "octets_saved", "n_resolved",
    )


# ---- q_cdx_digest_dedup ----------------------------------------------------


@register(
    "q_cdx_digest_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 13 = 5 THEN 2 ELSE 1 END) AS caps
      FROM documents
    )
    SELECT CAST(SUM(caps) AS BIGINT) AS n_captures,
           CAST(COUNT(*) AS BIGINT) AS n_digests,
           CAST(SUM(caps - 1) AS BIGINT) AS n_redundant,
           CAST(SUM(CASE WHEN caps > 1 THEN doc_id ELSE 0 END) AS BIGINT)
             AS sum_dup_id
    FROM d
    """,
    doc="Crawl-time dedup from the INDEX alone: captures grouped by "
    "payload digest over the CDX sidecar — the pass a real pipeline "
    "runs before touching any archive byte (re-captures of unchanged "
    "pages are redundant fetches; their WARC records need never be "
    "read). The %13 re-captures share their primary's digest, so "
    "n_redundant and the duplicate-id checksum are closed-form. Plan: "
    "splittable text scan -> codegen'd parse -> digest-keyed hash agg "
    "(map-side partials) -> one summary agg; at 100 TB the digest "
    "column is the shuffle key and the archives are never opened.",
    tags=("web", "dedup", "source"),
)
def q_cdx_digest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    df = load_table(
        spark,
        TableSource(
            name="_cdx", uri=cdx_fixture_dir(spark, sf_dir), format="cdx"
        ),
    )
    per_digest = df.groupBy("digest").agg(
        F.count("*").alias("caps"),
        # digest is 'sha1:{doc_id}' in the fixture: recover the id for
        # the checksum (gate glue, same as every id recovery)
        F.min(F.regexp_extract("digest", r"sha1:(\d+)", 1).cast("bigint"))
        .alias("doc_id"),
    )
    return per_digest.agg(
        F.sum("caps").cast("bigint").alias("n_captures"),
        F.count("*").cast("bigint").alias("n_digests"),
        F.sum(F.col("caps") - 1).cast("bigint").alias("n_redundant"),
        F.sum(F.when(F.col("caps") > 1, F.col("doc_id")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_dup_id"),
    )


# ---- q_cdx_index_roundtrip -------------------------------------------------


@register(
    "q_cdx_index_roundtrip",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, strlen(text) AS tl,
             (CASE WHEN doc_id % 13 = 5 THEN 2 ELSE 1 END) AS m,
             (doc_id % 17 = 1) AS isrev,
             (doc_id % 11 = 3) AS is404,
             (doc_id % 11 <> 3 AND doc_id % 7 = 2) AS isplain
      FROM documents
    )
    SELECT CAST(SUM(m) + SUM(CASE WHEN isrev THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ptr_direct,
           CAST(SUM(m) + SUM(CASE WHEN isrev THEN 1 ELSE 0 END) AS BIGINT)
             AS n_roundtrip,
           CAST(SUM(CASE WHEN isrev THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rev_ptr,
           (SELECT CAST(COUNT(DISTINCT doc_id % {N_SHARDS}) AS BIGINT)
            FROM documents) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_surt,
           CAST(SUM(CASE WHEN is404 OR isplain THEN m ELSE 0 END) AS BIGINT)
             AS n_fetched,
           CAST(SUM(CASE WHEN isplain THEN m * tl ELSE 0 END) AS BIGINT)
             AS plain_octets,
           CAST(SUM(CASE WHEN is404 THEN m * 37 ELSE 0 END) AS BIGINT)
             AS octets_404,
           CAST(SUM(CASE WHEN is404 OR isplain THEN m ELSE 0 END) AS BIGINT)
             AS n_match
    FROM d
    """,
    doc="CDX index GENERATION round trip — the third leg of the crawl "
    "toolchain (sinks/warc.py writes archives, sinks/cdx.index_warc "
    "indexes them, sources/warc.fetch_records seeks through the "
    "result): the WARC fixture is indexed from its raw bytes (gzip "
    "member spans recovered by zlib walk — exact consumed-byte counts, "
    "never magic-number guessing; plain-layout slices from record "
    "offsets), written as SURT-sorted CDXJ shards through the CDX "
    "SINK, read back through the CDX SOURCE, and the 404/plain subset "
    "is random-access FETCHED through the generated pointers — a wrong "
    "offset or length fails the reader's exact-framing contract, and "
    "fetched url/status must equal the pointer row's. Counts (response "
    "+ revisit pointers, distinct SURT = distinct pages, shard files) "
    "and fetched payload octets are residue closed-form. Plan: one "
    "task indexes one archive (memory bounded by archive size, the "
    "sink's own file-size contract); SURT keys attach JVM-side; at "
    "100 TB this is how a crawl BUILDS the index the other cdx gates "
    "consume, without any external indexer.",
    tags=("web", "gate", "source"),
)
def q_cdx_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from roapi_spark.config import TableSource
    from roapi_spark.sinks.cdx import index_warc, write_cdx
    from roapi_spark.sources import load_table
    from roapi_spark.sources.warc import fetch_records

    warc_dir = warc_fixture_dir(spark, sf_dir)
    # Persist the pointer table for the query's duration: the CDX write
    # below AND the returned plan's n_ptr_direct agg both consume it —
    # without the persist the raw-byte archive parse ran twice per serve
    # (round 14; guide §5 — reuse instead of recompute; pointer rows are
    # index-sized, ~1000x smaller than the archives).
    ptrs = serve_persist(index_warc(spark, warc_dir, glob="*.warc*"))
    out_root = tempfile.mkdtemp(prefix="cdx_sink_gate_")
    atexit.register(shutil.rmtree, out_root, ignore_errors=True)
    out_dir = os.path.join(out_root, "index")
    write_cdx(
        ptrs.withColumn(
            "shard", F.pmod(F.crc32(F.col("surt_key")), F.lit(2))
        ),
        out_dir,
    ).count()  # execute the write
    back = load_table(
        spark, TableSource(name="_gen", uri=out_dir, format="cdx")
    )
    direct = ptrs.agg(
        F.count("*").cast("bigint").alias("n_ptr_direct")
    )
    fetched = fetch_records(
        back.filter(
            (F.col("status") == 404) | (F.col("mime") == "text/plain")
        ),
        warc_dir,
    )
    fetch_agg = fetched.agg(
        F.count("*").cast("bigint").alias("n_fetched"),
        F.sum(
            F.when(
                F.col("http_content_type").startswith("text/plain"),
                F.length("payload").cast("bigint"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("plain_octets"),
        F.sum(
            F.when(
                F.col("http_status") == 404,
                F.length("payload").cast("bigint"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("octets_404"),
        F.sum(
            (
                (F.col("target_uri") == F.col("ptr_url"))
                & (F.col("http_status") == F.col("ptr_status"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_match"),
    )
    back_agg = back.agg(
        F.count("*").cast("bigint").alias("n_roundtrip"),
        F.count_distinct("warc_filename").cast("bigint").alias("n_files"),
        F.count_distinct("surt_key").cast("bigint").alias("n_surt"),
    )
    # revisit pointers: the indexer marks headers-only revisit records
    # with pywb's 'warc/revisit' mime (their digest column carries the
    # ORIGINAL payload's Base32 SHA-1, per the declared header)
    rev = back.agg(
        F.sum((F.col("mime") == "warc/revisit").cast("bigint"))
        .cast("bigint")
        .alias("n_rev_ptr")
    )
    return (
        direct.crossJoin(back_agg)
        .crossJoin(rev)
        .crossJoin(fetch_agg)
        .select(
            "n_ptr_direct", "n_roundtrip", "n_rev_ptr", "n_files",
            "n_surt", "n_fetched", "plain_octets", "octets_404", "n_match",
        )
    )


# ---- q_src_warc_revisit ----------------------------------------------------


@register(
    "q_src_warc_revisit",
    oracle="""
    WITH rv AS (SELECT doc_id FROM documents WHERE doc_id % 17 = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_revisit,
           CAST(SUM(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resolved,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dangling,
           CAST(SUM(CASE WHEN doc_id % 3 <> 0 THEN doc_id ELSE 0 END)
             AS BIGINT) AS sum_resolved_id
    FROM rv
    """,
    doc="WARC revisit-record gate (ISO 28500 §6.7 — the crawl-side "
    "dedup record type Heritrix/Common Crawl write when a re-fetch "
    "matches a stored payload): the fixture emits headers-only revisit "
    "records (identical-payload-digest profile) on the %17 residue, "
    "each carrying WARC-Refers-To; the %3 sub-residue DANGLES the "
    "reference (original lost with its crawl file), so the "
    "resolution join — revisits against response record ids — has a "
    "real miss path. The loader must surface refers_to and parse the "
    "bodiless http block (status from headers, empty payload); a "
    "dropped header, a mis-typed record, or a join that fabricates or "
    "loses a match shifts a count against the residue-arithmetic "
    "oracle. Plan: one WARC scan -> type-split -> broadcast join on "
    "record id (revisit streams are crawl-sized, originals "
    "index-sized per window) -> one agg.",
    tags=("source", "warc", "web"),
)
def q_src_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_warc(spark, sf_dir, payload="false")  # metadata-only pass
    rev = df.filter(F.col("warc_type") == "revisit").select(
        "refers_to",
        F.regexp_extract("target_uri", r"://[^/]+/[^/]+/(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
    )
    resp = (
        df.filter(F.col("warc_type") == "response")
        .select(F.col("record_id").alias("orig_id"))
        .distinct()
    )
    j = rev.join(F.broadcast(resp), rev.refers_to == F.col("orig_id"), "left")
    return j.agg(
        F.count("*").cast("bigint").alias("n_revisit"),
        F.sum(F.col("orig_id").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_resolved"),
        F.sum(F.col("orig_id").isNull().cast("bigint"))
        .cast("bigint")
        .alias("n_dangling"),
        F.sum(
            F.when(F.col("orig_id").isNotNull(), F.col("doc_id")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("sum_resolved_id"),
    )


_SITEMAP_URL_SQL = (
    "'https://'"
    " || (CASE WHEN doc_id % 5 = 0 THEN 'CRAWL.Example.com'"
    "          ELSE 'crawl.example.com' END)"
    " || (CASE WHEN doc_id % 9 = 4 THEN ':443' ELSE '' END)"
    " || '/' || source || '/' || CAST(doc_id AS VARCHAR)"
    " || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)"
    " || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'"
    "          ELSE '?a=1&b=2' END)"
    " || (CASE WHEN doc_id % 6 = 3 THEN '#frag' ELSE '' END)"
)


@register(
    "q_src_sitemap",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, {_SITEMAP_URL_SQL} AS loc FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT loc) AS BIGINT) AS n_locs,
           CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lastmod,
           CAST(SUM(CASE WHEN doc_id % 3 <> 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changefreq,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % 3 <> 1
                 THEN (doc_id + doc_id // 10) % 4 END) AS BIGINT)
             AS n_freq_kinds,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN doc_id % 10 ELSE 0 END)
                AS BIGINT) AS sum_priority10,
           MIN(loc) AS min_loc,
           MAX(loc) AS max_loc
    FROM u
    """,
    doc="Sitemap source gate (sitemaps.org 0.9 — the crawl seed-list "
    "format): a sitemapindex plus three urlset shards (one gzipped) "
    "built from the documents table; the loader follows the index one "
    "level (spec-bounded driver read), classifies files by ROOT "
    "ELEMENT never name, dedups index-referenced vs directly-globbed "
    "files, and parses entries with COMPOSED BUILT-INS only — "
    "wholetext scan (file-parallel; the spec caps files at 50k URLs / "
    "50 MB, so whole-file rows are format-bounded), codegen'd "
    "</url> split+explode, per-field regexp_extract, XML entity "
    "decode — locs carry &amp;-escaped query strings the parse must "
    "round-trip exactly (min/max pin the decoded strings). Optional "
    "lastmod/changefreq/priority land as NULLs on their off-residues, "
    "never errors. Plan: file-parallel text scan -> WholeStageCodegen "
    "parse -> one agg; at 100 TB a seed-list refresh is one pass over "
    "sitemap bytes ~1000x smaller than the crawl.",
    tags=("source", "web"),
)
def q_src_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    df = load_table(
        spark,
        TableSource(
            name="_sitemap",
            uri=sitemap_fixture_dir(spark, sf_dir),
            format="sitemap",
        ),
    )
    return df.agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.count_distinct("loc").cast("bigint").alias("n_locs"),
        F.count_distinct("sitemap_file").cast("bigint").alias("n_files"),
        F.sum(F.col("lastmod").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_lastmod"),
        F.sum(F.col("changefreq").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_changefreq"),
        F.count_distinct("changefreq").cast("bigint").alias("n_freq_kinds"),
        F.sum(
            F.coalesce(
                F.round(F.col("priority") * 10).cast("bigint"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("sum_priority10"),
        F.min("loc").alias("min_loc"),
        F.max("loc").alias("max_loc"),
    )


_R2_TS = "20260201000000"


# ---- q_sitemap_roundtrip ----------------------------------------------------


@register(
    "q_sitemap_roundtrip",
    oracle="""
    WITH u AS (SELECT doc_id FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(*) AS BIGINT) AS n_locs,
           CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lastmod,
           CAST(SUM(CASE WHEN doc_id % 3 <> 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changefreq,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN doc_id % 10 ELSE 0 END)
                AS BIGINT) AS sum_priority10,
           CAST(COUNT(*) AS BIGINT) AS n_manifest_urls,
           CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_manifest_files
    FROM u
    """,
    doc="Sitemap WRITE side round trip — the seed-list format's "
    "write -> read closure (round-13 verdict Missing #2: every other "
    "crawl format closed both directions, sitemaps only read): url "
    "rows from the documents table land as three urlset shards (one "
    "gzipped) through the DISTRIBUTED sink — groupBy(shard) -> "
    "applyInPandas, ONE task per file, the spec's 50k-URL/50 MB caps "
    "enforced per shard with loud failure, entries sorted for "
    "deterministic retry bytes, tmp+rename publish — plus the "
    "driver-side shard-cardinality <sitemapindex>; the sitemap SOURCE "
    "then re-reads the set THROUGH that index (root-element "
    "classification, one-level follow) and every optional-field "
    "residue must survive the XML escape/unescape round trip. The "
    "sink manifest's totals are cross-checked against the read-back "
    "as separate columns. Plan: corpus rows never route through the "
    "driver (the old fixture builder's collect() is deleted in favor "
    "of this sink); at 100 TB a crawl publishes its page inventory "
    "exactly this way — shard count scales with corpus, file sizes "
    "stay spec-bounded.",
    tags=("web", "gate", "sink"),
)
def q_sitemap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from roapi_spark.config import TableSource
    from roapi_spark.functions.fixtures import sitemap_entries
    from roapi_spark.sinks.sitemap import write_sitemap, write_sitemap_index
    from roapi_spark.sources import load_table

    out = tempfile.mkdtemp(prefix="sitemap_sink_gate_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    manifest = write_sitemap(
        sitemap_entries(spark, sf_dir), out, gzip_shards={0}
    ).cache()
    write_sitemap_index(
        out, [r["sitemap_file"] for r in manifest.collect()]
    )
    back = load_table(
        spark,
        TableSource(
            name="_sm_rt",
            uri=os.path.join(out, "sitemap-index.xml"),
            format="sitemap",
        ),
    )
    agg = back.agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.count_distinct("loc").cast("bigint").alias("n_locs"),
        F.count_distinct("sitemap_file").cast("bigint").alias("n_files"),
        F.count("lastmod").cast("bigint").alias("n_lastmod"),
        F.count("changefreq").cast("bigint").alias("n_changefreq"),
        F.sum(F.coalesce((F.col("priority") * 10).cast("bigint"), F.lit(0)))
        .cast("bigint")
        .alias("sum_priority10"),
    )
    man = manifest.agg(
        F.sum("n_urls").cast("bigint").alias("n_manifest_urls"),
        F.count("*").cast("bigint").alias("n_manifest_files"),
    )
    return agg.crossJoin(F.broadcast(man)).select(
        "n_urls", "n_locs", "n_files", "n_lastmod", "n_changefreq",
        "sum_priority10", "n_manifest_urls", "n_manifest_files",
    )


@register(
    "q_cdx_merge",
    oracle=f"""
    WITH d AS (SELECT doc_id FROM documents),
    r2 AS (SELECT doc_id FROM d WHERE doc_id % 7 = 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_master,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_surt,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d)
             + (SELECT CAST(COUNT(*) AS BIGINT) FROM r2) AS n_hist,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM r2) AS n_r2_latest,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM r2) AS n_fetched,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM r2) AS n_byte_match
    """,
    doc="CDX shard MERGE — the cc-index maintenance step (round-13 "
    "verdict Missing #3; pywb's cdx-indexer + sort-merge is the tool "
    "shape): two crawl rounds land real archives through the WARC "
    "sink (round 2 re-fetches the doc_id%7==1 residue with a newer "
    "date and different bytes), each round is indexed from raw bytes "
    "and written as its own SURT-sorted CDXJ shard set; "
    "sinks/cdx.merge_cdx then k-way merges the rounds into one "
    "master index — latest-capture-per-SURT for the recrawl-planner "
    "view (one window on the SURT key), full-history for "
    "wayback-style replay — bucketed crc32(surt)%N and re-sorted "
    "within shards, the same layout every index consumer in the repo "
    "probes. The gate FETCHES the round-2 subset through the MERGED "
    "index and through the per-round originals and counts "
    "byte-identical payloads — a wrong offset, length, or "
    "lost-update in the merge breaks exact framing or the equality. "
    "Plan: one distributed text scan over all rounds' shards, one "
    "window, one shuffle onto the output bucketing; at 100 TB the "
    "index is ~1000x smaller than the archives and this pass touches "
    "ONLY the index plus the fetched subset.",
    tags=("web", "gate", "sink"),
)
def q_cdx_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from roapi_spark.config import TableSource
    from roapi_spark.sinks.cdx import merge_cdx
    from roapi_spark.sources import load_table
    from roapi_spark.sources.warc import fetch_records

    fixture = two_round_crawl_dir(spark, sf_dir)
    arch = os.path.join(fixture, "archives")
    idx = {r: os.path.join(fixture, f"idx_{r}") for r in ("r1", "r2")}
    root = tempfile.mkdtemp(prefix="cdx_merge_gate_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    def _load(d: str) -> DataFrame:
        return load_table(
            spark, TableSource(name="_m", uri=d, format="cdx")
        )

    # both merges (latest-only master + full history) consume the SAME
    # two rounds' shards: parse the pointer lines once and persist the
    # index-sized rows for the duration of the two merges (guide §5 —
    # reuse instead of recompute; was two full text-scan+parse passes)
    parsed = _load(idx["r1"]).unionByName(_load(idx["r2"])).persist()
    try:
        master_dir = os.path.join(root, "master")
        merge_cdx(
            spark, [idx["r1"], idx["r2"]], master_dir,
            n_shards=4, latest_only=True, source_df=parsed,
        ).count()
        hist_dir = os.path.join(root, "hist")
        merge_cdx(
            spark, [idx["r1"], idx["r2"]], hist_dir,
            n_shards=4, latest_only=False, source_df=parsed,
        ).count()
    finally:
        parsed.unpersist()

    master = _load(master_dir)
    master_agg = master.agg(
        F.count("*").cast("bigint").alias("n_master"),
        F.count_distinct("surt_key").cast("bigint").alias("n_surt"),
        F.sum((F.col("fetch_ts") == _R2_TS).cast("bigint"))
        .cast("bigint")
        .alias("n_r2_latest"),
    )
    hist_agg = _load(hist_dir).agg(
        F.count("*").cast("bigint").alias("n_hist")
    )
    # byte identity: the round-2 subset fetched through the MERGED
    # index vs through round 2's ORIGINAL index
    via_master = fetch_records(
        master.filter(F.col("fetch_ts") == _R2_TS), arch
    ).select(F.col("ptr_url").alias("url"), F.col("payload").alias("pm"))
    via_orig = fetch_records(_load(idx["r2"]), arch).select(
        F.col("ptr_url").alias("url"), F.col("payload").alias("po")
    )
    fetch_agg = via_master.join(via_orig, "url").agg(
        F.count("*").cast("bigint").alias("n_fetched"),
        F.sum((F.col("pm") == F.col("po")).cast("bigint"))
        .cast("bigint")
        .alias("n_byte_match"),
    )
    return (
        master_agg.crossJoin(F.broadcast(hist_agg))
        .crossJoin(F.broadcast(fetch_agg))
        .select(
            "n_master", "n_surt", "n_hist", "n_r2_latest",
            "n_fetched", "n_byte_match",
        )
    )


@register(
    "q_cdx_prefix_scan",
    oracle="""
    SELECT 'src1' AS probe,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_surt,
           CAST(1 AS BIGINT) AS pruned
    FROM documents WHERE source = 'src1'
    UNION ALL
    SELECT 'src7',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT doc_id) AS BIGINT),
           CAST(1 AS BIGINT)
    FROM documents WHERE source = 'src7'
    UNION ALL
    SELECT 'zz_absent', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(1 AS BIGINT)
    ORDER BY probe
    """,
    doc="Pruned prefix scan over the range-layout master index "
    "(sinks/cdx.read_cdx_prefix + the _shards.idx sidecar): two "
    "path-prefix probes must return exactly the fixture rows under "
    "that prefix (latest-capture master: one row per SURT) while "
    "opening STRICTLY FEWER shard files than the master holds, and a "
    "probe past every shard range must read ZERO files and return "
    "zero rows. `pruned` is computed from the same sidecar the scan "
    "plans with, so a pruning regression (sidecar ignored, bound "
    "wrong, stale ranges) flips it and hash-fails the gate. Scale: "
    "this is the 'open one file out of thousands' cc-index access "
    "path a 100 TB corpus index needs for per-domain analyses.",
    tags=("web", "gate", "sink"),
)
def q_cdx_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.sinks.cdx import _prefix_shard_files, read_cdx_prefix

    master = range_master_dir(spark, sf_dir)
    with open(os.path.join(master, "_shards.idx"), encoding="utf-8") as f:
        n_shards_total = sum(1 for _ in f)
    probes = [
        ("src1", "com,example,crawl)/src1/"),
        ("src7", "com,example,crawl)/src7/"),
        ("zz_absent", "com,example,crawl)/zz"),
    ]
    out = None
    for label, pfx in probes:
        files = _prefix_shard_files(master, pfx)
        part = read_cdx_prefix(spark, master, pfx).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct("surt_key").cast("bigint").alias("n_surt"),
        ).select(
            F.lit(label).alias("probe"),
            "n_rows",
            "n_surt",
            F.lit(int(len(files) < n_shards_total))
            .cast("bigint")
            .alias("pruned"),
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("probe")


@register(
    "q_cdx_zipnum_lookup",
    oracle="""
    SELECT 'src1' AS probe,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_surt,
           CAST(1 AS BIGINT) AS pruned
    FROM documents WHERE source = 'src1'
    UNION ALL
    SELECT 'src7',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT doc_id) AS BIGINT),
           CAST(1 AS BIGINT)
    FROM documents WHERE source = 'src7'
    UNION ALL
    SELECT 'zz_absent', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(1 AS BIGINT)
    ORDER BY probe
    """,
    doc="ZIPNUM (compressed-block) master-index lookup — the "
    "production cc-index layout: shards are concatenated gzip members "
    "of N CDXJ lines, the _cluster.idx sidecar carries one row per "
    "block, and a prefix lookup seeks + decompresses ONLY the "
    "overlapping ~100 KB blocks executor-side (read_cdx_zipnum; the "
    "fetch_records pattern). Probes mirror q_cdx_prefix_scan so the "
    "two layouts are pinned to identical answers; `pruned` asserts "
    "strictly fewer blocks opened than the master holds. Scale: a "
    "point lookup touches one block regardless of corpus size, and "
    "the compressed master is ~1/8 the plaintext index's bytes.",
    tags=("web", "gate", "sink"),
)
def q_cdx_zipnum_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.sinks.cdx import _prefix_blocks, read_cdx_zipnum

    master = zipnum_master_dir(spark, sf_dir)
    with open(os.path.join(master, "_cluster.idx"), encoding="utf-8") as f:
        n_blocks_total = sum(1 for _ in f)
    probes = [
        ("src1", "com,example,crawl)/src1/"),
        ("src7", "com,example,crawl)/src7/"),
        ("zz_absent", "com,example,crawl)/zz"),
    ]
    out = None
    for label, pfx in probes:
        opened = _prefix_blocks(master, pfx)
        part = read_cdx_zipnum(spark, master, pfx).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct("surt_key").cast("bigint").alias("n_surt"),
        ).select(
            F.lit(label).alias("probe"),
            "n_rows",
            "n_surt",
            F.lit(int(len(opened) < n_blocks_total))
            .cast("bigint")
            .alias("pruned"),
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("probe")


# ---- q_cdx_asof_fetch --------------------------------------------------------


@register(
    "q_cdx_asof_fetch",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents),
    r2 AS (SELECT doc_id FROM d WHERE doc_id % 7 = 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_mid,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_mid_v1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM r2) AS n_late_v1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM r2) AS n_late_v2,
           CAST(0 AS BIGINT) AS n_early
    """,
    doc="Wayback-style AS-OF replay through the full-history index "
    "(sinks/cdx.asof_snapshot): the latest capture per SURT with "
    "fetch_ts <= t, pywb's closest-before rule. Probed at three "
    "instants over the two-round fixture and BYTE-VERIFIED through "
    "fetch_records: between the rounds every page resolves to its v1 "
    "capture (payload prefix checked, not just counts); after round 2 "
    "the re-crawled doc_id%7==1 residue resolves to v2 and everything "
    "else stays v1; before round 1 nothing resolves. Plan: filter + "
    "one window over the index (~1000x smaller than the archives), "
    "then random-access fetches of exactly the resolved pointers — "
    "the 100 TB replay shape: no archive is ever scanned.",
    tags=("web", "gate", "sink"),
)
def q_cdx_asof_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sinks.cdx import asof_snapshot
    from roapi_spark.sources import load_table
    from roapi_spark.sources.warc import fetch_records

    fixture = two_round_crawl_dir(spark, sf_dir)
    arch = os.path.join(fixture, "archives")
    hist = None
    for r in ("r1", "r2"):
        part = load_table(
            spark,
            TableSource(
                name=f"_asof_{r}",
                uri=os.path.join(fixture, f"idx_{r}"),
                format="cdx",
            ),
        )
        hist = part if hist is None else hist.unionByName(part)

    def resolved(ts: str) -> DataFrame:
        snap = asof_snapshot(hist, ts)
        return fetch_records(snap, arch).select(
            F.substring(F.decode(F.col("payload"), "UTF-8"), 1, 3).alias(
                "vtag"
            )
        )

    mid = resolved("20260115000000").agg(
        F.count("*").cast("bigint").alias("n_mid"),
        F.sum((F.col("vtag") == "v1|").cast("bigint"))
        .cast("bigint")
        .alias("n_mid_v1"),
    )
    late = resolved("20260301000000").agg(
        F.sum((F.col("vtag") == "v1|").cast("bigint"))
        .cast("bigint")
        .alias("n_late_v1"),
        F.sum((F.col("vtag") == "v2|").cast("bigint"))
        .cast("bigint")
        .alias("n_late_v2"),
    )
    early = asof_snapshot(hist, "20251231000000").agg(
        F.count("*").cast("bigint").alias("n_early")
    )
    return (
        mid.crossJoin(F.broadcast(late))
        .crossJoin(F.broadcast(early))
        .select("n_mid", "n_mid_v1", "n_late_v1", "n_late_v2", "n_early")
    )
