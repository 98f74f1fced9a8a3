"""Cross-engine helpers.

``pround`` — portable round-half-up via floor(x*10^d + 0.5)/10^d, identical
on Spark and DuckDB. Needed for values derived from integer ratios (token
ratios, Jaccard) which can land *exactly* on a rounding half-boundary where
Spark (half-up) and DuckDB (half-even) disagree. Plain ROUND stays fine for
float aggregates (sums/stddev), where an exact decimal half never occurs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column, digits: int = 4) -> Column:
    scale = 10**digits
    return F.floor(col * scale + F.lit(0.5)) / float(scale)


def pround_sql(expr: str, digits: int = 4) -> str:
    scale = 10**digits
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}.0"


def hash_bucket(col: Column, n: int) -> Column:
    """md5-prefix hash bucket in [0, n): the cross-engine deterministic
    hash used for splits, DSIR features, and shard ordering. Twin of
    :func:`hash_bucket_sql` — keep the two expressions in lockstep, a
    drift in either silently breaks oracle parity."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % n


def hash_bucket_sql(expr: str, n: int) -> str:
    """DuckDB twin of :func:`hash_bucket` (expr must already be VARCHAR)."""
    return f"('0x' || SUBSTR(MD5({expr}), 1, 8))::BIGINT % {n}"


# Whitespace class usable VERBATIM in both Java regex (Spark) and RE2
# (DuckDB): Java's \s is [ \t\n\x0B\f\r] but RE2's \s OMITS \x0B, so a
# literal '\s+' in paired expressions silently diverges on any text
# containing a vertical tab — spell the class out on both sides.
WS_CLASS = r"[ \t\n\x0B\f\r]"


def hash32(col: Column) -> Column:
    """First 4 md5 bytes as a bigint — the shared 32-bit content hash
    (minhash base, simhash token hash). Paired with hash32_sql; change
    BOTH or oracle parity silently breaks."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash32_sql(expr: str) -> str:
    """DuckDB twin of hash32."""
    return f"('0x' || SUBSTR(MD5({expr}), 1, 8))::BIGINT"


def serve_persist(df: "DataFrame") -> "DataFrame":  # noqa: F821
    """Persist a multiply-consumed intermediate for the lifetime of one
    query SERVE.

    Lifecycle contract (round-15 advice item): these blocks are NOT
    unpersisted by the query builder — the consumers live inside the
    returned lazy DataFrame, so there is no safe point to drop them
    before the caller's action. Instead every long-lived caller drops
    persistent RDDs between serves:

    * ``bench.py`` unpersists all persistent RDDs between queries
      (``drop_persistent_blocks``);
    * ``tools/check_correctness.py`` uses one serve per fresh plan.

    Only these two serve registry builders. The HTTP/PG/Flight servers
    never call one, so ``serve_persist`` never runs inside a server.

    Use this wrapper (not bare ``.persist()``) for serve-scoped persists
    so the contract is greppable in one place.
    """
    return df.persist()
