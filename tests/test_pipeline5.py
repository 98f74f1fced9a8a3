"""Round-4 pipeline batch: funnel ordering semantics, cohort math,
keep-best tie-breaks. Oracle parity for all five queries is covered by
test_oracle_parity.py; these pin the edge semantics on crafted data."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from roapi_spark.functions.quality import q_token_len_histogram
from roapi_spark.plans.analytics import q_event_funnel, q_retention_cohort


def _write_events(tmp_path, rows):
    ts = pa.array(
        [datetime.datetime(2024, 1, d, h, 0, 0) for d, h, *_ in rows],
        type=pa.timestamp("us"),
    )
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    return str(tmp_path)


def test_funnel_strictly_after(spark, tmp_path):
    # user 1: full ordered funnel; user 2: click BEFORE signup (stage 2
    # not reached); user 3: signup+click, purchase before click (stage 3
    # not reached)
    d = _write_events(
        tmp_path,
        [
            (1, 1, 1, "signup"), (1, 2, 1, "click"), (1, 3, 1, "purchase"),
            (2, 1, 2, "click"), (2, 2, 2, "signup"),
            (3, 1, 3, "signup"), (3, 3, 3, "click"), (3, 2, 3, "purchase"),
        ],
    )
    rows = {r.stage: r.n_users for r in q_event_funnel(spark, d).collect()}
    assert rows == {"signup": 3, "click": 2, "purchase": 1}


def test_funnel_same_instant_excluded(spark, tmp_path):
    # click at the exact signup timestamp is NOT "after" (strict >)
    d = _write_events(tmp_path, [(1, 1, 1, "signup"), (1, 1, 1, "click")])
    rows = {r.stage: r.n_users for r in q_event_funnel(spark, d).collect()}
    assert rows == {"signup": 1, "click": 0, "purchase": 0}


def test_retention_cohort_week0_is_full(spark, tmp_path):
    # both users first seen in week of Jan 1 (Mon); one returns the next
    # week -> 50% week-1 retention
    d = _write_events(
        tmp_path,
        [
            (1, 1, 1, "view"), (2, 1, 2, "view"),
            (9, 1, 1, "view"),  # Jan 9 = next ISO week
        ],
    )
    out = {
        (r.cohort_week.isoformat(), r.week_offset): (r.n_active, r.retention_pct)
        for r in q_retention_cohort(spark, d).collect()
    }
    assert out[("2024-01-01", 0)] == (2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 0.5)


def test_token_len_histogram_bucket_boundaries(spark, tmp_path):
    # n_tok=3 -> bin(4)=100 -> bucket 2; n_tok=7 -> bin(8)=1000 -> bucket 3
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], type=pa.int64()),
            "text": pa.array(["a b c", "a b c d e f g"]),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["web", "web"]),
            "n_chars": pa.array([5, 13], type=pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    out = {
        (r.source, r.bucket): (r.n_docs, r.total_tokens)
        for r in q_token_len_histogram(spark, str(tmp_path)).collect()
    }
    assert out == {("web", 2): (1, 3), ("web", 3): (1, 7)}


def test_keep_best_prefers_longest(spark, sf_dir):
    from roapi_spark.functions.dedup import dedup_components
    from roapi_spark.functions.text import docs
    from roapi_spark.functions.dedup import dedup_keep_best

    kb = {r.component: r for r in dedup_keep_best(spark, sf_dir).collect()}
    if not kb:
        pytest.skip("no near-dup components at this sf")
    comp = {r.doc_id: r.component for r in dedup_components(spark, sf_dir).collect()}
    chars = {r.doc_id: r.n_chars for r in docs(spark, sf_dir).collect()}
    for c, row in kb.items():
        members = [d for d, cc in comp.items() if cc == c]
        assert row.n_members == len(members)
        best = max(members, key=lambda d: (chars[d], -d))
        assert row.keep_doc_id == best
        assert row.max_chars == chars[best]
