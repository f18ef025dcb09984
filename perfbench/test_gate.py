"""The benchmark's correctness gate rejects corrupted outputs, and the
generator is seed-fixed. No Spark needed:

    python3 -m pytest perfbench/test_gate.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gate  # noqa: E402
import gen  # noqa: E402

T0 = datetime(2021, 3, 1, 9, 30)
DAY = timedelta(days=1)


@pytest.fixture
def tables(tmp_path):
    """A pages table, JVM-twin-style features for it, and the correct
    output, which is one reference candidate per (url, t)."""
    snaps = [  # url, warc_ts, text_length, quality; u1 has a duplicate capture
        ("u1", T0, 10, 0.5), ("u1", T0 + 9 * DAY, 12, 0.625),
        ("u1", T0 + 9 * DAY, 12, 0.625), ("u1", T0 + 20 * DAY, 30, 0.75),
        ("u2", T0 + 2 * DAY, 7, 0.25), ("u2", T0 + 45 * DAY, 8, 0.5),
    ]
    col = lambda i, typ: pa.array([s[i] for s in snaps], typ)  # noqa: E731
    pages = tmp_path / "pages.parquet"
    pq.write_table(pa.table({"url": col(0, pa.string()), "warc_ts": col(1, pa.timestamp("us"))}), pages)
    ref = tmp_path / "reference"
    ref.mkdir()
    pq.write_table(pa.table({
        "url": col(0, pa.string()), "warc_ts": col(1, pa.timestamp("us")),
        "lang": pa.array(["en"] * len(snaps)), "text_length": col(2, pa.int32()),
        "n_tokens": col(2, pa.int32()), "n_unique": col(2, pa.int32()),
        "stopword_ratio": pa.array([0.1] * len(snaps)), "quality": col(3, pa.float64()),
        "lang_pred": pa.array(["en"] * len(snaps)),
    }), ref / "part-0.parquet")
    out = tmp_path / "output"
    out.mkdir()
    con = duckdb.connect()
    con.sql(f"""COPY (SELECT * FROM ({gate.reference_sql(str(pages), str(ref), ['u1', 'u2'])})
                QUALIFY row_number() OVER (PARTITION BY url, t ORDER BY text_length_lag1) = 1)
                TO '{out}/part-0.parquet' (FORMAT parquet)""")
    con.close()
    return str(out), str(pages), str(ref)


def corrupt(out: str, sql: str) -> None:
    """Rewrite the output parquet through ``sql`` over a view named o."""
    con = duckdb.connect()
    con.sql(f"CREATE TABLE o AS SELECT * FROM read_parquet('{out}/*.parquet')")
    con.sql(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
    con.close()


def test_accepts_correct_output(tables):
    out, pages, ref = tables
    assert gate.check(out, pages, ref, ["u1", "u2"]) == []


def test_accepts_either_row_of_a_duplicate_capture(tables):
    out, pages, ref = tables
    # the other capture at the matched time is the lag of this one
    tie = "url = 'u1' AND matched_ts = TIMESTAMP '2021-03-10 09:30:00'"
    corrupt(out, f"SELECT * REPLACE (CASE WHEN {tie} THEN 12 ELSE text_length_lag1 END AS text_length_lag1, "
                 f"CASE WHEN {tie} THEN 0.625 ELSE quality_lag1 END AS quality_lag1, "
                 f"CASE WHEN {tie} THEN 0.0 ELSE quality_delta END AS quality_delta) FROM o")
    assert gate.check(out, pages, ref, ["u1", "u2"]) == []


def test_rejects_changed_feature_value(tables):
    out, pages, ref = tables
    corrupt(out, "SELECT * REPLACE (CASE WHEN url = 'u2' AND quality IS NOT NULL "
                 "THEN quality + 0.01 ELSE quality END AS quality) FROM o")
    assert any("differ from the DuckDB reference" in p for p in gate.check(out, pages, ref, ["u1", "u2"]))


def test_rejects_future_match(tables):
    out, pages, ref = tables
    corrupt(out, "SELECT * REPLACE (CASE WHEN url = 'u1' THEN t + INTERVAL 1 DAY "
                 "ELSE matched_ts END AS matched_ts) FROM o")
    assert any("matched_ts > t" in p for p in gate.check(out, pages, ref, ["u1", "u2"]))


def test_rejects_dropped_and_duplicated_rows(tables):
    out, pages, ref = tables
    corrupt(out, "SELECT * FROM o WHERE NOT (url = 'u2' AND t = (SELECT max(t) FROM o WHERE url = 'u2'))")
    problems = gate.check(out, pages, ref, ["u1", "u2"])
    assert any("row count" in p for p in problems)
    assert any("missing" in p for p in problems)
    corrupt(out, "SELECT * FROM o UNION ALL (SELECT * FROM o LIMIT 1)")
    assert any("duplicate" in p for p in gate.check(out, pages, ref, ["u1", "u2"]))


def test_order_hash_ignores_order_but_not_values(tables):
    out, _, _ = tables
    before = gate.order_hash(out)
    corrupt(out, "SELECT * FROM o ORDER BY url DESC, t DESC")
    assert gate.order_hash(out) == before
    corrupt(out, "SELECT * REPLACE (n_unique + 1 AS n_unique) FROM o")
    assert gate.order_hash(out) != before


def test_generator_same_seed_same_bytes(tmp_path):
    digest = lambda p: hashlib.sha256(open(p, "rb").read()).hexdigest()  # noqa: E731
    a = gen.pages_path(str(tmp_path / "a"), "long_history", 7)
    b = gen.pages_path(str(tmp_path / "b"), "long_history", 7)
    c = gen.pages_path(str(tmp_path / "c"), "long_history", 8)
    assert digest(a) == digest(b) != digest(c)


@pytest.mark.parametrize("seed", [1, 2])
def test_generator_keeps_each_workloads_shape(seed):
    crawl = gen.properties(gen.generate("crawl_text", seed), "crawl_text")
    assert crawl["max_text_bytes"] > 90_000  # the length tail reaches ~100 KB
    assert crawl["slow_path_share"] == 0.05 and crawl["hot_urls"] == 0
    history = gen.properties(gen.generate("long_history", seed), "long_history")
    assert history["hot_urls"] == 3 and history["duplicate_ts_rows"] > 0
