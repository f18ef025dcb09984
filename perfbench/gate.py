"""Correctness gate for the pages job's output, computed independently in DuckDB.

The job's output is the point-in-time feature table: one row per
``(url, t)`` of a weekly spine, carrying the features of the latest
snapshot with ``warc_ts <= t``. The gate checks a materialized output
(a parquet directory) four ways:

1. its row count equals the spine size, computed here from the pages
   table's per-url ``min``/``max`` ``warc_ts``, and ``(url, t)`` is unique;
2. no row has ``matched_ts > t`` (no leakage from the future);
3. on a fixed sample of urls, every value equals a reference built from
   features the JVM twin ``extract_page_features`` recomputed, windowed
   (session id, lags) and as-of joined by DuckDB's ``ASOF JOIN``;
4. for a resumed checkpointed run, its order-insensitive hash
   (:func:`order_hash`) equals that of the uninterrupted run's output.

Rows of one url that share a ``warc_ts`` are ordered arbitrarily by the
job's windows and as-of join, so when the latest snapshot at ``t`` is
such a tie, any of the tied rows is accepted (with its own lag values),
and the hash comparison is made only on tables without such ties.

Doubles are rounded to 6 decimals by the job, so they are compared with a
tolerance of 1.5e-6, which absorbs a differently rounded tie and nothing
larger.
"""

from __future__ import annotations

import duckdb

SESSION_GAP_S = 30 * 86_400
STEP_S = 7 * 86_400
TOL = 1.5e-6

EXACT = ["lang", "text_length", "n_tokens", "n_unique", "lang_pred",
         "session_id", "text_length_lag1", "matched_ts"]
APPROX = ["stopword_ratio", "quality", "quality_lag1", "quality_delta"]
COLUMNS = ["url", "t", *EXACT, *APPROX]


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')" if not path.endswith(".parquet") else f"read_parquet('{path}')"


def _in_list(urls: list[str]) -> str:
    return "(" + ", ".join("'" + u.replace("'", "''") + "'" for u in urls) + ")"


def reference_sql(pages: str, ref_feats: str, urls: list[str]) -> str:
    """Every row the output may hold for ``urls``: the spine from the pages
    table, features from ``ref_feats`` (url, warc_ts, lang and the
    extracted features), windows and the as-of join in SQL. Rows that share
    a ``warc_ts`` are all latest, and their window order is not defined, so
    each of them is a candidate for the spine rows that match that time."""
    sample = _in_list(urls)
    return f"""
    WITH bounds AS (
      SELECT url, min(warc_ts) AS t0, max(warc_ts) AS t1
      FROM {_parquet(pages)} WHERE url IN {sample} GROUP BY url
    ), spine AS (
      SELECT url, unnest(generate_series(t0, t1, INTERVAL {STEP_S} SECOND)) AS t FROM bounds
    ), f AS (
      SELECT *,
        row_number() OVER w AS _rn,
        lag(epoch_us(warc_ts)) OVER w AS _prev_us,
        lag(text_length) OVER w AS text_length_lag1,
        lag(quality) OVER w AS quality_lag1
      FROM {_parquet(ref_feats)} WHERE url IN {sample}
      WINDOW w AS (PARTITION BY url ORDER BY warc_ts)
    ), s AS (
      SELECT *,
        sum(CASE WHEN _prev_us IS NULL
                   OR (epoch_us(warc_ts) - _prev_us) / 1e6 > {SESSION_GAP_S}
                 THEN 1 ELSE 0 END)
          OVER (PARTITION BY url ORDER BY _rn ROWS UNBOUNDED PRECEDING) AS session_id,
        round(quality - quality_lag1, 6) AS quality_delta
      FROM f
    ), matched AS (
      SELECT spine.url, spine.t, k.warc_ts AS matched_ts
      FROM spine ASOF LEFT JOIN (SELECT DISTINCT url, warc_ts FROM s) k
        ON spine.url = k.url AND spine.t >= k.warc_ts
    )
    SELECT m.url, m.t, {", ".join(f"r.{c}" for c in EXACT[:-1] + APPROX)}, m.matched_ts
    FROM matched m LEFT JOIN s r ON r.url = m.url AND r.warc_ts = m.matched_ts
    """


def check(output: str, pages: str, ref_feats: str, urls: list[str]) -> list[str]:
    """Return the failed checks (empty when the output is correct)."""
    con = duckdb.connect()
    try:
        return _check(con, output, pages, ref_feats, urls)
    finally:
        con.close()


def _check(con, output, pages, ref_feats, urls) -> list[str]:
    out = _parquet(output)
    cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {out}").fetchall()]
    if sorted(cols) != sorted(COLUMNS):
        return [f"output columns {sorted(cols)} != {sorted(COLUMNS)}"]
    failures = []
    expected = con.sql(f"""
        SELECT sum((epoch_us(t1) - epoch_us(t0)) // {STEP_S * 1_000_000} + 1)
        FROM (SELECT url, min(warc_ts) t0, max(warc_ts) t1 FROM {_parquet(pages)} GROUP BY url)
    """).fetchone()[0]
    rows, keys, leaks = con.sql(f"""
        SELECT count(*), count(DISTINCT (url, t)), count(*) FILTER (WHERE matched_ts > t)
        FROM {out}
    """).fetchone()
    if rows != expected:
        failures.append(f"row count {rows} != spine size {expected}")
    if keys != rows:
        failures.append(f"{rows - keys} duplicate (url, t) rows")
    if leaks:
        failures.append(f"{leaks} rows with matched_ts > t")
    same = " AND ".join(
        [f"r.{c} IS NOT DISTINCT FROM o.{c}" for c in EXACT]
        + [f"((r.{c} IS NULL AND o.{c} IS NULL) OR abs(r.{c} - o.{c}) <= {TOL})" for c in APPROX]
    )
    missing, bad, checked = con.sql(f"""
        WITH r AS ({reference_sql(pages, ref_feats, urls)}),
             o AS (SELECT * FROM {out} WHERE url IN {_in_list(urls)})
        SELECT
          (SELECT count(*) FROM (SELECT DISTINCT url, t FROM r) k
            WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.url = k.url AND o.t = k.t)),
          (SELECT count(*) FROM o WHERE NOT EXISTS (
            SELECT 1 FROM r WHERE r.url = o.url AND r.t = o.t AND {same})),
          (SELECT count(*) FROM o)
    """).fetchone()
    if missing:
        failures.append(f"{missing} sampled spine rows missing from the output")
    if bad:
        failures.append(f"{bad} of {checked} sampled rows differ from the DuckDB reference")
    if not checked:
        failures.append("the url sample matched no rows")
    return failures


def order_hash(output: str) -> tuple[int, int]:
    """(row count, sum of per-row hashes): equal for equal row multisets,
    whatever the row order or file layout."""
    con = duckdb.connect()
    try:
        n, h = con.sql(f"SELECT count(*), sum(hash({', '.join(COLUMNS)})::HUGEINT) FROM {_parquet(output)}").fetchone()
        return int(n), int(h or 0)
    finally:
        con.close()


def sample_urls(pages, threshold: int, k: int = 12) -> list[str]:
    """A fixed url sample of a pages table (pyarrow): the first url at or
    above the heavy-hitter threshold, the urls of the first null, empty and
    non-Java-whitespace texts, then the first ``k`` urls in hash order."""
    import hashlib

    import pyarrow.compute as pc

    from gen import NON_JAVA_WS

    counts = pc.value_counts(pages.column("url"))
    hot = [v.as_py() for v, c in zip(counts.field("values"), counts.field("counts")) if c.as_py() >= threshold][:1]
    text, url = pages.column("text"), pages.column("url")
    edge = []
    for mask in (pc.is_null(text), pc.equal(text, ""),
                 pc.match_substring_regex(text, "[" + "".join(NON_JAVA_WS) + "]")):
        hits = pc.filter(url, pc.fill_null(mask, False))
        if len(hits):
            edge.append(hits[0].as_py())
    rest = sorted(set(url.to_pylist()), key=lambda u: hashlib.md5(u.encode()).hexdigest())[:k]
    return sorted(set(hot + edge + rest))
