"""Seed-fixed pages tables for the benchmark workloads.

Each table has the north-rule schema
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
sorted by ``(url, warc_ts)``. The same ``(workload, seed)`` always gives a
byte-identical parquet file: every random draw comes from one
``numpy.random.Generator`` seeded from both, and the writer options are
fixed. Pure numpy/pyarrow, so generation needs no Spark.

The text mimics crawl text rather than the lowercase-ASCII synthgen corpus:
a Zipf vocabulary of mixed-case words, log-normal document lengths with a
long tail, tab/newline separators, a stated share of rows carrying
whitespace that Java's ``\\s`` does not match (NBSP and friends: the
extraction stage's slow path), null and empty texts, and ``&`` tokens that
the html column carries as ``&amp;`` entities.
"""

from __future__ import annotations

import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = 1_600_000_000  # 2020-09-13T12:26:40Z
DAY = 86_400

# Separators Java's \s matches (the fast path) and ones it does not (each
# of these sends its row down the extraction stage's exact-split path).
JAVA_WS = [" ", " ", " ", " ", " ", " ", "\n", "\t"]
NON_JAVA_WS = ["\xa0", "\u2003", "\u3000", "\x1c", "\x85"]

# Function words the extractor scores (stopwords and language profiles),
# so stopword_ratio and lang_pred take many values; drawn at the head of
# the Zipf ranking like real function words.
FUNCTION_WORDS = (
    "the a and of to in is that it for this with as on was at by an be are "
    "el la de que y en un los se por le et les des une pour der die das und "
    "ist von den mit für ein 的 了 是 在 我 有 和 就 不 人"
).split()

LANGS = np.array(["en", "en", "en", "en", "es", "fr", "de", "zh"])

# Workload shapes. ``hot_urls`` urls carry ``hot_snapshots`` snapshots
# each, above the ``heavy_hitter_threshold`` the benchmark passes to
# pages_flagship, so the census engages the skew path. The shares (slow
# path, null, empty, duplicate captures), snapshot counts and spans are
# assumptions, not measured on a crawl: no crawl sample is in the
# repository to calibrate them against. ``tail_docs`` documents of
# ``max_tokens`` tokens (~100 KB) give every seed the long-length tail.
WORKLOADS = {
    "crawl_text": dict(
        n_urls=600, snapshots=(1, 8), span_days=(30, 400), tokens_mu=5.3,
        tokens_sigma=1.0, max_tokens=18_000, tail_docs=3, slow_share=0.05,
        null_share=0.01, empty_share=0.01, dup_share=0.0,
        hot_urls=0, hot_snapshots=0, heavy_hitter_threshold=1_000_000,
    ),
    "long_history": dict(
        n_urls=30, snapshots=(20, 80), span_days=(730, 1825), tokens_mu=3.0,
        tokens_sigma=0.4, max_tokens=60, tail_docs=0, slow_share=0.05,
        null_share=0.01, empty_share=0.01, dup_share=0.05,
        hot_urls=3, hot_snapshots=300, heavy_hitter_threshold=200,
    ),
}
WORKLOAD_IDS = {name: i for i, name in enumerate(WORKLOADS)}


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Function words first, then random words of 2-12 letters; a few
    carry '&' (``R&D``-style) so the html holds ``&amp;`` entities."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(2, 13, size=size)
    words = set(FUNCTION_WORDS)
    out = list(FUNCTION_WORDS)
    for n in lengths:
        w = "".join(rng.choice(letters, size=n))
        if rng.random() < 0.01:
            w = w[: n // 2] + "&" + w[n // 2:]
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def _cased(vocab: np.ndarray) -> np.ndarray:
    """(V, 3) table of lower / Capitalized / UPPER variants."""
    return np.stack(
        [vocab, np.array([w.capitalize() for w in vocab], dtype=object),
         np.array([w.upper() for w in vocab], dtype=object)], axis=1,
    )


def _spread(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """``n`` values evenly spaced over [lo, hi] in random order: the seed
    moves which url gets which value, never the workload's totals."""
    return rng.permutation(np.linspace(lo, hi, n))


def _texts(rng: np.random.Generator, n: int, p: dict) -> list:
    """``n`` documents, None for a null text. Lengths are the log-normal's
    n quantiles and the null, empty and slow-path rows exact shares, so
    every seed gives the same amount of text and of each edge case."""
    vocab = _vocabulary(rng, 6_000)
    cased = _cased(vocab)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    zipf = 1.0 / ranks ** 1.07
    zipf /= zipf.sum()
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    q = np.minimum(np.ceil(np.exp(p["tokens_mu"] + p["tokens_sigma"] * z)), p["max_tokens"])
    q[n - p["tail_docs"]:] = p["max_tokens"]  # z ascends: the longest become the tail
    lengths = rng.permutation(q.astype(np.int64))
    order = rng.permutation(n)
    # null, empty and slow-path rows are drawn from the front, so the tail
    # documents keep their text on every seed
    order = order[np.argsort(lengths[order] >= p["max_tokens"], kind="stable")]
    n_null, n_empty = round(p["null_share"] * n), round(p["empty_share"] * n)
    null, empty = order[:n_null], order[n_null:n_null + n_empty]
    slow = np.zeros(n, dtype=bool)
    slow[order[n_null + n_empty:n_null + n_empty + round(p["slow_share"] * n)]] = True
    total = int(lengths.sum())
    ids = rng.choice(len(vocab), size=total, p=zipf)
    case = rng.choice(3, size=total, p=[0.75, 0.2, 0.05])
    words = cased[ids, case]
    seps = np.array(JAVA_WS, dtype=object)[rng.integers(0, len(JAVA_WS), size=total)]
    offs = np.concatenate([[0], np.cumsum(lengths)])
    # one non-Java separator per ~20 gaps on the slow-path rows
    odd = np.repeat(slow, lengths) & (rng.random(total) < 0.05)
    seps[odd] = np.array(NON_JAVA_WS, dtype=object)[rng.integers(0, len(NON_JAVA_WS), size=int(odd.sum()))]
    for i in np.flatnonzero(slow & (lengths > 1)):  # at least one per slow-path row
        seps[offs[i] + rng.integers(0, lengths[i] - 1)] = NON_JAVA_WS[int(rng.integers(0, len(NON_JAVA_WS)))]
    pieces = np.empty(2 * total, dtype=object)
    pieces[0::2] = words
    pieces[1::2] = seps
    texts = ["".join(pieces[2 * offs[i]: 2 * offs[i + 1] - 1]) for i in range(n)]
    for i in null:
        texts[i] = None
    for i in empty:
        texts[i] = ""
    return texts


def _timestamps(rng: np.random.Generator, k: int, span_days: float, start: int) -> np.ndarray:
    """``k`` sorted capture times over ``span_days``: irregular gaps, some
    longer than the 30-day session gap."""
    gaps = rng.exponential(1.0, size=k)
    gaps[rng.random(k) < 0.1] *= 20.0
    t = np.cumsum(gaps)
    t = t / t[-1] * span_days * DAY
    return start + np.floor(t).astype(np.int64)


def _html(rng: np.random.Generator, texts: list) -> list:
    """Markup around each text: a script id and 160 navigation links, so
    html is the widest column, as on a crawl. The job never reads it; it
    sets the file size, and so the number of splits the scan makes."""
    pool = np.array([f'<li><a href="/p/{x:x}">page {x % 997}</a></li>'
                     for x in rng.integers(0, 2**36, size=1 << 16)], dtype=object)
    ids = rng.integers(0, 2**62, size=len(texts))
    links = rng.integers(0, len(pool), size=(len(texts), 160))
    return [None if t is None else
            (f'<html><head><script>var pid="{pid:x}";</script></head><body><ul>{"".join(pool[row])}</ul>'
             f'<p>{t.replace("&", "&amp;")}</p></body></html>').encode()
            for t, pid, row in zip(texts, ids, links)]


def generate(workload: str, seed: int) -> pa.Table:
    p = WORKLOADS[workload]
    rng = np.random.default_rng([seed, WORKLOAD_IDS[workload]])
    n_urls, hot = p["n_urls"], p["hot_urls"]
    counts = rng.permutation(np.concatenate([
        _spread(rng, *p["snapshots"], n_urls - hot).round(), np.full(hot, p["hot_snapshots"])
    ])).astype(np.int64)
    spans = _spread(rng, *p["span_days"], n_urls)
    starts = EPOCH + rng.integers(0, 180 * DAY, size=n_urls)
    url_idx = np.repeat(np.arange(n_urls), counts)
    ts = np.concatenate([_timestamps(rng, int(c), s, int(t0))
                         for c, s, t0 in zip(counts, spans, starts)])
    texts = _texts(rng, len(url_idx), p)
    if p["dup_share"]:
        # re-captures logged twice: identical rows with the same warc_ts
        dup = rng.choice(len(url_idx), size=round(p["dup_share"] * len(url_idx)), replace=False)
        url_idx = np.concatenate([url_idx, url_idx[dup]])
        ts = np.concatenate([ts, ts[dup]])
        texts = texts + [texts[i] for i in dup]
    domains = rng.integers(0, max(n_urls // 20, 1), size=n_urls)
    urls = np.array([f"https://d{domains[i]}.example.org/page/{seed}/{i}" for i in range(n_urls)],
                    dtype=object)[url_idx]
    langs = LANGS[rng.integers(0, len(LANGS), size=n_urls)][url_idx]
    order = np.lexsort((ts, url_idx))
    texts = [texts[i] for i in order]
    html = _html(rng, texts)
    return pa.table({
        "url": pa.array(urls[order], pa.string()),
        "warc_ts": pa.array(ts[order] * 1_000_000, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[order], pa.string()),
    })


def properties(table: pa.Table, workload: str) -> dict:
    """The input properties the workload is chosen for, as measured."""
    import pyarrow.compute as pc

    text = table.column("text")
    nonnull = pc.drop_null(text)
    pattern = "[" + "".join(NON_JAVA_WS) + "]"
    per_url = pc.value_counts(table.column("url")).field("counts")
    dup_rows = table.num_rows - table.group_by(["url", "warc_ts"]).aggregate([]).num_rows
    thr = WORKLOADS[workload]["heavy_hitter_threshold"]
    return {
        "rows": table.num_rows,
        "urls": len(per_url),
        "text_bytes": int(pc.sum(pc.binary_length(nonnull)).as_py() or 0),
        "max_text_bytes": int(pc.max(pc.binary_length(nonnull)).as_py() or 0),
        "null_text_share": round(text.null_count / table.num_rows, 4),
        "empty_text_share": round(pc.sum(pc.equal(nonnull, "")).as_py() / table.num_rows, 4),
        "slow_path_share": round(
            pc.sum(pc.match_substring_regex(nonnull, pattern)).as_py() / table.num_rows, 4),
        "duplicate_ts_rows": dup_rows,
        "max_snapshots_per_url": int(pc.max(per_url).as_py()),
        "heavy_hitter_threshold": thr,
        "hot_urls": int(pc.sum(pc.greater_equal(per_url, thr)).as_py()),
    }


def pages_path(cache_dir: str, workload: str, seed: int) -> str:
    """Write the table once per (workload, seed) and return its path."""
    path = os.path.join(cache_dir, f"{workload}-{seed}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(generate(workload, seed), tmp, row_group_size=256,
                       compression="snappy", write_statistics=True)
        os.replace(tmp, path)
    return path
