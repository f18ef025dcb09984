"""Batch 21: reciprocal-rank fusion and the containment near-dup join.

Semantics the sf-oracle can't isolate: containment-vs-Jaccard on an
inclusion pair, the max_df stop-shingle guard, RRF's both-lists boost,
and the exact 1/(60+r) integer fusion arithmetic.
"""

from pyspark.sql import functions as F


def test_containment_catches_inclusion_jaccard_misses(spark):
    # doc 1 = a 6-token snippet; doc 2 = the same snippet inside a much
    # longer page. Containment(small in big) = 1.0, Jaccard ≈ |A|/|B| small.
    snippet = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, snippet), (2, filler + " " + snippet + " " + filler)],
        "doc_id long, text string",
    )
    from pliers_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    cont = containment_pairs(df, "text", "doc_id", n=3, threshold_num=4, threshold_den=5).collect()
    assert len(cont) == 1
    row = cont[0]
    assert (row.id_a, row.id_b) == (1, 2)
    assert row.containment == 1.0  # every 3-shingle of doc 1 appears in doc 2

    jac = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5).collect()
    assert jac == []  # Jaccard never reaches 0.5 on an inclusion pair


def test_containment_max_df_drops_boilerplate_shingles(spark):
    # one boilerplate sentence shared by ALL docs + unique bodies:
    # with max_df the boilerplate shingles leave the index, so no pair
    # survives; without it every pair is a (false) containment hit.
    boiler = "all rights reserved contact us today"
    rows = [(i, boiler + " " + " ".join(f"u{i}_{j}" for j in range(6))) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pliers_spark.operators.dedup import containment_pairs

    loose = containment_pairs(df, "text", "doc_id", n=3, threshold_num=1, threshold_den=3)
    assert loose.count() > 0
    capped = containment_pairs(
        df, "text", "doc_id", n=3, threshold_num=1, threshold_den=3, max_df=4
    )
    assert capped.count() == 0


def test_containment_integer_gate_matches_float_threshold(spark):
    # 4/5 gate: inter=4, min=5 → exactly at threshold (kept);
    # inter=3, min=4 → 0.75 < 0.8 (dropped). Build via unigram sets.
    a = "t1 t2 t3 t4 t5"          # 5 unigram... use n=1 sets
    b = "t1 t2 t3 t4 x1 x2 x3"    # inter=4, min=5 → 0.8 kept
    c = "t1 t2 t3 y1"             # vs a: inter=3, min=4 → 0.75 dropped
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    from pliers_spark.operators.dedup import containment_pairs

    out = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            df, "text", "doc_id", n=1, threshold_num=4, threshold_den=5
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] == 0.8
    assert (1, 3) not in out


def test_rrf_both_lists_beats_single_list(spark, tmp_path):
    # A doc ranked mid-list in BOTH rankings outscores one ranked #1 in
    # only one list: 2/(60+r) vs 1/61 crosses at r ≈ 62 — use r small.
    from pliers_spark.operators.ir import rrf_fuse

    docs = spark.createDataFrame(
        [
            (0, "query terms here nothing else"),
            (1, "query terms here and more stuff"),  # lexical hit
            (2, "unrelated body text entirely"),      # dense-only hit
        ],
        "doc_id long, text string",
    )
    # embeddings: doc 0 (the query) closest to 2, then 1
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.6, 0.8]),
            (2, [0.99, 0.14]),
        ],
        "vec_id long, embedding array<double>",
    )
    seeds = docs.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("q_id"),
        F.explode(F.slice(F.split(F.trim("text"), " "), 1, 3)).alias("term"),
    )
    out = rrf_fuse(docs, seeds, emb, k1=3, k=3, rrf_k=60)
    rows = {r.doc_id: r for r in out.collect()}
    # doc 1 appears in both rankings (lexical: shares query terms;
    # dense: top-3 of 3) → its rrf_fp must exceed any single-list doc
    both = rows[1]
    assert both.bm25_rank is not None and both.cos_rank is not None
    singles = [r for r in rows.values() if r.bm25_rank is None or r.cos_rank is None]
    for s in singles:
        assert both.rrf_fp > s.rrf_fp
    # exact integer formula
    exp = round(1e6 / (60 + both.bm25_rank)) + round(1e6 / (60 + both.cos_rank))
    assert both.rrf_fp == exp
