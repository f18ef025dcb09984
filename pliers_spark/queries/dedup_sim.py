"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: dedup_exact, minhash_signatures, minhash_lsh, lsh_recall,
    simhash, ngram_jaccard, prefix_filter_jaccard, host_pagerank,
    doc_authority, exact_substr_spans, exact_substr_cut, doc_fingerprint,
    embedding_topk, ann_ivf_topk, embedding_near_dups, semantic_dedup,
    chunk_dedup
"""
from __future__ import annotations

from ._registry import D, F, S, T, _docs, load_table, md5_int_sql, query
from .relational import _tok_sql



_URL_SYNTH_SQL = """(CASE WHEN doc_id % 2 = 1 THEN 'https://' ELSE 'http://' END)
             || 'www.site' || CAST(doc_id % 50 AS VARCHAR)
             || '.example' || CAST(doc_id % 7 AS VARCHAR)
             || '.com/sec' || CAST(doc_id % 5 AS VARCHAR)
             || '/page' || CAST(doc_id % 11 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '?q=spark' ELSE '' END)"""


_URL_HOST_SQL = "regexp_extract(url, '^[a-z]+://([^/]+)', 1)"

_URL_PATH_SQL = "regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1)"



@query(
    "dedup_exact",
    f"""SELECT {md5_int_sql('text')} AS text_hash,
              min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_dups
       FROM documents GROUP BY 1""",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via hash-groupBy (keep-first semantics of the reference
    batch dedup, pliers/transformers/base.py:241-247)."""
    out = D.exact_dedup(_docs(spark, sf_dir), "text", "doc_id")
    return out.select("text_hash", F.col("keep_id").cast("long").alias("keep_id"),
                      F.col("n_dups").cast("long").alias("n_dups"))



_MH_K = 8

_MH_BANDS = 4

_MH_SHINGLE = 2



def _minhash_cte() -> str:
    """Oracle mirror of ``dedup.minhash_signatures``: explode shingles,
    ONE md5 per shingle masked to 30 bits, K Carter–Wegman permutations
    ``(a_k·h + b_k) mod p`` (identical parameter list, products < 2^60
    so BIGINT-exact in both engines), min per family."""
    from pliers_spark.functions.hashing import (
        MINHASH_MASK30, minhash_params, minhash_permute_sql)

    join = " || ' ' || ".join(f"toks[i+{j}]" for j in range(_MH_SHINGLE))
    params = minhash_params(_MH_K)
    sigs = ", ".join(
        f"min({minhash_permute_sql('h30', a, b)}) AS mh_{k}"
        for k, (a, b) in enumerate(params)
    )
    return f"""WITH base AS (
         SELECT doc_id, {_tok_sql()} AS toks FROM documents),
       sh_t AS (
         SELECT doc_id,
                list_transform(range(1, greatest(len(toks) - {_MH_SHINGLE - 2}, 1)),
                               i -> {join}) AS sh
         FROM base),
       sh_e AS (
         SELECT doc_id,
                unnest(CASE WHEN len(sh) = 0 THEN [NULL] ELSE sh END) AS s
         FROM sh_t),
       hashed AS (
         SELECT doc_id,
                CAST({md5_int_sql('s')} AS BIGINT) & {MINHASH_MASK30} AS h30
         FROM sh_e),
       sigs AS (SELECT doc_id, {sigs} FROM hashed GROUP BY doc_id)"""



def _band_key_sql(b: int, rows: int) -> str:
    concat = " || '|' || ".join(f"CAST(mh_{b * rows + j} AS VARCHAR)" for j in range(rows))
    return md5_int_sql(f"({concat})", seed=10_000 + b)



@query(
    "minhash_signatures",
    _minhash_cte() + " SELECT doc_id, " + ", ".join(f"mh_{k}" for k in range(_MH_K)) + " FROM sigs",
)
def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures over word-2-gram shingles — one md5 per
    shingle + Carter–Wegman families in whole-stage codegen, partial-agg
    mins (the scale path for near-dup at 10^12 docs)."""
    return D.minhash_signatures(_docs(spark, sf_dir), "text", "doc_id", _MH_K, _MH_SHINGLE)



_ROWS_PER_BAND = _MH_K // _MH_BANDS


_MINHASH_PAIRS_SQL = (
    _minhash_cte()
    + f""",
       banded AS (
         SELECT doc_id, unnest([{', '.join(_band_key_sql(b, _ROWS_PER_BAND) for b in range(_MH_BANDS))}]) AS band_key
         FROM sigs)
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM banded a JOIN banded b USING (band_key)
       WHERE a.doc_id < b.doc_id"""
)



@query("minhash_lsh", _MINHASH_PAIRS_SQL)
def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs: band the signatures, bucket-join —
    near-dup candidate generation without all-pairs comparison."""
    return D.minhash_lsh_candidates(
        _docs(spark, sf_dir), "text", "doc_id", _MH_K, _MH_BANDS, _MH_SHINGLE
    )



def _lsh_recall_sql() -> str:
    banded = ", ".join(_band_key_sql(b, _ROWS_PER_BAND) for b in range(_MH_BANDS))
    return (
        _minhash_cte()
        + f""",
       banded AS (
         SELECT doc_id, unnest([{banded}]) AS band_key FROM sigs),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b USING (band_key)
         WHERE a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, s FROM sh_e WHERE s IS NOT NULL),
       sizes AS (SELECT doc_id, count(*) AS set_size FROM shd GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         FROM shd a JOIN shd b USING (s)
         WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       truth AS (
         SELECT id_a, id_b FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE round(inter::DOUBLE / (sa.set_size + sb.set_size - inter), 6) >= 0.5),
       agg AS (
         SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
                (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
                (SELECT count(*) FROM truth t JOIN cand c
                  ON t.id_a = c.id_a AND t.id_b = c.id_b)::BIGINT AS n_hits)
       SELECT n_truth, n_candidates, n_hits,
              CASE WHEN n_truth = 0 THEN NULL
                   ELSE round(n_hits::DOUBLE / n_truth, 6) END AS recall
       FROM agg"""
    )



@query("lsh_recall", _lsh_recall_sql())
def q_lsh_recall(spark, sf_dir):
    """Dedup-quality audit: MinHash-LSH candidate recall against the
    EXACT shingle-Jaccard truth at t=0.5 (same shingle convention and
    banding as `minhash_lsh`). The number a curation pipeline must
    publish before trusting probabilistic dedup — banding has a known
    miss curve (1-(1-t^r)^b) and this measures the realized one. Both
    pipelines are deterministic, so even this meta-metric carries a full
    oracle. At production scale the truth side runs on a hash-sampled
    slice; the LSH side is the production operator unchanged."""
    docs = _docs(spark, sf_dir)
    truth = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=_MH_SHINGLE, threshold=0.5
    ).select("id_a", "id_b")
    cand = D.minhash_lsh_candidates(
        docs, "text", "doc_id", _MH_K, _MH_BANDS, _MH_SHINGLE
    ).select("id_a", "id_b")
    j = truth.withColumn("_t", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), ["id_a", "id_b"], "full"
    )
    agg = j.agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(
            F.sum(F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1)),
            F.lit(0),
        ).cast("long").alias("n_hits"),
    )
    return agg.withColumn(
        "recall",
        F.when(
            F.col("n_truth") > 0, F.round(F.col("n_hits") / F.col("n_truth"), 6)
        ),
    )



_SIMHASH_BITS = 16



def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(_SIMHASH_BITS)
    )
    recomb = " + ".join(f"(CASE WHEN v_{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(_SIMHASH_BITS))
    return f"""WITH toks AS (
         SELECT doc_id, unnest({_tok_sql()}) AS token FROM documents),
       hashed AS (
         SELECT doc_id, {md5_int_sql('token')} AS h FROM toks),
       votes AS (
         SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
       SELECT doc_id, ({recomb})::BIGINT AS simhash FROM votes"""



@query("simhash", _simhash_sql())
def q_simhash(spark, sf_dir):
    """SimHash fingerprints (per-bit majority vote of token hashes) —
    Hamming-distance near-dup at constant per-doc cost."""
    return D.simhash_fingerprints(_docs(spark, sf_dir), "text", "doc_id", bits=_SIMHASH_BITS)



@query(
    "ngram_jaccard",
    """WITH toks AS (
         SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS sh FROM documents),
       sizes AS (SELECT doc_id, count(*) AS set_size FROM toks GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         FROM toks a JOIN toks b USING (sh)
         WHERE a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
       SELECT id_a, id_b,
              round(inter::DOUBLE / (sa.set_size + sb.set_size - inter), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE inter::DOUBLE / (sa.set_size + sb.set_size - inter) >= 0.6""",
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact token-set Jaccard for pairs sharing ≥1 token (inverted-index
    join — never |docs|² on sparse overlap)."""
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), "text", "doc_id", n=1, threshold=0.6)



@query(
    "prefix_filter_jaccard",
    """WITH toks AS (
         SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
       sizes AS (SELECT doc_id, count(*) AS set_size FROM toks GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
         FROM toks a JOIN toks b USING (tok)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b,
              inter_size::BIGINT AS inter_size,
              (sa.set_size + sb.set_size - inter_size)::BIGINT AS union_size,
              round(inter_size::DOUBLE / (sa.set_size + sb.set_size - inter_size), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE 5 * inter_size >= 3 * (sa.set_size + sb.set_size - inter_size)""",
)
def q_prefix_filter_jaccard(spark, sf_dir):
    """EXACT Jaccard near-dup join via positional prefix filtering
    (Chaudhuri ICDE'06 / PPJoin) at t = 3/5. The engine explodes only
    each doc's rarest ``L - ceil(t·L) + 1`` tokens (ascending-DF global
    order) so the inverted index never contains Zipf-head tokens; the
    oracle is the brute-force all-pairs join — set equality IS the
    prefix-filter correctness theorem."""
    return D.prefix_filter_jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", threshold_num=3, threshold_den=5
    )



def _pagerank_sql(iterations: int = 10, n_hosts: int = 50, links: int = 3) -> str:
    """K-unrolled chained-CTE PageRank oracle: the same fixed-point
    integer recurrence as operators.graph.pagerank, one CTE per round
    (aggregation is not allowed in a recursive term, and unrolling makes
    the oracle a pure function DuckDB optimizes as a straight DAG)."""
    def dst(j: int) -> str:
        h = md5_int_sql(f"concat(doc_id::VARCHAR, ':{j}')")
        return f"({h} % {n_hosts})::BIGINT"
    link_union = " UNION ALL ".join(
        f"SELECT (doc_id % {n_hosts})::BIGINT AS src, {dst(j)} AS dst FROM documents"
        for j in range(links)
    )
    base = "(3000000000 // (20 * (SELECT count(*) FROM nodes)))"
    ctes = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({link_union}) WHERE src != dst)",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)",
        "r0 AS (SELECT node, 1000000000 // (SELECT count(*) FROM nodes) AS rank_fp FROM nodes)",
    ]
    for k in range(iterations):
        ctes.append(
            f"""r{k + 1} AS (
              SELECT n.node, {base} + (17 * coalesce(s.i, 0)) // 20 AS rank_fp
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank_fp // o.outdeg) AS i
                FROM edges e JOIN r{k} r ON r.node = e.src
                JOIN outdeg o ON o.src = e.src
                GROUP BY 1) s USING (node))"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT node, rank_fp::BIGINT AS rank_fp,
               round(rank_fp / 1000000000, 6) AS rank
        FROM r{iterations}"""
    )



@query("host_pagerank", _pagerank_sql())
def q_host_pagerank(spark, sf_dir):
    """Host-level PageRank (Page et al. 1999, simplified variant) over
    the deterministic doc→host link graph, 10 rounds of the exact
    fixed-point integer recurrence — bit-identical to the oracle's
    unrolled CTE chain, no float accumulation anywhere."""
    from ..operators.graph import host_link_edges, pagerank

    return pagerank(host_link_edges(_docs(spark, sf_dir)), iterations=10)



@query(
    "doc_authority",
    f"""WITH pr AS ({_pagerank_sql()})
       SELECT d.doc_id, (d.doc_id % 50)::BIGINT AS host, pr.rank_fp
       FROM documents d JOIN pr ON pr.node = d.doc_id % 50""",
)
def q_doc_authority(spark, sf_dir):
    """Attach the host-PageRank authority prior to every document —
    the curation signal a sampling/weighting stage consumes: rank table
    is per-HOST (tiny), so the attachment is a broadcast join; the
    corpus scan never shuffles."""
    from ..operators.graph import host_link_edges, pagerank

    docs = _docs(spark, sf_dir)
    pr = pagerank(host_link_edges(docs), iterations=10)
    return docs.select(
        "doc_id", F.pmod(F.col("doc_id"), F.lit(50)).alias("host")
    ).join(F.broadcast(pr), F.col("host") == F.col("node")).select(
        "doc_id", "host", "rank_fp"
    )



@query(
    "exact_substr_spans",
    f"""WITH toks AS (
         SELECT doc_id, {_tok_sql()} AS t FROM documents),
       pos AS (
         SELECT doc_id, t, unnest(range(len(t)))::BIGINT AS pos FROM toks),
       wins AS (
         SELECT doc_id, pos,
                {md5_int_sql("array_to_string(t[pos+1:pos+8], ' ')")} AS h
         FROM pos WHERE pos + 8 <= len(t)),
       census AS (SELECT h, count(*) AS cnt FROM wins GROUP BY 1),
       flagged AS (
         SELECT w.doc_id, w.pos FROM wins w JOIN census c USING (h)
         WHERE c.cnt >= 2),
       marked AS (
         SELECT doc_id, pos,
                CASE WHEN pos > coalesce(max(pos+8) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS brk
         FROM flagged),
       isl AS (
         SELECT doc_id, pos,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM marked)
       SELECT doc_id, min(pos)::BIGINT AS span_start,
              (max(pos)+7)::BIGINT AS span_end,
              (max(pos)+8-min(pos))::BIGINT AS span_len
       FROM isl GROUP BY doc_id, island""",
)
def q_exact_substr_spans(spark, sf_dir):
    """Maximal duplicated token spans — the ExactSubstr curation role
    (Lee et al. 2022): 8-token windows occurring ≥2 times anywhere in
    the corpus, merged per doc into maximal intervals. Census is on the
    60-bit gram hash in BOTH engines, so hash collisions (if any) are
    identical and the match stays exact."""
    return D.exact_substr_spans(_docs(spark, sf_dir), "text", "doc_id", 8, 2)



@query(
    "exact_substr_cut",
    f"""WITH toks0 AS (
         SELECT doc_id, {_tok_sql()} AS t FROM documents),
       posn AS (
         SELECT doc_id, t, unnest(range(len(t)))::BIGINT AS pos FROM toks0),
       wins AS (
         SELECT doc_id, pos,
                {md5_int_sql("array_to_string(t[pos+1:pos+8], ' ')")} AS h
         FROM posn WHERE pos + 8 <= len(t)),
       census AS (SELECT h, count(*) AS cnt FROM wins GROUP BY 1),
       flagged AS (
         SELECT w.doc_id, w.pos FROM wins w JOIN census c USING (h)
         WHERE c.cnt >= 2),
       covered AS (
         SELECT DISTINCT doc_id, pos + u AS pos
         FROM flagged, (SELECT unnest(range(8)) AS u)),
       toks AS (SELECT doc_id, pos, t[pos+1] AS tok FROM posn),
       kept AS (
         SELECT k.doc_id, k.pos, k.tok FROM toks k
         LEFT JOIN covered c ON c.doc_id = k.doc_id AND c.pos = k.pos
         WHERE c.pos IS NULL),
       rebuilt AS (
         SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                count(*) AS kept_n
         FROM kept GROUP BY doc_id),
       totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1)
       SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
              t.n_tokens::BIGINT AS n_tokens,
              (t.n_tokens - coalesce(r.kept_n, 0))::BIGINT AS n_removed
       FROM totals t LEFT JOIN rebuilt r USING (doc_id)""",
)
def q_exact_substr_cut(spark, sf_dir):
    """ExactSubstr rewrite (Lee et al. 2022): documents with every
    token covered by a duplicated 8-token window removed — the actual
    deduplicated training corpus, where `exact_substr_spans` is the
    audit. Fully-duplicated docs return as empty strings (the explicit
    drop signal for the next filter stage), never silently vanish."""
    return D.exact_substr_cut(_docs(spark, sf_dir), "text", "doc_id", 8, 2)



@query(
    "doc_fingerprint",
    f"""WITH base AS (SELECT doc_id, {_tok_sql()} AS toks FROM documents),
       sh_t AS (
         SELECT doc_id,
                list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
         FROM base)
       SELECT doc_id, list_min(list_transform(sh, s -> {md5_int_sql('s', seed=777)}))::BIGINT AS fingerprint
       FROM sh_t""",
)
def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (min shingle hash — winnowing-style
    content signature)."""
    from pliers_spark.functions.hashing import rolling_fingerprint

    return _docs(spark, sf_dir).select(
        "doc_id", rolling_fingerprint(T.tokenize(F.col("text")), n=3).alias("fingerprint")
    )



# --- embeddings: similarity search -----------------------------------------

_DOT_SQL = "list_sum(list_transform(range(1, len(a.embedding)+1), i -> a.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))"

_NORM_A = "sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))"

_NORM_Q = "sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))"



@query(
    "embedding_topk",
    f"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
       scored AS (
         SELECT q.vec_id AS q_id, a.vec_id AS c_id,
                round({_DOT_SQL} / ({_NORM_A} * {_NORM_Q}), 6) AS cosine
         FROM embeddings a, q WHERE a.vec_id <> q.vec_id),
       ranked AS (
         SELECT q_id, c_id, cosine,
                row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         FROM scored)
       SELECT q_id, c_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= 5""",
)
def q_embedding_topk(spark, sf_dir):
    """Brute-force exact cosine top-k (correctness baseline for ANN):
    broadcast query set, JVM zip_with dot products, per-query rank window."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 8)
    out = S.cosine_topk(emb, qs, "vec_id", "embedding", "vec_id", "embedding", k=5)
    return out.select("q_id", "c_id", "cosine", F.col("rank").cast("long").alias("rank"))



@query(
    "ann_ivf_topk",
    f"""WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 8),
       scored AS (
         SELECT q.vec_id AS q_id, a.vec_id AS c_id,
                round({_DOT_SQL} / ({_NORM_A} * {_NORM_Q}), 6) AS cosine
         FROM embeddings a JOIN q ON a.label = q.label AND a.vec_id <> q.vec_id),
       ranked AS (
         SELECT q_id, c_id, cosine,
                row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         FROM scored)
       SELECT q_id, c_id, cosine, rank::BIGINT AS rank FROM ranked WHERE rank <= 5""",
)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: probe only the query's coarse partition (label as
    the cluster id) — the bucket-gated scale path; candidates shrink by
    the bucket fan-out."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 8)
    out = S.ivf_topk(emb, qs, "vec_id", "embedding", "vec_id", "embedding", "label", k=5)
    return out.select("q_id", "c_id", "cosine", F.col("rank").cast("long").alias("rank"))



@query(
    "embedding_near_dups",
    f"""WITH pairs AS (
         SELECT a.vec_id AS id_a, q.vec_id AS id_b,
                round({_DOT_SQL} / ({_NORM_A} * {_NORM_Q}), 6) AS cosine
         FROM embeddings a JOIN embeddings q ON a.label = q.label AND a.vec_id < q.vec_id)
       SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.9""",
)
def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, bucket-gated by the coarse
    cluster id (label) — never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(emb, "vec_id", "embedding", threshold=0.9, bucket_col="label")



def _semantic_dedup_sql() -> str:
    from pliers_spark.operators.dedup import semantic_dedup_sql

    return semantic_dedup_sql(tau_num=2, tau_den=5)



@query("semantic_dedup", _semantic_dedup_sql())
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    column (the engine's IVF coarse quantizer), then inside each
    cluster drop the centroid-farther member of every pair whose
    cosine >= tau. The cosine gate and loser rule are pure int64
    arithmetic (milli-unit coordinates, cross-multiplied squares —
    no float, no sqrt), evaluated as ONE exact numpy Gram matmul per
    cluster (applyInPandas), so the verdict column is bit-stable
    across engines and the hot path is vectorized, never an
    interpreted per-pair fold. tau here is 2/5: the synthetic
    embeddings are near-orthogonal random vectors with no true
    semantic duplicates (max intra-cluster cosine ~0.49), so the
    production default 0.95 would never fire — the lowered gate
    makes the drop path (20 rows at sf0.01) part of the checked
    surface rather than dead code."""
    from pliers_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "vec_id", "embedding", k=8, tau_num=2, tau_den=5)



# --------------------------------------------------------------------------
# C4/Gopher repeated-span removal (operators/lm.py)


def _chunk_dedup_sql() -> str:
    from pliers_spark.operators.lm import chunk_dedup_sql

    return chunk_dedup_sql()



@query("chunk_dedup", _chunk_dedup_sql())
def q_chunk_dedup(spark, sf_dir):
    """C4/Gopher-style repeated-span removal: census every 8-token span,
    drop spans occurring in >2 distinct docs (boilerplate), reassemble
    surviving spans in order. Census → small dropped set → broadcast
    LEFT ANTI join: the corpus never shuffles for the filter, only for
    the ordered per-doc reassembly (operators/lm.py)."""
    from pliers_spark.operators.lm import chunk_dedup

    return chunk_dedup(_docs(spark, sf_dir))



# --------------------------------------------------------------------------
# batch 4: stopword removal, stemming, POS tagging, embeddings, metric
# extraction, diagnostics

_STOPWORD_SQL_LIST = ", ".join(f"'{w}'" for w in T.ENGLISH_STOPWORDS)
