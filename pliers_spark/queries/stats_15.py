"""Registry module (split from the former queries.py monolith; same
@query/ORACLES contract as every sibling).

Queries: knn_loo_accuracy, bartlett_test, dagostino_k2, cliffs_delta,
    theil_u, bhattacharyya_hellinger, dtw_weekday, price_elasticity,
    part_top_supplier, late_sole_supplier, idle_rich_customers,
    uplift_split, seasonal_esd, holt_winters, calendar_features,
    gain_ratio, hll_union_merge, harmonic_centrality, median_ci,
    meta_analysis_dl, xyz_classes, littles_law_audit, absorption_probs,
    stable_sample_audit, ledoit_wolf, bocpd_runlength, kendalls_w,
    lorenz_deciles
"""
from __future__ import annotations

from ._registry import F, R, T, Window, _docs, _events, load_table, md5_int, md5_int_sql, query
from pliers_spark.operators.census import census_collect
from .stats_11 import _closure_sql

# bit-length of a nonzero hex digit (leading-bit position within its nibble)
_HEX_BITLEN = {"1": 1, "2": 2, "3": 2, "4": 3, "5": 3, "6": 3, "7": 3,
               "8": 4, "9": 4, "a": 4, "b": 4, "c": 4, "d": 4, "e": 4, "f": 4}

_KNNLOO_K = 5

_KNNLOO_SAMPLE_MOD = 5  # deterministic 1-in-5 sample gate for the LOO pass


def _emb_micro_spark(df, id_cols=("vec_id",), vec_col="embedding"):
    """(id..., label) + exploded (dim, vu) micro-unit int64 coordinates —
    the kmeans_assign/semantic_dedup quantization (floor(x*1e6+0.5))."""
    return df.select(
        *id_cols, "label", F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select(
        *id_cols, "label", "dim",
        F.floor(F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("vu"),
    )



@query(
    "knn_loo_accuracy",
    f"""WITH ve AS (
         SELECT vec_id, label, i - 1 AS dim,
                CAST(floor(embedding[i]::DOUBLE * 1e6 + 0.5) AS BIGINT) AS vu
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
         WHERE vec_id % {_KNNLOO_SAMPLE_MOD} = 0),
       pd AS (
         SELECT a.vec_id AS i, a.label AS li, b.vec_id AS j, b.label AS lj,
                sum((a.vu - b.vu) * (a.vu - b.vu))::BIGINT AS d2
         FROM ve a JOIN ve b ON a.vec_id != b.vec_id AND a.dim = b.dim
         GROUP BY 1, 2, 3, 4),
       nn AS (
         SELECT i, li, lj,
                row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
         FROM pd),
       votes AS (
         SELECT i, li, lj, count(*)::BIGINT AS v
         FROM nn WHERE rn <= {_KNNLOO_K} GROUP BY 1, 2, 3),
       pred AS (
         SELECT i, li, lj AS pred,
                row_number() OVER (PARTITION BY i ORDER BY v DESC, lj) AS pr
         FROM votes)
       SELECT li AS label, count(*)::BIGINT AS n_vecs,
              sum((pred = li)::INT)::BIGINT AS n_correct,
              round(sum((pred = li)::INT)::DOUBLE / count(*), 6) AS accuracy
       FROM pred WHERE pr = 1
       GROUP BY li ORDER BY li""",
)
def q_knn_loo_accuracy(spark, sf_dir):
    """Leave-one-out 5-NN classification accuracy per label (Cover &
    Hart, IEEE IT 1967) on a deterministic 1-in-5 id-gated sample of
    the embedding table: each sampled vector is classified by majority
    vote of its 5 nearest sampled neighbors (exact micro-unit int64
    distances, ties → neighbor id, vote ties → smaller label) — the
    local-structure accuracy that catches label noise `rocchio_classify`'s
    global centroids smooth over; the eval twin of `mutual_knn`. The
    pairwise stage is explicitly SAMPLE-bounded (n/5 squared, the
    id-hash gate documents the scale contract: fixed sample size ⇒
    fixed quadratic cost regardless of corpus growth), matching the
    guarded driver-side patterns the reference uses for its sklearn
    adapter. All comparisons are exact integers end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % _KNNLOO_SAMPLE_MOD == 0
    )
    ve = _emb_micro_spark(emb)
    a, b = ve.alias("a"), ve.alias("b")
    pd_ = (
        a.join(b, (F.col("a.vec_id") != F.col("b.vec_id")) & (F.col("a.dim") == F.col("b.dim")))
        .groupBy(
            F.col("a.vec_id").alias("i"), F.col("a.label").alias("li"),
            F.col("b.vec_id").alias("j"), F.col("b.label").alias("lj"),
        )
        .agg(F.sum((F.col("a.vu") - F.col("b.vu")) * (F.col("a.vu") - F.col("b.vu"))).cast("long").alias("d2"))
    )
    wnn = Window.partitionBy("i").orderBy("d2", "j")
    nn = pd_.select("i", "li", "lj", F.row_number().over(wnn).alias("rn")).where(
        F.col("rn") <= _KNNLOO_K
    )
    votes = nn.groupBy("i", "li", "lj").agg(F.count(F.lit(1)).cast("long").alias("v"))
    wp = Window.partitionBy("i").orderBy(F.col("v").desc(), "lj")
    pred = votes.select("i", "li", F.col("lj").alias("pred"), F.row_number().over(wp).alias("pr")).where(
        F.col("pr") == 1
    )
    return (
        pred.groupBy(F.col("li").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum((F.col("pred") == F.col("li")).cast("int")).cast("long").alias("n_correct"),
            F.round(F.sum((F.col("pred") == F.col("li")).cast("int")).cast("double") / F.count(F.lit(1)), 6).alias("accuracy"),
        )
        .orderBy("label")
    )



@query(
    "bartlett_test",
    """WITH g AS (
         SELECT event_type, user_id, count(*)::BIGINT AS a
         FROM events GROUP BY 1, 2),
       mo AS (
         SELECT event_type, count(*)::BIGINT AS n, sum(a)::BIGINT AS s1,
                sum(a * a)::BIGINT AS s2
         FROM g GROUP BY event_type),
       v AS (
         SELECT event_type, n,
                (s2 - s1::DOUBLE * s1 / n) / (n - 1) AS s2i
         FROM mo WHERE n >= 2),
       pool AS (
         SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt,
                sum((n - 1) * s2i) AS ssw,
                sum((n - 1) * ln(s2i)) AS slog,
                sum(1.0 / (n - 1)) AS sinv
         FROM v)
       SELECT k, nt AS n_total,
              round(((nt - k) * ln(ssw / (nt - k)) - slog)
                    / (1.0 + (sinv - 1.0 / (nt - k)) / (3.0 * (k - 1))), 6) AS bartlett_chi2,
              (k - 1)::BIGINT AS df
       FROM pool""",
)
def q_bartlett_test(spark, sf_dir):
    """Bartlett's test for homogeneity of variances (Bartlett, Proc.
    Roy. Soc. A 1937) of per-user activity across event types — the
    parametric, normality-assuming counterpart of `levene_bf`
    (Brown-Forsythe), shipped together because their DISAGREEMENT is
    the classic heavy-tails diagnostic. Group variances come from
    exact BIGINT moment sums (one user×type census); the statistic
    composes k per-group logs with the pooled log and the 1/(3(k−1))
    correction — all on the k-row grain, so nothing after the census
    scales with data. The few-term float sums ride groups ordered
    deterministically small (k=5 event types)."""
    ev = _events(spark, sf_dir)
    g = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).cast("long").alias("a"))
    mo = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("s1"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("s2"),
    )
    v = mo.where(F.col("n") >= 2).select(
        "event_type", "n",
        ((F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias("s2i"),
    )
    pool = v.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum((F.col("n") - 1) * F.col("s2i")).alias("ssw"),
        F.sum((F.col("n") - 1) * F.log("s2i")).alias("slog"),
        F.sum(F.lit(1.0) / (F.col("n") - 1)).alias("sinv"),
    )
    return pool.select(
        "k", F.col("nt").alias("n_total"),
        F.round(
            ((F.col("nt") - F.col("k")) * F.log(F.col("ssw") / (F.col("nt") - F.col("k"))) - F.col("slog"))
            / (F.lit(1.0) + (F.col("sinv") - F.lit(1.0) / (F.col("nt") - F.col("k"))) / (F.lit(3.0) * (F.col("k") - 1))),
            6,
        ).alias("bartlett_chi2"),
        (F.col("k") - 1).cast("long").alias("df"),
    )



@query(
    "dagostino_k2",
    """WITH daily AS (
         SELECT datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE)::BIGINT AS dd,
                count(*)::BIGINT AS x
         FROM events GROUP BY dd),
       mo AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s1, sum(x * x)::BIGINT AS s2,
                sum(x * x * x)::BIGINT AS s3, sum(x * x * x * x)::BIGINT AS s4
         FROM daily),
       cm AS (
         SELECT n,
                (s2 - s1::DOUBLE * s1 / n) / n AS m2,
                (s3 - 3.0 * s2 * s1 / n + 2.0 * s1::DOUBLE * s1 * s1 / (n::DOUBLE * n)) / n AS m3,
                (s4 - 4.0 * s3 * s1 / n + 6.0 * s2 * s1::DOUBLE * s1 / (n::DOUBLE * n)
                 - 3.0 * s1::DOUBLE * s1 * s1 * s1 / (n::DOUBLE * n * n)) / n AS m4
         FROM mo),
       bb AS (
         SELECT n, m3 / pow(m2, 1.5) AS b1, m4 / (m2 * m2) AS b2 FROM cm),
       z1c AS (
         SELECT n, b1, b2,
                b1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS y,
                3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
                  / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) AS beta2
         FROM bb),
       z1 AS (
         SELECT n, b1, b2,
                ln(y / sqrt(2.0 / (ww - 1.0))
                   + sqrt(y * y / (2.0 / (ww - 1.0)) + 1.0))
                  / sqrt(ln(sqrt(ww))) AS z_skew
         FROM (SELECT n, b1, b2, y,
                      -1.0 + sqrt(2.0 * (beta2 - 1.0)) AS wsq
               FROM z1c), LATERAL (SELECT wsq + 1.0 AS ww) w),
       z2 AS (
         SELECT n, b1, b2, z_skew,
                ((1.0 - 2.0 / (9.0 * aa))
                 - pow((1.0 - 2.0 / aa)
                       / (1.0 + (b2 - eb2) / sqrt(vb2) * sqrt(2.0 / (aa - 4.0))), 1.0 / 3.0))
                  / sqrt(2.0 / (9.0 * aa)) AS z_kurt
         FROM (
           SELECT n, b1, b2, z_skew,
                  3.0 * (n - 1.0) / (n + 1.0) AS eb2,
                  24.0 * n * (n - 2.0) * (n - 3.0)
                    / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0)) AS vb2,
                  6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))
                    * sqrt(6.0 * (n + 3.0) * (n + 5.0) / (n * (n - 2.0) * (n - 3.0))) AS g
           FROM z1), LATERAL (
           SELECT 6.0 + 8.0 / g * (2.0 / g + sqrt(1.0 + 4.0 / (g * g))) AS aa) a)
       SELECT n, round(b1, 6) AS skew_b1, round(b2, 6) AS kurt_b2,
              round(z_skew, 6) AS z_skew, round(z_kurt, 6) AS z_kurt,
              round(z_skew * z_skew + z_kurt * z_kurt, 6) AS k2
       FROM z2""",
)
def q_dagostino_k2(spark, sf_dir):
    """D'Agostino's K² omnibus normality test on daily event counts
    (D'Agostino, Biometrika 1970; D'Agostino-Belanger-D'Agostino Jr.,
    Am. Stat. 1990): the skewness z (Johnson SU transform) and
    kurtosis z (Anscombe-Glynn cube-root Wilson-Hilferty transform)
    combine into K² = z₁²+z₂² ~ χ²(2) — the moment-based omnibus that
    triangulates with `anderson_darling` (EDF) and `jarque_bera`
    (untransformed moments; JB's z's converge slowly, which is what
    the 1990 paper's finite-n transforms fix). Sample moments are
    exact BIGINT power sums from the day census; both transform
    chains are fixed elementary-op sequences written identically in
    both engines, evaluated on ONE broadcast row."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    daily = ev.groupBy(dd.alias("dd")).agg(F.count(F.lit(1)).cast("long").alias("x"))
    mo = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("long").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).cast("long").alias("s4"),
    )
    n = F.col("n").cast("double")
    s1, s2, s3, s4 = (F.col(c) for c in ["s1", "s2", "s3", "s4"])
    m2 = (s2 - s1.cast("double") * s1 / n) / n
    m3 = (s3 - F.lit(3.0) * s2 * s1 / n + F.lit(2.0) * s1.cast("double") * s1 * s1 / (n * n)) / n
    m4 = (
        s4 - F.lit(4.0) * s3 * s1 / n + F.lit(6.0) * s2 * s1.cast("double") * s1 / (n * n)
        - F.lit(3.0) * s1.cast("double") * s1 * s1 * s1 / (n * n * n)
    ) / n
    b1 = m3 / F.pow(m2, F.lit(1.5))
    b2 = m4 / (m2 * m2)
    y = b1 * F.sqrt((n + 1.0) * (n + 3.0) / (F.lit(6.0) * (n - 2.0)))
    beta2 = (
        F.lit(3.0) * (n * n + F.lit(27.0) * n - 70.0) * (n + 1.0) * (n + 3.0)
        / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    )
    wsq = F.lit(-1.0) + F.sqrt(F.lit(2.0) * (beta2 - 1.0))
    ww = wsq + F.lit(1.0)
    delta_inv = F.sqrt(F.log(F.sqrt(ww)))
    alpha2 = F.lit(2.0) / (ww - 1.0)
    z_skew = F.log(y / F.sqrt(alpha2) + F.sqrt(y * y / alpha2 + 1.0)) / delta_inv
    eb2 = F.lit(3.0) * (n - 1.0) / (n + 1.0)
    vb2 = F.lit(24.0) * n * (n - 2.0) * (n - 3.0) / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
    g = (
        F.lit(6.0) * (n * n - F.lit(5.0) * n + 2.0) / ((n + 7.0) * (n + 9.0))
        * F.sqrt(F.lit(6.0) * (n + 3.0) * (n + 5.0) / (n * (n - 2.0) * (n - 3.0)))
    )
    aa = F.lit(6.0) + F.lit(8.0) / g * (F.lit(2.0) / g + F.sqrt(F.lit(1.0) + F.lit(4.0) / (g * g)))
    z_kurt = (
        (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * aa))
        - F.pow(
            (F.lit(1.0) - F.lit(2.0) / aa)
            / (F.lit(1.0) + (b2 - eb2) / F.sqrt(vb2) * F.sqrt(F.lit(2.0) / (aa - 4.0))),
            F.lit(1.0) / F.lit(3.0),
        )
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * aa))
    return mo.select(
        F.col("n"),
        F.round(b1, 6).alias("skew_b1"),
        F.round(b2, 6).alias("kurt_b2"),
        F.round(z_skew, 6).alias("z_skew"),
        F.round(z_kurt, 6).alias("z_kurt"),
        F.round(z_skew * z_skew + z_kurt * z_kurt, 6).alias("k2"),
    )



@query(
    "cliffs_delta",
    """WITH u AS (
         SELECT user_id, (user_id % 2)::INT AS grp, count(*)::BIGINT AS a
         FROM events GROUP BY 1, 2),
       r AS (
         SELECT grp, a,
                2 * rank() OVER (ORDER BY a) + count(*) OVER (PARTITION BY a) - 1 AS ar2
         FROM u),
       s AS (
         SELECT sum(CASE WHEN grp = 0 THEN ar2 ELSE 0 END)::BIGINT AS r0_2,
                sum((grp = 0)::INT)::BIGINT AS n0,
                sum((grp = 1)::INT)::BIGINT AS n1
         FROM r)
       SELECT n0, n1,
              round((r0_2 / 2.0 - n0 * (n0 + 1.0) / 2.0) / (n0::DOUBLE * n1), 6) AS vargha_a,
              round(2.0 * (r0_2 / 2.0 - n0 * (n0 + 1.0) / 2.0) / (n0::DOUBLE * n1) - 1.0, 6) AS cliffs_delta
       FROM s""",
)
def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta and the Vargha-Delaney A measure (Cliff, Psych.
    Bull. 1993; Vargha & Delaney, J. Educ. Behav. Stat. 2000) for the
    activity difference between the parity groups: the nonparametric
    EFFECT SIZES that report how often a group-0 user out-actives a
    group-1 user (A = U/(n₀n₁), δ = 2A−1) — the magnitude companion
    to `mann_whitney_u`'s significance, via the same rank identity
    U = R₀ − n₀(n₀+1)/2. Ranks stay exact integers through the
    doubled-midrank trick (shared with `page_trend`); one global
    rank window over the user census, then a single closed form."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("a")).select(
        (F.col("user_id") % 2).cast("int").alias("grp"), "a"
    )
    wr = Window.orderBy("a")
    wt = Window.partitionBy("a")
    r = u.select(
        "grp",
        (F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).alias("ar2"),
    )
    s = r.agg(
        F.sum(F.when(F.col("grp") == 0, F.col("ar2")).otherwise(0)).cast("long").alias("r0_2"),
        F.sum((F.col("grp") == 0).cast("int")).cast("long").alias("n0"),
        F.sum((F.col("grp") == 1).cast("int")).cast("long").alias("n1"),
    )
    a_meas = (F.col("r0_2") / F.lit(2.0) - F.col("n0") * (F.col("n0") + F.lit(1.0)) / F.lit(2.0)) / (
        F.col("n0").cast("double") * F.col("n1")
    )
    return s.select(
        "n0", "n1",
        F.round(a_meas, 6).alias("vargha_a"),
        F.round(F.lit(2.0) * a_meas - F.lit(1.0), 6).alias("cliffs_delta"),
    )



@query(
    "theil_u",
    """WITH grid AS (
         SELECT (datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) % 7)::BIGINT AS wd,
                event_type, count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       tot AS (SELECT sum(c)::BIGINT AS n FROM grid),
       terms AS (
         SELECT c,
                round(1e9 * c * ln(c::DOUBLE / t.n), 0)::BIGINT AS j_fp,
                round(1e9 * c * ln(rw::DOUBLE / t.n), 0)::BIGINT AS r_fp,
                round(1e9 * c * ln(cl::DOUBLE / t.n), 0)::BIGINT AS c_fp
         FROM (SELECT wd, event_type, c,
                      sum(c) OVER (PARTITION BY wd)::BIGINT AS rw,
                      sum(c) OVER (PARTITION BY event_type)::BIGINT AS cl
               FROM grid) g, tot t),
       s AS (
         SELECT (SELECT n FROM tot) AS n,
                sum(j_fp)::BIGINT AS sj, sum(r_fp)::BIGINT AS sr, sum(c_fp)::BIGINT AS sc
         FROM terms)
       SELECT n,
              round(-sr / (n * 1e9), 6) AS h_weekday,
              round(-sc / (n * 1e9), 6) AS h_event_type,
              round((sj - sr - sc) / (n * 1e9), 6) AS mutual_info,
              round(((sj - sr - sc) / (n * 1e9)) / (-sr / (n * 1e9)), 6) AS u_weekday_given_type,
              round(((sj - sr - sc) / (n * 1e9)) / (-sc / (n * 1e9)), 6) AS u_type_given_weekday
       FROM s""",
)
def q_theil_u(spark, sf_dir):
    """Theil's uncertainty coefficient between weekday and event type
    (Theil, 'Statistical Decomposition Analysis' 1972): U(X|Y) =
    I(X;Y)/H(X), the ASYMMETRIC categorical-association measure that
    answers 'how much does knowing the event type tell you about the
    weekday' and vice versa — unlike the symmetric `chi2_independence`
    / Cramér's V, the two directions differ, which is the point.
    I = H(wd)+H(type)−H(joint) composes three plug-in entropies whose
    count-weighted logs are re-quantized to 1e-9 fixed point on the
    joint census grain (the marginals ride window sums over the same
    grid), so every statistic is a ratio of exact int64 sums. One
    input-sized census, then a ≤35-cell grain."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    grid = ev.groupBy((dd % 7).alias("wd"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = grid.agg(F.sum("c").cast("long").alias("n"))
    g = grid.select(
        "c",
        F.sum("c").over(Window.partitionBy("wd")).cast("long").alias("rw"),
        F.sum("c").over(Window.partitionBy("event_type")).cast("long").alias("cl"),
    ).crossJoin(F.broadcast(tot))
    terms = g.select(
        "n",
        F.round(F.lit(1e9) * F.col("c") * F.log(F.col("c").cast("double") / F.col("n")), 0).cast("long").alias("j_fp"),
        F.round(F.lit(1e9) * F.col("c") * F.log(F.col("rw").cast("double") / F.col("n")), 0).cast("long").alias("r_fp"),
        F.round(F.lit(1e9) * F.col("c") * F.log(F.col("cl").cast("double") / F.col("n")), 0).cast("long").alias("c_fp"),
    )
    s = terms.agg(
        F.max("n").alias("n"),
        F.sum("j_fp").cast("long").alias("sj"),
        F.sum("r_fp").cast("long").alias("sr"),
        F.sum("c_fp").cast("long").alias("sc"),
    )
    n9 = F.col("n") * F.lit(1e9)
    h_wd = -F.col("sr") / n9
    h_ty = -F.col("sc") / n9
    mi = (F.col("sj") - F.col("sr") - F.col("sc")) / n9
    return s.select(
        "n",
        F.round(h_wd, 6).alias("h_weekday"),
        F.round(h_ty, 6).alias("h_event_type"),
        F.round(mi, 6).alias("mutual_info"),
        F.round(mi / h_wd, 6).alias("u_weekday_given_type"),
        F.round(mi / h_ty, 6).alias("u_type_given_weekday"),
    )



@query(
    "bhattacharyya_hellinger",
    """WITH bounds AS (
         SELECT min(datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE))::BIGINT AS lo,
                max(datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE))::BIGINT AS hi
         FROM events),
       tagged AS (
         SELECT event_type,
                (datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE)
                 >= (SELECT (lo + hi + 1) // 2 FROM bounds))::INT AS half
         FROM events),
       cells AS (
         SELECT event_type,
                sum((half = 0)::INT)::BIGINT AS c1,
                sum((half = 1)::INT)::BIGINT AS c2
         FROM tagged GROUP BY event_type),
       tots AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM cells),
       terms AS (
         SELECT n1, n2,
                round(1e9 * sqrt((c1::DOUBLE / n1) * (c2::DOUBLE / n2)), 0)::BIGINT AS bc_fp
         FROM cells, tots)
       SELECT max(n1) AS n_first, max(n2) AS n_second,
              round(sum(bc_fp) / 1e9, 6) AS bhattacharyya_coef,
              round(sqrt(1.0 - sum(bc_fp) / 1e9), 6) AS hellinger,
              round(-ln(sum(bc_fp) / 1e9), 6) AS bhattacharyya_dist
       FROM terms GROUP BY n1, n2""",
)
def q_bhattacharyya_hellinger(spark, sf_dir):
    """Bhattacharyya coefficient, Hellinger distance and Bhattacharyya
    distance between the event-type mixes of the first and second half
    of the window (Bhattacharyya, Bull. Calcutta Math. Soc. 1943) —
    the geometric drift gauges completing the divergence shelf: PSI
    (`psi_drift`) is unbounded and asymmetric-ish, JSD (`source_jsd`)
    information-theoretic, Hellinger a PROPER bounded metric in
    [0,1] whose √p geometry tolerates zero cells without smoothing.
    Per-type √(p·q) terms are re-quantized to 1e-9 fixed point; the
    three statistics are closed forms of that one exact sum. One
    census, 5-cell tail."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    bounds = ev.agg(F.min(dd).alias("lo"), F.max(dd).alias("hi")).select(
        F.floor((F.col("lo") + F.col("hi") + 1) / 2).cast("long").alias("mid")
    )
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.sum((dd < F.col("mid")).cast("int")).cast("long").alias("c1"),
            F.sum((dd >= F.col("mid")).cast("int")).cast("long").alias("c2"),
        )
    )
    tots = cells.agg(F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2"))
    terms = cells.crossJoin(F.broadcast(tots)).select(
        "n1", "n2",
        F.round(
            F.lit(1e9)
            * F.sqrt((F.col("c1").cast("double") / F.col("n1")) * (F.col("c2").cast("double") / F.col("n2"))),
            0,
        ).cast("long").alias("bc_fp"),
    )
    agg = terms.groupBy("n1", "n2").agg(F.sum("bc_fp").cast("long").alias("s_fp"))
    bc = F.col("s_fp") / F.lit(1e9)
    return agg.select(
        F.col("n1").alias("n_first"), F.col("n2").alias("n_second"),
        F.round(bc, 6).alias("bhattacharyya_coef"),
        F.round(F.sqrt(F.lit(1.0) - bc), 6).alias("hellinger"),
        F.round(-F.log(bc), 6).alias("bhattacharyya_dist"),
    )



_DTW_INF = 1 << 60



def _dtw_sql() -> str:
    ctes = ["""daily AS MATERIALIZED (
         SELECT (datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) % 7)::BIGINT AS wd,
                sum((event_type = 'click')::INT)::BIGINT AS a,
                sum((event_type = 'purchase')::INT)::BIGINT AS b
         FROM events GROUP BY wd),
       cells AS MATERIALIZED (
         SELECT x.wd AS i, y.wd AS j, abs(x.a - y.b)::BIGINT AS cost
         FROM daily x CROSS JOIN daily y),
       d0 AS MATERIALIZED (SELECT i, j, cost AS d FROM cells WHERE i = 0 AND j = 0)"""]
    prev = "d0"
    for k in range(1, 13):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
         SELECT * FROM {prev}
         UNION ALL
         SELECT c.i, c.j,
                c.cost + least(
                  coalesce(up.d, {_DTW_INF}),
                  coalesce(lf.d, {_DTW_INF}),
                  coalesce(dg.d, {_DTW_INF})) AS d
         FROM cells c
         LEFT JOIN {prev} up ON up.i = c.i - 1 AND up.j = c.j
         LEFT JOIN {prev} lf ON lf.i = c.i AND lf.j = c.j - 1
         LEFT JOIN {prev} dg ON dg.i = c.i - 1 AND dg.j = c.j - 1
         WHERE c.i + c.j = {k})"""
        )
        prev = f"d{k}"
    return (
        "WITH " + ",\n       ".join(ctes)
        + f"""
       SELECT i, j, d AS cum_cost FROM {prev} ORDER BY i, j"""
    )



@query("dtw_weekday", _dtw_sql())
def q_dtw_weekday(spark, sf_dir):
    """Dynamic time warping between the weekday profiles of clicks and
    purchases (Sakoe & Chiba, IEEE ASSP 1978): the full 7×7
    cumulative-cost matrix D(i,j) = |a_i−b_j| + min(↑,←,↖), whose
    corner is the elastic-alignment distance that tolerates the phase
    shift a rigid `ccf_peak_lag` can only describe globally. The DP
    is unrolled by ANTI-DIAGONAL wavefronts — 13 rounds, each
    computing one diagonal of cells from the accumulated set via
    three positional left-joins — so the recurrence is pure integer
    arithmetic with a shared sentinel for out-of-grid neighbors,
    bit-identical in both engines (chained-CTE oracle). The grid is
    constant-size: only the weekday census touches the input. r4 perf:
    the 7×7 grid is MODEL state, so after the one-pass weekday census
    the 13 wavefront rounds run on the driver in identical integer
    arithmetic (same sentinel; golden-hash pinned) instead of 13
    checkpointed triple-join jobs."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    daily = ev.groupBy((dd % 7).alias("wd")).agg(
        F.sum((F.col("event_type") == "click").cast("int")).cast("long").alias("a"),
        F.sum((F.col("event_type") == "purchase").cast("int")).cast("long").alias("b"),
    )
    drows = census_collect(daily, 1_000, "weekday census")
    a = {r["wd"]: r["a"] for r in drows}
    b = {r["wd"]: r["b"] for r in drows}
    wds = sorted(a)
    cost = {(i, j): abs(a[i] - b[j]) for i in wds for j in wds}
    d: dict[tuple, int] = {}
    if (0, 0) in cost:
        d[(0, 0)] = cost[(0, 0)]
    for k in range(1, 13):
        for (i, j), c in cost.items():
            if i + j != k:
                continue
            d[(i, j)] = c + min(
                d.get((i - 1, j), _DTW_INF),
                d.get((i, j - 1), _DTW_INF),
                d.get((i - 1, j - 1), _DTW_INF),
            )
    rows = sorted((i, j, int(v)) for (i, j), v in d.items())
    return spark.createDataFrame(rows, "i long, j long, cum_cost long").orderBy("i", "j")



@query(
    "price_elasticity",
    """WITH pp AS (
         SELECT l_partkey,
                round(1e6 * ln(l_extendedprice / l_quantity), 0)::BIGINT AS lp_fp,
                round(1e6 * ln(l_quantity), 0)::BIGINT AS lq_fp
         FROM lineitem),
       mo AS (
         SELECT count(*)::BIGINT AS n, sum(lp_fp)::BIGINT AS sp, sum(lq_fp)::BIGINT AS sq,
                sum(round(lp_fp::DOUBLE * lq_fp / 1e6, 0)::BIGINT)::BIGINT AS spq,
                sum(round(lp_fp::DOUBLE * lp_fp / 1e6, 0)::BIGINT)::BIGINT AS spp
         FROM pp)
       SELECT n,
              round((n::DOUBLE * spq - sp::DOUBLE * sq) / (n::DOUBLE * spp - sp::DOUBLE * sp), 6)
                AS elasticity,
              round((sq::DOUBLE / 1e6 - (n::DOUBLE * spq - sp::DOUBLE * sq)
                     / (n::DOUBLE * spp - sp::DOUBLE * sp) * sp / 1e6) / n, 6) + 0.0 AS intercept
       FROM mo""",
)
def q_price_elasticity(spark, sf_dir):
    """Log-log price elasticity of demand over lineitem (the Marshall
    constant-elasticity regression ln q = a + ε·ln p): unit price =
    extendedprice/quantity, slope ε from the OLS closed form — the
    canonical retail-econometrics reduction, run as ONE pass. Each
    row's two logs are re-quantized to 1e-6 fixed point and their
    products re-quantized again (÷1e6 keeps the cross-moment inside
    int64 at ~1e8 rows per partition), so all five OLS moments are
    exact integer sums in any combine order — the same associativity
    discipline as `panel_fe` applied to a float-native column. The
    scan reads two columns; everything else is a broadcast-free
    single-row reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    lp = F.round(F.lit(1e6) * F.log(F.col("l_extendedprice") / F.col("l_quantity")), 0).cast("long")
    lq = F.round(F.lit(1e6) * F.log(F.col("l_quantity")), 0).cast("long")
    pp = li.select(lp.alias("lp_fp"), lq.alias("lq_fp"))
    mo = pp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lp_fp").cast("long").alias("sp"),
        F.sum("lq_fp").cast("long").alias("sq"),
        F.sum(F.round(F.col("lp_fp").cast("double") * F.col("lq_fp") / F.lit(1e6), 0).cast("long")).cast("long").alias("spq"),
        F.sum(F.round(F.col("lp_fp").cast("double") * F.col("lp_fp") / F.lit(1e6), 0).cast("long")).cast("long").alias("spp"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("spq") - F.col("sp").cast("double") * F.col("sq")) / (
        nd * F.col("spp") - F.col("sp").cast("double") * F.col("sp")
    )
    return mo.select(
        "n",
        F.round(slope, 6).alias("elasticity"),
        (F.round((F.col("sq").cast("double") / F.lit(1e6) - slope * F.col("sp") / F.lit(1e6)) / F.col("n"), 6) + F.lit(0.0)).alias("intercept"),
    )



@query(
    "part_top_supplier",
    """WITH ps AS (
         SELECT l_partkey, l_suppkey,
                sum(l_quantity)::BIGINT AS qty, count(*)::BIGINT AS n_lines
         FROM lineitem GROUP BY 1, 2),
       r AS (
         SELECT l_partkey, l_suppkey, qty, n_lines,
                row_number() OVER (PARTITION BY l_partkey
                                   ORDER BY qty DESC, l_suppkey) AS rn,
                count(*) OVER (PARTITION BY l_partkey)::BIGINT AS n_supp
         FROM ps),
       top AS (SELECT * FROM r WHERE rn = 1)
       SELECT t.l_partkey, t.l_suppkey AS top_suppkey, s.s_name,
              t.qty AS top_qty, t.n_supp
       FROM top t JOIN supplier s ON s.s_suppkey = t.l_suppkey
       ORDER BY t.qty DESC, t.l_partkey LIMIT 20""",
)
def q_part_top_supplier(spark, sf_dir):
    """Dominant supplier per part (the TPC-H Q2 min-cost-supplier shape
    on this schema: no partsupp table, so the part↔supplier relation
    derives from shipped lineitems): per-part supplier ranking by
    total shipped quantity with deterministic ties, then the overall
    top-20 parts by winner volume joined to the supplier dimension.
    The classic correlated-subquery query recast as ONE window over
    the (part, supplier) census — no per-part subquery, no second
    scan; the supplier dimension (100 rows) broadcasts onto the
    20-row frontier, so the join order Catalyst picks is scan-census-
    window-limit-broadcast, the plan you want at any fact size."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("long").alias("qty"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    wp = Window.partitionBy("l_partkey")
    r = ps.select(
        "l_partkey", "l_suppkey", "qty", "n_lines",
        F.row_number().over(wp.orderBy(F.col("qty").desc(), "l_suppkey")).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n_supp"),
    )
    top = r.where(F.col("rn") == 1)
    return (
        top.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .orderBy(F.col("qty").desc(), "l_partkey")
        .limit(20)
        .select("l_partkey", F.col("l_suppkey").alias("top_suppkey"), "s_name",
                F.col("qty").alias("top_qty"), "n_supp")
    )



@query(
    "late_sole_supplier",
    """WITH late AS (
         SELECT DISTINCT l.l_orderkey, l.l_suppkey
         FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY),
       multi AS (
         SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         GROUP BY l_orderkey HAVING count(*) > 1),
       sole AS (
         SELECT lt.l_orderkey, lt.l_suppkey
         FROM late lt
         JOIN multi m ON m.l_orderkey = lt.l_orderkey
         WHERE NOT EXISTS (
           SELECT 1 FROM late l2
           WHERE l2.l_orderkey = lt.l_orderkey AND l2.l_suppkey != lt.l_suppkey))
       SELECT s.s_suppkey, s.s_name, count(*)::BIGINT AS numwait
       FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
       GROUP BY 1, 2
       ORDER BY numwait DESC, s.s_suppkey LIMIT 20""",
)
def q_late_sole_supplier(spark, sf_dir):
    """Suppliers-who-kept-orders-waiting (TPC-H Q21's shape adapted to
    this schema: 'late' = shipped >60 days after the order date since
    there is no commit/receipt date): on multi-supplier orders, count
    per supplier the orders where it was late and NO OTHER supplier
    was — the classic EXISTS + NOT EXISTS double-correlation. Spark
    expresses both correlations as joins on the deduplicated
    (order, supplier) late set: the sole-blame test is a LEFT ANTI
    join against the late set itself (other-supplier rows), never a
    per-order subquery, so the whole thing is three hash joins over
    one shuffled census — the Q21 plan that survives fact-table scale."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .stableCheckpoint(eager=True)
    )
    multi = (
        li.select("l_orderkey", "l_suppkey").distinct()
        .groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("ns"))
        .where(F.col("ns") > 1).select("l_orderkey")
    )
    others = late.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("other_supp")
    )
    sole = (
        late.join(multi, "l_orderkey")
        .join(
            others,
            (F.col("o_key") == F.col("l_orderkey")) & (F.col("other_supp") != F.col("l_suppkey")),
            "leftanti",
        )
    )
    return (
        sole.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )



@query(
    "idle_rich_customers",
    """WITH cutoff AS (
         SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
       active AS (SELECT DISTINCT o_custkey FROM orders
                  WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'),
       idle AS (
         SELECT c.c_mktsegment, c.c_acctbal
         FROM customer c
         WHERE c.c_acctbal > (SELECT ab FROM cutoff)
           AND NOT EXISTS (SELECT 1 FROM active a WHERE a.o_custkey = c.c_custkey))
       SELECT c_mktsegment, count(*)::BIGINT AS n_custs,
              round(sum(round(c_acctbal, 2)), 6) AS total_acctbal
       FROM idle GROUP BY c_mktsegment ORDER BY c_mktsegment""",
)
def q_idle_rich_customers(spark, sf_dir):
    """Global-sales-opportunity query (TPC-H Q22's shape, segmented by
    mktsegment instead of phone prefix): customers whose balance
    exceeds the positive-balance average but who placed no order since
    1999 — the scalar-subquery + NOT EXISTS combination. Spark form:
    the cutoff is a 1-row broadcast crossJoin (Catalyst folds it into
    the filter), the no-orders test a LEFT ANTI join against the
    distinct active-customer set, so the customer scan is filtered in
    one pass and the orders table contributes only a date-pruned
    key census. Balances are rounded to cents before summing so the
    segment totals are exact two-decimal arithmetic."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cutoff = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    active = (
        o.where(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey").distinct()
    )
    idle = (
        c.crossJoin(F.broadcast(cutoff))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(active, F.col("o_custkey") == F.col("c_custkey"), "leftanti")
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            F.round(F.sum(F.round(F.col("c_acctbal"), 2)), 6).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )



@query(
    "uplift_split",
    """WITH u AS (
         SELECT user_id, (user_id % 2)::INT AS z,
                sum((event_type = 'click')::INT)::BIGINT AS x,
                max((event_type = 'purchase')::INT)::BIGINT AS y
         FROM events GROUP BY user_id),
       grid AS (
         SELECT x, sum((z = 1)::INT)::BIGINT AS nt, sum((z = 0)::INT)::BIGINT AS nc,
                sum(CASE WHEN z = 1 THEN y ELSE 0 END)::BIGINT AS ct,
                sum(CASE WHEN z = 0 THEN y ELSE 0 END)::BIGINT AS cc
         FROM u GROUP BY x),
       pre AS (
         SELECT x,
                sum(nt) OVER w AS lnt, sum(nc) OVER w AS lnc,
                sum(ct) OVER w AS lct, sum(cc) OVER w AS lcc,
                sum(nt) OVER ()::BIGINT AS tnt, sum(nc) OVER ()::BIGINT AS tnc,
                sum(ct) OVER ()::BIGINT AS tct, sum(cc) OVER ()::BIGINT AS tcc
         FROM grid
         WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       cand AS (
         SELECT x AS threshold,
                lct::DOUBLE / lnt - lcc::DOUBLE / lnc AS up_l,
                (tct - lct)::DOUBLE / (tnt - lnt) - (tcc - lcc)::DOUBLE / (tnc - lnc) AS up_r,
                (lnt + lnc)::BIGINT AS n_l, (tnt + tnc - lnt - lnc)::BIGINT AS n_r,
                (tnt + tnc)::BIGINT AS n
         FROM pre
         WHERE lnt > 0 AND lnc > 0 AND tnt - lnt > 0 AND tnc - lnc > 0),
       scored AS (
         SELECT threshold, n_l, n_r,
                round(up_l, 6) AS uplift_left, round(up_r, 6) AS uplift_right,
                round((up_l - up_r) * (up_l - up_r) * n_l * n_r
                      / (n::DOUBLE * n), 6) AS criterion
         FROM cand)
       SELECT threshold, n_l, n_r, uplift_left, uplift_right, criterion
       FROM scored
       ORDER BY criterion DESC, threshold LIMIT 1""",
)
def q_uplift_split(spark, sf_dir):
    """Best single uplift split on clicks (the root-node search of an
    uplift tree, Rzepakowski & Jaroszewicz, KAIS 2012, squared-
    difference criterion Δ²·n_L·n_R/n²): find the click threshold
    where the treatment effect (parity-split conversion lift) differs
    MOST between sides — heterogeneous-treatment-effect discovery,
    the tree-based sibling of `qte_deciles`. All candidate thresholds
    are evaluated in ONE window pass of prefix sums over the
    clicks-sorted census grid (the `adaboost_stumps` threshold-search
    pattern); guards exclude degenerate sides, the criterion is
    once-rounded, and argmax ties break on the threshold. Two
    shuffles: user census, x-grid rollup."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("int")).cast("long").alias("x"),
        F.max((F.col("event_type") == "purchase").cast("int")).cast("long").alias("y"),
    ).select((F.col("user_id") % 2).cast("int").alias("z"), "x", "y")
    grid = u.groupBy("x").agg(
        F.sum((F.col("z") == 1).cast("int")).cast("long").alias("nt"),
        F.sum((F.col("z") == 0).cast("int")).cast("long").alias("nc"),
        F.sum(F.when(F.col("z") == 1, F.col("y")).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(F.col("z") == 0, F.col("y")).otherwise(0)).cast("long").alias("cc"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pre = grid.select(
        "x",
        F.sum("nt").over(w).alias("lnt"), F.sum("nc").over(w).alias("lnc"),
        F.sum("ct").over(w).alias("lct"), F.sum("cc").over(w).alias("lcc"),
        F.sum("nt").over(wall).cast("long").alias("tnt"),
        F.sum("nc").over(wall).cast("long").alias("tnc"),
        F.sum("ct").over(wall).cast("long").alias("tct"),
        F.sum("cc").over(wall).cast("long").alias("tcc"),
    )
    cand = pre.where(
        (F.col("lnt") > 0) & (F.col("lnc") > 0)
        & (F.col("tnt") - F.col("lnt") > 0) & (F.col("tnc") - F.col("lnc") > 0)
    )
    up_l = F.col("lct").cast("double") / F.col("lnt") - F.col("lcc").cast("double") / F.col("lnc")
    up_r = (F.col("tct") - F.col("lct")).cast("double") / (F.col("tnt") - F.col("lnt")) - (
        F.col("tcc") - F.col("lcc")
    ).cast("double") / (F.col("tnc") - F.col("lnc"))
    n_l = (F.col("lnt") + F.col("lnc")).cast("long")
    n_r = (F.col("tnt") + F.col("tnc") - F.col("lnt") - F.col("lnc")).cast("long")
    n = (F.col("tnt") + F.col("tnc")).cast("long")
    scored = cand.select(
        F.col("x").alias("threshold"),
        n_l.alias("n_l"), n_r.alias("n_r"),
        F.round(up_l, 6).alias("uplift_left"),
        F.round(up_r, 6).alias("uplift_right"),
        F.round((up_l - up_r) * (up_l - up_r) * n_l * n_r / (n.cast("double") * n), 6).alias("criterion"),
    )
    return scored.orderBy(F.col("criterion").desc(), "threshold").limit(1)



_ESD_ROUNDS = 3



def _sesd_sql() -> str:
    parts = ["""grid AS MATERIALIZED (
         SELECT (datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) % 7)::BIGINT AS wd,
                (datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) // 7)::BIGINT AS wi,
                count(*)::BIGINT AS x
         FROM events GROUP BY wd, wi),
       fw AS MATERIALIZED (SELECT wi FROM grid GROUP BY wi HAVING count(*) = 7),
       nw AS (SELECT count(*)::BIGINT AS nw FROM fw),
       res AS MATERIALIZED (
         SELECT g.wd, g.wi,
                (7 * n.nw * g.x
                 - 7 * sum(g.x) OVER (PARTITION BY g.wd)
                 - n.nw * sum(g.x) OVER (PARTITION BY g.wi)
                 + sum(g.x) OVER ())::BIGINT AS r
         FROM grid g JOIN fw USING (wi), nw n),
       s0 AS MATERIALIZED (SELECT wd, wi, r FROM res)"""]
    prev = "s0"
    outs = []
    for k in range(1, _ESD_ROUNDS + 1):
        parts.append(f"""m{k} AS MATERIALIZED (
         SELECT count(*)::BIGINT AS n, sum(r)::BIGINT AS s,
                sum(r * r)::BIGINT AS s2
         FROM {prev}),
       pick{k} AS MATERIALIZED (
         SELECT p.wd, p.wi, p.r, m.n, m.s, m.s2
         FROM {prev} p, m{k} m
         ORDER BY abs(m.n * p.r - m.s) DESC, p.wd, p.wi LIMIT 1),
       s{k} AS MATERIALIZED (
         SELECT p.wd, p.wi, p.r FROM {prev} p
         WHERE NOT EXISTS (SELECT 1 FROM pick{k} q
                           WHERE q.wd = p.wd AND q.wi = p.wi))""")
        outs.append(
            f"""SELECT {k}::BIGINT AS round, wd, wi, r AS residual,
                round(abs(n * r - s)
                      / (n::DOUBLE * sqrt((s2 - s::DOUBLE * s / n) / (n - 1))), 6) AS esd_stat
         FROM pick{k}"""
        )
        prev = f"s{k}"
    return "WITH " + ",\n       ".join(parts) + "\n       " + "\n       UNION ALL ".join(outs) + "\n       ORDER BY round"



@query("seasonal_esd", _sesd_sql())
def q_seasonal_esd(spark, sf_dir):
    """Seasonal-ESD anomaly extraction (the S-ESD scheme of Hochenbaum,
    Vallis & Kejariwal, 2017, with the two-way additive fit standing
    in for STL): residuals R = x − weekday effect − week effect +
    grand mean over the full-week grid, kept EXACT by scaling with
    7·n_weeks (one integer expression, no rational means), then 3
    generalized-ESD rounds, each removing the most-studentized cell —
    crucially the argmax compares |n·R − ΣR| as pure integers
    (cross-multiplied, no float ordering) with (wd,wi) tie keys, and
    only the REPORTED statistic touches floats. Each round is a
    3-row-CTE pattern over the ≤70-cell grid; the census is the only
    input-sized stage. Completes `grubbs_outlier` (single, unseasonal)
    and `rolling_anomaly` (windowed) with the deseasonalized batch
    variant."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    grid = ev.groupBy((dd % 7).alias("wd"), F.floor(dd / 7).cast("long").alias("wi")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    fw = grid.groupBy("wi").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") == 7).select("wi")
    g = grid.join(F.broadcast(fw), "wi")
    nw = fw.agg(F.count(F.lit(1)).cast("long").alias("nw"))
    res = g.crossJoin(F.broadcast(nw)).select(
        "wd", "wi",
        (
            F.lit(7) * F.col("nw") * F.col("x")
            - F.lit(7) * F.sum("x").over(Window.partitionBy("wd"))
            - F.col("nw") * F.sum("x").over(Window.partitionBy("wi"))
            + F.sum("x").over(Window.partitionBy())
        ).cast("long").alias("r"),
    ).stableCheckpoint(eager=True)
    cur = res
    outs = []
    for k in range(1, _ESD_ROUNDS + 1):
        m = cur.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("r").cast("long").alias("s"),
            F.sum(F.col("r") * F.col("r")).cast("long").alias("s2"),
        )
        wpick = Window.orderBy(
            F.abs(F.col("n") * F.col("r") - F.col("s")).desc(), "wd", "wi"
        )
        pick = (
            cur.crossJoin(F.broadcast(m))
            .select("wd", "wi", "r", "n", "s", "s2", F.row_number().over(wpick).alias("rn"))
            .where(F.col("rn") == 1)
            .stableCheckpoint(eager=True)
        )
        outs.append(
            pick.select(
                F.lit(k).cast("long").alias("round"), "wd", "wi",
                F.col("r").alias("residual"),
                F.round(
                    F.abs(F.col("n") * F.col("r") - F.col("s"))
                    / (
                        F.col("n").cast("double")
                        * F.sqrt((F.col("s2") - F.col("s").cast("double") * F.col("s") / F.col("n")) / (F.col("n") - 1))
                    ),
                    6,
                ).alias("esd_stat"),
            )
        )
        cur = cur.join(pick.select("wd", "wi"), ["wd", "wi"], "leftanti").stableCheckpoint(eager=True)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("round")



def _hw_sql() -> str:
    return """WITH d AS (
         SELECT datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE)::BIGINT AS dd,
                count(*)::BIGINT AS x
         FROM events GROUP BY dd),
       s AS (
         SELECT dd, x, x * 1000000 AS xm, row_number() OVER (ORDER BY dd) AS t,
                count(*) OVER () AS n
         FROM d),
       init AS (
         SELECT CAST(round((SELECT sum(xm) FROM s WHERE t <= 7)::DOUBLE / 7) AS BIGINT) AS l0,
                CAST(round(((SELECT sum(xm) FROM s WHERE t BETWEEN 8 AND 14)
                            - (SELECT sum(xm) FROM s WHERE t <= 7))::DOUBLE / 49) AS BIGINT) AS b0),
       rec AS (
         WITH RECURSIVE hw(t, l, b, sl) AS (
           SELECT 7::BIGINT, i.l0, i.b0,
                  (SELECT list(xm - i.l0 ORDER BY t) FROM s WHERE t <= 7)
           FROM init i
           UNION ALL
           SELECT hw.t + 1,
                  CAST(round(0.5e0 * (sx.xm - hw.sl[((hw.t) % 7) + 1])
                             + 0.5e0 * (hw.l + hw.b)) AS BIGINT),
                  CAST(round(0.3e0 * (CAST(round(0.5e0 * (sx.xm - hw.sl[((hw.t) % 7) + 1])
                                                 + 0.5e0 * (hw.l + hw.b)) AS BIGINT) - hw.l)
                             + 0.7e0 * hw.b) AS BIGINT),
                  list_transform(range(1, 8), i ->
                    CASE WHEN i = ((hw.t) % 7) + 1
                         THEN CAST(round(0.3e0 * (sx.xm
                                - CAST(round(0.5e0 * (sx.xm - hw.sl[((hw.t) % 7) + 1])
                                             + 0.5e0 * (hw.l + hw.b)) AS BIGINT))
                                + 0.7e0 * hw.sl[i]) AS BIGINT)
                         ELSE hw.sl[i] END)
           FROM hw JOIN s sx ON sx.t = hw.t + 1
           WHERE hw.t < (SELECT max(n) FROM s))
         SELECT t, l, b, sl[((t - 1) % 7) + 1] AS se FROM hw WHERE t >= 8)
       SELECT s.dd, s.x,
              round(rec.l / 1000000.0, 6) AS level,
              round(rec.b / 1000000.0, 6) AS trend,
              round(rec.se / 1000000.0, 6) AS seasonal
       FROM rec JOIN s ON s.t = rec.t
       ORDER BY s.dd"""



@query("holt_winters", _hw_sql())
def q_holt_winters(spark, sf_dir):
    """Holt-Winters additive seasonal smoothing of daily event counts
    (Winters, Mgmt. Sci. 1960; α=0.5, β=0.3, γ=0.3, period 7): level,
    trend AND a 7-slot seasonal state — the full triple-smoothing that
    `holt_linear` (no seasonality) and `seasonal_profile` (static
    profile) bracket. Every state update micro-int-rounds (half away
    from zero) exactly like holt_linear, so the Spark driver DP over
    the AGGREGATE-grain day series is bit-identical to the oracle —
    which is a recursive CTE whose recursion row CARRIES the seasonal
    vector as a BIGINT list, rewritten functionally each step via
    list_transform. Initialization: l = mean(week 1), b = (mean week 2
    − mean week 1)/7, s_i = x_i − l. Corpus-scale work is one census."""
    import math as _m

    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    d = ev.groupBy(dd.alias("dd")).agg(F.count(F.lit(1)).cast("long").alias("x"))
    rows = sorted(census_collect(d, 200_000, "daily census"), key=lambda r: r.dd)

    def rnd(v):
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    out = []
    if len(rows) >= 14:
        xm = [r.x * 1000000 for r in rows]
        l = rnd(sum(xm[:7]) / 7)
        b = rnd((sum(xm[7:14]) - sum(xm[:7])) / 49)
        sl = [xm[i] - l for i in range(7)]
        for t in range(8, len(rows) + 1):  # 1-indexed day t
            x_t = xm[t - 1]
            idx = (t - 1) % 7
            lnew = rnd(0.5 * (x_t - sl[idx]) + 0.5 * (l + b))
            bnew = rnd(0.3 * (lnew - l) + 0.7 * b)
            sl[idx] = rnd(0.3 * (x_t - lnew) + 0.7 * sl[idx])
            l, b = lnew, bnew
            out.append(
                (rows[t - 1].dd, rows[t - 1].x,
                 round(l / 1e6, 6), round(b / 1e6, 6), round(sl[idx] / 1e6, 6))
            )
    return spark.createDataFrame(
        out, "dd long, x long, level double, trend double, seasonal double"
    ).orderBy("dd")



_CAL_2PI7 = 0.8975979010256552  # 2*pi/7, shared literal



@query(
    "calendar_features",
    f"""WITH days AS (
         SELECT DISTINCT date_trunc('day', ts)::DATE AS day FROM events),
       f AS (
         SELECT day,
                datediff('day', DATE '2024-01-01', day)::BIGINT AS day_idx,
                (datediff('day', DATE '2024-01-01', day) % 7)::BIGINT AS dow,
                (datediff('day', DATE '2024-01-01', day) // 7)::BIGINT AS week_idx,
                month(day)::BIGINT AS month,
                dayofmonth(day)::BIGINT AS dom
         FROM days)
       SELECT day::TIMESTAMP AS day, day_idx, dow,
              (dow IN (5, 6)) AS is_weekend,
              week_idx, month, dom,
              round(sin(dow * {_CAL_2PI7}), 6) AS dow_sin,
              round(cos(dow * {_CAL_2PI7}), 6) AS dow_cos
       FROM f ORDER BY day""",
)
def q_calendar_features(spark, sf_dir):
    """Calendar feature generator over the distinct observed days — the
    date-derived block every `training_matrix` wants: anchor-relative
    day index and engine-neutral DOW (shared with `median_polish` &
    co.), weekend flag, week index, real calendar month/day-of-month,
    and the sin/cos cyclical encoding of weekday (shared 2π/7 literal)
    that keeps Sunday adjacent to Monday for linear models where the
    raw ordinal breaks the cycle. Distinct-day census then pure
    column arithmetic — a broadcast-sized dimension producible at any
    scale; trig is the only float and is once-rounded."""
    ev = _events(spark, sf_dir)
    days = ev.select(F.date_trunc("day", F.col("ts")).cast("date").alias("day")).distinct()
    didx = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).cast("long")
    dow = (didx % 7).cast("long")
    return days.select(
        F.col("day").cast("timestamp").alias("day"),
        didx.alias("day_idx"),
        dow.alias("dow"),
        dow.isin(5, 6).alias("is_weekend"),
        F.floor(didx / 7).cast("long").alias("week_idx"),
        F.month("day").cast("long").alias("month"),
        F.dayofmonth("day").cast("long").alias("dom"),
        F.round(F.sin(dow * F.lit(_CAL_2PI7)), 6).alias("dow_sin"),
        F.round(F.cos(dow * F.lit(_CAL_2PI7)), 6).alias("dow_cos"),
    ).orderBy("day")



def _gain_ratio_sql() -> str:
    # one IG/split-info block per feature, all over the same user CTE
    blocks = []
    for fname, fexpr in {"parity": "parity", "first_dow": "first_dow", "clicks_capped": "clicks_capped"}.items():
        blocks.append(f"""SELECT '{fname}' AS feature,
                count(DISTINCT {fexpr})::BIGINT AS n_values,
                (SELECT hy FROM hy) AS h_y,
                (SELECT round(-sum(t_fp) / ((SELECT n FROM tot) * 1e9), 6) FROM (
                   SELECT round(1e9 * c * ln(c::DOUBLE / fv), 0)::BIGINT AS t_fp
                   FROM (SELECT {fexpr} AS f, y, count(*)::BIGINT AS c,
                                sum(count(*)) OVER (PARTITION BY {fexpr})::BIGINT AS fv
                         FROM u GROUP BY 1, 2))) AS h_y_given_f,
                (SELECT round(-sum(t_fp) / ((SELECT n FROM tot) * 1e9), 6) FROM (
                   SELECT round(1e9 * c * ln(c::DOUBLE / (SELECT n FROM tot)), 0)::BIGINT AS t_fp
                   FROM (SELECT {fexpr} AS f, count(*)::BIGINT AS c FROM u GROUP BY 1))) AS split_info
         FROM u u GROUP BY 1""")
    body = "\n       UNION ALL ".join(blocks)
    return f"""WITH ub AS (
         SELECT user_id,
                sum((event_type = 'click')::INT)::BIGINT AS clicks,
                max((event_type = 'purchase')::INT)::BIGINT AS y,
                (datediff('day', DATE '2024-01-01',
                          date_trunc('day', min(ts))::DATE) % 7)::BIGINT AS first_dow
         FROM events GROUP BY user_id),
       u AS (
         SELECT user_id, y, (user_id % 2)::BIGINT AS parity, first_dow,
                least(clicks, 10)::BIGINT AS clicks_capped
         FROM ub),
       tot AS (SELECT count(*)::BIGINT AS n FROM u),
       hy AS (
         SELECT round(-sum(t_fp) / ((SELECT n FROM tot) * 1e9), 6) AS hy FROM (
           SELECT round(1e9 * c * ln(c::DOUBLE / (SELECT n FROM tot)), 0)::BIGINT AS t_fp
           FROM (SELECT y, count(*)::BIGINT AS c FROM u GROUP BY y))),
       per AS ({body})
       SELECT feature, n_values, h_y,
              round(h_y - h_y_given_f, 6) AS info_gain,
              split_info,
              CASE WHEN split_info != 0
                   THEN round((h_y - h_y_given_f) / split_info, 6) END AS gain_ratio
       FROM per ORDER BY feature"""



@query("gain_ratio", _gain_ratio_sql())
def q_gain_ratio(spark, sf_dir):
    """C4.5 gain-ratio feature ranking for user conversion (Quinlan
    1993): information gain H(y)−H(y|f) normalized by the feature's
    own split information H(f) — the correction that stops IG from
    favoring high-cardinality features (visible here: clicks_capped
    has the most values and takes the biggest normalization hit)
    against parity and first-active-weekday. All entropies are
    fixed-point plug-in sums over one user census (`theil_u`'s
    machinery pointed at feature selection; u_y_given_f there = IG/H(y)
    here — both ship because trees normalize by H(f), not H(y)).
    Three features evaluated from the same census, no rescans of the
    input."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("int")).cast("long").alias("clicks"),
        F.max((F.col("event_type") == "purchase").cast("int")).cast("long").alias("y"),
        (F.datediff(F.date_trunc("day", F.min("ts")).cast("date"), F.lit("2024-01-01").cast("date")) % 7).cast("long").alias("first_dow"),
    ).select(
        "y", (F.col("user_id") % 2).cast("long").alias("parity"), "first_dow",
        F.least(F.col("clicks"), F.lit(10)).cast("long").alias("clicks_capped"),
    ).stableCheckpoint(eager=True)
    tot = u.count()

    def ent_fp(df, *cols):
        cells = df.groupBy(*cols).agg(F.count(F.lit(1)).cast("long").alias("c"))
        return cells.select(
            F.round(F.lit(1e9) * F.col("c") * F.log(F.col("c").cast("double") / F.lit(tot)), 0).cast("long").alias("t_fp")
        ).agg(F.round(-F.sum("t_fp") / F.lit(tot * 1e9), 6).alias("h")).collect()[0][0]

    def cond_ent_fp(df, fcol):
        cells = df.groupBy(fcol, "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
        cells = cells.select(
            "c", F.sum("c").over(Window.partitionBy(fcol)).cast("long").alias("fv")
        )
        return cells.select(
            F.round(F.lit(1e9) * F.col("c") * F.log(F.col("c").cast("double") / F.col("fv")), 0).cast("long").alias("t_fp")
        ).agg(F.round(-F.sum("t_fp") / F.lit(tot * 1e9), 6).alias("h")).collect()[0][0]

    h_y = ent_fp(u, "y")
    rows = []
    for fname in ["clicks_capped", "first_dow", "parity"]:
        nv = u.select(fname).distinct().count()
        hyf = cond_ent_fp(u, fname)
        si = ent_fp(u, fname)
        gr = round((h_y - hyf) / si, 6) if si else None
        rows.append((fname, nv, h_y, round(h_y - hyf, 6), si, gr))
    return spark.createDataFrame(
        rows,
        "feature string, n_values long, h_y double, info_gain double, split_info double, gain_ratio double",
    ).orderBy("feature")



def _hll_union_sql() -> str:
    blcase = " ".join(f"WHEN '{h}' THEN {b}" for h, b in _HEX_BITLEN.items())
    return f"""WITH th AS (
         SELECT DISTINCT source, md5(t) AS hx
         FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS t FROM documents)),
       rho AS (
         SELECT source, CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) AS reg,
                CASE WHEN trim(LEADING '0' FROM substr(hx, 3, 13)) = '' THEN 53
                     ELSE 4 * (13 - length(trim(LEADING '0' FROM substr(hx, 3, 13)))) + 5
                          - (CASE substr(trim(LEADING '0' FROM substr(hx, 3, 13)), 1, 1) {blcase} END)
                END AS rho
         FROM th),
       src_reg AS (SELECT source AS scope, reg, max(rho)::BIGINT AS m FROM rho GROUP BY 1, 2),
       uni_reg AS (SELECT 'union' AS scope, reg, max(rho)::BIGINT AS m FROM rho GROUP BY 2),
       regs AS (SELECT * FROM src_reg UNION ALL SELECT * FROM uni_reg),
       est AS (
         SELECT scope, count(*)::BIGINT AS obs,
                (0.7213 / (1 + 1.079 / 256)) * 65536.0
                  / (sum(round(1e15 * pow(2.0, -m), 0)::BIGINT)::DOUBLE / 1e15
                     + (256 - count(*))) AS raw,
                (256 - count(*))::BIGINT AS v
         FROM regs GROUP BY scope),
       ex AS (
         SELECT source AS scope, count(DISTINCT hx)::BIGINT AS n_exact FROM th GROUP BY 1
         UNION ALL
         SELECT 'union', count(DISTINCT hx)::BIGINT FROM th)
       SELECT e.scope, x.n_exact, e.obs AS registers_hit,
              round(CASE WHEN e.raw <= 640.0 AND e.v > 0
                         THEN 256.0 * ln(256.0 / e.v) ELSE e.raw END, 3) AS est_distinct,
              round((CASE WHEN e.raw <= 640.0 AND e.v > 0
                          THEN 256.0 * ln(256.0 / e.v) ELSE e.raw END - x.n_exact)
                    / x.n_exact, 6) AS rel_err
       FROM est e JOIN ex x USING (scope)
       ORDER BY e.scope"""



@query("hll_union_merge", _hll_union_sql())
def q_hll_union_merge(spark, sf_dir):
    """HyperLogLog MERGE audit over per-source token vocabularies: one
    256-register sketch per source plus the UNION sketch formed by
    register-wise max — the lossless-merge property (union sketch ==
    sketch of the union, exactly) that makes HLL the distributed
    distinct-counter: partial sketches combine associatively on any
    tree, the same reason `kmv_rollup` exists for KMV. Reuses
    `hyperloglog_users`' arithmetic rho extraction and 1e-15
    fixed-point harmonic sums; every scope is estimated next to its
    exact distinct count and relative error. One distinct
    (source, hash) census; the merge runs on the 256·(S+1)-row
    register grain."""
    d = _docs(spark, sf_dir)
    th = d.select("source", F.explode(T.tokenize(F.col("text"))).alias("t")).select(
        "source", F.md5(F.col("t")).alias("hx")
    ).distinct().stableCheckpoint(eager=True)
    st = F.expr("trim(LEADING '0' FROM substr(hx, 3, 13))")
    blmap = F.create_map(*[F.lit(x) for kv in _HEX_BITLEN.items() for x in kv])
    rho = th.select(
        "source",
        F.conv(F.substring("hx", 1, 2), 16, 10).cast("long").alias("reg"),
        F.when(st == "", F.lit(53)).otherwise(
            F.lit(4) * (F.lit(13) - F.length(st)) + F.lit(5) - blmap[F.substring(st, 1, 1)]
        ).cast("long").alias("rho"),
    )
    src_reg = rho.groupBy(F.col("source").alias("scope"), "reg").agg(F.max("rho").alias("m"))
    uni_reg = rho.groupBy("reg").agg(F.max("rho").alias("m")).select(
        F.lit("union").alias("scope"), "reg", "m"
    )
    regs = src_reg.unionByName(uni_reg)
    est = regs.groupBy("scope").agg(
        F.count(F.lit(1)).cast("long").alias("obs"),
        F.sum(F.round(F.lit(1e15) * F.pow(F.lit(2.0), -F.col("m")), 0).cast("long")).cast("long").alias("s_fp"),
    )
    ex = th.groupBy(F.col("source").alias("scope")).agg(
        F.countDistinct("hx").cast("long").alias("n_exact")
    ).unionByName(
        th.agg(F.countDistinct("hx").cast("long").alias("n_exact")).select(
            F.lit("union").alias("scope"), "n_exact"
        )
    )
    alpha_m2 = (0.7213 / (1 + 1.079 / 256)) * 65536.0
    raw = F.lit(alpha_m2) / (F.col("s_fp").cast("double") / F.lit(1e15) + (F.lit(256) - F.col("obs")))
    v = (F.lit(256) - F.col("obs")).cast("long")
    e = F.when((raw <= F.lit(640.0)) & (v > 0), F.lit(256.0) * F.log(F.lit(256.0) / v)).otherwise(raw)
    return (
        est.join(ex, "scope")
        .select(
            "scope", "n_exact", F.col("obs").alias("registers_hit"),
            F.round(e, 3).alias("est_distinct"),
            F.round((e - F.col("n_exact")) / F.col("n_exact"), 6).alias("rel_err"),
        )
        .orderBy("scope")
    )



@query(
    "harmonic_centrality",
    f"""WITH {_closure_sql()},
       nodes AS (SELECT count(DISTINCT node)::BIGINT AS nn
                 FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
       h AS (
         SELECT src AS node,
                sum(round(1e9 / dist, 0)::BIGINT)::BIGINT AS h_fp,
                count(*)::BIGINT AS n_reached
         FROM reach_r WHERE dst != src GROUP BY src)
       SELECT h.node, h.n_reached,
              round(h.h_fp / (1e9 * (n.nn - 1)), 6) AS harmonic
       FROM h, nodes n
       ORDER BY h.h_fp DESC, h.node""",
)
def q_harmonic_centrality(spark, sf_dir):
    """Harmonic centrality per host (Boldi & Vigna, Internet Math.
    2014 'Axioms for centrality'): Σ 1/d(u,v) over reached nodes,
    normalized by N−1 — the closeness variant that handles
    DISCONNECTED graphs gracefully (unreachable nodes contribute 0
    instead of breaking the mean), which is why it, not classic
    closeness, is the axiomatically sound choice on web graphs. Reads
    off the SAME min-plus closure as `eccentricity`/`scc_components`
    (exact integer hop counts); per-distance reciprocals are
    1e-9-quantized so the per-node sum is an exact int64, and ranking
    uses that integer. Nothing beyond the closure's O(log D) doubling
    rounds touches scale."""
    from ..operators.graph import host_link_edges, minplus_closure

    r = minplus_closure(host_link_edges(_docs(spark, sf_dir)))
    nodes = r.select(F.col("src").alias("node")).unionAll(r.select(F.col("dst"))).agg(
        F.countDistinct("node").cast("long").alias("nn")
    )
    h = (
        r.where(F.col("dst") != F.col("src"))
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.sum(F.round(F.lit(1e9) / F.col("dist"), 0).cast("long")).cast("long").alias("h_fp"),
            F.count(F.lit(1)).cast("long").alias("n_reached"),
        )
    )
    return (
        h.crossJoin(F.broadcast(nodes))
        .select(
            "node", "n_reached",
            F.round(F.col("h_fp") / (F.lit(1e9) * (F.col("nn") - 1)), 6).alias("harmonic"),
            F.col("h_fp").alias("_h"),
        )
        .orderBy(F.col("_h").desc(), "node")
        .drop("_h")
    )



@query(
    "median_ci",
    """WITH u AS (
         SELECT user_id, count(*)::BIGINT AS a FROM events GROUP BY user_id),
       r AS (
         SELECT a, row_number() OVER (ORDER BY a, user_id) AS rn,
                count(*) OVER ()::BIGINT AS n
         FROM u),
       ranks AS (
         SELECT n,
                greatest(1, floor((n - 1.96 * sqrt(n::DOUBLE)) / 2)::BIGINT) AS lo_rank,
                least(n, ceil(1 + (n + 1.96 * sqrt(n::DOUBLE)) / 2)::BIGINT) AS hi_rank,
                (n + 1) // 2 AS med_rank
         FROM (SELECT DISTINCT n FROM r))
       SELECT k.n,
              max(CASE WHEN r.rn = k.med_rank THEN r.a END) AS median,
              max(CASE WHEN r.rn = k.lo_rank THEN r.a END) AS ci_lo,
              max(CASE WHEN r.rn = k.hi_rank THEN r.a END) AS ci_hi,
              max(k.lo_rank) AS lo_rank, max(k.hi_rank) AS hi_rank
       FROM r JOIN ranks k ON r.rn IN (k.med_rank, k.lo_rank, k.hi_rank)
       GROUP BY k.n""",
)
def q_median_ci(spark, sf_dir):
    """Distribution-free 95% confidence interval for the median of
    per-user activity (the binomial order-statistic interval, normal
    approximation to Bin(n,½) ranks — Conover, 'Practical
    Nonparametric Statistics' §3.2): the CI is a pair of ORDER
    STATISTICS, so no distributional assumption touches the data —
    the interval `bootstrap_ci` approximates by resampling comes here
    from two rank lookups. Ranks are computed once from exact
    integers (deterministic ties by user_id); the only float is the
    1.96√n in the rank formula, floored identically in both engines.
    One census, one global rank window, a 3-row lookup."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("a"))
    wr = Window.orderBy("a", "user_id")
    r = u.select(
        "a", F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("nn"),
    ).stableCheckpoint(eager=True)
    ranks = r.select(F.col("nn").alias("n")).distinct().select(
        "n",
        F.greatest(F.lit(1), F.floor((F.col("n") - F.lit(1.96) * F.sqrt(F.col("n").cast("double"))) / 2).cast("long")).alias("lo_rank"),
        F.least(F.col("n"), F.ceil(F.lit(1) + (F.col("n") + F.lit(1.96) * F.sqrt(F.col("n").cast("double"))) / 2).cast("long")).alias("hi_rank"),
        F.floor((F.col("n") + 1) / 2).cast("long").alias("med_rank"),
    )
    j = r.join(
        F.broadcast(ranks),
        (F.col("rn") == F.col("med_rank")) | (F.col("rn") == F.col("lo_rank")) | (F.col("rn") == F.col("hi_rank")),
    )
    return j.groupBy("n").agg(
        F.max(F.when(F.col("rn") == F.col("med_rank"), F.col("a"))).alias("median"),
        F.max(F.when(F.col("rn") == F.col("lo_rank"), F.col("a"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == F.col("hi_rank"), F.col("a"))).alias("ci_hi"),
        F.max("lo_rank").alias("lo_rank"),
        F.max("hi_rank").alias("hi_rank"),
    )



def _meta_dl_sql() -> str:
    return """WITH fe AS (
         SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
       stratum AS (
         SELECT e.user_id,
                min(e.event_type) AS s
         FROM events e JOIN fe ON fe.user_id = e.user_id AND e.ts = fe.t0
         GROUP BY e.user_id),
       u AS (
         SELECT st.s, (e.user_id % 2)::INT AS g,
                (sum((e.event_type = 'purchase')::INT)
                 > sum((e.event_type = 'click')::INT))::BIGINT AS y
         FROM events e JOIN stratum st ON st.user_id = e.user_id
         GROUP BY e.user_id, st.s, g),
       cells AS (
         SELECT s,
                sum((g = 0)::INT)::BIGINT AS n1, sum(CASE WHEN g = 0 THEN y ELSE 0 END)::BIGINT AS x1,
                sum((g = 1)::INT)::BIGINT AS n2, sum(CASE WHEN g = 1 THEN y ELSE 0 END)::BIGINT AS x2
         FROM u GROUP BY s
         HAVING sum((g = 0)::INT) >= 2 AND sum((g = 1)::INT) >= 2),
       eff AS (
         SELECT s, n1, n2,
                x1::DOUBLE / n1 - x2::DOUBLE / n2 AS d,
                (x1::DOUBLE / n1) * (1 - x1::DOUBLE / n1) / n1
                  + (x2::DOUBLE / n2) * (1 - x2::DOUBLE / n2) / n2 AS v
         FROM cells),
       fp AS (
         SELECT s, d, v,
                round(1e9 / v, 0)::BIGINT AS w_fp,
                round(1e9 * d / v, 0)::BIGINT AS wd_fp,
                round(1e9 / (v * v), 0)::BIGINT AS w2_fp
         FROM eff WHERE v > 0),
       agg AS (
         SELECT count(*)::BIGINT AS k,
                sum(w_fp)::BIGINT AS sw, sum(wd_fp)::BIGINT AS swd,
                sum(w2_fp)::BIGINT AS sw2
         FROM fp),
       q AS (
         SELECT a.k, a.sw, a.swd, a.sw2,
                (SELECT sum(round(1e9 * (f.d - (SELECT swd::DOUBLE / sw FROM agg))
                                  * (f.d - (SELECT swd::DOUBLE / sw FROM agg)) / f.v, 0)::BIGINT)
                 FROM fp f)::BIGINT AS q_fp
         FROM agg a),
       tau AS (
         SELECT k, sw, swd, q_fp,
                CASE WHEN k >= 2
                     THEN greatest(0.0, (q_fp / 1e9 - (k - 1))
                              / (sw / 1e9 - (sw2::DOUBLE / 1e9) / (sw / 1e9)))
                     ELSE 0.0 END AS tau2
         FROM q),
       re AS (
         SELECT t.k, t.sw, t.swd, t.q_fp, t.tau2,
                (SELECT sum(round(1e9 * f.d / (f.v + t.tau2), 0)::BIGINT) FROM fp f)::BIGINT AS rwd_fp,
                (SELECT sum(round(1e9 / (f.v + t.tau2), 0)::BIGINT) FROM fp f)::BIGINT AS rw_fp
         FROM tau t)
       SELECT k AS n_strata,
              round(swd::DOUBLE / sw, 6) AS d_fixed,
              round(q_fp / 1e9, 6) AS q_stat,
              round(tau2, 6) AS tau2,
              round(rwd_fp::DOUBLE / rw_fp, 6) AS d_random
       FROM re WHERE k >= 2"""



@query("meta_analysis_dl", _meta_dl_sql())
def q_meta_analysis_dl(spark, sf_dir):
    """Fixed- and random-effects meta-analysis of the parity-split
    purchase-dominance effect (purchases > clicks, a scale-free per-user outcome) across first-event-type strata (DerSimonian &
    Laird, Control. Clin. Trials 1986): per-stratum risk difference
    with its binomial variance, inverse-variance pooled d_fixed,
    Cochran's Q heterogeneity, the DL moment estimate τ², and the
    re-weighted d_random — the machinery for pooling the same A/B
    effect measured on heterogeneous slices, the multi-stratum
    big sibling of `cmh_odds`. Every weighted sum is re-quantized to
    1e-9 fixed point per stratum so pooling is exact int64; Q uses
    the fixed-effect mean computed from those same integers. One
    first-event stratum assignment (min-ts census), one user rollup,
    then a k≤5-row tail."""
    ev = _events(spark, sf_dir)
    fe = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    stratum = (
        ev.join(fe, "user_id")
        .where(F.col("ts") == F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("event_type").alias("s"))
    )
    u = (
        ev.join(stratum, "user_id")
        .groupBy("user_id", "s", (F.col("user_id") % 2).cast("int").alias("g"))
        .agg(
            (
                F.sum((F.col("event_type") == "purchase").cast("int"))
                > F.sum((F.col("event_type") == "click").cast("int"))
            ).cast("long").alias("y")
        )
    )
    cells = u.groupBy("s").agg(
        F.sum((F.col("g") == 0).cast("int")).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("y")).otherwise(0)).cast("long").alias("x1"),
        F.sum((F.col("g") == 1).cast("int")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g") == 1, F.col("y")).otherwise(0)).cast("long").alias("x2"),
    ).where((F.col("n1") >= 2) & (F.col("n2") >= 2))
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    eff = cells.select(
        "s",
        (p1 - p2).alias("d"),
        (p1 * (1 - p1) / F.col("n1") + p2 * (1 - p2) / F.col("n2")).alias("v"),
    ).where(F.col("v") > 0).stableCheckpoint(eager=True)
    fp = eff.select(
        "d", "v",
        F.round(F.lit(1e9) / F.col("v"), 0).cast("long").alias("w_fp"),
        F.round(F.lit(1e9) * F.col("d") / F.col("v"), 0).cast("long").alias("wd_fp"),
        F.round(F.lit(1e9) / (F.col("v") * F.col("v")), 0).cast("long").alias("w2_fp"),
    ).stableCheckpoint(eager=True)
    agg = fp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("w_fp").cast("long").alias("sw"),
        F.sum("wd_fp").cast("long").alias("swd"),
        F.sum("w2_fp").cast("long").alias("sw2"),
    )
    q = fp.crossJoin(F.broadcast(agg)).select(
        "k", "sw", "swd", "sw2",
        F.round(
            F.lit(1e9)
            * (F.col("d") - F.col("swd").cast("double") / F.col("sw"))
            * (F.col("d") - F.col("swd").cast("double") / F.col("sw"))
            / F.col("v"),
            0,
        ).cast("long").alias("q_t"),
    ).groupBy("k", "sw", "swd", "sw2").agg(F.sum("q_t").cast("long").alias("q_fp"))
    tau2 = F.when(
        F.col("k") >= 2,
        F.greatest(
            F.lit(0.0),
            (F.col("q_fp") / F.lit(1e9) - (F.col("k") - 1))
            / (F.col("sw") / F.lit(1e9) - (F.col("sw2").cast("double") / F.lit(1e9)) / (F.col("sw") / F.lit(1e9))),
        ),
    ).otherwise(F.lit(0.0))
    taudf = q.select("k", "sw", "swd", "q_fp", tau2.alias("tau2"))
    re = fp.crossJoin(F.broadcast(taudf)).select(
        "k", "sw", "swd", "q_fp", "tau2",
        F.round(F.lit(1e9) * F.col("d") / (F.col("v") + F.col("tau2")), 0).cast("long").alias("rwd_t"),
        F.round(F.lit(1e9) / (F.col("v") + F.col("tau2")), 0).cast("long").alias("rw_t"),
    ).groupBy("k", "sw", "swd", "q_fp", "tau2").agg(
        F.sum("rwd_t").cast("long").alias("rwd_fp"),
        F.sum("rw_t").cast("long").alias("rw_fp"),
    )
    return re.where(F.col("k") >= 2).select(
        F.col("k").alias("n_strata"),
        F.round(F.col("swd").cast("double") / F.col("sw"), 6).alias("d_fixed"),
        F.round(F.col("q_fp") / F.lit(1e9), 6).alias("q_stat"),
        F.round(F.col("tau2"), 6).alias("tau2"),
        F.round(F.col("rwd_fp").cast("double") / F.col("rw_fp"), 6).alias("d_random"),
    )



@query(
    "xyz_classes",
    """WITH wk AS (
         SELECT l_partkey,
                (datediff('day', DATE '1995-01-01', date_trunc('day', l_shipdate)::DATE) // 7)::BIGINT AS w,
                sum(l_quantity)::BIGINT AS q
         FROM lineitem GROUP BY 1, 2),
       span AS (
         SELECT (max(w) - min(w) + 1)::BIGINT AS nw FROM wk),
       pm AS (
         SELECT l_partkey, sum(q)::BIGINT AS s1, sum(q * q)::BIGINT AS s2
         FROM wk GROUP BY l_partkey),
       cv AS (
         SELECT p.l_partkey,
                round(1e6 * sqrt((p.s2 - p.s1::DOUBLE * p.s1 / sp.nw) / (sp.nw - 1))
                      / (p.s1::DOUBLE / sp.nw), 0)::BIGINT AS cv_fp
         FROM pm p, span sp),
       cl AS (
         SELECT l_partkey, cv_fp,
                CASE WHEN cv_fp <= 500000 THEN 'X'
                     WHEN cv_fp <= 1000000 THEN 'Y' ELSE 'Z' END AS xyz
         FROM cv)
       SELECT xyz, count(*)::BIGINT AS n_parts,
              round(sum(cv_fp) / (count(*) * 1e6), 6) AS mean_cv
       FROM cl GROUP BY xyz ORDER BY xyz""",
)
def q_xyz_classes(spark, sf_dir):
    """XYZ demand-variability classification of parts (the supply-chain
    companion of ABC/`pareto_8020`; cf. Syntetos-Boylan's quadrants in
    `demand_classes`, here on the relational fact table): coefficient
    of variation of WEEKLY shipped quantity including zero weeks —
    handled WITHOUT a calendar spine by dividing the exact part sums
    by the global week span, so absent weeks contribute their zeros
    through the algebra, not through materialized rows. CV is
    quantized to 1e-6 before both the class threshold comparison and
    the per-class mean, making the classification and the aggregate
    exact int64 decisions. One (part, week) census, one part rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        "l_partkey",
        F.floor(
            F.datediff(F.date_trunc("day", F.col("l_shipdate")).cast("date"), F.lit("1995-01-01").cast("date")) / 7
        ).cast("long").alias("w"),
    ).agg(F.sum("l_quantity").cast("long").alias("q"))
    span = wk.agg((F.max("w") - F.min("w") + 1).cast("long").alias("nw"))
    pm = wk.groupBy("l_partkey").agg(
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("s2"),
    )
    cv_fp = F.round(
        F.lit(1e6)
        * F.sqrt((F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("nw")) / (F.col("nw") - 1))
        / (F.col("s1").cast("double") / F.col("nw")),
        0,
    ).cast("long")
    cv = pm.crossJoin(F.broadcast(span)).select("l_partkey", cv_fp.alias("cv_fp"))
    cl = cv.select(
        "cv_fp",
        F.when(F.col("cv_fp") <= 500000, "X").when(F.col("cv_fp") <= 1000000, "Y").otherwise("Z").alias("xyz"),
    )
    return cl.groupBy("xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(F.sum("cv_fp") / (F.count(F.lit(1)) * F.lit(1e6)), 6).alias("mean_cv"),
    ).orderBy("xyz")



_LL_GAP_S = 1800



def _littles_sql() -> str:
    return f"""WITH e AS (
         SELECT user_id, ts,
                epoch_us(ts)::BIGINT AS us,
                CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) > {_LL_GAP_S} * 1000000
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     THEN 1 ELSE 0 END AS new_s
         FROM events),
       sess AS (
         SELECT user_id,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid,
                us
         FROM e),
       spans AS (
         SELECT user_id, sid, min(us)::BIGINT AS t0, max(us)::BIGINT AS t1
         FROM sess GROUP BY 1, 2),
       obs AS (SELECT min(t0)::BIGINT AS lo, max(t1)::BIGINT AS hi FROM spans),
       marks AS (
         SELECT t0 AS t, 1 AS delta FROM spans
         UNION ALL SELECT t1, -1 FROM spans),
       steps AS (
         SELECT t, sum(delta) AS d FROM marks GROUP BY t),
       sweep AS (
         SELECT t,
                sum(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)::BIGINT AS conc,
                lead(t) OVER (ORDER BY t) AS t_next
         FROM steps),
       integral AS (
         SELECT sum(conc * (t_next - t))::BIGINT AS area
         FROM sweep WHERE t_next IS NOT NULL),
       stats AS (
         SELECT (SELECT count(*)::BIGINT FROM spans) AS n_sessions,
                (SELECT sum(t1 - t0)::BIGINT FROM spans) AS total_dur_us,
                (SELECT hi - lo FROM obs)::BIGINT AS span_us,
                (SELECT area FROM integral) AS area_us)
       SELECT n_sessions,
              round(span_us / 1e6, 6) AS t_seconds,
              round(area_us::DOUBLE / span_us, 6) AS l_avg,
              round(n_sessions * 1e6 / span_us::DOUBLE, 6) AS lambda_per_sec,
              round(total_dur_us / (n_sessions * 1e6), 6) AS w_seconds,
              round((area_us::DOUBLE / span_us)
                    / ((n_sessions * 1e6 / span_us::DOUBLE)
                       * (total_dur_us / (n_sessions * 1e6))), 6) AS littles_ratio
       FROM stats"""



@query("littles_law_audit", _littles_sql())
def q_littles_law_audit(spark, sf_dir):
    """Little's law audit over gap-sessionized user sessions (Little,
    Oper. Res. 1961: L = λW): average concurrency L is measured
    INDEPENDENTLY by a sweep-line — +1/−1 marks at session
    start/end, running concurrency integrated over inter-mark
    intervals in exact µs int64 — while λ and W come from the session
    census; their ratio is the internal-consistency check every
    capacity model rests on (the sweep-line integral and the duration
    sum must agree exactly, so littles_ratio = 1 up to the reported
    rounding — a BIT-LEVEL audit of the sessionizer + sweep pair, the
    same double-entry style as `dq_checks`). Sessionization is the
    engine's standard 30-min-gap scan; the sweep is one global sort
    of 2·sessions marks."""
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz")).cast("long")
    e = ev.select(
        "user_id", "ts", us.alias("us"),
        F.when(
            (us - F.lag(us).over(wu) > _LL_GAP_S * 1000000) | F.lag("ts").over(wu).isNull(), 1
        ).otherwise(0).alias("new_s"),
    )
    sess = e.select(
        "user_id", "us",
        F.sum("new_s").over(wu.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    spans = sess.groupBy("user_id", "sid").agg(
        F.min("us").cast("long").alias("t0"), F.max("us").cast("long").alias("t1")
    ).stableCheckpoint(eager=True)
    obs = spans.agg(F.min("t0").alias("lo"), F.max("t1").alias("hi"))
    marks = spans.select(F.col("t0").alias("t"), F.lit(1).alias("delta")).unionAll(
        spans.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    steps = marks.groupBy("t").agg(F.sum("delta").alias("d"))
    wsw = Window.orderBy("t")
    sweep = steps.select(
        "t",
        F.sum("d").over(wsw.rowsBetween(Window.unboundedPreceding, 0)).cast("long").alias("conc"),
        F.lead("t").over(wsw).alias("t_next"),
    )
    integral = sweep.where(F.col("t_next").isNotNull()).agg(
        F.sum(F.col("conc") * (F.col("t_next") - F.col("t"))).cast("long").alias("area")
    )
    stats = (
        spans.agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.col("t1") - F.col("t0")).cast("long").alias("total_dur_us"),
        )
        .crossJoin(F.broadcast(obs.select((F.col("hi") - F.col("lo")).cast("long").alias("span_us"))))
        .crossJoin(F.broadcast(integral))
    )
    l_avg = F.col("area").cast("double") / F.col("span_us")
    lam = F.col("n_sessions") * F.lit(1e6) / F.col("span_us").cast("double")
    w_s = F.col("total_dur_us") / (F.col("n_sessions") * F.lit(1e6))
    return stats.select(
        "n_sessions",
        F.round(F.col("span_us") / F.lit(1e6), 6).alias("t_seconds"),
        F.round(l_avg, 6).alias("l_avg"),
        F.round(lam, 6).alias("lambda_per_sec"),
        F.round(w_s, 6).alias("w_seconds"),
        F.round(l_avg / (lam * w_s), 6).alias("littles_ratio"),
    )



_ABS_ROUNDS = 12

_ABS_TRANSIENT = ("click", "signup", "view")

_ABS_TARGETS = ("purchase", "error")



def _absorption_sql() -> str:
    tr_list = ", ".join(f"'{s}'" for s in _ABS_TRANSIENT)
    parts = [f"""trans AS MATERIALIZED (
         SELECT s, t, count(*)::BIGINT AS c FROM (
           SELECT s, nxt AS t FROM (
             SELECT event_type AS s,
                    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
             FROM events) WHERE nxt IS NOT NULL)
         WHERE s IN ({tr_list}) GROUP BY s, t),
       outd AS MATERIALIZED (SELECT s, sum(c)::BIGINT AS n FROM trans GROUP BY s)"""]
    # value iteration per absorbing target, fixed-point ppb
    for tgt in _ABS_TARGETS:
        prev = f"b0_{tgt}"
        parts.append(f"""{prev} AS MATERIALIZED (
         SELECT s, 0::BIGINT AS b FROM outd)""")
        for r in range(1, _ABS_ROUNDS + 1):
            cur = f"b{r}_{tgt}"
            parts.append(f"""{cur} AS MATERIALIZED (
         SELECT o.s,
                round(1e9 * (
                  coalesce((SELECT tr.c FROM trans tr
                            WHERE tr.s = o.s AND tr.t = '{tgt}'), 0)::DOUBLE / o.n
                  + (SELECT coalesce(sum(tr.c::DOUBLE * pb.b / 1e9), 0.0)
                     FROM trans tr JOIN {prev} pb ON pb.s = tr.t
                     WHERE tr.s = o.s) / o.n), 0)::BIGINT AS b
         FROM outd o)""")
            prev = cur
    return (
        "WITH " + ",\n       ".join(parts)
        + f"""
       SELECT p.s AS state,
              round(p.b / 1e9, 6) AS p_purchase,
              round(e.b / 1e9, 6) AS p_error,
              round((p.b + e.b) / 1e9, 6) AS p_absorbed
       FROM b{_ABS_ROUNDS}_purchase p JOIN b{_ABS_ROUNDS}_error e USING (s)
       ORDER BY p.s"""
    )



@query("absorption_probs", _absorption_sql())
def q_absorption_probs(spark, sf_dir):
    """Absorption probabilities of the event-type Markov chain (Kemeny
    & Snell ch. 3): from each transient state (click/signup/view),
    the probability the chain hits `purchase` before `error` — the
    outcome-probability complement of `absorbing_chain_steps`
    (expected time) and the quantity funnel attribution actually
    wants. b = R + Q·b solved by 12 unrolled value-iteration rounds,
    the iterate re-quantized to integer ppb each round so both
    engines walk one int64 trajectory; transition probabilities are
    exact count ratios from ONE user-ordered bigram census.
    p_purchase + p_error is reported as the convergence audit (→1 as
    rounds → ∞). Everything after the census runs on a 3-state grain.
    r4 perf: as with `absorbing_chain_steps`, the fitted chain is
    dimension-sized MODEL state, so after ONE corpus pass for the
    bigram census the 2×{r} value-iteration rounds run on the driver
    in the identical int64-ppb trajectory (HALF_UP at every round and
    at the final 6dp; golden-hash pinned) instead of 24 checkpointed
    join jobs.""".format(r=_ABS_ROUNDS)
    import math

    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("s"), F.lead("event_type").over(wu).alias("t")
    ).where(F.col("t").isNotNull())
    trans = pairs.where(F.col("s").isin(*_ABS_TRANSIENT)).groupBy("s", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    trows = census_collect(trans, 10_000, "event-type transition census")
    n_out: dict[str, int] = {}
    edges: dict[str, list] = {}
    for r in trows:
        n_out[r["s"]] = n_out.get(r["s"], 0) + r["c"]
        edges.setdefault(r["s"], []).append((r["t"], r["c"]))
    for s in edges:
        edges[s].sort()  # deterministic summation order
    states = sorted(n_out)
    results = {}
    for tgt in _ABS_TARGETS:
        rc = {s: 0 for s in states}
        for s in states:
            for t, c in edges[s]:
                if t == tgt:
                    rc[s] += c
        b = {s: 0 for s in states}
        for _ in range(_ABS_ROUNDS):
            qb = {
                s: sum(c * b[t] / 1e9 for (t, c) in edges[s] if t in b)
                for s in states
            }
            # F.round(x, 0) is HALF_UP; floor(x+0.5) matches for x >= 0
            b = {
                s: int(math.floor(1e9 * (rc[s] / n_out[s] + qb[s] / n_out[s]) + 0.5))
                for s in states
            }
        results[tgt] = b
    def _r6(ppb: int) -> float:
        # HALF_UP of ppb/1e9 at 6dp == floor(ppb/1000 + 0.5)/1e6 (ppb >= 0)
        return math.floor(ppb / 1000 + 0.5) / 1e6

    rows = [
        (
            s,
            _r6(results["purchase"][s]),
            _r6(results["error"][s]),
            _r6(results["purchase"][s] + results["error"][s]),
        )
        for s in states
    ]
    return spark.createDataFrame(
        rows, "state string, p_purchase double, p_error double, p_absorbed double"
    ).orderBy("state")



def _stable_sample_sql() -> str:
    from pliers_spark.functions.hashing import md5_int_sql

    h = md5_int_sql("user_id::VARCHAR")
    return f"""WITH bounds AS (
         SELECT min(datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE))::BIGINT AS lo,
                max(datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE))::BIGINT AS hi
         FROM events),
       u AS (
         SELECT user_id, min(ts) AS t0,
                (min(datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE))
                 < (SELECT (lo + hi + 1) // 2 FROM bounds)) AS early
         FROM events GROUP BY user_id),
       hash_m AS (
         SELECT 'hash_gate' AS method,
                sum((early AND ({h} % 100) < 20)::INT)::BIGINT AS n_early,
                sum((({h} % 100) < 20)::INT)::BIGINT AS n_all,
                sum((early AND ({h} % 100) < 20)::INT)::BIGINT AS n_overlap
         FROM u),
       pos_early AS (
         SELECT user_id, row_number() OVER (ORDER BY t0, user_id) AS rn
         FROM u WHERE early),
       pos_all AS (
         SELECT user_id, row_number() OVER (ORDER BY t0, user_id) AS rn
         FROM u),
       pos_m AS (
         SELECT 'position_gate' AS method,
                (SELECT count(*) FROM pos_early WHERE rn % 5 = 0)::BIGINT AS n_early,
                (SELECT count(*) FROM pos_all p JOIN u ON u.user_id = p.user_id
                 WHERE p.rn % 5 = 0 AND u.early)::BIGINT AS n_all,
                (SELECT count(*) FROM pos_early pe
                 JOIN pos_all pa ON pa.user_id = pe.user_id
                 WHERE pe.rn % 5 = 0 AND pa.rn % 5 = 0)::BIGINT AS n_overlap
         FROM (SELECT 1))
       SELECT method, n_early, n_all, n_overlap,
              CASE WHEN n_early > 0
                   THEN round(n_overlap::DOUBLE / n_early, 6) END AS stability
       FROM (SELECT * FROM hash_m UNION ALL SELECT * FROM pos_m)
       ORDER BY method"""



@query("stable_sample_audit", _stable_sample_sql())
def q_stable_sample_audit(spark, sf_dir):
    """Sample-stability audit under data growth — the property that
    makes hash-gated sampling (`hash_sample`) the only correct choice
    for longitudinal panels: take the 20% sample among EARLY users
    (first seen in the first half) and again over the full window,
    and measure how many early sampled users survive. The md5 gate is
    stable by construction (stability = 1.0: membership depends only
    on the key); the position-based gate (every 5th user by first-seen
    rank) silently RESAMPLES as rank shifts with arrivals — the
    measured churn is the bug this audit exists to demonstrate.
    Early/full flags ride one user census; both gates are windows
    over it."""
    from pliers_spark.functions.hashing import md5_int

    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    bounds = ev.agg(F.min(dd).alias("lo"), F.max(dd).alias("hi")).select(
        F.floor((F.col("lo") + F.col("hi") + 1) / 2).cast("long").alias("mid")
    )
    u = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", "mid")
        .agg(F.min("ts").alias("t0"), F.min(dd).alias("d0"))
        .select("user_id", "t0", (F.col("d0") < F.col("mid")).alias("early"))
        .stableCheckpoint(eager=True)
    )
    gate = (md5_int(F.col("user_id").cast("string")) % 100 < 20).cast("int")
    hash_m = u.agg(
        F.sum(F.when(F.col("early"), gate).otherwise(0)).cast("long").alias("n_early"),
        F.sum(gate).cast("long").alias("n_all"),
        F.sum(F.when(F.col("early"), gate).otherwise(0)).cast("long").alias("n_overlap"),
    ).select(F.lit("hash_gate").alias("method"), "n_early", "n_all", "n_overlap")
    pe = u.where("early").select(
        "user_id", F.row_number().over(Window.orderBy("t0", "user_id")).alias("rn")
    )
    pa = u.select(
        "user_id", "early", F.row_number().over(Window.orderBy("t0", "user_id")).alias("rn")
    )
    n_early_p = pe.where(F.col("rn") % 5 == 0).count()
    n_all_p = pa.where((F.col("rn") % 5 == 0) & F.col("early")).count()
    n_overlap_p = (
        pe.where(F.col("rn") % 5 == 0)
        .join(pa.where(F.col("rn") % 5 == 0).select("user_id"), "user_id", "leftsemi")
        .count()
    )
    pos_m = spark.createDataFrame(
        [("position_gate", n_early_p, n_all_p, n_overlap_p)],
        "method string, n_early long, n_all long, n_overlap long",
    )
    return (
        hash_m.unionByName(pos_m)
        .select(
            "method", "n_early", "n_all", "n_overlap",
            F.when(
                F.col("n_early") > 0,
                F.round(F.col("n_overlap").cast("double") / F.col("n_early"), 6),
            ).alias("stability"),
        )
        .orderBy("method")
    )



_LW_D = 4  # leading embedding dims used for the covariance



def _lw_sql() -> str:
    d = _LW_D
    return f"""WITH ve AS (
         SELECT vec_id, i - 1 AS dim,
                CAST(floor(embedding[i]::DOUBLE * 1e6 + 0.5) AS BIGINT) AS vu
         FROM embeddings, unnest(range(1, {d + 1})) AS u(i)),
       n_t AS (SELECT count(DISTINCT vec_id)::BIGINT AS n FROM ve),
       cells AS (
         SELECT a.dim AS i, b.dim AS j,
                sum(a.vu * b.vu)::BIGINT AS sxy,
                sum(a.vu)::BIGINT AS sxi, sum(b.vu)::BIGINT AS sxj
         FROM ve a JOIN ve b USING (vec_id)
         GROUP BY 1, 2),
       s AS (
         SELECT i, j,
                (sxy::DOUBLE / (SELECT n FROM n_t)
                 - (sxi::DOUBLE / (SELECT n FROM n_t))
                   * (sxj::DOUBLE / (SELECT n FROM n_t))) / 1e12 AS sij
         FROM cells),
       mtr AS (SELECT sum(CASE WHEN i = j THEN sij ELSE 0 END) / {d} AS m FROM s),
       d2 AS (
         SELECT sum(round(1e9 * (sij - CASE WHEN i = j THEN (SELECT m FROM mtr) ELSE 0 END)
                          * (sij - CASE WHEN i = j THEN (SELECT m FROM mtr) ELSE 0 END), 0)::BIGINT)::BIGINT AS d2_fp
         FROM s),
       mu AS (SELECT dim, sxi::DOUBLE / n AS mean_u
              FROM (SELECT dim, sum(vu)::BIGINT AS sxi FROM ve GROUP BY dim), n_t),
       percell AS (
         SELECT v.vec_id, a.dim AS i, b.dim AS j,
                ((a.vu - ma.mean_u) * (b.vu - mb.mean_u) / 1e12
                 - s.sij) AS dev
         FROM (SELECT DISTINCT vec_id FROM ve) v
         JOIN ve a ON a.vec_id = v.vec_id
         JOIN ve b ON b.vec_id = v.vec_id
         JOIN mu ma ON ma.dim = a.dim
         JOIN mu mb ON mb.dim = b.dim
         JOIN s ON s.i = a.dim AND s.j = b.dim),
       b2r AS (
         SELECT sum(t_fp)::BIGINT AS b2_fp FROM (
           SELECT round(1e9 * dev * dev / ((SELECT n FROM n_t)::DOUBLE
                        * (SELECT n FROM n_t)), 0)::BIGINT AS t_fp
           FROM percell))
       SELECT (SELECT n FROM n_t) AS n,
              round((SELECT m FROM mtr), 6) AS mu_trace,
              round((SELECT d2_fp FROM d2) / 1e9, 6) AS d2,
              round(least((SELECT b2_fp FROM b2r) / 1e9,
                          (SELECT d2_fp FROM d2) / 1e9), 6) AS b2,
              round(least((SELECT b2_fp FROM b2r)::DOUBLE, (SELECT d2_fp FROM d2)::DOUBLE)
                    / (SELECT d2_fp FROM d2), 6) AS shrinkage
       FROM (SELECT 1)"""



@query("ledoit_wolf", _lw_sql())
def q_ledoit_wolf(spark, sf_dir):
    """Ledoit-Wolf covariance shrinkage intensity on the leading 4
    embedding dimensions (Ledoit & Wolf, J. Multivar. Anal. 2004):
    the optimal weight ρ = b²/d² for shrinking the sample covariance
    toward μI, where d² = ‖S−μI‖²_F and b² = average squared
    per-observation deviation ‖x_k x_kᵀ−S‖²_F/n² — the estimator
    regularized downstreams (`pca_project`, `mahalanobis_outliers`)
    need when n/p is small. Coordinates use the shared micro-unit
    quantization; S entries are exact-moment ratios, and both
    Frobenius sums are 1e-9-quantized per term so the reductions are
    exact int64. The per-observation pass is O(n·p²) with p pinned at
    4 — linear in vectors, the published estimator's own cost."""
    emb = load_table(spark, sf_dir, "embeddings")
    ve = emb.select(
        "vec_id", F.posexplode(F.slice(F.col("embedding"), 1, _LW_D)).alias("dim", "x")
    ).select(
        "vec_id", "dim",
        F.floor(F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("vu"),
    ).stableCheckpoint(eager=True)
    n = ve.select("vec_id").distinct().count()
    cells = (
        ve.alias("a")
        .join(ve.alias("b"), "vec_id")
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
        .agg(
            F.sum(F.col("a.vu") * F.col("b.vu")).cast("long").alias("sxy"),
            F.sum(F.col("a.vu")).cast("long").alias("sxi"),
            F.sum(F.col("b.vu")).cast("long").alias("sxj"),
        )
    )
    s = cells.select(
        "i", "j",
        (
            (F.col("sxy").cast("double") / n - (F.col("sxi").cast("double") / n) * (F.col("sxj").cast("double") / n))
            / F.lit(1e12)
        ).alias("sij"),
    ).stableCheckpoint(eager=True)
    mtr = s.agg((F.sum(F.when(F.col("i") == F.col("j"), F.col("sij")).otherwise(0.0)) / _LW_D).alias("m"))
    d2 = s.crossJoin(F.broadcast(mtr)).agg(
        F.sum(
            F.round(
                F.lit(1e9)
                * (F.col("sij") - F.when(F.col("i") == F.col("j"), F.col("m")).otherwise(0.0))
                * (F.col("sij") - F.when(F.col("i") == F.col("j"), F.col("m")).otherwise(0.0)),
                0,
            ).cast("long")
        ).cast("long").alias("d2_fp")
    )
    mu = ve.groupBy("dim").agg((F.sum("vu").cast("double") / n).alias("mean_u"))
    percell = (
        ve.alias("a")
        .join(ve.alias("b"), "vec_id")
        .join(mu.select(F.col("dim").alias("ai"), F.col("mean_u").alias("ma")), F.col("a.dim") == F.col("ai"))
        .join(mu.select(F.col("dim").alias("bj"), F.col("mean_u").alias("mb")), F.col("b.dim") == F.col("bj"))
        .join(s.alias("s"), (F.col("s.i") == F.col("a.dim")) & (F.col("s.j") == F.col("b.dim")))
        .select(
            (
                ((F.col("a.vu") - F.col("ma")) * (F.col("b.vu") - F.col("mb")) / F.lit(1e12) - F.col("sij"))
            ).alias("dev")
        )
    )
    b2 = percell.agg(
        F.sum(
            F.round(F.lit(1e9) * F.col("dev") * F.col("dev") / (F.lit(float(n)) * n), 0).cast("long")
        ).cast("long").alias("b2_fp")
    )
    out = d2.crossJoin(b2).crossJoin(F.broadcast(mtr))
    return out.select(
        F.lit(n).cast("long").alias("n"),
        F.round(F.col("m"), 6).alias("mu_trace"),
        F.round(F.col("d2_fp") / F.lit(1e9), 6).alias("d2"),
        F.round(F.least(F.col("b2_fp") / F.lit(1e9), F.col("d2_fp") / F.lit(1e9)), 6).alias("b2"),
        F.round(
            F.least(F.col("b2_fp").cast("double"), F.col("d2_fp").cast("double")) / F.col("d2_fp"), 6
        ).alias("shrinkage"),
    )



_BOCPD_R = 8       # run-length cap

_BOCPD_H = 0.05    # constant hazard



def _bocpd_sql() -> str:
    R, H = _BOCPD_R, _BOCPD_H
    # fully-inlined list expressions (DuckDB's recursive term cannot LATERAL
    # into the recursive table, so m/raw are expanded textually)
    M = (f"list_transform(range(1, {R + 1}), i -> "
         f"b.w[i] * (CASE WHEN sx.x = 1 THEN b.o[i] + 1 ELSE b.l[i] + 1 - b.o[i] END)"
         f" / (b.l[i] + 2))")
    RAW = (f"list_transform(range(1, {R + 1}), i -> "
           f"CASE WHEN i = 1 THEN CAST(round({H}e0 * list_sum({M})) AS BIGINT) "
           f"ELSE CAST(round({1 - H}e0 * ({M})[i - 1]) AS BIGINT) END)")
    W2 = (f"list_transform(range(1, {R + 1}), i -> "
          f"CAST(round(1e9 * ({RAW})[i] / list_sum({RAW})) AS BIGINT))")
    zeros = "[" + ", ".join(["0"] * R) + "]"
    init_w = "[1000000000" + ", 0" * (R - 1) + "]"
    return f"""WITH daily AS (
         SELECT datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE)::BIGINT AS dd,
                count(*)::BIGINT AS c
         FROM events GROUP BY dd),
       med AS (
         SELECT c AS m FROM (
           SELECT c, row_number() OVER (ORDER BY c, dd) AS rn, count(*) OVER () AS ng
           FROM daily) WHERE rn = (ng + 1) // 2),
       s AS (
         SELECT row_number() OVER (ORDER BY dd)::BIGINT AS t, dd,
                (c > (SELECT m FROM med))::BIGINT AS x
         FROM daily),
       rec AS (
         WITH RECURSIVE b(t, w, o, l) AS (
           SELECT 0::BIGINT, {init_w}::BIGINT[], {zeros}::BIGINT[], {zeros}::BIGINT[]
           UNION ALL
           SELECT b.t + 1,
                  {W2},
                  list_transform(range(1, {R + 1}), i ->
                    CASE WHEN i = 1 THEN 0 ELSE b.o[i - 1] + sx.x END),
                  list_transform(range(1, {R + 1}), i ->
                    CASE WHEN i = 1 THEN 0 ELSE b.l[i - 1] + 1 END)
           FROM b JOIN s sx ON sx.t = b.t + 1
           WHERE b.t < (SELECT max(t) FROM s))
         SELECT t, w FROM b WHERE t >= 1),
       mapped AS (
         SELECT t, w,
                (SELECT min(i) FROM unnest(range(1, {R + 1})) AS u(i)
                 WHERE w[i] = list_max(w)) AS map_slot
         FROM rec)
       SELECT s.dd, s.x AS above_median,
              (m.map_slot - 1)::BIGINT AS map_runlen,
              round(m.w[1] / 1e9, 6) AS p_changepoint
       FROM mapped m JOIN s ON s.t = m.t
       ORDER BY s.dd"""



@query("bocpd_runlength", _bocpd_sql())
def q_bocpd_runlength(spark, sf_dir):
    """Bayesian online changepoint detection (Adams & MacKay 2007) on
    the median-binarized daily series with a Beta-Bernoulli predictive,
    constant hazard 0.05, and the run-length posterior CAPPED at 8
    slots — the truncation that gives the algorithm bounded state, the
    same bound an `applyInPandasWithState` streaming deployment needs.
    Per day: grow each run (weight × Laplace predictive × (1−h)),
    pour hazard mass into run-length 0, renormalize to integer ppb —
    so both engines carry one exact int64 posterior trajectory. The
    oracle is a recursive CTE whose recursion row carries THREE
    parallel BIGINT lists (weights, successes, lengths) rewritten by
    list_transform each step (expressions fully inlined — DuckDB's
    recursive term cannot LATERAL into its own table); Spark runs the
    same DP on the aggregate-grain day census like `holt_winters`.
    Emits the MAP run length and P(changepoint) per day."""
    import math as _m

    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    daily = ev.groupBy(dd.alias("dd")).agg(F.count(F.lit(1)).cast("long").alias("c"))
    rows = sorted(census_collect(daily, 200_000, "daily census"), key=lambda r: r.dd)
    cs = sorted((r.c, r.dd) for r in rows)
    med = cs[(len(cs) + 1) // 2 - 1][0]

    def rnd(v):
        return int(_m.floor(v + 0.5)) if v >= 0 else -int(_m.floor(-v + 0.5))

    R, H = _BOCPD_R, _BOCPD_H
    w = [1000000000] + [0] * (R - 1)
    o = [0] * R
    l = [0] * R
    out = []
    for r in rows:
        x = 1 if r.c > med else 0
        m = [
            w[i] * ((o[i] + 1) if x == 1 else (l[i] + 1 - o[i])) / (l[i] + 2)
            for i in range(R)
        ]
        raw = [rnd(H * sum(m))] + [rnd((1 - H) * m[i - 1]) for i in range(1, R)]
        tot = sum(raw)
        w = [rnd(1e9 * raw[i] / tot) for i in range(R)]
        o = [0] + [o[i - 1] + x for i in range(1, R)]
        l = [0] + [l[i - 1] + 1 for i in range(1, R)]
        mx = max(w)
        map_slot = min(i for i in range(R) if w[i] == mx)
        out.append((r.dd, x, map_slot, round(w[0] / 1e9, 6)))
    return spark.createDataFrame(
        out, "dd long, above_median long, map_runlen long, p_changepoint double"
    ).orderBy("dd")



@query(
    "kendalls_w",
    """WITH grid AS (
         SELECT (datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) % 7)::BIGINT AS wd,
                (datediff('day', DATE '2024-01-01', date_trunc('day', ts)::DATE) // 7)::BIGINT AS wi,
                count(*)::BIGINT AS x
         FROM events GROUP BY wd, wi),
       full_w AS (SELECT wi FROM grid GROUP BY wi HAVING count(*) = 7),
       ranked AS (
         SELECT g.wd,
                2 * rank() OVER (PARTITION BY g.wi ORDER BY g.x)
                  + count(*) OVER (PARTITION BY g.wi, g.x) - 1 AS ar2
         FROM grid g JOIN full_w USING (wi)),
       rsum AS (SELECT wd, sum(ar2)::BIGINT AS r2 FROM ranked GROUP BY wd),
       m_t AS (SELECT count(*)::BIGINT AS m FROM full_w),
       s4 AS (
         SELECT sum((r2 - (SELECT m FROM m_t) * 8) * (r2 - (SELECT m FROM m_t) * 8))::BIGINT AS s4
         FROM rsum)
       SELECT (SELECT m FROM m_t) AS n_weeks,
              round(3.0 * s4 / ((SELECT m FROM m_t)::DOUBLE * (SELECT m FROM m_t) * 336), 6) AS w,
              round((SELECT m FROM m_t) * 6
                    * (3.0 * s4 / ((SELECT m FROM m_t)::DOUBLE * (SELECT m FROM m_t) * 336)), 6) AS chi2
       FROM s4""",
)
def q_kendalls_w(spark, sf_dir):
    """Kendall's coefficient of concordance W across weeks ranking the
    7 weekdays (Kendall & Babington Smith, AMS 1939): W = 12S/(m²k(k²−1))
    measures how consistently the weekly volume profile repeats — the
    effect-size companion to `friedman_test` (χ² = m(k−1)W) and the
    agreement sibling of `page_trend` (which additionally demands a
    MONOTONE order). Ranks use the shared doubled-midrank integers, so
    S arrives as one exact int64 via Σ(R2_j − 8m)² = 4S (the doubled
    deviations), folded into W as 3S4/(m²·336) for k=7. One day
    census, ≤7-row tail."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    dd = F.datediff(day, F.lit("2024-01-01").cast("date")).cast("long")
    grid = ev.groupBy((dd % 7).alias("wd"), F.floor(dd / 7).cast("long").alias("wi")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    full_w = grid.groupBy("wi").agg(F.count(F.lit(1)).alias("nw")).where(F.col("nw") == 7).select("wi")
    wrk = Window.partitionBy("wi").orderBy("x")
    wties = Window.partitionBy("wi", "x")
    ranked = grid.join(F.broadcast(full_w), "wi").select(
        "wd",
        (F.lit(2) * F.rank().over(wrk) + F.count(F.lit(1)).over(wties) - 1).alias("ar2"),
    )
    rsum = ranked.groupBy("wd").agg(F.sum("ar2").cast("long").alias("r2"))
    m_df = full_w.agg(F.count(F.lit(1)).cast("long").alias("m"))
    s4 = rsum.crossJoin(F.broadcast(m_df)).agg(
        F.max("m").alias("m"),
        F.sum((F.col("r2") - F.col("m") * 8) * (F.col("r2") - F.col("m") * 8)).cast("long").alias("s4"),
    )
    w_stat = F.lit(3.0) * F.col("s4") / (F.col("m").cast("double") * F.col("m") * F.lit(336))
    return s4.select(
        F.col("m").alias("n_weeks"),
        F.round(w_stat, 6).alias("w"),
        F.round(F.col("m") * 6 * w_stat, 6).alias("chi2"),
    )



@query(
    "lorenz_deciles",
    """WITH u AS (
         SELECT user_id, count(*)::BIGINT AS a FROM events GROUP BY user_id),
       r AS (
         SELECT a, row_number() OVER (ORDER BY a, user_id) AS rn,
                count(*) OVER ()::BIGINT AS n
         FROM u),
       dec AS (
         SELECT ((rn * 10 - 1) // n + 1)::BIGINT AS decile, a FROM r),
       g AS (
         SELECT decile, count(*)::BIGINT AS n_users, sum(a)::BIGINT AS events
         FROM dec GROUP BY decile),
       cum AS (
         SELECT decile, n_users, events,
                sum(events) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_events,
                sum(events) OVER ()::BIGINT AS total
         FROM g)
       SELECT decile, n_users, events,
              round(cum_events::DOUBLE / total, 6) AS cum_share
       FROM cum ORDER BY decile""",
)
def q_lorenz_deciles(spark, sf_dir):
    """Lorenz curve of activity concentration at decile resolution
    (Lorenz, JASA 1905): users sorted ascending by event count with
    deterministic ties, bucketed into deciles by the exact rank
    formula (rn·10−1)//n + 1, cumulative event share per decile — the
    curve whose area deficit IS the Gini (`gini_over_time`,
    `theil_index` report the scalars; this emits the curve itself,
    what capacity/fairness dashboards plot, and `pareto_8020`'s
    80/20 readout is one point of it). All masses are exact integer
    prefix sums; the only division is the final share. One census,
    one rank window, 10-row tail."""
    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("a"))
    wr = Window.orderBy("a", "user_id")
    r = u.select(
        "a", F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
    )
    dec = r.select((F.floor((F.col("rn") * 10 - 1) / F.col("n")) + 1).cast("long").alias("decile"), "a")
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("a").cast("long").alias("events"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "decile", "n_users", "events",
        F.sum("events").over(wc).cast("long").alias("cum_events"),
        F.sum("events").over(Window.partitionBy()).cast("long").alias("total"),
    )
    return cum.select(
        "decile", "n_users", "events",
        F.round(F.col("cum_events").cast("double") / F.col("total"), 6).alias("cum_share"),
    ).orderBy("decile")
