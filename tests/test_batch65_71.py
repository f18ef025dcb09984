"""Batches 65-71: interval-sum window distinct, tail index, energy
distance, Bradley-Terry, McNemar, Chao-Shen, Borda/Copeland, Fisher LDA,
Jarque-Bera, assortativity, burstiness, dispersion."""

import math
import os
from datetime import datetime


def _write(spark, tmp_path, name, rows, schema):
    d = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, f"{name}.parquet")
    )
    return d


DOCS = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
LI = "l_orderkey long, l_partkey long"


def test_rolling_distinct_interval_identity(spark, tmp_path):
    """User 1 active days 0 and 3; user 2 active day 0 only. 7-day
    window counts must match brute force."""
    from pliers_spark.queries import QUERIES

    rows = [
        (1, datetime(2024, 1, 1), 1, "t", 1.0, ""),
        (2, datetime(2024, 1, 4), 1, "t", 1.0, ""),
        (3, datetime(2024, 1, 1), 2, "t", 1.0, ""),
    ]
    sf = _write(spark, tmp_path, "events", rows, EVENTS)
    out = {r.day: r.distinct_users_7d for r in QUERIES["rolling_distinct_users"](spark, sf).collect()}
    # brute force: window [d-6, d]
    assert out == {0: 2, 1: 2, 2: 2, 3: 2}


def test_hill_alpha_pareto_exact(spark, tmp_path):
    """Exact Pareto tail x_(i) = c * (k+1)/i ** (1/alpha) gives Hill
    alpha-hat ~ alpha. Use alpha = 2 on a deterministic grid."""
    from pliers_spark.queries import QUERIES

    alpha = 2.0
    n = 150
    rows = [
        (i, "t", "en", "s", int(round(100 * ((n + 1) / (i + 1)) ** (1 / alpha))))
        for i in range(n)
    ]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["hill_tail_index"](spark, sf).collect()[0]
    assert r.k == 100
    assert abs(r.hill_alpha - alpha) < 0.35  # integer rounding of x blurs it


def test_energy_distance_identical_groups_zero(spark, tmp_path):
    """Same length multiset in both langs -> E-distance 0."""
    from pliers_spark.queries import QUERIES

    rows = [(i, "t", "en", "s", 10 + (i % 5)) for i in range(50)]
    rows += [(100 + i, "t", "fr", "s", 10 + (i % 5)) for i in range(50)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["energy_distance"](spark, sf).collect()[0]
    assert r.energy_distance == 0.0


def test_bradley_terry_dominant_source_strongest(spark, tmp_path):
    """Source b's docs are all longer than a's -> b's strength > a's,
    and wins are the full cross count."""
    from pliers_spark.queries import QUERIES

    rows = [(i, "t", "en", "a", 10 + i) for i in range(10)]
    rows += [(100 + i, "t", "en", "b", 1000 + i) for i in range(10)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = {r.source: r for r in QUERIES["bradley_terry"](spark, sf).collect()}
    assert out["b"].wins == 100 and out["a"].wins == 0
    assert out["b"].bt_strength > out["a"].bt_strength


def test_mcnemar_discordant_cells(spark, tmp_path):
    """Craft 3 docs where A is right and B wrong, 1 doc the reverse:
    b=3, c=1, chi2 = (|3-1|-1)^2/4 = 0.25."""
    from pliers_spark.queries import QUERIES

    rows = [
        # en, long (A right), no 'the' (B wrong) x3
        (1, "alpha beta", "en", "s", 600),
        (2, "alpha beta", "en", "s", 700),
        (3, "alpha beta", "en", "s", 800),
        # en, short (A wrong), contains 'the' (B right) x1
        (4, "the alpha", "en", "s", 100),
    ]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["mcnemar_test"](spark, sf).collect()[0]
    assert r.a_only_correct == 3 and r.b_only_correct == 1
    assert r.mcnemar_chi2 == 0.25


def test_chao_shen_no_singletons_equals_naive(spark, tmp_path):
    """No hapaxes -> coverage 1 -> Chao-Shen reduces to (nearly) the
    plug-in estimate (HT weights 1/(1-(1-p)^N) ~ 1 for large counts)."""
    from pliers_spark.queries import QUERIES

    text = " ".join(["aa"] * 30 + ["bb"] * 30)
    rows = [(1, text, "en", "s", len(text))]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["chao_shen_entropy"](spark, sf).collect()[0]
    assert r.singletons == 0 and r.coverage == 1.0
    assert abs(r.h_chao_shen - r.h_naive) < 1e-4
    assert abs(r.h_naive - math.log(2)) < 1e-5


def test_fisher_lda_separates_shifted_classes(spark, tmp_path):
    """en docs have larger chars at same token count -> w_chars
    dominates with positive sign toward en."""
    from pliers_spark.queries import QUERIES

    rows = [(i, " ".join(["a"] * (3 + i % 3)), "fr", "s", 100 + i % 7) for i in range(30)]
    rows += [(100 + i, " ".join(["a"] * (3 + i % 3)), "en", "s", 200 + i % 7) for i in range(30)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["fisher_lda"](spark, sf).collect()[0]
    assert r.w_chars > 0 and r.fisher_criterion > 0


def test_jarque_bera_symmetric_data(spark, tmp_path):
    """Symmetric two-point distribution: skewness exactly 0, excess
    kurtosis exactly -2 (Bernoulli +-1), JB = n/6 * (0 + 4/4) = n/6."""
    from pliers_spark.queries import QUERIES

    rows = [(i, "t", "en", "s", 100) for i in range(20)]
    rows += [(100 + i, "t", "en", "s", 200) for i in range(20)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    r = QUERIES["jarque_bera"](spark, sf).collect()[0]
    assert r.skewness == 0.0 and r.excess_kurtosis == -2.0
    assert abs(r.jb_stat - 40 / 6) < 1e-4


def test_assortativity_perfect_mixing(spark, tmp_path):
    """Two disjoint same-brand cliques -> every edge same-brand ->
    r = 1 is undefined only if expected=1; here brands split evenly so
    r is positive and trace = 1."""
    from pliers_spark.queries import QUERIES

    li = [(1, 10), (1, 11), (2, 20), (2, 21)]
    part = [(10, "n", "B1", "t", 1, 1.0), (11, "n", "B1", "t", 1, 1.0),
            (20, "n", "B2", "t", 1, 1.0), (21, "n", "B2", "t", 1, 1.0)]
    sf = _write(spark, tmp_path, "lineitem", li, LI)
    _write(spark, tmp_path, "part", part,
           "p_partkey long, p_name string, p_brand string, p_type string, p_size long, p_retailprice double")
    r = QUERIES["attribute_assortativity"](spark, sf).collect()[0]
    assert r.trace == 1.0 and r.assortativity_r == 1.0


def test_word_burstiness_repeating_word(spark, tmp_path):
    """'zz' always repeats when present; 'qq' never does."""
    from pliers_spark.queries import QUERIES

    rows = [(i, "zzzz zzzz qqqq aaaa", "en", "s", 20) for i in range(10)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = {r.word: r for r in QUERIES["word_burstiness"](spark, sf).collect()}
    assert out["zzzz"].p_repeat == 1.0
    assert out["qqqq"].p_repeat == 0.0
    assert out["zzzz"].adaptation > out["qqqq"].adaptation


def test_dispersion_dp_bounds(spark, tmp_path):
    """A word exclusive to one of two equal-size sources has DP = 0.5;
    a perfectly spread word has DP = 0."""
    from pliers_spark.queries import QUERIES

    rows = [(1, "only aaaa bbbb cccc", "en", "a", 20),
            (2, "aaaa bbbb cccc dddd", "en", "b", 20)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = {r.word: r.dp for r in QUERIES["word_dispersion_dp"](spark, sf).collect()}
    assert out["only"] == 0.5
    assert out["aaaa"] == 0.0
