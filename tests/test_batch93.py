"""Batch 93: condensation layers, Sinkhorn OT, partial correlation."""

import os


def _write(spark, tmp_path, name, rows, schema):
    d = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, f"{name}.parquet")
    )
    return d


DOCS = "doc_id long, text string, lang string, source string, n_chars long"
EMB = "vec_id long, embedding array<float>, label int"


def test_maxplus_closure_dag(spark):
    """Diamond DAG 1->2->4, 1->3->4, plus 2->3: longest 1->4 is 3."""
    from pliers_spark.operators.graph import maxplus_closure

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (2, 3)], "src long, dst long"
    )
    out = {(r.src, r.dst): r.dist for r in maxplus_closure(e).collect()}
    assert out[(1, 4)] == 3  # 1->2->3->4
    assert out[(1, 3)] == 2  # 1->2->3 beats direct


def test_condensation_layers_structure(spark):
    """Real sf0.001 host graph: layers are a valid topological order —
    every condensation edge goes from a lower to a strictly higher
    layer; member counts sum to the host count."""
    from pliers_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    layers = {r.scc_id: r for r in QUERIES["condensation_layers"](spark, sf).collect()}
    sccs = QUERIES["scc_components"](spark, sf).collect()
    node2scc = {r.node: r.scc_id for r in sccs}
    assert sum(r.n_members for r in layers.values()) == len(sccs)
    from pliers_spark.operators.graph import host_link_edges
    from pliers_spark.queries._registry import _docs

    edges = host_link_edges(_docs(spark, sf)).collect()
    for e in edges:
        sa, sb = node2scc[e.src], node2scc[e.dst]
        if sa != sb:
            assert layers[sb].layer > layers[sa].layer


def test_sinkhorn_identical_marginals_diagonal(spark, tmp_path):
    """src0 and src1 with identical length histograms: the plan is
    diagonal-dominant and total cost ~ 0."""
    from pliers_spark.queries import QUERIES

    rows = []
    did = 0
    for src in ("src0", "src1"):
        for b in range(5):
            for _ in range(4):
                rows.append((did, "t", "en", src, 200 * b + 50))
                did += 1
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = QUERIES["sinkhorn_ot"](spark, sf).collect()
    diag = sum(r.p_fp for r in out if r.i == r.j)
    off = sum(r.p_fp for r in out if r.i != r.j)
    assert diag > 3 * off
    assert out[0].total_cost < 0.5


def test_sinkhorn_shifted_mass_costs(spark, tmp_path):
    """src0 all in bin 0, src1 all in bin 4: cost approaches 4."""
    from pliers_spark.queries import QUERIES

    rows = [(i, "t", "en", "src0", 50) for i in range(10)]
    rows += [(100 + i, "t", "en", "src1", 950) for i in range(10)]
    sf = _write(spark, tmp_path, "documents", rows, DOCS)
    out = QUERIES["sinkhorn_ot"](spark, sf).collect()
    assert out[0].total_cost > 3.5


def test_partial_correlation_removes_confound(spark, tmp_path):
    """a and b both equal c plus tiny independent wiggles: raw r_ab is
    high, partial r_ab.c collapses toward 0."""
    from pliers_spark.queries import QUERIES

    rows = []
    for i in range(40):
        c = float(i) / 40.0
        a = c + 0.001 * ((i * 7) % 5 - 2)
        b = c + 0.001 * ((i * 11) % 5 - 2)
        rows.append((i, [a, b, c] + [0.0] * 61, 0))
    sf = _write(spark, tmp_path, "embeddings", rows, EMB)
    r = QUERIES["partial_correlation"](spark, sf).collect()[0]
    assert r.r_ab > 0.99
    assert abs(r.partial_r) < 0.5
