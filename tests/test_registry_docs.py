"""Registry ↔ docs ↔ bench consistency (VERDICT r3 item 7): the r2-era
stale-count drift (COVERAGE.md claiming a different query total than
the registry) must be structurally impossible — this test pins every
stated count and every referenced query name to the live registry."""

import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry():
    from pliers_spark.queries import QUERIES

    return QUERIES


def test_coverage_md_counts_match_registry():
    q = _registry()
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(r"(\d+) registered queries", text)
    assert m, "COVERAGE.md must state the registered query count"
    assert int(m.group(1)) == len(q), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(q)} — "
        "update COVERAGE.md"
    )
    for m2 in re.finditer(r"ALL (\d+) pass", text):
        assert int(m2.group(1)) == len(q), "stale pass-count in COVERAGE.md"


def test_bench_headline_names_are_registered():
    import bench

    q = _registry()
    missing = [n for n in bench.HEADLINE_QUERIES if n not in q]
    assert not missing, f"bench HEADLINE names not in registry: {missing}"
    # every query a recorded correctness run sampled must stay registered
    for i in range(1, 6):
        path = os.path.join(REPO, f"CORRECTNESS_r0{i}.json")
        sampled = [n for n in json.load(open(path)) if n not in q]
        assert not sampled, f"{os.path.basename(path)} names not in registry: {sampled}"
    assert len(set(bench.HEADLINE_QUERIES)) == len(bench.HEADLINE_QUERIES), (
        "duplicate names in HEADLINE_QUERIES"
    )


def test_full_queries_covers_registry():
    import bench

    q = _registry()
    full = bench._full_queries()
    assert set(full) == set(q), "bench --full must cover the whole registry"
    assert len(full) == len(q)


def test_driver_contract_matches_registry():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    q = _registry()
    dq = E.queries()
    assert set(dq) == set(q), "__spark_entry__.queries() drifted from registry"
    oracles = E.oracle_sql()
    assert set(oracles) <= set(dq)
    missing_oracle = set(dq) - set(oracles)
    assert not missing_oracle, (
        f"queries without oracle_sql (driver records weaker check): {missing_oracle}"
    )


def test_golden_hashes_cover_registry():
    q = _registry()
    hashes = json.load(open(os.path.join(REPO, "tests", "golden_hashes.json")))
    missing = set(q) - set(hashes)
    assert not missing, (
        f"queries without a recorded golden hash (run tools/golden_hashes.py "
        f"--update <name>): {missing}"
    )
    stale = set(hashes) - set(q)
    assert not stale, f"golden hashes for unregistered queries: {stale}"
