"""Round-close artifact gates.

These tests read COMMITTED files (BENCH_FULL.json, bench.py, the
package source) rather than live query output — they make the
round-close checklist mechanical: a failing gate here means an
artifact was recorded with an untriaged problem, or the harness or
package drifted from its contract, not that the engine is wrong.
"""

from __future__ import annotations

import ast
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    import sys

    sys.path.insert(0, ROOT)
    import bench

    return bench


def _bench_lists():
    bench = _bench()
    return bench.BENCH_QUERIES, bench.HEAVY_QUERIES, bench.CENSUS_TRIAGED


def test_bench_suite_membership_consistent():
    """Suite / heavy / triage lists must name registered queries with
    no overlaps: a query in both the suite and HEAVY would be timed
    twice with different estimators, and a CENSUS_TRIAGED entry that
    is also in HEAVY is dead weight (heavy membership already triages
    it)."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    suite, heavy, triaged = _bench_lists()
    assert len(suite) == len(set(suite))
    unknown = [n for n in [*suite, *heavy, *triaged] if n not in QUERY_REGISTRY]
    assert not unknown, unknown
    assert not set(suite) & set(heavy)
    assert not set(triaged) & set(heavy)
    assert not set(triaged) & set(suite)
    for name, reason in triaged.items():
        assert isinstance(reason, str) and len(reason) >= 20, (
            f"census triage for {name} needs a real reason, not a stub")


def test_census_has_no_untriaged_tail():
    """VERDICT-r9 task 3: the committed BENCH_FULL.json must show an
    empty untriaged->5s census list. A census entry over 5s has to be
    promoted into BENCH_HEAVY or recorded in bench.CENSUS_TRIAGED
    with a reason — this is how the next tj_resample_interpolate-class
    surprise (a ~7s query nobody ever timed) gets caught by process
    instead of by luck."""
    path = os.path.join(ROOT, "BENCH_FULL.json")
    if not os.path.exists(path):
        pytest.skip("BENCH_FULL.json not present in this checkout")
    doc = json.load(open(path))
    if "census" not in doc:
        pytest.skip("BENCH_FULL.json predates the census format")
    assert doc.get("census_over5s_untriaged") == [], (
        doc.get("census_over5s_untriaged"))
    # the recorded census really covered the registry: suite + heavy +
    # census together must account for every registered query
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    suite, heavy, _ = _bench_lists()
    covered = set(doc.get("queries", {})) | set(doc.get("heavy", {})) | set(
        doc.get("census", {}))
    missing = [n for n in QUERY_REGISTRY if n not in covered]
    # registered-after-the-bench-run queries are legitimate gaps only
    # until the next closing bench; flag everything else
    assert not missing, missing


def test_compact_line_fits_or_fails_loudly():
    """The compact last bench line must fit the stdout tail budget: the
    committed 65-entry record fits (after trimming noisy_min), and a
    queries map too long to fit even without noisy_min raises instead
    of printing a line the tail capture would cut off."""
    bench = _bench()
    path = os.path.join(ROOT, "BENCH_FULL.json")
    if not os.path.exists(path):
        pytest.skip("BENCH_FULL.json not present in this checkout")
    doc = json.load(open(path))
    line = bench.compact_line(doc)
    assert len(line) <= bench.COMPACT_BUDGET
    assert set(json.loads(line)["queries"]) == set(doc["queries"])

    names = [f"synthetic_query_{i:02d}" for i in range(80)]
    synthetic = {
        "metric": "headline_query_suite_wall", "value": 80.0, "unit": "sec",
        "queries": {n: 1.0 for n in names},
        "query_spread": {n: {"min": 0.5, "max": 2.0} for n in names},
        "noisy_queries": names[:5],
        "census_over5s_untriaged": ["synthetic_census_tail"],
        "sf": 0.1,
    }
    with pytest.raises(ValueError, match=r"compact bench line is \d+ chars"):
        bench.compact_line(synthetic)


def test_package_reads_no_env_vars_outside_session():
    """Only session.py may read the environment. An env var read inside
    plan code is a knob a stray value can flip silently (a leaked
    measurement setting turned persists off, a malformed one raised
    mid-plan)."""
    pkg = os.path.join(ROOT, "bdc_collection_builder_spark")
    reads = []
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, pkg)
            if not fname.endswith(".py") or rel == "session.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), rel)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Attribute)
                        and node.attr in ("environ", "getenv")
                        and isinstance(node.value, ast.Name)
                        and node.value.id == "os") or (
                        isinstance(node, ast.ImportFrom)
                        and node.module == "os"
                        and {a.name for a in node.names} & {"environ",
                                                            "getenv"}):
                    reads.append(f"{rel}:{node.lineno}")
    assert not reads, reads
