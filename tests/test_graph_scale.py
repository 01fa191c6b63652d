"""At-scale plan shape for the iterative graph ops (round-5 close of the
round-4 verdict's "What's wrong #1/#4"): above the host-count gate
(`graph._BCAST_HOSTS_MAX`), g1/g4/g8 must run the co-partitioned Pregel
layout — no forced broadcast of the |hosts|-sized score vector, no
per-iteration re-shuffle of the pinned edge table — and the final ranking
must not be a single-partition global window at ANY host count.

The gate is exercised on fixture data by monkeypatching the threshold to 0
(the documented purpose of the env override), and the big-mode results
must be bit-identical to the broadcast-mode results the DuckDB oracles
already hash-check.
"""

from __future__ import annotations

import pytest

from spider_spark.operators import QUERIES


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", ["g1_host_pagerank", "g4_hits", "g8_trustrank"])
def test_big_mode_bit_identical_to_broadcast_mode(spark, sf_dir, name, monkeypatch):
    import spider_spark.operators.graph as G

    small = _rows(QUERIES[name](spark, sf_dir))
    monkeypatch.setattr(G, "_BCAST_HOSTS_MAX", 0)
    big = _rows(QUERIES[name](spark, sf_dir))
    assert big == small


@pytest.mark.parametrize("name", ["g1_host_pagerank", "g8_trustrank"])
def test_big_mode_plan_no_broadcast_no_per_iteration_edge_exchange(
    spark, sf_dir, name, monkeypatch
):
    """Above the gate: zero BroadcastExchange anywhere (the score vector is
    tens of GB at 10^9 hosts — a forced broadcast is the round-4 defect),
    and the per-iteration joins are all shuffled-hash against the PINNED
    edge checkpoint, so hash exchanges stay bounded by the per-iteration
    score aggregation (one per iteration) + the constant-count rank/name
    machinery — NOT by iterations × edge-table shuffles."""
    import spider_spark.operators.graph as G

    monkeypatch.setattr(G, "_BCAST_HOSTS_MAX", 0)
    # Fixture tables are KB-sized, so Catalyst's size-based planning would
    # still broadcast them — which is fine and adaptive. Disabling the
    # auto threshold emulates at-scale statistics: any BroadcastExchange
    # left in the plan can only come from a FORCED broadcast hint, the
    # exact round-4 defect this test pins. AQE stays ON (the production
    # default — and the analyzer's self-reference dedup only reliably
    # hits the cache under it); the walk starts at the AdaptiveSparkPlan
    # wrapper's initialPlan and stops at InMemoryTableScan leaves, so the
    # cached build plans (run ONCE at setup) don't count against the
    # per-iteration exchange budget.
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        jplan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    if jplan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        jplan = jplan.initialPlan()

    counts: dict[str, int] = {}

    def _walk(node):
        counts[node.getClass().getSimpleName()] = (
            counts.get(node.getClass().getSimpleName(), 0) + 1
        )
        it = node.children().iterator()
        while it.hasNext():
            _walk(it.next())

    _walk(jplan)
    assert counts.get("BroadcastExchangeExec", 0) == 0, counts
    assert counts.get("CartesianProductExec", 0) == 0, counts
    assert counts.get("BroadcastNestedLoopJoinExec", 0) == 0, counts
    # 5 edge⋈score joins + 5 host⋈incoming joins, all hinted shuffle-hash
    assert counts.get("ShuffledHashJoinExec", 0) >= 10, counts
    # live Exchange budget: 5 score-sum exchanges (one per iteration) plus
    # the constant tail (hosts name join + two-phase rank join-back = 3) —
    # the pinned edge/host caches contribute ZERO. A regression that
    # re-shuffles the edge table per iteration adds 5 more and trips this.
    assert counts.get("ShuffleExchangeExec", 0) <= 8, counts
    # and the pinned sides must actually read from cache (edges x5 +
    # host_ids x6 appearances)
    assert counts.get("InMemoryTableScanExec", 0) >= 10, counts


def test_g4_big_mode_plan_checkpoint_cut(spark, sf_dir, monkeypatch):
    """g4 localCheckpoints every half-step, so its final plan only shows
    the closing segment — still: no broadcast of a hosts-sized side, no
    BNLJ (big mode collects the normalization total as a Pregel-style
    scalar aggregate instead of a 1-row broadcast cross join)."""
    import spider_spark.operators.graph as G

    monkeypatch.setattr(G, "_BCAST_HOSTS_MAX", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            QUERIES["g4_hits"](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["g1_host_pagerank", "g8_trustrank"])
def test_rank_never_uses_global_window(spark, sf_dir, name):
    """DEFAULT mode: the output dense rank must come from the two-phase
    range-partitioned helper, not a WindowExec over an unpartitioned
    orderBy (one task sorting 10^8 hosts — round-4 verdict #4)."""
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_dense_rank_desc_handles_ties(spark):
    """dense_rank over a heavily-tied column: ties share a rank, ranks are
    dense from 1, descending by value."""
    from spider_spark.operators.graph import _dense_rank_desc

    rows = [(i, [50, 10, 50, 30, 10, 30, 30][i % 7]) for i in range(70)]
    df = spark.createDataFrame(rows, "id long, score long")
    got = {
        (r["id"], r["score"]): r["rk"]
        for r in _dense_rank_desc(df, "score", "rk").collect()
    }
    expect_rank = {50: 1, 30: 2, 10: 3}
    assert len(got) == 70
    for (_, score), rk in got.items():
        assert rk == expect_rank[score]
