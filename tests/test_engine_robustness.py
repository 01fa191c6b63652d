"""Engine ≡ oracle across different random worlds — not just the shared
fixture. Each world varies topology (hosts, sizes, branching, delays)."""

from __future__ import annotations

import os

import pytest

from spider_spark.fixtures import write_world
from spider_spark.oracle import CrawlPolicy, crawl

CASES = [
    dict(seed=7, n_hosts=5, median_pages=8, hot_factor=6, branching=3),
    dict(seed=99, n_hosts=13, median_pages=6, hot_factor=12, branching=2,
         dead_link_rate=0.15),
    dict(seed=123, n_hosts=3, median_pages=20, hot_factor=3, branching=5,
         delays=[0, 3000]),
]

POLICY = CrawlPolicy(max_per_host=3, round_ms=6_000, max_retries=1, max_rounds=8)


@pytest.mark.parametrize("spec", CASES, ids=[f"seed{c['seed']}" for c in CASES])
def test_engine_matches_oracle_random_worlds(spark, tmp_path, spec):
    import pyarrow.parquet as pq

    from spider_spark.engine import CrawlEngine

    wdir = str(tmp_path / f"world{spec['seed']}")
    write_world(wdir, **spec)

    pages_t = pq.read_table(os.path.join(wdir, "pages.parquet"))
    pages = dict(zip(pages_t["url"].to_pylist(), pages_t["html"].to_pylist()))
    seeds_t = pq.read_table(os.path.join(wdir, "seeds.parquet"))
    seeds = list(zip(seeds_t["url"].to_pylist(), seeds_t["priority"].to_pylist()))
    rob_t = pq.read_table(os.path.join(wdir, "robots.parquet"))
    robots = {
        h: (d, p)
        for h, d, p in zip(
            rob_t["host"].to_pylist(),
            rob_t["crawl_delay_ms"].to_pylist(),
            rob_t["disallow_prefixes"].to_pylist(),
        )
    }
    want = crawl(pages, seeds, robots, POLICY)

    eng = CrawlEngine(
        spark,
        pages_path=os.path.join(wdir, "pages.parquet"),
        robots_path=os.path.join(wdir, "robots.parquet"),
        checkpoint_dir=str(tmp_path / f"ckpt{spec['seed']}"),
        policy=POLICY,
        n_partitions=4,
    )
    eng.run(seeds=spark.read.parquet(os.path.join(wdir, "seeds.parquet")))

    got_order = {r["url"]: r["seq"] for r in eng.results().select("url", "seq").collect()}
    assert got_order == dict(want.order)
    got_seen = {r["url"] for r in eng.seen().collect()}
    assert got_seen == want.seen
    dead_df = eng.dead()
    got_dead = {r["url"] for r in dead_df.collect()} if dead_df is not None else set()
    assert got_dead == want.dead


def test_time_travel_reads_are_committed_prefixes(spark, tmp_path):
    """Iceberg-snapshot-read analog: every ``*_at``/``as_of_round`` reader
    reproduces the state exactly as committed at that round — results are
    a strict prefix (with UNCHANGED seq values) of later reads, frontier
    snapshots match the committed pending counts, and compaction prunes
    old frontier snapshots while leaving delta time-travel intact."""
    import pytest

    from spider_spark.engine import CrawlEngine

    wdir = str(tmp_path / "ttworld")
    write_world(wdir, seed=31, n_hosts=6, median_pages=10, branching=3)
    eng = CrawlEngine(
        spark,
        pages_path=os.path.join(wdir, "pages.parquet"),
        robots_path=os.path.join(wdir, "robots.parquet"),
        checkpoint_dir=str(tmp_path / "ttckpt"),
        policy=CrawlPolicy(max_per_host=3, round_ms=6_000, max_retries=1,
                           max_rounds=3),
        n_partitions=4,
    )
    eng.run(seeds=spark.read.parquet(os.path.join(wdir, "seeds.parquet")))
    last = eng.last_committed_round()
    assert last >= 2

    # per-round metrics give the committed truth to check snapshots against
    mrows = {r["round"]: r for r in eng.metrics().collect()}
    live = {r["url"]: r["seq"] for r in eng.results().collect()}
    for r in range(1, last + 1):
        snap = {
            row["url"]: row["seq"]
            for row in eng.results(as_of_round=r).collect()
        }
        # prefix property: same urls crawled by round r, identical seq
        assert snap == {u: s for u, s in live.items()
                        if u in snap}, f"round {r} not a prefix"
        assert len(snap) == sum(
            mrows[i]["fetched"] for i in range(1, r + 1)
        )
        assert eng.frontier_at(r).count() == mrows[r]["pending"]
        seen_r = {row["url"] for row in eng.seen(as_of_round=r).collect()}
        seen_r1 = {
            row["url"]
            for row in eng.seen(as_of_round=min(r + 1, last)).collect()
        }
        assert seen_r <= seen_r1

    with pytest.raises(ValueError):
        eng.results(as_of_round=last + 1)
    with pytest.raises(ValueError):
        eng.frontier_at(-1)

    # compaction expires old frontier snapshots, keeps delta time-travel
    eng.compact()
    assert eng.frontier_at(last).count() == mrows[last]["pending"]
    with pytest.raises(ValueError):
        eng.frontier_at(1)
    assert len(eng.results(as_of_round=1).collect()) == mrows[1]["fetched"]


def test_repeated_results_reads_keep_seq(spark, world_dir, tmp_path):
    """Every results() call on one engine — and the first call's DataFrame
    re-read after later calls — must carry seq = row_number() - 1 over
    (round, priority, discovery_time, url). The checkpoint is written
    directly (no crawl) with enough rows over several files that the range
    partitioner samples its boundaries instead of taking every row."""
    import json

    import pandas as pd

    from spider_spark.engine import CrawlEngine

    ckpt = tmp_path / "ckpt_reads"
    (ckpt / "commits").mkdir(parents=True)
    for r in (0, 1):
        (ckpt / "commits" / f"round_{r}.json").write_text(
            json.dumps({"round": r, "next_seq": 0, "pending": 0})
        )
    n, n_files = 5000, 5
    pdf = pd.DataFrame(
        {
            "url": [f"http://h{i % 17}.test/p/{(i * 7919) % n}" for i in range(n)],
            "priority": [i % 4 for i in range(n)],
            "discovery_time": [i % 3 for i in range(n)],
            "text": ["t"] * n,
            "n_links": [0] * n,
        }
    )
    pdf["fetch_priority"] = pdf["priority"]
    out = ckpt / "results" / "round=1"
    out.mkdir(parents=True)
    step = n // n_files
    for k in range(n_files):
        pdf.iloc[k * step : (k + 1) * step].to_parquet(
            out / f"part-{k}.parquet", index=False
        )
    want = {
        u: i
        for i, u in enumerate(
            pdf.sort_values(["priority", "discovery_time", "url"])["url"]
        )
    }

    eng = CrawlEngine(
        spark,
        pages_path=os.path.join(world_dir, "pages.parquet"),
        robots_path=os.path.join(world_dir, "robots.parquet"),
        checkpoint_dir=str(ckpt),
        n_partitions=4,
    )

    def seqs(df):
        return {r["url"]: r["seq"] for r in df.select("url", "seq").collect()}

    first = eng.results()
    assert seqs(first) == want
    for _ in range(2):
        assert seqs(eng.results()) == want
    assert seqs(first) == want
