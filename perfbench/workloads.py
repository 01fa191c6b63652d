"""Workload definitions: world, policy and analytics-corpus parameters.

Every workload runs the same closed loop with one client on ``local[4]``:
set up the engine, crawl a world generated from the workload seed round by
round, read the crawled corpus back, and run one pass of the 16 headline
operator queries over the analytics corpus (the reads beside the crawl's
writes). The workloads differ in what carries the crawl:

- ``wide_crawl``  heavy ~8 KB pages on 80 hosts, fan-out 224, no crawl
  delays, every host seeded, one hot host 18x the median: round 1 fetches
  the roots and round 2 the rest of the web in one batch, so the fetch
  join, the extract UDF and link explode/dedup carry the second round.
- ``deep_crawl``  light pages on 24 hosts, branching 8, mixed crawl delays
  whose per-host budgets (30-256 pages per round) cap some hosts in the
  third round, 10% dead links retried once, stopped by the policy after
  3 rounds: per-round fixed cost (dequeue, seen-delta and bloom-blob
  fan-in, retry and dead accounting, commit writes) carries it.

The crawls are short (2 and 3 rounds): one cold round costs ~10 s on 4
cores whatever its size, and one run is kept near a minute.

``TOY`` sizes shrink both for the smoke test.
"""

from __future__ import annotations

import copy

HEADLINE = [
    "q1_pricing_rollup",
    "q3_order_revenue",
    "q5_nation_volume",
    "s2_scan_windows",
    "a1_conditional_rollup",
    "w1_adjacent_pairs",
    "w3_sliding_avg",
    "o5_topk_per_group",
    "p6_first_match_per_group",
    "f17_json_access",
    "t2_lang_id_heuristic",
    "t3_text_quality",
    "d1_exact_dedup",
    "d2_token_jaccard",
    "d3_minhash_lsh",
    "ann_bruteforce_topk",
]

# The analytics corpus is the same for every workload seed: the DuckDB
# oracle of d3_minhash_lsh alone takes ~95 s on 500 documents, so the
# query oracles are computed once per checkout and cached. 42 is the seed
# of the repository's reference data.
CORPUS = {"sf": 0.002, "seed": 42}

WORKLOADS = {
    "wide_crawl": {
        "world": dict(
            # every host fits under its root's 224 links (hot host 18 x 12
            # = 216 pages), so round 2 fetches and extracts the whole web
            n_hosts=80,
            median_pages=12,
            hot_factor=18,
            branching=224,
            page_weight=16,
            delays=[0],
            seed_all_hosts=True,
            dead_link_rate=0.0,
            with_text=False,
        ),
        "policy": dict(
            max_per_host=1_000_000, round_ms=60_000, max_retries=0, max_rounds=12
        ),
    },
    "deep_crawl": {
        "world": dict(
            n_hosts=24,
            median_pages=60,
            hot_factor=18,
            branching=8,
            page_weight=1,
            # per-host budgets round_ms // delay: 256, 255, 120, 60, 30
            delays=[0, 235, 500, 1000, 2000],
            seed_all_hosts=True,
            # 10%: enough dead links in 3 rounds for both retries (found in
            # round 2) and dead URLs (found in round 1, missed twice)
            dead_link_rate=0.1,
            with_text=False,
        ),
        "policy": dict(max_per_host=256, round_ms=60_000, max_retries=1, max_rounds=3),
    },
}

TOY_WORLD = dict(n_hosts=4, median_pages=4, hot_factor=3)
TOY_POLICY = dict(max_rounds=3)
TOY_CORPUS = {"sf": 0.0001, "seed": 42, "n_doc": 60}


def get(name: str, toy: bool = False) -> dict:
    spec = copy.deepcopy(WORKLOADS[name])
    spec["corpus"] = dict(TOY_CORPUS if toy else CORPUS)
    if toy:
        spec["world"].update(TOY_WORLD)
        spec["policy"].update(TOY_POLICY)
    return spec
