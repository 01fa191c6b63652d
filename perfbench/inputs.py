"""Benchmark inputs and their oracles, cached under the work directory.

Worlds are keyed by (world spec, seed), the analytics corpus by its spec.
Each cache entry is built in a temporary directory and renamed into place,
so an interrupted build never leaves a half-written entry behind. The
oracles are computed from the same files the engine reads:

- crawl oracle: ``spider_spark.oracle.crawl`` on the world, with the
  workload's policy -> crawl order ``(url, seq)`` plus the seen, blocked
  and dead sets, stored as JSON next to the world;
- query oracle: each headline query's ``ORACLE`` SQL on DuckDB
  (``spider_spark.verify.duckdb_run``), one parquet file per query.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from perfbench import corpus


def spec_key(spec: dict) -> str:
    return hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:12]


def _build_atomically(final_dir: str, build) -> str:
    if os.path.isdir(final_dir):
        return final_dir
    tmp = final_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final_dir)
    return final_dir


def world_dir(work: str, world_spec: dict, seed: int) -> str:
    return os.path.join(work, "worlds", f"{spec_key(world_spec)}-s{seed}")


def ensure_world(work: str, world_spec: dict, seed: int) -> str:
    from spider_spark.fixtures import write_world

    return _build_atomically(
        world_dir(work, world_spec, seed),
        lambda d: write_world(d, seed=seed, **world_spec),
    )


def corpus_dir(work: str, corpus_spec: dict) -> str:
    return os.path.join(work, "corpus", spec_key(corpus_spec))


def ensure_corpus(work: str, corpus_spec: dict) -> str:
    return _build_atomically(
        corpus_dir(work, corpus_spec),
        lambda d: corpus.write_corpus(
            d, corpus_spec["sf"], corpus_spec["seed"], corpus_spec.get("n_doc")
        ),
    )


# ---------- crawl oracle ----------
def _crawl_oracle_path(world: str, policy: dict) -> str:
    return os.path.join(world, f"oracle-{spec_key(policy)}.json")


def _no_text(_html) -> str:
    # the gate compares order and url sets, not extracted text
    return ""


def _compute_crawl_oracle(world: str, policy: dict) -> None:
    import pyarrow.parquet as pq

    from spider_spark.oracle import CrawlPolicy, crawl

    pages_tbl = pq.read_table(os.path.join(world, "pages.parquet"), columns=["url", "html"])
    pages = dict(
        zip(pages_tbl.column("url").to_pylist(), pages_tbl.column("html").to_pylist())
    )
    seeds = [
        (r["url"], r["priority"])
        for r in pq.read_table(os.path.join(world, "seeds.parquet")).to_pylist()
    ]
    robots = {
        r["host"]: (r["crawl_delay_ms"], r["disallow_prefixes"])
        for r in pq.read_table(os.path.join(world, "robots.parquet")).to_pylist()
    }
    res = crawl(pages, seeds, robots, CrawlPolicy(**policy), extract_text_fn=_no_text)
    out = {
        "order": res.order,
        "seen": sorted(res.seen),
        "blocked": sorted(res.blocked),
        "dead": sorted(res.dead),
        "rounds": res.rounds,
    }
    path = _crawl_oracle_path(world, policy)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)


def load_crawl_oracle(world: str, policy: dict) -> dict:
    with open(_crawl_oracle_path(world, policy)) as f:
        out = json.load(f)
    out["order"] = [tuple(p) for p in out["order"]]
    for k in ("seen", "blocked", "dead"):
        out[k] = set(out[k])
    return out


# ---------- query oracle ----------
def _query_oracle_dir(corpus: str) -> str:
    return os.path.join(corpus, "oracle")


def _compute_query_oracle(corpus: str, queries: list[str]) -> None:
    from spider_spark.operators import ORACLE
    from spider_spark.verify import duckdb_run

    def build(d):
        os.makedirs(d)
        for q in queries:
            duckdb_run(ORACLE[q], corpus).to_parquet(os.path.join(d, f"{q}.parquet"))

    _build_atomically(_query_oracle_dir(corpus), build)


def load_query_oracle(corpus: str, queries: list[str]) -> dict:
    import pandas as pd

    d = _query_oracle_dir(corpus)
    return {q: pd.read_parquet(os.path.join(d, f"{q}.parquet")) for q in queries}


def missing_oracles(world: str, policy: dict, corpus: str) -> bool:
    return not (
        os.path.isfile(_crawl_oracle_path(world, policy))
        and os.path.isdir(_query_oracle_dir(corpus))
    )


def compute_oracles(world: str, policy: dict, corpus: str, queries: list[str]) -> None:
    """Fill whichever oracle is missing (run in a child process, beside the
    engine's JVM start-up)."""
    if not os.path.isfile(_crawl_oracle_path(world, policy)):
        _compute_crawl_oracle(world, policy)
    if not os.path.isdir(_query_oracle_dir(corpus)):
        _compute_query_oracle(corpus, queries)


if __name__ == "__main__":
    # python3 -m perfbench.inputs WORLD POLICY_JSON CORPUS QUERY...
    import sys

    compute_oracles(sys.argv[1], json.loads(sys.argv[2]), sys.argv[3], sys.argv[4:])
