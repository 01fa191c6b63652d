"""spark-submit entry point for the crawl engine (SURVEY.md §7 stage 6).

    spark-submit --py-files spider_spark.zip -m spider_spark.cli \
        --pages pages.parquet --robots robots.parquet --seeds seeds.parquet \
        --checkpoint /ckpt --rounds 10 --max-per-host 8

Runs crawl rounds until the frontier drains or --rounds is hit; resumes
from the last committed round automatically (re-invoking with the same
--checkpoint continues, seeds are only needed on the first run). Prints a
one-line JSON summary per round and a final summary.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="spider_spark", description=__doc__)
    p.add_argument("--pages", required=True, help="pages parquet path")
    p.add_argument("--robots", required=True, help="robots parquet path")
    p.add_argument("--seeds", help="seeds parquet (first run only)")
    p.add_argument("--checkpoint", required=True, help="state directory")
    p.add_argument("--rounds", type=int, default=None, help="max rounds this run")
    p.add_argument("--max-per-host", type=int, default=8)
    p.add_argument("--round-ms", type=int, default=60_000)
    p.add_argument("--max-retries", type=int, default=2)
    p.add_argument("--max-rounds-total", type=int, default=1000)
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument("--master", default=None, help="override spark master")
    return p


def main(argv: list[str] | None = None, spark=None) -> dict:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from spider_spark.session import get_spark

        spark = get_spark(app="spider_spark_crawl", master=args.master)
    try:
        from spider_spark.engine import CrawlEngine
        from spider_spark.oracle import CrawlPolicy

        policy = CrawlPolicy(
            max_per_host=args.max_per_host,
            round_ms=args.round_ms,
            max_retries=args.max_retries,
            max_rounds=args.max_rounds_total,
        )
        eng = CrawlEngine(
            spark,
            pages_path=args.pages,
            robots_path=args.robots,
            checkpoint_dir=args.checkpoint,
            policy=policy,
            n_partitions=args.partitions,
        )
        seeds = spark.read.parquet(args.seeds) if args.seeds else None
        meta = eng.run(seeds=seeds, max_rounds=args.rounds)
        summary = {
            "last_round": meta["round"],
            "pages_crawled": meta["next_seq"],
            "pending": meta["pending"],
        }
        print(json.dumps(summary))
        return summary
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
