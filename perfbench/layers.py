"""Per-layer probes for the traced run.

Crawl-state probes read the checkpoint a finished crawl left behind;
kernel probes run single-process on fixed inputs (a seed-0 probe world and
synthetic key sets that do not depend on the workload seed), so their
counts -- pages, bytes, keys, false positives -- repeat exactly from run to
run and only the rates move.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.harness import dir_usage

CKPT_TABLES = ["results", "state", "seen_delta", "seen_blob", "metrics", "lineage", "dead"]
BLOOM_KEYS = 1 << 19
MiB = float(1 << 20)


def checkpoint_usage(ckpt: str) -> dict[str, float]:
    out: dict[str, float] = {}
    total_b = total_f = 0
    for table in CKPT_TABLES:
        b, f = dir_usage(os.path.join(ckpt, table))
        out[f"crawler.ckpt.{table}_mb"] = b / MiB
        out[f"crawler.ckpt.{table}_files"] = f
        total_b += b
        total_f += f
    out["crawler.ckpt_mb"] = total_b / MiB
    out["crawler.ckpt_files"] = total_f
    return out


def _delta(spark, ckpt: str, table: str):
    root = os.path.join(ckpt, table)
    return spark.read.option("basePath", root).parquet(root)


def seen_replay(spark, eng, pages_path: str, tracer) -> tuple[dict, bool]:
    """Replay the last round's ``dedup_new_urls`` on the finished
    checkpoint, with and without the bloom blobs. Returns (metrics, ok):
    ok is False when the two paths disagree on the new-URL count."""
    from pyspark.sql import functions as F

    from spider_spark.engine import seen as seen_mod
    from spider_spark.engine.udfs import extract_text_links_udf

    ckpt = eng.ckpt
    last = eng.last_committed_round()
    parents = _delta(spark, ckpt, "results").filter(F.col("round") == last)
    pages = spark.read.parquet(pages_path).select("url", "html")
    cands = (
        parents.select("url", "priority")
        .join(pages, "url")
        .select(
            F.explode(extract_text_links_udf("html", "url").links).alias("url"),
            (F.col("priority") + 1).alias("p"),
        )
        .groupBy("url")
        .agg(F.min("p").cast("int").alias("priority"))
        .persist()
    )
    n_cand = cands.count()
    prior = F.col("round") <= last - 1
    seen_all = _delta(spark, ckpt, "seen_delta").filter(prior).select("url")
    blobs = _delta(spark, ckpt, "seen_blob").filter(prior)

    with tracer.span("engine.seen", "dedup_new_urls.bloom"):
        t = time.perf_counter()
        n_new = seen_mod.dedup_new_urls(
            cands, seen_all, blobs_df=blobs, n_partitions=eng.bloom_partitions
        ).count()
        dedup_s = time.perf_counter() - t
    with tracer.span("engine.seen", "dedup_new_urls.exact"):
        t = time.perf_counter()
        n_new_exact = seen_mod.dedup_new_urls(cands, seen_all).count()
        exact_s = time.perf_counter() - t

    # bloom pre-screen outcome per candidate: hash JVM-side, probe the
    # OR-merged blob of the candidate's partition driver-side
    with tracer.span("engine.seen", "bloom_probe.candidates"):
        h1, h2 = seen_mod.hash_cols("url")
        keyed = cands.select(
            F.pmod(F.hash("url"), F.lit(eng.bloom_partitions)).alias("pid"),
            h1.alias("h1"),
            h2.alias("h2"),
        ).toPandas()
        blob_rows = blobs.select("partition_id", "filter_blob").toPandas()
        maybe = 0
        for pid, grp in keyed.groupby("pid"):
            mine = blob_rows[blob_rows["partition_id"] == pid]["filter_blob"]
            if len(mine):
                blob = seen_mod.bloom_merge(list(mine))
                maybe += int(
                    seen_mod.bloom_probe(
                        blob, grp["h1"].to_numpy(), grp["h2"].to_numpy()
                    ).sum()
                )
    cands.unpersist()
    blob_b, _ = dir_usage(os.path.join(ckpt, "seen_blob"))
    return (
        {
            "seen.dedup_s": dedup_s,
            "seen.dedup_exact_s": exact_s,
            "seen.candidates": n_cand,
            "seen.new_frac": n_new / n_cand if n_cand else 0.0,
            "seen.bloom_maybe_frac": maybe / n_cand if n_cand else 0.0,
            "seen.blob_mb": blob_b / MiB,
        },
        n_new == n_new_exact,
    )


def politeness_and_fetch(spark, eng, tracer) -> dict:
    """``with_robots`` over every committed frontier snapshot; budget fill
    and fetch outcomes from the engine's own per-round metrics."""
    from functools import reduce

    from pyspark.sql import functions as F

    from spider_spark.engine.politeness import with_robots

    last = eng.last_committed_round()
    with tracer.span("engine.crawler", "metrics"):
        m = eng.metrics().orderBy("round").toPandas()
    snaps = [
        eng.frontier_at(r - 1).select("url", "host").withColumn("round", F.lit(r))
        for r in range(1, last + 1)
    ]
    frontier = reduce(lambda a, b: a.unionByName(b), snaps)
    with tracer.span("engine.politeness", "with_robots"):
        t = time.perf_counter()
        budgets = (
            with_robots(frontier, eng.robots, eng.policy)
            .select("round", "host", "budget")
            .distinct()
            .groupBy("round")
            .agg(F.sum("budget").alias("budget"))
            .toPandas()
        )
        with_robots_s = time.perf_counter() - t
    with tracer.span("engine.fetch", "dead"):
        dead = eng.dead()
        n_dead = dead.count() if dead is not None else 0
    dequeued = int(m["dequeued"].sum())
    return {
        "politeness.with_robots_s": with_robots_s,
        "politeness.budget_fill": dequeued / max(1, int(budgets["budget"].sum())),
        "fetch.miss_frac": int(m["failed"].sum()) / max(1, dequeued),
        "fetch.dead": n_dead,
    }


def udf_probe(spark, pages_path: str, n_pages: int, tracer) -> dict:
    from spider_spark.engine.udfs import extract_text_links_udf

    with tracer.span("engine.udfs", "extract_text_links_udf"):
        t = time.perf_counter()
        spark.read.parquet(pages_path).select(
            extract_text_links_udf("html", "url").alias("tl")
        ).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
    return {"udfs.extract_rows_per_s": n_pages / dt, "udfs.rows": n_pages}


# ---------- single-process kernel probes ----------
def _probe_pages() -> list[dict]:
    from spider_spark.fixtures import build_world

    return build_world(
        n_hosts=2, median_pages=32, hot_factor=2, branching=224,
        page_weight=16, with_text=False, seed=0,
    )["pages"]


def kernel_probes(tracer) -> tuple[dict, bool]:
    from spider_spark.engine import seen as seen_mod
    from spider_spark.extract import extract_text_and_links
    from spider_spark.urlnorm import canonicalize_url, murmur3_32_batch

    pages = _probe_pages()
    n_bytes = sum(len(p["html"]) for p in pages)
    with tracer.span("extract", "extract_text_and_links"):
        t = time.perf_counter()
        for p in pages:
            extract_text_and_links(p["html"], p["url"])
        ext_s = time.perf_counter() - t

    urls = [p["url"] for p in pages]
    raw = []
    for j, u in enumerate(urls):
        raw += [(u, None), (f"../p/{j}?q=1#frag", u), (u.replace("http://", "HTTP://").replace(".test", ".TEST:80"), None)]
    raw = (raw * (20_000 // len(raw) + 1))[:20_000]
    with tracer.span("urlnorm", "canonicalize_url"):
        t = time.perf_counter()
        for u, base in raw:
            canonicalize_url(u, base)
        canon_s = time.perf_counter() - t

    frames = [f"http://h{i % 96}.test/p/{i}".encode() for i in range(2 * BLOOM_KEYS)]

    def hashes(seed: int) -> np.ndarray:
        # chunked: the batch kernel pads every chunk to a rows x bytes matrix
        parts = [
            murmur3_32_batch(frames[i : i + 32_768], seed=seed)
            for i in range(0, len(frames), 32_768)
        ]
        return np.concatenate(parts).view(np.uint32).astype(np.int64)

    with tracer.span("urlnorm", "murmur3_32_batch"):
        t = time.perf_counter()
        h1 = hashes(42)
        mm_s = time.perf_counter() - t
    h2 = hashes(7) | 1
    n = BLOOM_KEYS
    with tracer.span("engine.seen", "bloom_build"):
        t = time.perf_counter()
        blob = seen_mod.bloom_build(h1[:n], h2[:n])
        build_s = time.perf_counter() - t
    with tracer.span("engine.seen", "bloom_probe"):
        t = time.perf_counter()
        fp = int(seen_mod.bloom_probe(blob, h1[n:], h2[n:]).sum())
        probe_s = time.perf_counter() - t
    members_ok = bool(seen_mod.bloom_probe(blob, h1[:n], h2[:n]).all())
    return (
        {
            "extract.pages_per_s": len(pages) / ext_s,
            "extract.mb_per_s": n_bytes / MiB / ext_s,
            "extract.pages": len(pages),
            "extract.mb": n_bytes / MiB,
            "urlnorm.canonicalize_per_s": len(raw) / canon_s,
            "urlnorm.canonicalize_urls": len(raw),
            "urlnorm.murmur3_batch_per_s": len(frames) / mm_s,
            "urlnorm.murmur3_urls": len(frames),
            "seen.bloom_build_keys_per_s": n / build_s,
            "seen.bloom_probe_keys_per_s": n / probe_s,
            "seen.bloom_keys": n,
            "seen.bloom_fpr": fp / n,
        },
        members_ok,
    )
