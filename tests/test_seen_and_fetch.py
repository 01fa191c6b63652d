from __future__ import annotations

import numpy as np

from spider_spark.engine.seen import bloom_build, bloom_merge, bloom_probe
from spider_spark.engine.fetch import FlakyTransport, PagesTableTransport, fetch_with_retry
from spider_spark.urlnorm import murmur3_32


def _hashes(urls):
    """Python-side stand-in for the JVM hash pair: h1 must be the same
    murmur3 Spark's hash() computes (parity tested elsewhere); h2 just
    needs to be an independent odd-stride hash for the bloom math."""
    h1 = np.array([murmur3_32(u) & 0xFFFFFFFF for u in urls], dtype=np.int64)
    h2 = np.array(
        [(murmur3_32(u, seed=0x9747B28C) & 0xFFFFFFFF) | 1 for u in urls],
        dtype=np.int64,
    )
    return h1, h2


def test_bloom_no_false_negatives_and_low_fpr():
    inserted = _hashes([f"http://h{i % 37}.test/p/{i}" for i in range(20_000)])
    blob = bloom_build(*inserted)
    assert bloom_probe(blob, *inserted).all()  # zero false negatives
    fresh = _hashes([f"http://other{i % 11}.test/q/{i}" for i in range(20_000)])
    fpr = bloom_probe(blob, *fresh).mean()
    assert fpr < 0.01, f"FPR too high: {fpr}"


def test_bloom_merge_is_union():
    a = _hashes([f"http://a.test/{i}" for i in range(500)])
    b = _hashes([f"http://b.test/{i}" for i in range(500)])
    merged = bloom_merge([bloom_build(*a), bloom_build(*b)])
    assert bloom_probe(merged, *a).all()
    assert bloom_probe(merged, *b).all()


def test_bloom_hash_cols_match_spark(spark):
    """The JVM-computed (h1, h2) pair used by build_blobs/dedup must be
    deterministic and consistent between build and probe paths — build a
    blob from Spark-computed hashes and probe with the same; plus h1
    parity with the pure-Python murmur3 (Spark hash == murmur3-32 seed 42)."""
    from pyspark.sql import functions as F

    from spider_spark.engine.seen import hash_cols

    urls = [f"http://par.test/x/{i}" for i in range(1000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    h1c, h2c = hash_cols("url")
    rows = df.select("url", h1c.alias("h1"), h2c.alias("h2")).collect()
    got_h1 = {r["url"]: r["h1"] for r in rows}
    for u in urls[:50]:
        assert got_h1[u] == murmur3_32(u) & 0xFFFFFFFF
    h1 = np.array([r["h1"] for r in rows], dtype=np.int64)
    h2 = np.array([r["h2"] for r in rows], dtype=np.int64)
    blob = bloom_build(h1, h2)
    assert bloom_probe(blob, h1, h2).all()


def test_fetch_retry_semantics(world_dir):
    import os

    pages_path = os.path.join(world_dir, "pages.parquet")
    ok_url = "http://h2.test/p/0"

    # flaky url recovers within retry budget → success, attempts counted
    t = FlakyTransport(pages_path, marker="/p/1", fail_times=2)
    status, html, attempts = fetch_with_retry(t, "http://h2.test/p/1", retries=3)
    assert status == 200 and html is not None and attempts == 3

    # flaky url exceeding budget → last retryable status surfaces
    t2 = FlakyTransport(pages_path, marker="/p/1", fail_times=10)
    status, html, attempts = fetch_with_retry(t2, "http://h2.test/p/1", retries=2)
    assert status == 503 and html is None and attempts == 3  # 1 + 2 retries

    # 404 is not retryable (asyncRequest.py:9 lists only 5xx) → one attempt
    t3 = PagesTableTransport(pages_path)
    status, html, attempts = fetch_with_retry(t3, "http://h2.test/nope", retries=5)
    assert status == 404 and attempts == 1

    status, html, attempts = fetch_with_retry(t3, ok_url, retries=5)
    assert status == 200 and attempts == 1


def test_bloom_dedup_equals_exact_anti_join(spark):
    """The bloom pre-screen never changes the dedup result: the blob path
    must equal the plain anti-join on candidates that mix seen URLs, new
    URLs, and URLs whose partition has no blob row at all."""
    from pyspark.sql import functions as F

    from spider_spark.engine.seen import build_blobs, dedup_new_urls

    P = 16
    seen = spark.createDataFrame(
        [(f"http://s.test/{i}",) for i in range(3)], "url string"
    )
    cands = spark.createDataFrame(
        [(f"http://s.test/{i}", i) for i in range(3)]
        + [(f"http://n{i % 5}.test/{i}", i) for i in range(40)],
        "url string, priority int",
    )
    # the data must exercise a candidate partition with no blob row
    pid = F.pmod(F.hash("url"), F.lit(P)).alias("pid")
    blob_pids = {r["pid"] for r in seen.select(pid).collect()}
    cand_pids = {r["pid"] for r in cands.select(pid).collect()}
    assert cand_pids - blob_pids

    def rows(df):
        return sorted(tuple(r) for r in df.select("url", "priority").collect())

    exact = rows(dedup_new_urls(cands, seen))
    assert len(exact) == 40
    got = rows(
        dedup_new_urls(
            cands, seen, blobs_df=build_blobs(seen, P), n_partitions=P
        )
    )
    assert got == exact
