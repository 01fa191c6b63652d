#!/usr/bin/env python3
"""spider_spark benchmark: one closed-loop client on local[4].

    python3 perfbench/run.py --workload wide_crawl --seed 1 --seconds 40 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` (cached under ``perfbench/.work``), computes the oracles once
per input, then drives the public API of ``spider_spark``:

1. set-up, three times: ``session.get_spark`` + ``CrawlEngine(...)`` +
   ``warm_page_store()`` (``setup_s`` is the median);
2. a crawl, one ``CrawlEngine.run(max_rounds=1)`` call per round;
3. ``CrawlEngine.results()`` written to ``noop``, five reads: one right
   after the crawl, the others after every fourth query of step 4;
4. one pass of the 16 headline operator queries, each result compared with
   its DuckDB oracle through ``verify.compare``; then the gate of the last
   read against ``oracle.crawl``: crawl order, seen, blocked and dead sets.

Steps 2-4 repeat on a fresh checkpoint while another round of them fits
in ``--seconds``. With ``--trace 1`` the run records spans around every
call, runs the per-layer probes after one pass of steps 2-4, and reports
per-layer metrics instead of end-to-end ones. The last stdout line is the
JSON result; ``--smoke`` runs every workload at toy size instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, layers, workloads  # noqa: E402
from perfbench.harness import (  # noqa: E402
    RssSampler, Tracer, become_subreaper, median, reap_children, session_members, slope,
)

CORES = 4
DRIVER_MEMORY = "2g"
N_SETUPS = 3
N_READS = 5
READ_EVERY = len(workloads.HEADLINE) // (N_READS - 1)

END_TO_END = {
    "setup_s": "s",
    "crawl_pages_per_s": "1/s",
    "results_read_s": "s",
    "analytics_suite_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MiB",
}
LAYERS = [
    "bench", "session", "engine.crawler", "engine.seen", "engine.politeness",
    "engine.fetch", "extract", "engine.udfs", "urlnorm", "operators",
]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    u = {
        "session.get_spark_s": "s",
        "session.warm_page_store_s": "s",
        "crawler.rounds": "count",
        "crawler.round_p50_s": "s",
        "crawler.round_max_s": "s",
        "crawler.round_slope_s": "s",
        "crawler.ckpt_mb": "MiB",
        "crawler.ckpt_files": "count",
    }
    for t in layers.CKPT_TABLES:
        u[f"crawler.ckpt.{t}_mb"] = "MiB"
        u[f"crawler.ckpt.{t}_files"] = "count"
    u.update({
        "seen.dedup_s": "s",
        "seen.dedup_exact_s": "s",
        "seen.candidates": "count",
        "seen.new_frac": "frac",
        "seen.bloom_maybe_frac": "frac",
        "seen.blob_mb": "MiB",
        "seen.bloom_build_keys_per_s": "1/s",
        "seen.bloom_probe_keys_per_s": "1/s",
        "seen.bloom_keys": "count",
        "seen.bloom_fpr": "frac",
        "politeness.with_robots_s": "s",
        "politeness.budget_fill": "frac",
        "fetch.miss_frac": "frac",
        "fetch.dead": "count",
        "extract.pages_per_s": "1/s",
        "extract.mb_per_s": "MiB/s",
        "extract.pages": "count",
        "extract.mb": "MiB",
        "udfs.extract_rows_per_s": "1/s",
        "udfs.rows": "count",
        "urlnorm.canonicalize_per_s": "1/s",
        "urlnorm.canonicalize_urls": "count",
        "urlnorm.murmur3_batch_per_s": "1/s",
        "urlnorm.murmur3_urls": "count",
    })
    for q in workloads.HEADLINE:
        u[f"operators.{q}_s"] = "s"
    for layer in LAYERS:
        u[f"trace.self_s.{layer}"] = "s"
    u.update({
        "trace.spans": "count",
        "trace.untraced_runs": "count",
        "trace.e2e_untraced_s": "s",
        "trace.e2e_traced_s": "s",
        "trace.overhead_s": "s",
        "ops_failed_frac": "frac",
    })
    return u


class _Collected:
    """A query result already collected to pandas, in the shape
    ``verify.compare`` reads (it only calls ``toPandas``)."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Bench:
    def __init__(self, args, spec: dict, world: str, corpus: str):
        self.args = args
        self.spec = spec
        self.world = world
        self.pages = os.path.join(world, "pages.parquet")
        self.corpus = corpus
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.tracer = Tracer(os.path.basename(self.run_dir), enabled=bool(args.trace))
        self.spark = None
        self.eng = None
        self.rss = None
        self.attempted = 0
        self.failed = 0
        self.gate_runs = 0
        self.mismatches: list[str] = []
        self.crawl_oracle = None
        self.query_oracle = None
        self.n_crawls = 0

    # ---------- bookkeeping ----------
    def _op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(what)
            print(f"MISMATCH {what}", file=sys.stderr)

    def _engine(self, ckpt: str | None = None):
        """An engine on ``ckpt``, or on a new checkpoint directory."""
        from spider_spark.engine import CrawlEngine
        from spider_spark.oracle import CrawlPolicy

        if ckpt is None:
            self.n_crawls += 1
            ckpt = os.path.join(self.run_dir, f"ckpt{self.n_crawls}")
        return CrawlEngine(
            self.spark,
            pages_path=self.pages,
            robots_path=os.path.join(self.world, "robots.parquet"),
            checkpoint_dir=ckpt,
            policy=CrawlPolicy(**self.spec["policy"]),
            n_partitions=CORES,
        )

    def _session(self):
        from spider_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        return get_spark(
            app="spider_perfbench",
            master=f"local[{CORES}]",
            extra={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )

    # ---------- 1. set-up ----------
    def setup(self, prep) -> dict:
        samples, get_s, warm_s = [], [], []
        for i in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session", "setup"):
                t0 = time.perf_counter()
                with self.tracer.span("session", "get_spark"):
                    self.spark = self._session()
                t1 = time.perf_counter()
                with self.tracer.span("engine.crawler", "CrawlEngine"):
                    self.eng = self._engine()
                t2 = time.perf_counter()
                with self.tracer.span("session", "warm_page_store"):
                    self.eng.warm_page_store()
                t3 = time.perf_counter()
            samples.append(t3 - t0)
            get_s.append(t1 - t0)
            warm_s.append(t3 - t2)
            if i == 0:
                self.spark.sparkContext.setLogLevel("ERROR")
                # the JVM (spark-submit execs java) and its Python workers
                self.rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
                self.rss.start()
                if prep is not None:
                    # the oracles were computed beside the JVM start-up
                    if prep.wait() != 0:
                        raise RuntimeError("oracle computation failed")
                policy = self.spec["policy"]
                self.crawl_oracle = inputs.load_crawl_oracle(self.world, policy)
                self.query_oracle = inputs.load_query_oracle(self.corpus, workloads.HEADLINE)
        return {
            "setup_s": median(samples),
            "session.get_spark_s": median(get_s),
            "session.warm_page_store_s": median(warm_s),
        }

    # ---------- 2-3. crawl, results reads, gate ----------
    def crawl(self, eng) -> dict:
        seeds = self.spark.read.parquet(os.path.join(self.world, "seeds.parquet"))
        max_rounds = self.spec["policy"]["max_rounds"]
        round_s = []
        meta = None
        while meta is None or (meta["pending"] > 0 and meta["round"] < max_rounds):
            with self.tracer.span("engine.crawler", "run_round"):
                t = time.perf_counter()
                try:
                    meta = eng.run(seeds=seeds if meta is None else None, max_rounds=1)
                    ok = True
                except Exception as e:  # noqa: BLE001 — a failed round is counted, not fatal
                    print(f"round failed: {type(e).__name__}: {e}", file=sys.stderr)
                    ok = False
                round_s.append(time.perf_counter() - t)
            self._op(ok, f"crawl round {len(round_s)}")
            if not ok:
                return {"ok": False, "round_s": round_s}
        pages = meta["next_seq"]
        crawl_s = sum(round_s)
        return {
            "ok": True,
            "ckpt": eng.ckpt,
            "pages": pages,
            "crawl_s": crawl_s,
            "pages_per_s": pages / crawl_s,
            "round_s": round_s,
        }

    def read_results(self, ckpt: str):
        """One read of the crawled corpus, ``results()`` written to noop, by
        a fresh engine on the checkpoint with the cache cleared, as a new
        reader process would: a second results() call on one engine drops
        the cached rank input the first call still shares and can return
        duplicate seq values, and a cache left by another engine would be
        reused. Returns (reader, results, seconds)."""
        self.spark.catalog.clearCache()
        reader = self._engine(ckpt)
        with self.tracer.span("engine.crawler", "results"):
            t = time.perf_counter()
            results = reader.results()
            results.write.format("noop").mode("overwrite").save()
            secs = time.perf_counter() - t
        self.attempted += 1
        return reader, results, secs

    def _gate(self, eng, results) -> None:
        """Crawl order and the seen/blocked/dead sets must equal the oracle."""
        o = self.crawl_oracle
        with self.tracer.span("bench", "oracle_gate"):
            order = results.select("url", "seq").orderBy("seq").toPandas()
            # the committed seen/dead deltas, read straight from parquet
            # (CrawlEngine.seen()/dead() are plain reads of the same files)
            seen = _read_table(os.path.join(eng.ckpt, "seen_delta"), ["url", "disposition"])
            dead = _read_table(os.path.join(eng.ckpt, "dead"), ["url"])
        self.gate_runs += 1
        got_order = list(zip(order["url"], order["seq"].astype(int)))
        self._op(got_order == o["order"], f"crawl order ({len(got_order)} vs {len(o['order'])})")
        self._op(set(seen["url"]) == o["seen"], "seen set")
        blocked = set(seen.loc[seen["disposition"] == "blocked", "url"])
        self._op(blocked == o["blocked"], "blocked set")
        self._op(set(dead["url"]) == o["dead"], "dead set")

    # ---------- 4. analytics ----------
    def analytics_pass(self, between=None) -> dict[str, float]:
        """Every headline query once; ``between()`` is called after every
        ``READ_EVERY`` queries."""
        from spider_spark.operators import QUERIES
        from spider_spark.verify import compare

        times = {}
        for q in workloads.HEADLINE:
            with self.tracer.span("operators", q):
                t = time.perf_counter()
                try:
                    pdf = QUERIES[q](self.spark, self.corpus).toPandas()
                    err = None
                except Exception as e:  # noqa: BLE001 — counted as a failed op
                    err = f"{type(e).__name__}: {e}"
                times[q] = time.perf_counter() - t
            if err is None:
                with self.tracer.span("bench", "oracle_compare"):
                    ok, msg = compare(_Collected(pdf), self.query_oracle[q])
            else:
                ok, msg = False, err
            self._op(ok, f"{q}: {msg}")
            if between is not None and len(times) % READ_EVERY == 0:
                between()
        return times

    # ---------- the measured loop ----------
    def cycle(self, seconds: float, repeat: bool) -> dict:
        """Crawl, read its results, then one pass of the queries with the
        other N_READS - 1 reads spread through it (a slow spell of the host
        then hits few of the reads whose median is reported), and the gate
        on the last read. With ``repeat``, again on a fresh checkpoint while
        another one still fits in ``seconds``."""
        t0 = time.perf_counter()
        crawls, passes, steps = [], [], []
        with self.tracer.span("bench", "cycle"):
            while True:
                t = time.perf_counter()
                if crawls:
                    self._fresh_engine()
                crawl = self.crawl(self.eng)
                crawls.append(crawl)
                if crawl["ok"]:
                    reads = [self.read_results(crawl["ckpt"])]
                    passes.append(self.analytics_pass(
                        lambda: reads.append(self.read_results(crawl["ckpt"]))
                    ))
                    self._gate(*reads[-1][:2])
                    crawl["results_read_s"] = median([r[2] for r in reads])
                else:
                    passes.append(self.analytics_pass())
                steps.append(time.perf_counter() - t)
                if not (repeat and crawls[-1]["ok"]):
                    break
                if time.perf_counter() - t0 + median(steps) > seconds:
                    break
        good = [c for c in crawls if c["ok"]]
        suite = [sum(p.values()) for p in passes]
        first = good[0] if good else None
        return {
            "crawls": good,
            "passes": passes,
            "crawl_pages_per_s": median([c["pages_per_s"] for c in good]),
            "results_read_s": median([c["results_read_s"] for c in good]),
            "analytics_suite_s": median(suite),
            "query_p50_s": median([s for p in passes for s in p.values()]),
            "e2e_s": (first["crawl_s"] + first["results_read_s"] if first else 0.0) + suite[0],
        }

    def _fresh_engine(self) -> None:
        self.spark.catalog.clearCache()
        self.eng = self._engine()
        self.eng.warm_page_store()

    # ---------- per-layer probes (traced run) ----------
    def layer_metrics(self, c: dict, setup: dict) -> dict:
        out = {k: setup[k] for k in ("session.get_spark_s", "session.warm_page_store_s")}
        crawl = c["crawls"][0] if c["crawls"] else {"round_s": []}
        rs = crawl["round_s"]
        out.update({
            "crawler.rounds": len(rs),
            "crawler.round_p50_s": median(rs),
            "crawler.round_max_s": max(rs, default=0.0),
            # the first call also commits the seeds (round 0): fit from round 2
            "crawler.round_slope_s": slope(rs[1:]),
        })
        out.update(layers.checkpoint_usage(self.eng.ckpt))
        seen, ok = layers.seen_replay(self.spark, self.eng, self.pages, self.tracer)
        self._op(ok, "seen replay: bloom and exact dedup disagree")
        out.update(seen)
        out.update(layers.politeness_and_fetch(self.spark, self.eng, self.tracer))
        n_pages = _parquet_rows(self.pages)
        out.update(layers.udf_probe(self.spark, self.pages, n_pages, self.tracer))
        kernels, ok = layers.kernel_probes(self.tracer)
        self._op(ok, "bloom probe lost an inserted key")
        out.update(kernels)
        for q in workloads.HEADLINE:
            out[f"operators.{q}_s"] = median([p[q] for p in c["passes"]])
        return out

    def close(self) -> None:
        """Stop the sampler and Spark, then end the JVM (and with it the
        Python workers) and wait for it: the JVM exits when its stdin pipe
        closes."""
        from pyspark import SparkContext

        if self.rss is not None:
            self.rss.stop()
        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None or gateway.proc is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _read_table(path: str, columns: list[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def _e2e_dir(spec: dict) -> str:
    return os.path.join(WORK, "e2e", inputs.spec_key(spec))


def _record_e2e(spec: dict, seed: int, e2e_s: float) -> None:
    """Keep each untraced run's end-to-end time for the traced runs'
    overhead figure."""
    d = _e2e_dir(spec)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"s{seed}-{os.getpid()}.json"), "w") as f:
        json.dump({"seed": seed, "e2e_s": e2e_s}, f)


def _untraced_e2e(spec: dict, seed: int) -> list[float]:
    """End-to-end times of earlier untraced runs: of this seed when there
    are any, else of every seed."""
    d = _e2e_dir(spec)
    if not os.path.isdir(d):
        return []
    recs = []
    for name in os.listdir(d):
        with open(os.path.join(d, name)) as f:
            recs.append(json.load(f))
    same = [r["e2e_s"] for r in recs if r["seed"] == seed]
    return same or [r["e2e_s"] for r in recs]


def _metric_block(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def run(args) -> dict:
    marks = [("start", time.perf_counter())]
    spec = workloads.get(args.workload, toy=args.toy)
    world = inputs.ensure_world(WORK, spec["world"], args.seed)
    corpus = inputs.ensure_corpus(WORK, spec["corpus"])
    prep = None
    if inputs.missing_oracles(world, spec["policy"], corpus):
        # a plain child process (multiprocessing would leave its resource
        # tracker running past the end of the run)
        prep = subprocess.Popen(
            [sys.executable, "-m", "perfbench.inputs", world, json.dumps(spec["policy"]), corpus]
            + workloads.HEADLINE,
            cwd=ROOT,
        )
    bench = Bench(args, spec, world, corpus)
    os.makedirs(os.path.join(bench.run_dir, "tmp"), exist_ok=True)
    marks.append(("inputs", time.perf_counter()))
    try:
        setup = bench.setup(prep)
        marks.append(("setup", time.perf_counter()))
        if args.trace:
            baseline = _untraced_e2e(spec, args.seed)
            if not baseline:
                # no untraced run of this workload yet: measure one here
                # (it runs cold and the traced cycle warm, so the overhead
                # reads low; trace.untraced_runs = 0 flags this)
                bench.tracer.enabled = False
                baseline_c = bench.cycle(args.seconds, repeat=False)
                bench.tracer.enabled = True
                bench._fresh_engine()
            c = bench.cycle(args.seconds, repeat=False)
            vals = bench.layer_metrics(c, setup)
            self_s = bench.tracer.self_time_by_layer()
            for layer in LAYERS:
                vals[f"trace.self_s.{layer}"] = self_s.get(layer, 0.0)
            vals["trace.spans"] = len(bench.tracer.spans)
            vals["trace.untraced_runs"] = len(baseline)
            untraced = median(baseline) if baseline else baseline_c["e2e_s"]
            vals["trace.e2e_untraced_s"] = untraced
            vals["trace.e2e_traced_s"] = c["e2e_s"]
            vals["trace.overhead_s"] = c["e2e_s"] - untraced
        else:
            c = bench.cycle(args.seconds, repeat=True)
            vals = {k: c[k] for k in END_TO_END if k in c}
            vals["setup_s"] = setup["setup_s"]
            _record_e2e(spec, args.seed, c["e2e_s"])
        marks.append(("measure", time.perf_counter()))
        vals["peak_rss_mb"] = bench.rss.stop()
    finally:
        bench.close()
        if prep is not None and prep.poll() is None:
            prep.terminate()
            prep.wait()
    marks.append(("teardown", time.perf_counter()))
    if args.trace:
        bench.tracer.dump(os.path.join(bench.run_dir, "spans.json"))
    vals["ops_failed_frac"] = bench.failed / max(1, bench.attempted)
    units = per_layer_units() if args.trace else END_TO_END
    correct = bench.failed == 0 and bench.gate_runs > 0
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "oracle_gate": {"crawl_gates": bench.gate_runs, "mismatches": bench.mismatches},
        "ops_failed_frac": vals["ops_failed_frac"],
        "crawls": [
            {k: cr[k] for k in ("pages", "crawl_s", "results_read_s")} | {"rounds": len(cr["round_s"])}
            for cr in c["crawls"]
        ],
        "query_passes": len(c["passes"]),
        # where the run's wall time went, benchmark work included
        "phases_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])},
    }
    # checkpoints are large and per-run; only the spans stay
    for name in os.listdir(bench.run_dir):
        if name != "spans.json":
            shutil.rmtree(os.path.join(bench.run_dir, name), ignore_errors=True)
    if not os.listdir(bench.run_dir):
        os.rmdir(bench.run_dir)
    return {
        "summary": summary,
        "result": {
            "correct": correct,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": _metric_block(vals, units),
        },
    }


def smoke() -> int:
    """Every workload at toy size, untraced and traced, in child processes;
    checks every named metric is printed with its unit, the gate ran, and
    no process of the run's session outlived it."""
    bad = 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in declared["end_to_end"]},
        1: {m["name"]: m["unit"] for m in declared["per_layer"]},
    }
    for w in declared["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--toy"]
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                    text=True, start_new_session=True)
            stdout, stderr = proc.communicate(timeout=900)
            lines = stdout.strip().splitlines()
            problems = []
            left = session_members(proc.pid)
            if left:
                problems.append(f"processes left running: {left}")
            if proc.returncode != 0 or not lines:
                problems.append(f"exit {proc.returncode}: {stderr[-2000:]}")
            else:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want[trace]))}")
                if not res["correct"] or res["failed"]:
                    problems.append(f"oracle gate failed: {lines[-2] if len(lines) > 1 else ''}")
                if not any('"crawl_gates": ' in ln and '"crawl_gates": 0' not in ln for ln in lines):
                    problems.append("oracle gate did not run")
            print(f"{w['name']} trace={trace}: {'ok' if not problems else problems}")
            bad += bool(problems)
    return 1 if bad else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=40.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--toy", action="store_true", help="toy-size inputs (smoke test)")
    p.add_argument("--smoke", action="store_true", help="run every workload at toy size")
    args = p.parse_args(argv)
    try:
        import spider_spark
    except ImportError as e:
        print(f"spider_spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(spider_spark.__file__).startswith(ROOT + os.sep):
        print(f"spider_spark comes from outside {ROOT}: {spider_spark.__file__}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        p.error("--workload is required")
    # every file the run writes stays inside the checkout
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    become_subreaper()
    try:
        out = run(args)
    finally:
        # the JVM and its Python workers, the oracle process, and anything
        # they left behind: every one has ended before the runner exits
        reap_children()
    print(json.dumps(out["summary"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
