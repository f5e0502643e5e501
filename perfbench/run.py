#!/usr/bin/env python3
"""Crawl-engine benchmark: seeded, oracle-checked crawls through the public
``CrawlEngine`` API on one ``local[4]`` Spark session.

    python3 perfbench/run.py --workload wide --seed 1 --seconds 40 --trace 0

One run = set-up (session, seeded inputs, oracle digests, engine state),
then one whole crawl, which fills the ``--seconds`` window on a 4-core
machine; the crawl is checked against the sequential oracle, resumed (when
it committed a store) and reported on. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import probe  # noqa: E402
import stats  # noqa: E402

CORES = 4
# engine state set-ups per run; set-up time is their median
SETUP_REPS = 3

# the gated end-to-end metrics (BENCHMARK.json)
E2E_UNITS = {
    "urls_per_s": "URL/s",
    "wave_p50_s": "s",
    "wave_max_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# also summarised, not gated: sub-second report queries jitter by 20-40%
# between runs, and only store-backed crawls resume
SUMMARY_UNITS = {**E2E_UNITS, "report_s": "s", "resume_s": "s"}

LAYER_UNITS = {
    "engine.waves": "count",
    "engine.select_s": "s",
    "engine.run_s": "s",
    "engine.post_s": "s",
    "engine.inserts": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.task_skew": "ratio",
    "textplane.pages": "count",
    "textplane.kernel_s": "s",
    "textplane.us_per_page": "us",
    "textplane.scaling_eff_1to4": "ratio",
    "seen.full_builds": "count",
    "seen.delta_merges": "count",
    "seen.build_s": "s",
    "seen.probe_mkeys_per_s": "Mkey/s",
    "seen.fp_rate": "ratio",
    "dedup.too_exact": "count",
    "dedup.too_similar": "count",
    "dedup.election_rounds": "count",
    "robots.domains": "count",
    "robots.not_allowed": "count",
    "links.out_edges": "count",
    "links.valid_frac": "ratio",
    "store.commits": "count",
    "store.commit_s": "s",
    "store.commit_max_s": "s",
    "store.mb_written": "MB",
    "store.bytes_per_row": "B/row",
    "store.load_s": "s",
    "store.resume_s": "s",
    "report.top_words_s": "s",
    "report.longest_page_s": "s",
    "report.subdomains_s": "s",
    "report.finish_tallies_s": "s",
    "input.pages": "count",
    "input.mb": "MB",
    "input.gen_s": "s",
    "trace.overhead_s": "s",
}

FINISH_NOT_ALLOWED, FINISH_TOO_EXACT, FINISH_TOO_SIMILAR = 0x6, 0x4, 0x5
STATUS_IS_DOWN = 2


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _lineage_rows(path: str) -> int:
    rows = 0
    for d, _, fs in os.walk(path):
        if "lineage.json" in fs:
            with open(os.path.join(d, "lineage.json")) as f:
                lin = json.load(f)
            rows += sum(e["rows"] for t in lin["tables"].values() for e in t)
    return rows


class Bench:
    def __init__(self, args, workload, cache: str):
        self.args = args
        self.wl = workload
        self.cache = cache
        self.run_dir = os.path.join(cache, f"run-{os.getpid()}")
        self.trace = bool(args.trace)
        self.tracer = probe.Tracer() if self.trace else None
        self.spark = None
        self.rss = probe.RssSampler()

    # ------------------------------------------------------------ session
    def start_session(self) -> None:
        local = os.path.join(self.run_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        from spacetime_crawler4_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
                "spark.ui.showConsoleProgress": "false",
                # keep every job/stage of a run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        """Stop the session, then wait for the driver JVM (and with it the
        Python workers) to exit."""
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            self.spark = None
        if self.rss.is_alive():
            self.rss.stop()
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # ------------------------------------------------------------- set-up
    def engine(self, state_dir: str | None = None):
        from spacetime_crawler4_spark.crawl.engine import CrawlEngine
        from inputs import crawl_config

        return CrawlEngine(
            self.spark,
            f"{self.corpus}/pages.parquet",
            f"{self.corpus}/robots.parquet",
            self.meta["seed_urls"],
            crawl_config(self.wl.name),
            state_dir=state_dir,
        )

    def set_up(self) -> None:
        from inputs import ensure_corpus, ensure_oracle

        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        self.corpus, self.meta, gen_s = ensure_corpus(self.cache, self.wl.name, self.args.seed)
        self.oracle, oracle_s = ensure_oracle(
            self.cache, self.wl.name, self.args.seed, self.corpus, self.meta
        )
        # engine state set-up (``load_s``) joins in crawl()
        self.setup = {"session_s": session_s, "gen_s": gen_s, "oracle_s": oracle_s}

    # -------------------------------------------------------------- crawl
    def crawl(self) -> dict:
        state_dir = os.path.join(self.run_dir, "state")
        # the set-up a user pays before the first wave: the engine over its
        # tables and its seed frontier; the last engine built is crawled
        loads = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            eng = self.engine(state_dir if self.wl.store else None)
            eng.init_state()
            loads.append(time.perf_counter() - t0)
        self.setup["load_s"] = stats.median(loads)
        log: list[dict] = []
        if eng.store is not None:
            probe.wrap_store(eng.store, log, self.tracer)
        self.setup_s = sum(self.setup.values())
        print("perfbench set-up: " + ", ".join(f"{k} {v:.2f}" for k, v in self.setup.items()),
              file=sys.stderr)
        clock = probe.WaveClock()
        eng.metrics = clock
        root = None
        if self.tracer is not None:
            root = self.tracer.span("CrawlEngine.run", time.time(), None)
            inner = eng.run_wave

            def run_wave(wave, _inner=inner):
                t = time.time()
                try:
                    return _inner(wave)
                finally:
                    self.tracer.span("CrawlEngine.run_wave", t, time.time(), parent=root)

            eng.run_wave = run_wave
        c = {"problems": [], "store_log": log}
        cost0 = self.tracer.cost if self.tracer is not None else 0.0
        self.rss.start()
        t0 = time.time()
        frontier = eng.run()
        n = frontier.count()
        t1 = time.time()
        self.rss.stop()
        if root is not None:
            self.tracer.spans[root].update(start=t0, end=t1)
            c["trace_cost"] = self.tracer.cost - cost0
        c.update(
            start=t0, end=t1, wall=t1 - t0, rows=n, urls_per_s=n / (t1 - t0),
            peak_rss=self.rss.peak, eng=eng, root=root,
        )
        c["waves"] = probe.wave_intervals(t0, clock.ends, log)
        state = {r["urlhash"]: r.asDict() for r in frontier.collect()}
        c["state"] = state
        got = stats.state_digests(state)
        c["problems"] += stats.compare_digests(got, self.oracle)
        if eng.store is not None or self.trace:
            self.resume(c, eng, state_dir, got)
        self.report(c, frontier)
        return c

    def resume(self, c: dict, eng, state_dir: str, final: dict) -> None:
        """A fresh engine resumes from the committed store until its frontier
        is countable; the resumed frontier must equal the final one. An
        engine that ran without a store (traced runs only) gets one full
        snapshot of its final state first — the benchmark's own commit."""
        from spacetime_crawler4_spark.crawl.store import SnapshotStore

        log = c["store_log"]
        if eng.store is None:
            snap = SnapshotStore(state_dir)
            probe.wrap_store(snap, log, self.tracer)
            snap.commit(
                eng.wave_no - 1,
                {
                    "frontier": eng.frontier,
                    "domains": eng.domains,
                    "exact_buckets": eng.exact_buckets,
                    "sim_index": eng.sim_index,
                },
                list(eng.metrics),
            )
            log[-1]["by"] = "benchmark"
        c["store_bytes"] = _dir_bytes(state_dir)
        c["store_rows"] = _lineage_rows(state_dir)
        t0 = time.time()
        fresh = self.engine(state_dir)
        probe.wrap_store(fresh.store, log, self.tracer)
        fresh.init_state(resume=True)
        fresh.frontier.count()
        c["resume_s"] = time.time() - t0
        if self.tracer is not None:
            self.tracer.span("resume", t0, t0 + c["resume_s"])
        resumed = {r["urlhash"]: r.asDict() for r in fresh.frontier.collect()}
        if stats.state_digests(resumed)["state"] != final["state"]:
            c["problems"].append("resumed frontier differs from the final frontier")

    def report_queries(self, frontier) -> dict:
        from spacetime_crawler4_spark.crawl import report as R

        return {
            "report.top_words_s": lambda: R.top_words(frontier),
            "report.longest_page_s": lambda: R.longest_page(frontier),
            "report.subdomains_s": lambda: R.subdomain_counts(frontier, self.wl.whitelist[0]),
            "report.finish_tallies_s": lambda: R.finish_tallies(frontier),
        }

    def report(self, c: dict, frontier) -> None:
        """The reference report over the final frontier, once."""
        c["report"] = {}
        for name, q in self.report_queries(frontier).items():
            t0 = time.time()
            q().collect()
            t1 = time.time()
            c["report"][name] = t1 - t0
            if self.tracer is not None:
                self.tracer.span(name.removesuffix("_s"), t0, t1)
        c["report_s"] = sum(c["report"].values())

    # ------------------------------------------------------------ metrics
    def end_to_end(self, c: dict) -> dict[str, float]:
        waves = [e - b for b, e in c["waves"]]
        out = {
            "urls_per_s": c["urls_per_s"],
            "wave_p50_s": stats.median(waves),
            "wave_max_s": max(waves),
            "setup_s": self.setup_s,
            "peak_rss_mb": c["peak_rss"] / 1e6,
            "report_s": c["report_s"],
        }
        if "resume_s" in c:
            out["resume_s"] = c["resume_s"]
        return out

    def per_layer(self, c: dict) -> dict[str, float]:
        """Per-layer numbers of one (the last successful) crawl."""
        from pyspark.sql import functions as F

        eng, state = c["eng"], c["state"]
        out: dict[str, float] = {}
        m = list(eng.metrics)
        out["engine.waves"] = len(m)
        out["engine.select_s"] = sum(w.get("wall_select_s", 0.0) for w in m)
        out["engine.run_s"] = sum(w.get("wall_run_s", 0.0) for w in m)
        out["engine.post_s"] = sum(w.get("wall_post_s", 0.0) for w in m)
        out["engine.inserts"] = sum(w.get("n_inserts", 0) for w in m)

        summary = probe.spark_summary(self.spark, c["start"], c["end"])
        for k, v in summary.items():
            if k.startswith("spark."):
                out[k] = v
        job_s = [j["end"] - j["start"] for j in summary["jobs"]]
        tail = stats.tail_percentile(job_s)
        print(
            f"  spark job wall: median {stats.median(job_s):.4f} s of n={len(job_s)}; "
            + (f"p{tail[0]:g} {tail[1]:.4f} s" if tail else "no tail percentile (<20 jobs)")
        )
        for wi, (b, e) in enumerate(c["waves"]):
            jobs = [j["id"] for j in summary["jobs"] if b <= j["start"] <= e]
            self.tracer.span("wave", b, e, parent=c["root"], wave=wi, spark_jobs=jobs)

        rows = list(state.values())
        content = sorted(
            r["url"] for r in rows
            if r["status"] == STATUS_IS_DOWN and r["exhash"] is not None
            and r["finish"] != FINISH_TOO_EXACT
        )
        out["textplane.pages"] = len(content)
        k4, k1 = self.kernel(content)
        out["textplane.kernel_s"] = k4
        out["textplane.scaling_eff_1to4"] = (k1 / k4) / CORES
        out["textplane.us_per_page"] = self.extractor(content)

        out["seen.full_builds"] = eng.sketch_stats["full_builds"]
        out["seen.delta_merges"] = eng.sketch_stats["delta_merges"]
        out.update(self.seen_set(eng.frontier.select(F.xxhash64("urlhash").alias("k")), len(rows)))

        finishes = [r["finish"] for r in rows]
        out["dedup.too_exact"] = finishes.count(FINISH_TOO_EXACT)
        out["dedup.too_similar"] = finishes.count(FINISH_TOO_SIMILAR)
        out["dedup.election_rounds"] = eng.election_stats["outer_rounds"]
        out["robots.domains"] = eng.domains.count()
        out["robots.not_allowed"] = finishes.count(FINISH_NOT_ALLOWED)
        edges = sum(len(r["links"] or []) for r in rows)
        out["links.out_edges"] = edges
        out["links.valid_frac"] = (len(rows) - len(self.meta["seed_urls"])) / max(edges, 1)

        log = c["store_log"]
        commits = [x for x in log if x["op"] in ("commit", "commit_delta")]
        walls = [x["end"] - x["start"] for x in commits]
        out["store.commits"] = sum(1 for x in commits if x.get("by") != "benchmark")
        out["store.commit_s"] = stats.median(walls)
        out["store.commit_max_s"] = max(walls)
        out["store.mb_written"] = c["store_bytes"] / 1e6
        out["store.bytes_per_row"] = c["store_bytes"] / max(c["store_rows"], 1)
        out["store.load_s"] = stats.median(
            [x["end"] - x["start"] for x in log if x["op"] == "load_latest"]
        )
        out["store.resume_s"] = c["resume_s"]
        out.update(c["report"])
        out["input.pages"] = self.meta["pages"]
        out["input.mb"] = self.meta["bytes"] / 1e6
        out["input.gen_s"] = self.meta["gen_s"]
        out["trace.overhead_s"] = c["trace_cost"]
        return out

    def kernel(self, urls: list[str]) -> tuple[float, float]:
        """The fused features UDF alone over the crawl's content pages, at
        four tasks and at one task (the ``local[1]`` stand-in)."""
        from pyspark.sql import functions as F

        from spacetime_crawler4_spark.operators.textplane import make_crawl_features_udf

        feats = make_crawl_features_udf(32)("url", "html", "content_type")
        keep = self.spark.createDataFrame([(u,) for u in urls], "url string")
        src = (
            self.spark.read.parquet(f"{self.corpus}/pages.parquet")
            .join(F.broadcast(keep), "url")
            .select("url", "html", "content_type")
        )
        walls = []
        for parts in (CORES, 1):
            df = src.repartition(parts).cache()
            df.count()
            t0 = time.time()
            df.select(feats.alias("f")).agg(F.sum("f.smhash"), F.count("*")).collect()
            walls.append(time.time() - t0)
            self.tracer.span(f"textplane.kernel[{parts} task(s)]", t0, t0 + walls[-1])
            df.unpersist()
        return walls[0], walls[1]

    def extractor(self, urls: list[str], sample: int = 300) -> float:
        """Single-process extract_page + tokenize + simhash32, µs per page."""
        import pyarrow.parquet as pq

        from spacetime_crawler4_spark.functions.htmltext import extract_page
        from spacetime_crawler4_spark.functions.simhash import simhash32
        from spacetime_crawler4_spark.functions.tokenizer import tokenize, word_count

        want = set(urls[:sample])
        tbl = pq.read_table(f"{self.corpus}/pages.parquet", columns=["url", "html", "content_type"])
        pages = [r for r in tbl.to_pylist() if r["url"] in want]
        t0 = time.time()
        for r in pages:
            ex = extract_page(r["url"], r["html"] or b"", r["content_type"] or "text/html")
            if not ex.sitemap:
                simhash32(word_count(tokenize(ex.text)))
        dt = time.time() - t0
        self.tracer.span("textplane.extractor", t0, t0 + dt, pages=len(pages))
        return dt / max(len(pages), 1) * 1e6

    def seen_set(self, keys, n: int) -> dict[str, float]:
        """Isolated bloom build over the final frontier keys (the engine's
        capacity rule and fpp), then a single-process probe of keys known
        to be absent."""
        import numpy as np

        from spacetime_crawler4_spark.functions.bloom import build_bloom

        t0 = time.time()
        blob = build_bloom(keys, "k", expected=max(4 * n, 1024), fpp=0.01)
        build_s = time.time() - t0
        self.tracer.span("bloom.build", t0, t0 + build_s)
        # random 64-bit keys: absent from a few-thousand-key set with
        # probability ~1 - n/2^64, so every positive is a false positive
        absent = np.random.default_rng(self.args.seed).integers(
            -(2**63), 2**63 - 1, size=1_000_000, dtype=np.int64
        )
        t0 = time.time()
        hits = blob.might_contain(absent)
        probe_s = time.time() - t0
        self.tracer.span("bloom.probe", t0, t0 + probe_s, keys=int(absent.size))
        return {
            "seen.build_s": build_s,
            "seen.probe_mkeys_per_s": absent.size / probe_s / 1e6,
            "seen.fp_rate": float(np.count_nonzero(hits)) / absent.size,
        }

    def write_trace(self) -> str:
        out = os.path.join(self.cache, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.wl.name}-s{self.args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.wl.name, "seed": self.args.seed, "spans": self.tracer.spans}, f)
        return path

    # ---------------------------------------------------------------- run
    def run(self) -> dict:
        self.set_up()
        try:
            c = self.crawl()
        except Exception as e:  # a raising crawl counts as failed
            traceback.print_exc()
            c = {"problems": [f"raised {e!r}"[:500]]}
        for p in c["problems"]:
            print(f"perfbench: crawl FAILED: {p}", file=sys.stderr)
        failed = 1 if c["problems"] else 0
        print(
            f"perfbench {self.wl.name} seed={self.args.seed}: 1 crawl, "
            f"{failed} failed, failed_frac {failed:.3f} (ratio)"
        )
        if failed:
            return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        e2e = self.end_to_end(c)
        print("  waves " + " ".join(f"{e - b:.2f}" for b, e in c["waves"]) + " s")
        for name, value in e2e.items():
            print(f"  {name:<14} {value:>12.4f} {SUMMARY_UNITS[name]}")
        if not self.trace:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        else:
            layers = self.per_layer(c)
            for name, v in layers.items():
                print(f"  {name:<28} {v:>14.6g} {LAYER_UNITS[name]}")
            print(f"  trace written to {self.write_trace()}")
            metrics = {k: {"value": float(v), "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        return {"correct": True, "attempted": 1, "failed": 0, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spacetime_crawler4_spark")):
        print("perfbench: the spacetime_crawler4_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    # Python workers import the package from the checkout; scratch files
    # stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    bench = Bench(args, WORKLOADS[args.workload], cache)
    os.makedirs(bench.run_dir, exist_ok=True)
    os.environ["TMPDIR"] = bench.run_dir
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
