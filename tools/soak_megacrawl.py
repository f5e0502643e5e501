#!/usr/bin/env python
"""Mega-crawl scaling soak: the FULL crawl engine at a ~10^6-URL frontier,
measured at two parallelism levels (N and 4N cores).

Why this exists (BASELINE.md "Full-crawl scaling decomposition"): at the
standard 24k/96k corpora the full crawl is dominated by a constant
~15-20 s/wave serial floor (sketch build, robots gate, election rounds,
frontier checkpoint) and two-level efficiency reads 0.29-0.34 — an Amdahl
artifact of tiny waves, argued (not measured) to vanish at north-rule wave
sizes. This tool measures it: at ~10^6 URLs the waves are 10x-40x bigger
while the per-wave floor stays constant, so the full-engine efficiency
should converge toward the wave-kernel bound (>=0.8). One run is ~25-40
min of machine time — a recorded one-off soak (BASELINE.md), not part of
the perfbench gate.

Usage:
    python tools/soak_megacrawl.py [--pages 1000000] [--lo 4] [--hi 16]
                                   [--hi-only] [--corpus DIR]

Prints one JSON line: per-level wall/URLs-per-sec, scaling efficiency,
wave count, and host loadavg before each measurement.
"""

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

MEGA_CORPUS = os.environ.get("SPARK_GRAFT_MEGA_CORPUS", "/tmp/stc4_mega_corpus_v1")


def _mk_spark(cores: int):
    """A local session sized for 10^6-row waves: a bigger JVM heap (the
    per-wave localCheckpoint materializes the frontier; the 8g default
    OOMed at wave 2), and a FIXED shuffle-partition count at both levels —
    shuffle_partitions=cores puts ~250k rows in every shuffle/window task
    at local[4], and on a real two-size cluster the partitioning would not
    change with executor count either. Same plan, same splits, different
    cores: the clean scaling comparison."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    from spacetime_crawler4_spark.session import get_spark

    spark = get_spark(
        f"megacrawl-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_MEGA_SHUFFLE", "64")),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.autoBroadcastJoinThreshold": "32MB",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
            "spark.sql.files.maxPartitionBytes": "4m",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _stop(spark) -> None:
    """Stop a session without polluting stderr: the Python accumulator
    server can lose a race with late task-completion events during
    shutdown, and the DAGScheduler logs the harmless stack trace at
    ERROR — mute the JVM logger first."""
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()


def _crawl_once(spark, corpus: str, cfg_kwargs: dict) -> tuple[dict, object]:
    """One default crawl of a bench corpus from its seeds in seq order:
    (frontier size, wall, URLs/s) and the finished engine."""
    import pyarrow.parquet as pq

    from spacetime_crawler4_spark.crawl.engine import CrawlEngine
    from spacetime_crawler4_spark.crawl.schema import CrawlConfig
    from spacetime_crawler4_spark.sources.benchgen import BENCH_WHITELIST

    seeds = [
        r["url"]
        for r in sorted(
            pq.read_table(f"{corpus}/seeds.parquet").to_pylist(),
            key=lambda r: r["seq"],
        )
    ]
    eng = CrawlEngine(
        spark,
        f"{corpus}/pages.parquet",
        f"{corpus}/robots.parquet",
        seeds,
        CrawlConfig(whitelist=BENCH_WHITELIST, **cfg_kwargs),
    )
    t0 = time.time()
    n = eng.run().count()
    wall = time.time() - t0
    return {
        "frontier_urls": n,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(n / wall, 1),
    }, eng


def _shape_for(target_pages: int) -> dict:
    """Corpus shape: per domain 1 + fanout*(1+leaves) pages. Fix
    n_domains=16 / fanout=50 (wave-2 = 800 section pages, plenty of
    politeness-window keys) and solve leaves for the page target, so the
    frontier mass lands in wave 3 — one genuinely mega wave."""
    n_domains, fanout = 16, 50
    leaves = max(1, round((target_pages / n_domains - 1) / fanout) - 1)
    return {"n_domains": n_domains, "fanout": fanout, "leaves": leaves}


def _ensure_corpus(target_pages: int) -> dict:
    from spacetime_crawler4_spark.sources.benchgen import write_bench_corpus

    shape = _shape_for(target_pages)
    meta_path = os.path.join(MEGA_CORPUS, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("shape") == shape:
            return meta
    t0 = time.time()
    stats = write_bench_corpus(MEGA_CORPUS, **shape)
    meta = {"shape": shape, "gen_s": round(time.time() - t0, 1), **stats}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def _loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def main() -> None:
    # the scaling pair is N and 4N cores, 4N capped at the machine's cores
    lo = 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--lo", type=int, default=lo)
    ap.add_argument("--hi", type=int, default=min(4 * lo, cpus))
    ap.add_argument(
        "--hi-only",
        action="store_true",
        help="throughput-only run at --hi cores (skip the scaling pair)",
    )
    ap.add_argument("--corpus", default=None)
    args = ap.parse_args()
    if args.corpus:
        global MEGA_CORPUS
        MEGA_CORPUS = args.corpus

    out: dict = {"corpus": _ensure_corpus(args.pages)}
    levels = [args.hi] if args.hi_only else [args.lo, args.hi]
    walls: dict[int, float] = {}
    for cores in levels:
        out[f"local[{cores}]_loadavg_1m"] = _loadavg()
        spark = _mk_spark(cores)
        try:
            # production dedup plane: the reference-parity 32-bit simhash is
            # refused by the engine's quadratic guard at mega waves (927k
            # rows >> SIMHASH32_BANDED_MAX — exactly the cliff the guard
            # exists for), and a 10^6-URL deployment runs the 64-bit
            # fingerprint (same LSH plan shape, linear candidate volume).
            # The wave here also exceeds engine.SIMHASH_NUMPY_CAP, so this
            # exercises the banded self-join + distributed election.
            stats, eng = _crawl_once(spark, MEGA_CORPUS, {"simhash_bits": 64})
        finally:
            _stop(spark)
        stats["waves"] = eng.wave_no
        stats["seen_sketch"] = dict(eng.sketch_stats)
        stats["wave_walls"] = [
            {
                k: m[k]
                for k in ("n_wave", "wall_select_s", "wall_run_s")
                if k in m
            }
            for m in eng.metrics
        ]
        out[f"local[{cores}]"] = stats
        walls[cores] = stats["wall_s"]
    if not args.hi_only:
        out["cores_ratio"] = args.hi / args.lo
        out["efficiency"] = round(
            (walls[args.lo] / walls[args.hi]) / (args.hi / args.lo), 3
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
