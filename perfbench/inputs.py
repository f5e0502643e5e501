"""Corpus and oracle caches, keyed by ``(workload, seed, size)`` and the
code that produces them.

Generation and the sequential oracle run once per key; later runs with the
same key read the cached parquet tables and digests. Each cache entry
records what it cost to make, and every run charges those recorded costs to
set-up (hit or miss), never to crawl time, so set-up does not depend on
what an earlier run left in the cache."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import stats
from workloads import WORKLOADS, write_workload


HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = os.path.join(os.path.dirname(HERE), "spacetime_crawler4_spark")


def _code_digest() -> str:
    """sha256 over the package sources (the generator's page writer and
    fingerprints, the oracle, ``CrawlConfig`` defaults) and the
    benchmark's own generator and digest code."""
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(PACKAGE)
        for f in fs
        if f.endswith(".py")
    ]
    files += [os.path.join(HERE, f) for f in ("workloads.py", "inputs.py", "stats.py")]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, os.path.dirname(HERE)).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _key(name: str, seed: int) -> str:
    # the spec and code digests invalidate cached inputs when a workload's
    # generator size or crawl configuration, or the code that builds the
    # corpus or the oracle, changes
    spec = hashlib.sha256((repr(WORKLOADS[name]) + _code_digest()).encode()).hexdigest()[:16]
    return f"{name}-s{seed}-n{WORKLOADS[name].size}-{spec}"


def ensure_corpus(cache: str, name: str, seed: int) -> tuple[str, dict, float]:
    """Returns ``(corpus_dir, meta, generation seconds)``; the seconds are
    the ones recorded when the corpus was generated."""
    out = os.path.join(cache, "corpus", _key(name, seed))
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        return out, meta, meta["gen_s"]
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    meta = write_workload(name, seed, tmp)
    gen_s = time.perf_counter() - t0
    meta["gen_s"] = gen_s
    meta["bytes"] = sum(
        os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, meta, gen_s


def crawl_config(name: str):
    from spacetime_crawler4_spark.crawl.schema import CrawlConfig

    wl = WORKLOADS[name]
    return CrawlConfig(whitelist=wl.whitelist, **wl.config)


def ensure_oracle(cache: str, name: str, seed: int, corpus: str, meta: dict) -> tuple[dict, float]:
    """Digests of the sequential reference-semantics oracle's final state
    (``crawl/seqoracle.SeqCrawler`` in wave mode under the workload's
    configuration). Returns ``(digests, oracle seconds)``; the seconds are
    the ones recorded when the oracle ran."""
    path = os.path.join(cache, "oracle", _key(name, seed) + ".json")
    if os.path.exists(path):
        with open(path) as f:
            dig = json.load(f)
        return dig, dig["oracle_s"]
    from spacetime_crawler4_spark.crawl.seqoracle import SeqCrawler

    t0 = time.perf_counter()
    ora = SeqCrawler(
        f"{corpus}/pages.parquet",
        f"{corpus}/robots.parquet",
        meta["seed_urls"],
        crawl_config(name),
        mode="wave",
    )
    ora.run()
    dig = stats.state_digests(ora.state())
    # the oracle's own visit log, not a re-sort of its state
    dig["order"] = stats.order_digest(ora.ordered_visits())
    dig["oracle_s"] = spent = time.perf_counter() - t0
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(dig, f)
    os.replace(tmp, path)
    return dig, spent
