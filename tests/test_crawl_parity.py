"""Crawl-order + URL-seen-set parity: the wave engine vs the sequential
reference-semantics oracle on the fixture corpus (SURVEY.md §5.3-5.4).

Checks the north rule's core invariant: same seed list + politeness budget
⇒ same crawl ordering and same final URL-seen set (status, finish, depths,
words, links, exhash, smhash per urlhash)."""

import pytest
from pyspark.sql import functions as F

from spacetime_crawler4_spark.crawl.engine import CrawlEngine, _checkpoint_rdd
from spacetime_crawler4_spark.crawl.schema import FINISH, STATUS, CrawlConfig
from spacetime_crawler4_spark.crawl.seqoracle import SeqCrawler
from spacetime_crawler4_spark.functions.simhash import SIMHASH_THRESHOLD
from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST, SEED_URLS

CFG = dict(whitelist=FIXTURE_WHITELIST)
# Spark jobs a resume from the fixture's store may run, whatever the length
# of its delta chain: each state table is one typed scan (no schema job per
# commit folder), and the merge-on-read load is checkpointed once (its
# shuffle stage and the checkpoint), its row counts riding that job
RESUME_JOB_BUDGET = 2


def _engine_state(frontier):
    rows = frontier.collect()
    return {r["urlhash"]: r.asDict() for r in rows}


def _compare_states(eng, ora, *, ignore=("retries",)):
    assert eng.keys() == ora.keys(), (
        f"seen-set differs: engine-only={list(set(eng) - set(ora))[:5]} "
        f"oracle-only={list(set(ora) - set(eng))[:5]}"
    )
    for h in sorted(eng):
        e, o = dict(eng[h]), dict(ora[h])
        e["words"] = dict(e["words"] or {})
        for k in ignore:
            e.pop(k, None)
            o.pop(k, None)
        assert e == o, f"row differs for {o['url']}:\n engine={e}\n oracle={o}"


def _job_ids(spark) -> set[int]:
    """Ids of the status store's jobs, once the listener bus has delivered
    every event so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    ids, it = set(), sc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def _processed_order(state):
    done = [
        v
        for v in state.values()
        if v["status"] != STATUS.NO_DOWN or v["finish"] == FINISH.SIFTED
    ]
    return [v["url"] for v in sorted(done, key=lambda v: (v["gen"], v["seq"]))]


@pytest.fixture(scope="module")
def oracle_fifo(corpus_dir):
    c = SeqCrawler(
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        CrawlConfig(**CFG),
        mode="fifo",
    )
    c.run()
    return c


@pytest.fixture(scope="module")
def engine_run(engine_frontier):
    eng, frontier = engine_frontier
    return eng, _engine_state(frontier)


def test_seen_set_and_rows_match_reference_fifo(engine_run, oracle_fifo):
    _eng, estate = engine_run
    _compare_states(estate, oracle_fifo.state())


def test_crawl_order_matches_reference_fifo(engine_run, oracle_fifo):
    """Engine (gen, seq) order == the oracle's literal FIFO processing
    order (the oracle asserts FIFO == its own (gen, seq) sort)."""
    _eng, estate = engine_run
    fifo_urls = [u for _, _, u in oracle_fifo.visit_log]
    # oracle visits every nurl once; engine 'processed' = same set
    assert _processed_order(estate) == fifo_urls


def test_structural_expectations(engine_run):
    _eng, st = engine_run
    by_url = {v["url"]: v for v in st.values()}
    A = "http://www.example-a.test"
    # exact-dup family: one master OK, two TOO_EXACT, control OK
    fins = {f"{A}/exact/{k}": by_url[f"{A}/exact/{k}"]["finish"] for k in "012"}
    assert sorted(fins.values()) == [FINISH.OK, FINISH.TOO_EXACT, FINISH.TOO_EXACT]
    assert by_url[f"{A}/exact/ctrl"]["finish"] == FINISH.OK
    # near-dup family: head OK, members TOO_SIMILAR, control not similar
    assert by_url[f"{A}/near/0"]["finish"] == FINISH.OK
    for i in range(1, 5):
        assert by_url[f"{A}/near/{i}"]["finish"] == FINISH.TOO_SIMILAR, i
    assert by_url[f"{A}/near/ctrl"]["finish"] != FINISH.TOO_SIMILAR
    # robots: blocked host NOT_ALLOWED, private path NOT_ALLOWED
    assert by_url["http://blocked.example-b.test/never"]["finish"] == FINISH.NOT_ALLOWED
    assert by_url["http://deep.example-a.test/private/page"]["finish"] == FINISH.NOT_ALLOWED
    # sitemap protocol reached the sitemap-only pages
    assert by_url["http://www.example-b.test/sm/0"]["finish"] == FINISH.OK
    # depth traps sifted
    sifted = [u for u, v in by_url.items() if v["finish"] == FINISH.SIFTED]
    assert any("/chain/" in u for u in sifted)
    # redirects
    assert by_url[f"{A}/redir/1"]["finish"] == FINISH.REDIRECT
    assert by_url[f"{A}/redir/target"]["finish"] == FINISH.OK
    # retry page eventually downloaded
    assert by_url[f"{A}/retry/1"]["finish"] == FINISH.OK
    assert by_url[f"{A}/retry/1"]["retries"] == 2
    # off-whitelist / ftp / pdf never entered the frontier
    assert "http://off.example-x.test/page" not in by_url
    assert f"{A}/paper.pdf" not in by_url


def test_budget_parity_with_wave_oracle(spark, corpus_dir):
    """Politeness budgets: engine and wave-mode oracle under identical
    per-domain budgets produce identical state (incl. retries) and order."""
    cfg = CrawlConfig(wave_seconds=30.0, default_delay=0.5, **CFG)
    ora = SeqCrawler(
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        cfg,
        mode="wave",
    )
    ora.run()
    eng = CrawlEngine(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        cfg,
    )
    estate = _engine_state(eng.run())
    _compare_states(estate, ora.state(), ignore=())
    assert _processed_order(estate) == [u for _, _, u in ora.ordered_visits()]


def _copies_decided_after(part: dict, full: dict) -> set[int]:
    """Finish codes of the exact and near copies that a resumed crawl
    decided against a master the killed crawl had already decided: the
    copy was not processed before the kill, its master was."""
    done = {h for h, r in part.items() if r["status"] != STATUS.NO_DOWN}
    masters = [r for h, r in full.items() if h in done]
    out = set()
    for h, r in full.items():
        if h in done:
            continue
        if r["finish"] == FINISH.TOO_EXACT and any(
            m["exhash"] == r["exhash"] and m["finish"] != FINISH.TOO_EXACT
            for m in masters
        ):
            out.add(FINISH.TOO_EXACT)
        if r["finish"] == FINISH.TOO_SIMILAR and any(
            m["smhash"] is not None
            and m["finish"] != FINISH.TOO_SIMILAR
            and bin((m["smhash"] ^ r["smhash"]) & (2**64 - 1)).count("1")
            <= SIMHASH_THRESHOLD
            for m in masters
        ):
            out.add(FINISH.TOO_SIMILAR)
    return out


@pytest.mark.parametrize("kill", [2, 3], ids=["kill_after_2", "kill_after_3"])
def test_resume_from_snapshot(spark, corpus_dir, tmp_path, engine_run, kill):
    """Kill after wave k, resume from snapshot ⇒ identical final state to
    an uninterrupted run (frontier.py:212-242 semantics). After k=2 the
    resumed engine still has exact and near copies to decide against the
    masters it loaded with the frontier."""
    args = (
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
    )
    _eng, full_state = engine_run

    import json
    import os

    def _audit(manifest: dict, n_state: int) -> None:
        """Each commit writes exactly the two state tables; lineage
        entries match real files; delta commits are O(touched rows),
        strictly smaller than the frontier."""
        chain = [manifest["base"], *manifest["deltas"]]
        for d in chain:
            with open(f"{state_dir}/{d}/lineage.json") as f:
                lin = json.load(f)
            assert sorted(lin["tables"]) == ["domains", "frontier"], (d, lin["tables"])
            rows = sum(e["rows"] for e in lin["tables"]["frontier"])
            for e in lin["tables"]["frontier"]:
                assert os.path.exists(f"{state_dir}/{d}/frontier/{e['file']}")
            if d.startswith("delta-"):
                assert rows < n_state, (d, rows, n_state)

    state_dir = str(tmp_path / "state")
    part = CrawlEngine(
        spark, *args, CrawlConfig(max_waves=kill, **CFG), state_dir=state_dir
    )
    part_state = _engine_state(part.run())
    with open(f"{state_dir}/manifest.json") as f:
        m_part = json.load(f)
    # first commit is the full base; the following waves commit deltas
    assert m_part["base"] == "snap-00000"
    assert len(m_part["deltas"]) == kill - 1
    _audit(m_part, len(part_state))  # before compaction can prune
    if kill == 2:
        assert _copies_decided_after(part_state, full_state) == {
            FINISH.TOO_EXACT,
            FINISH.TOO_SIMILAR,
        }

    resumed = CrawlEngine(spark, *args, CrawlConfig(**CFG), state_dir=state_dir)
    seen = _job_ids(spark)
    resumed.init_state(resume=True)
    resume_jobs = _job_ids(spark) - seen
    # the store is read once: the resumed frontier is an eager checkpoint
    assert _checkpoint_rdd(resumed.frontier) is not None
    assert len(resume_jobs) <= RESUME_JOB_BUDGET, sorted(resume_jobs)
    resumed_state = _engine_state(resumed.run())
    _compare_states(resumed_state, full_state, ignore=())

    with open(f"{state_dir}/manifest.json") as f:
        m_final = json.load(f)
    _audit(m_final, len(resumed_state))
    # and the merge-on-read load reproduces the exact resumed frontier
    from spacetime_crawler4_spark.crawl.store import SnapshotStore

    _w, tables, _m = SnapshotStore(state_dir).load_latest(spark)
    loaded_state = _engine_state(tables["frontier"])
    _compare_states(loaded_state, resumed_state, ignore=())


@pytest.mark.slow
def test_large_corpus_order_digest(spark):
    """Crawl-order parity at the 95k-URL large bench corpus (VERDICT r4
    next-round #6): the engine's (gen, seq) processed order must hash to
    the digest committed by tools/large_order_digest.py, which ran the
    sequential reference-semantics oracle (FIFO mode) over the same
    deterministic corpus once. This extends the order-parity certificate
    from the 24k fixture to the corpus the throughput story is told on,
    without paying the oracle's wall time per test run."""
    import hashlib
    import json
    from pathlib import Path

    from tools.large_order_digest import LARGE_CORPUS, ensure_corpus, order_digest

    expected = json.loads(
        (Path(__file__).parent / "data" / "large_order_digest.json").read_text()
    )
    ensure_corpus()
    import pyarrow.parquet as pq

    from spacetime_crawler4_spark.sources.benchgen import BENCH_WHITELIST

    seeds = [
        r["url"]
        for r in sorted(
            pq.read_table(f"{LARGE_CORPUS}/seeds.parquet").to_pylist(),
            key=lambda r: r["seq"],
        )
    ]
    eng = CrawlEngine(
        spark,
        f"{LARGE_CORPUS}/pages.parquet",
        f"{LARGE_CORPUS}/robots.parquet",
        seeds,
        CrawlConfig(whitelist=BENCH_WHITELIST),
    )
    state = _engine_state(eng.run())
    assert len(state) == expected["n_state_rows"]
    acc = 0
    for h in state:
        acc ^= int(h[:16], 16)
    assert f"{acc:016x}" == expected["seen_urlhash_xor"]
    assert order_digest(_processed_order(state)) == expected["order_sha256"]
