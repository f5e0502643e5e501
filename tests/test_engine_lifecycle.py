"""Engine state lifetimes and job attribution: per-wave frames are
released at the end of their wave, so block-manager retention stays flat
across waves, and close() frees everything; every job of a wave carries
the wave's tag and its phase, within a fixed job budget; the driver's
near-dup mirror follows the frontier's observed counts, so a banded wave
does not turn the vectorized pass off; a damaged snapshot store fails
loudly instead of restarting."""

import json

import pytest

from spacetime_crawler4_spark.crawl import engine as E
from spacetime_crawler4_spark.crawl.engine import CrawlEngine
from spacetime_crawler4_spark.crawl.schema import FRONTIER_SCHEMA, CrawlConfig
from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST, SEED_URLS

WAVES = 4
# Spark jobs fixture waves 0, 1 and 2 may run (AQE stage and broadcast
# jobs included), without a store and with their commits (wave 0's is the
# full base, the later ones deltas); the earlier branch-union wave plan
# ran 53 in wave 0 without a store
WAVE_JOB_BUDGET = {"no_store": (18, 25, 26), "store": (20, 27, 28)}
PHASES = {"select", "domains", "classify", "neardup", "materialize", "commit"}


def _engine(spark, corpus_dir, state_dir=None, **cfg):
    return CrawlEngine(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        CrawlConfig(whitelist=FIXTURE_WHITELIST, **cfg),
        state_dir=state_dir,
    )


@pytest.mark.parametrize("with_store", [False, True], ids=["no_store", "store"])
def test_block_retention_stays_bounded(spark, corpus_dir, tmp_path, with_store):
    """Step the engine one wave per run(): the persistent-RDD count after
    the last wave is no larger than after wave 2 (every superseded
    checkpoint and cached frame is really freed, not just forgotten)."""
    state_dir = str(tmp_path / "state") if with_store else None
    eng = _engine(spark, corpus_dir, state_dir, max_waves=1)
    jsc = spark.sparkContext._jsc
    after = []
    for _ in range(WAVES):
        wave_no = eng.wave_no
        eng.run()
        assert eng.wave_no == wave_no + 1, "fixture crawl ended early"
        after.append(jsc.getPersistentRDDs().size())
    assert after[-1] <= after[1], after
    # the state the frames fed is still readable after their release
    assert eng.frontier.count() > 0
    assert eng.sim_index.count() > 0


def test_corrupt_manifest_fails_resume(spark, corpus_dir, tmp_path):
    """A manifest that does not parse is a damaged store: resume raises
    instead of silently starting a fresh crawl from the seeds."""
    state = tmp_path / "state"
    state.mkdir()
    (state / "manifest.json").write_text('{"wave": 3, "base": "snap-0')
    eng = _engine(spark, corpus_dir, str(state))
    with pytest.raises(json.JSONDecodeError):
        eng.init_state(resume=True)


def _jobs(spark) -> dict[int, tuple[str | None, set[str]]]:
    """{job id: (description, tags)} of the status store's jobs, once the
    listener bus has delivered every event so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    out = {}
    it = sc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        desc = j.description()
        tags, t = set(), j.jobTags().iterator()
        while t.hasNext():
            tags.add(t.next())
        out[j.jobId()] = (desc.get() if desc.isDefined() else None, tags)
    return out


def test_list_seed_init_state_runs_no_job(spark, corpus_dir):
    """A list of seeds becomes the frontier as an Arrow LocalRelation under
    _new_row's foldable projection: init_state runs no Spark job, and the
    frontier has FRONTIER_SCHEMA's columns and types."""
    eng = _engine(spark, corpus_dir)
    seen = set(_jobs(spark))
    eng.init_state()
    assert set(_jobs(spark)) == seen
    assert [(f.name, f.dataType) for f in eng.frontier.schema] == [
        (f.name, f.dataType) for f in FRONTIER_SCHEMA
    ]


@pytest.mark.parametrize("with_store", [False, True], ids=["no_store", "store"])
def test_wave_job_budget_and_phase_attribution(
    spark, corpus_dir, tmp_path, with_store
):
    """Each of the first three fixture waves (one per run()) runs at most
    its WAVE_JOB_BUDGET jobs under its tag (the store commit's jobs
    included), each described by the engine phase that ran it; the
    caller's job description and tags are restored afterwards."""
    sc = spark.sparkContext
    state_dir = str(tmp_path / "state") if with_store else None
    eng = _engine(spark, corpus_dir, state_dir, max_waves=1)
    eng.init_state()
    for n, budget in enumerate(WAVE_JOB_BUDGET["store" if with_store else "no_store"]):
        tag, prefix = f"crawl-wave-{n}", f"wave {n}: "
        seen = set(_jobs(spark))
        sc.setJobDescription("caller")
        try:
            eng.run()
            assert sc.getLocalProperty("spark.job.description") == "caller"
            assert tag not in sc.getJobTags()
        finally:
            sc.setJobDescription(None)
        wave = {
            i: desc
            for i, (desc, tags) in _jobs(spark).items()
            if i not in seen and tag in tags
        }
        assert 0 < len(wave) <= budget, (n, sorted(wave.values()))
        assert any(d == prefix + "commit" for d in wave.values()) == with_store
        for desc in wave.values():
            assert desc is not None and desc.startswith(prefix), desc
            assert desc.removeprefix(prefix) in PHASES, desc
    eng.close()


def test_banded_wave_keeps_vectorized_pass(spark, corpus_dir, engine_frontier):
    """The near-dup mirror follows the frontier's observed sim_index size:
    a banded wave (SIMHASH_NUMPY_CAP=0) adds masters the mirror lacks, so
    the swap drops it; the next wave, back under the cap, still takes the
    vectorized scan and re-collects the mirror (two collect jobs in its
    neardup phase), the wave after keeps it (one), and the crawl ends in
    the all-vectorized crawl's frontier."""
    eng = _engine(spark, corpus_dir, max_waves=1)
    vectorized, took = eng._simhash_stage_vectorized, []

    def spy(cand):
        dups = vectorized(cand)
        took.append(dups is not None)
        return dups

    eng._simhash_stage_vectorized = spy

    def wave() -> tuple[bool, int]:
        """Run one wave: (it took the vectorized scan, its neardup jobs)."""
        seen, n = set(_jobs(spark)), eng.wave_no
        eng.run()
        neardup = [
            i
            for i, (desc, _tags) in _jobs(spark).items()
            if i not in seen and desc == f"wave {n}: neardup"
        ]
        return took[-1], len(neardup)

    assert wave() == (True, 1)  # wave 0: an empty mirror, the scan's collect
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(E, "SIMHASH_NUMPY_CAP", 0)
        assert not wave()[0]
    assert eng._sim_hashes is None and eng._sim_index_rows > 0
    assert wave() == (True, 2)
    assert len(eng._sim_hashes) == eng._sim_index_rows
    assert wave() == (True, 1)
    eng.cfg.max_waves = CrawlConfig().max_waves
    got = {r["urlhash"]: r.asDict() for r in eng.run().collect()}
    _e, frontier = engine_frontier
    assert got == {r["urlhash"]: r.asDict() for r in frontier.collect()}
    eng.close()


def test_close_releases_every_frame(spark, corpus_dir, tmp_path):
    """close() frees the ledger, the last wave and the two state tables
    (frontier, domains): no persistent RDD the engine made is left
    (compared by id, so other tests' frames freed meanwhile cannot mask a
    leak)."""
    jsc = spark.sparkContext._jsc

    def persistent() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    before = persistent()
    eng = _engine(spark, corpus_dir, str(tmp_path / "state"), max_waves=2)
    eng.run()
    assert eng.wave_no == 2
    assert persistent() - before, "the engine holds no checkpoint"
    eng.close()
    assert not persistent() - before
