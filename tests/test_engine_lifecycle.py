"""Engine state lifetimes: per-wave frames are released one wave after
they stop being needed, so block-manager retention stays flat across
waves; a damaged snapshot store fails loudly instead of restarting."""

import json

import pytest

from spacetime_crawler4_spark.crawl.engine import CrawlEngine
from spacetime_crawler4_spark.crawl.schema import CrawlConfig
from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST, SEED_URLS

WAVES = 4


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
