import os
import sys
import types

import pytest

REF = "/root/reference"


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run tests marked slow (multi-minute end-to-end runs)",
    )


def pytest_collection_modifyitems(config, items):
    """``slow``-marked tests are excluded from the default run so the
    standard gate stays fast (VERDICT r4 next-round #8); every one still
    runs under ``pytest --runslow`` and none is removed from coverage."""
    if config.getoption("--runslow"):
        return
    skip = pytest.mark.skip(reason="slow test: pass --runslow to include")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def ref():
    """Import the reference's pure-Python helpers in-process (read-only).

    These are the parity oracles for differential tests: tokenizer, crc32/64,
    simhash, exhash, common_words, urlhash/normalize, Nurl depth recurrences.
    (helpers/parser.py needs bs4 which is unavailable — the HTML plane is
    covered by fixture-based tests instead.)
    """
    cwd = os.getcwd()
    os.chdir(REF)  # contra_set/stopwords_set open rsrc/*.txt relative to cwd
    sys.path.insert(0, REF)
    try:
        import helpers.common_words as common_words
        import helpers.crc32 as crc32
        import helpers.crc64 as crc64
        import helpers.exhash as exhash
        import helpers.simhash as simhash
        import helpers.tokenize as tokenize
        import helpers.word_count as word_count
        import utils as ref_utils
        from crawler2 import nurl
    finally:
        os.chdir(cwd)
        sys.path.remove(REF)
    ns = types.SimpleNamespace(
        tokenize=tokenize.tokenize,
        word_count=word_count.word_count,
        to_tokens=word_count.to_tokens,
        crc32=crc32.crc32,
        crc64=crc64.crc64,
        simhash=simhash.simhash,
        hamming_distance=simhash.hamming_distance,
        compare_fingerprints=simhash.compare_fingerprints,
        exhash=exhash.exhash,
        common_words=common_words.common_words,
        get_urlhash=ref_utils.get_urlhash,
        normalize=ref_utils.normalize,
        Nurl=nurl.Nurl,
        compute_rel_dirdepth=nurl._compute_rel_dirdepth,
    )
    return ns


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """Session-scoped synthetic web corpus (pages/robots/seeds parquet)."""
    from spacetime_crawler4_spark.sources.fixture import write_corpus

    out = tmp_path_factory.mktemp("corpus")
    write_corpus(str(out))
    return str(out)


@pytest.fixture(scope="session")
def engine_frontier(spark, corpus_dir):
    """The fixture crawl (``tools/gen_crawl_state.fixture_engine``) run to
    quiescence once per session, shared by the parity, report and
    committed-fixture drift tests."""
    from tools.gen_crawl_state import fixture_engine

    eng = fixture_engine(spark, corpus_dir)
    frontier = eng.run()
    return eng, frontier


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import tempfile

    from pyspark.sql import SparkSession

    # warehouse + metastore in a throwaway dir so saveAsTable (the
    # bucketed-table tests) never litters the repo with spark-warehouse/
    # or derby metastore_db/
    wh = tempfile.mkdtemp(prefix="spark-wh-")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("spacetime-crawler4-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", f"{wh}/warehouse")
        .config(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={wh}/derby"
        )
        .getOrCreate()
    )
    yield spark
    spark.stop()
