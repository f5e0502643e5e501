"""The broadcast-bloom seen-set prefilter must not change crawl results:
engine with a SEEN_BLOOM_FPP == the plain-anti-join engine, row for row."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spacetime_crawler4_spark.crawl import engine as E
from spacetime_crawler4_spark.crawl.engine import CrawlEngine
from spacetime_crawler4_spark.crawl.schema import CrawlConfig
from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST, SEED_URLS


@pytest.mark.slow
def test_bloom_prefilter_is_transparent(
    spark, corpus_dir, engine_frontier, monkeypatch
):
    monkeypatch.setattr(E, "SEEN_BLOOM_FPP", 0.03)
    eng = CrawlEngine(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        SEED_URLS,
        CrawlConfig(whitelist=FIXTURE_WHITELIST),
    )
    bloom_state = {r["urlhash"]: r.asDict() for r in eng.run().collect()}
    _e, frontier = engine_frontier
    plain_state = {r["urlhash"]: r.asDict() for r in frontier.collect()}
    assert bloom_state.keys() == plain_state.keys()
    for h in plain_state:
        b, p = dict(bloom_state[h]), dict(plain_state[h])
        b["words"], p["words"] = dict(b["words"] or {}), dict(p["words"] or {})
        assert b == p, p["url"]
    # the incremental path actually engaged: the multi-wave crawl must have
    # OR-merged at least one O(inserts) delta instead of re-scanning the
    # frontier every wave (full rebuilds happen only on capacity overflow)
    assert eng.sketch_stats["delta_merges"] >= 1
    assert eng.sketch_stats["full_builds"] >= 1
    n_insert_waves = sum(1 for m in eng.metrics if m.get("n_inserts"))
    assert (
        eng.sketch_stats["full_builds"] <= n_insert_waves
    ), "incremental sketch rebuilt more often than waves inserted"


# ---------------------------------------------------------------------------
# regression: an http/https twin of a SEEN page arriving in a LATER wave.
# urlhash is scheme-less, so the twin's anti-join key is already in the
# frontier; a bloom keyed on the raw url (the round-1 bug) would miss it,
# classify the twin 'definitely new', and insert a duplicate-urlhash row.
# The bloom must be keyed on xxhash64(urlhash) — the join key itself.
# ---------------------------------------------------------------------------

_TWIN_HOST = "www.t.test"


def _twin_page_html(tag: str, href: str | None) -> bytes:
    # per-page disjoint random vocabulary: near-identical structured words
    # would collide under 32-bit simhash and kill the page TOO_SIMILAR
    # before it ever expands its links
    import random

    rng = random.Random(tag)
    words = " ".join(f"w{rng.randrange(10**8):08d}" for _ in range(40))
    link = f'<a href="{href}">next</a>' if href else ""
    body = f"<html><body><p>{words} {words}</p>{link}</body></html>"
    return body.encode()


def _write_twin_corpus(out_dir: str) -> None:
    # wave 0: seed http://www.t.test/       -> links http://www.t.test/p
    # wave 1: /p                            -> links https://www.t.test/x
    # wave 2: https://www.t.test/x          -> links https://www.t.test/p
    #         (urlhash twin of /p, inserted back in wave 0's expansion)
    rows = [
        (f"http://{_TWIN_HOST}/", _twin_page_html("home", f"http://{_TWIN_HOST}/p")),
        (f"http://{_TWIN_HOST}/p", _twin_page_html("pagep", f"https://{_TWIN_HOST}/x")),
        (f"https://{_TWIN_HOST}/x", _twin_page_html("pagex", f"https://{_TWIN_HOST}/p")),
    ]
    pages = pa.table(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pa.array([None] * len(rows), pa.timestamp("us")),
            "html": [r[1] for r in rows],
            "text": [""] * len(rows),
            "lang": ["en"] * len(rows),
            "status": pa.array([200] * len(rows), pa.int32()),
            "content_type": ["text/html"] * len(rows),
            "redirect_to": pa.array([None] * len(rows), pa.string()),
            "retry_after": pa.array([0] * len(rows), pa.int32()),
        }
    )
    pq.write_table(pages, f"{out_dir}/pages.parquet")
    robots = pa.table(
        {
            "domain": [f"http://{_TWIN_HOST}", f"https://{_TWIN_HOST}"],
            "status": pa.array([200, 200], pa.int32()),
            "body": ["User-agent: *\nAllow: /\n"] * 2,
        }
    )
    pq.write_table(robots, f"{out_dir}/robots.parquet")


def test_bloom_scheme_twin_later_wave(spark, tmp_path, monkeypatch):
    out = str(tmp_path)
    _write_twin_corpus(out)

    def run(fpp):
        monkeypatch.setattr(E, "SEEN_BLOOM_FPP", fpp)
        eng = CrawlEngine(
            spark,
            f"{out}/pages.parquet",
            f"{out}/robots.parquet",
            [f"http://{_TWIN_HOST}/"],
            CrawlConfig(whitelist=(".t.test",)),
        )
        return eng.run().collect()

    bloom_rows = run(0.03)
    plain_rows = run(None)
    # no duplicate-urlhash frontier rows under the bloom
    bloom_hashes = [r["urlhash"] for r in bloom_rows]
    assert len(bloom_hashes) == len(set(bloom_hashes))
    # and row-for-row identity with the plain anti-join engine
    b = {r["urlhash"]: r.asDict() for r in bloom_rows}
    p = {r["urlhash"]: r.asDict() for r in plain_rows}
    assert b.keys() == p.keys()
    for h in p:
        bb, pp = dict(b[h]), dict(p[h])
        bb["words"], pp["words"] = dict(bb["words"] or {}), dict(pp["words"] or {})
        assert bb == pp, pp["url"]


def test_seed_dedup_by_urlhash(spark, tmp_path):
    """Seed spellings that collapse to one urlhash (trailing slash,
    http/https twin) must yield ONE frontier row — reference nap add-time
    dedup semantics."""
    out = str(tmp_path)
    _write_twin_corpus(out)
    eng = CrawlEngine(
        spark,
        f"{out}/pages.parquet",
        f"{out}/robots.parquet",
        [
            f"http://{_TWIN_HOST}/",
            f"http://{_TWIN_HOST}",        # trailing-slash twin
            f"https://{_TWIN_HOST}/",      # scheme twin
        ],
        CrawlConfig(whitelist=(".t.test",)),
    )
    eng.init_state()
    rows = eng.frontier.collect()
    assert len(rows) == 1
    # first seed spelling wins
    assert rows[0]["url"] == f"http://{_TWIN_HOST}/"
    assert rows[0]["seq"] == "0000000"


def test_seed_seq_keeps_input_index(spark, tmp_path):
    """A collapsed twin leaves a gap in the seed numbering: seq is the
    seed's input position, as in the sequential oracle, so [a, twin of a,
    b] numbers b 0000002."""
    out = str(tmp_path)
    _write_twin_corpus(out)
    eng = CrawlEngine(
        spark,
        f"{out}/pages.parquet",
        f"{out}/robots.parquet",
        [f"http://{_TWIN_HOST}/", f"https://{_TWIN_HOST}/", f"http://{_TWIN_HOST}/p"],
        CrawlConfig(whitelist=(".t.test",)),
    )
    eng.init_state()
    got = {r["url"]: r["seq"] for r in eng.frontier.collect()}
    assert got == {
        f"http://{_TWIN_HOST}/": "0000000",
        f"http://{_TWIN_HOST}/p": "0000002",
    }


@pytest.mark.slow
def test_simhash32_quadratic_guard_fires(spark, corpus_dir, monkeypatch):
    """bits=32 + banded fallback above engine.SIMHASH32_BANDED_MAX must
    refuse with a message pointing at simhash_bits=64, and the same corpus
    at bits=64 (or guard disabled) must run."""
    import pyarrow.parquet as pq
    import pytest

    from spacetime_crawler4_spark.crawl import engine as E
    from spacetime_crawler4_spark.crawl.engine import CrawlEngine
    from spacetime_crawler4_spark.crawl.schema import CrawlConfig
    from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST

    seeds = [
        r["url"]
        for r in sorted(
            pq.read_table(f"{corpus_dir}/seeds.parquet").to_pylist(),
            key=lambda r: r["seq"],
        )
    ]

    def eng(**kw):
        return CrawlEngine(
            spark,
            f"{corpus_dir}/pages.parquet",
            f"{corpus_dir}/robots.parquet",
            seeds,
            CrawlConfig(whitelist=FIXTURE_WHITELIST, **kw),
        )

    # numpy path off + a threshold the fixture certainly exceeds -> refuse
    monkeypatch.setattr(E, "SIMHASH_NUMPY_CAP", 0)
    monkeypatch.setattr(E, "SIMHASH32_BANDED_MAX", 1)
    with pytest.raises(RuntimeError, match="simhash_bits=64"):
        eng().run()
    # and the production 64-bit plane is untouched by the guard
    f_64 = eng(simhash_bits=64).run()

    # identical corpus: guard disabled runs the banded 32-bit plan fine
    monkeypatch.setattr(E, "SIMHASH32_BANDED_MAX", 0)
    f_off = eng().run()
    assert f_off.count() > 0 and f_64.count() > 0
