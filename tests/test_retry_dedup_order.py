"""Retry-order near-dup quirk, pinned (found by tools/soak_crawl.py).

The reference's single-threaded discipline retries a 5xx page IN ITS SLOT
(workerpipe.py:110-127), so its near-dup decision happens at its FIFO
position. The engine (and the wave-mode oracle) defer the retry to the
NEXT WAVE, so a page that keeps failing is dedup-evaluated AFTER pages
that FIFO-follow it. When a still-retrying page X has a near-dup twin Y
discovered later, the master election flips: FIFO says X is the master
and Y the dup; the wave discipline admits Y first and marks X the dup.

The multithreaded reference makes no cross-thread ordering promise here
(4 workers race; one blocks up to 31 s in backoff while others proceed),
so both elections are faithful to A reading of the reference; the engine
contract is: retry-free crawls match the FIFO oracle exactly
(test_crawl_parity), crawls with retries match the wave oracle exactly
(this test + budget-parity suite).
"""

import pytest

from spacetime_crawler4_spark.crawl.engine import CrawlEngine
from spacetime_crawler4_spark.crawl.schema import FINISH, CrawlConfig
from spacetime_crawler4_spark.crawl.seqoracle import SeqCrawler
from spacetime_crawler4_spark.functions.simhash import (
    SIMHASH_THRESHOLD,
    hamming32,
    simhash32,
)
from spacetime_crawler4_spark.functions.tokenizer import tokenize, word_count
from spacetime_crawler4_spark.sources.fixture import Page, write_tables

WL = (".retry.test",)
DOM = "http://h.retry.test"

T1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
      "lamda mu nu xi omicron pi rho sigma tau upsilon "
      "alpha beta gamma delta epsilon zeta eta theta iota kappa "
      "lamda mu nu xi omicron pi rho sigma tau upsilon "
      "alpha beta gamma delta")
T2 = T1.replace("upsilon", "phi")  # one word changed: near-dup, not exact
T_OTHER = ("one two three four five six seven eight nine ten eleven twelve "
           "thirteen fourteen fifteen sixteen seventeen eighteen nineteen "
           "twenty thirty forty fifty sixty seventy eighty ninety hundred "
           "thousand million billion first second third fourth fifth "
           "one two three four")
T_P = ("red orange yellow green blue indigo violet crimson amber teal "
       "cyan magenta maroon olive navy coral salmon ivory beige plum "
       "sienna ochre mauve tan russet sepia umber jade pearl onyx "
       "red orange yellow green")


def _sim(text: str) -> int:
    return simhash32(word_count(tokenize(text)))


def _corpus(tmp: str) -> list[str]:
    pages = [
        Page(url=DOM, fragments=["root", T_OTHER, "to x", "to p"],
             hrefs=[f"{DOM}/x.html", f"{DOM}/p.html"], anchors=["to x", "to p"]),
        # X: two 5xx failures before success -> engine retries land at
        # wave 3, AFTER Y (discovered wave 1, fetched wave 2)
        Page(url=f"{DOM}/x.html", fragments=["x page", T1], hrefs=[],
             status=503, retry_after=2),
        Page(url=f"{DOM}/p.html",
             fragments=["p page", T_P, "to y"],
             hrefs=[f"{DOM}/y.html"], anchors=["to y"]),
        Page(url=f"{DOM}/y.html", fragments=["y page", T2], hrefs=[]),
    ]
    seeds = [DOM]
    robots = [{"domain": DOM, "status": 200, "body": "User-agent: *\nDisallow:\n"}]
    write_tables(tmp, pages, robots, seeds)
    return seeds


def test_preconditions():
    hx, hy = _sim("x page\n" + T1), _sim("y page\n" + T2)
    assert hamming32(hx, hy) <= SIMHASH_THRESHOLD  # X and Y genuinely twin
    hr = _sim("root\n" + T_OTHER + "\nto x\nto p")
    hp = _sim("p page\n" + T_P + "\nto y")
    for a in (hr, hp):
        assert hamming32(hx, a) > SIMHASH_THRESHOLD
        assert hamming32(hy, a) > SIMHASH_THRESHOLD
    assert hamming32(hr, hp) > SIMHASH_THRESHOLD  # P and root distinct


def _run(tmp, mode):
    seeds = _corpus(tmp)
    ora = SeqCrawler(
        f"{tmp}/pages.parquet", f"{tmp}/robots.parquet", seeds,
        CrawlConfig(whitelist=WL), mode=mode,
    )
    ora.run()
    return {r["url"]: r for r in ora.state().values()}


def test_fifo_in_slot_retry_elects_x(tmp_path):
    st = _run(str(tmp_path), "fifo")
    assert st[f"{DOM}/x.html"]["finish"] == FINISH.OK
    assert st[f"{DOM}/y.html"]["finish"] == FINISH.TOO_SIMILAR


def test_wave_retry_loopback_elects_y(tmp_path):
    st = _run(str(tmp_path), "wave")
    assert st[f"{DOM}/y.html"]["finish"] == FINISH.OK
    assert st[f"{DOM}/x.html"]["finish"] == FINISH.TOO_SIMILAR


def test_engine_matches_wave_oracle_exactly(spark, tmp_path):
    tmp = str(tmp_path)
    seeds = _corpus(tmp)
    eng = CrawlEngine(
        spark, f"{tmp}/pages.parquet", f"{tmp}/robots.parquet", seeds,
        CrawlConfig(whitelist=WL),
    )
    engine = {r["urlhash"]: r.asDict() for r in eng.run().collect()}
    ora = SeqCrawler(
        f"{tmp}/pages.parquet", f"{tmp}/robots.parquet", seeds,
        CrawlConfig(whitelist=WL), mode="wave",
    )
    ora.run()
    oracle = ora.state()
    assert engine.keys() == oracle.keys()
    for h in engine:
        e, o = dict(engine[h]), dict(oracle[h])
        e["words"] = dict(e["words"] or {})
        e.pop("retries", None)
        o.pop("retries", None)
        assert e == o, o["url"]
