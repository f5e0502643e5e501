"""Dense within-wave near-dup election: a wave of N mutually-similar pages
(N·(N-1)/2 candidate pairs) resolved by the banded LSH join with the
distributed round-based election must produce the exact same frontier as
the driver's vectorized FIFO scan (VERDICT r1 'What's wrong' #1).
"""

import pytest
import random

import pyarrow as pa
import pyarrow.parquet as pq

from spacetime_crawler4_spark.crawl import engine as E
from spacetime_crawler4_spark.crawl.engine import CrawlEngine
from spacetime_crawler4_spark.crawl.schema import FINISH, CrawlConfig

HOST = "www.dense.test"
N_NEAR = 60


def _para(tag: str) -> str:
    rng = random.Random(tag)
    return " ".join(f"w{rng.randrange(10**8):08d}" for _ in range(40))


def _write_dense_corpus(out_dir: str) -> None:
    hub_words = _para("hub")
    near_words = _para("near")  # SAME visible words on every /near page ->
    # identical simhash -> all pairs at hamming 0; distinct html comments
    # keep exhash (byte checksum) distinct so exact-dedup does not collapse
    # the family first
    rows = [
        (
            f"http://{HOST}/",
            (
                "<html><body><p>"
                + f"{hub_words} {hub_words}</p>"
                + "".join(
                    f'<a href="/near/{i}">n{i}</a>' for i in range(N_NEAR)
                )
                + "</body></html>"
            ).encode(),
        )
    ]
    for i in range(N_NEAR):
        rows.append(
            (
                f"http://{HOST}/near/{i}",
                (
                    f"<html><body><!-- pad{i:04d} -->"
                    f"<p>{near_words} {near_words}</p></body></html>"
                ).encode(),
            )
        )
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "warc_ts": pa.array([None] * n, pa.timestamp("us")),
                "html": [r[1] for r in rows],
                "text": [""] * n,
                "lang": ["en"] * n,
                "status": pa.array([200] * n, pa.int32()),
                "content_type": ["text/html"] * n,
                "redirect_to": pa.array([None] * n, pa.string()),
                "retry_after": pa.array([0] * n, pa.int32()),
            }
        ),
        f"{out_dir}/pages.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "domain": [f"http://{HOST}"],
                "status": pa.array([200], pa.int32()),
                "body": ["User-agent: *\nAllow: /\n"],
            }
        ),
        f"{out_dir}/robots.parquet",
    )


def _run(spark, out: str):
    eng = CrawlEngine(
        spark,
        f"{out}/pages.parquet",
        f"{out}/robots.parquet",
        [f"http://{HOST}/"],
        CrawlConfig(whitelist=(".dense.test",)),
    )
    return eng, eng.run().collect()


@pytest.fixture(scope="module")
def dense_runs(spark, tmp_path_factory):
    """One crawl of the dense corpus per election path: the vectorized FIFO
    scan (default) and the banded plan with the distributed election
    (SIMHASH_NUMPY_CAP=0)."""
    out = str(tmp_path_factory.mktemp("dense"))
    _write_dense_corpus(out)
    _, vec_rows = _run(spark, out)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(E, "SIMHASH_NUMPY_CAP", 0)
        band_eng, band_rows = _run(spark, out)
    return vec_rows, band_eng, band_rows


def _assert_rows_equal(rows_a, rows_b):
    a_by = {r["urlhash"]: r.asDict() for r in rows_a}
    b_by = {r["urlhash"]: r.asDict() for r in rows_b}
    assert a_by.keys() == b_by.keys()
    for h in b_by:
        a, c = dict(a_by[h]), dict(b_by[h])
        a["words"], c["words"] = dict(a["words"] or {}), dict(c["words"] or {})
        assert a == c, c["url"]


def test_distributed_election_matches_driver_greedy(dense_runs):
    """The distributed round-based election reproduces the driver-side
    greedy FIFO scan row for row, and its result is the reference greedy."""
    vec_rows, band_eng, band_rows = dense_runs
    assert band_eng.election_stats["outer_rounds"] >= 1
    _assert_rows_equal(vec_rows, band_rows)

    # the FIFO-earliest page of the dense family is the single master,
    # everyone else is a dup
    fam = [r for r in band_rows if "/near/" in r["url"]]
    assert len(fam) == N_NEAR
    ok = sorted(r["url"] for r in fam if r["finish"] == FINISH.OK)
    sim = [r for r in fam if r["finish"] == FINISH.TOO_SIMILAR]
    assert ok == [f"http://{HOST}/near/0"]
    assert len(sim) == N_NEAR - 1


def test_vectorized_fast_path_matches_banded(dense_runs):
    """The numpy FIFO-scan fast path (default) must equal the banded
    distributed plan on the dense family."""
    vec_rows, _, band_rows = dense_runs
    _assert_rows_equal(vec_rows, band_rows)
    fam = [r for r in vec_rows if "/near/" in r["url"]]
    assert len(fam) == N_NEAR
    ok = [r["url"] for r in fam if r["finish"] == FINISH.OK]
    assert ok == [f"http://{HOST}/near/0"]


@pytest.mark.slow
def test_64bit_production_plane(spark, tmp_path):
    """simhash_bits=64 (production plane): identical pages still collapse
    (equal word maps hash equal at any width), and the engine's state
    machine is untouched — the dense family resolves exactly as at 32
    bits. Distinct-content pages must NOT collide (the whole point: the
    64-bit plane kills the 32-bit false-collision saturation)."""
    out = str(tmp_path)
    _write_dense_corpus(out)
    eng = CrawlEngine(
        spark,
        f"{out}/pages.parquet",
        f"{out}/robots.parquet",
        [f"http://{HOST}/"],
        CrawlConfig(whitelist=(".dense.test",), simhash_bits=64),
    )
    rows = eng.run().collect()
    fam = [r for r in rows if "/near/" in r["url"]]
    assert len(fam) == N_NEAR
    ok = sorted(r["url"] for r in fam if r["finish"] == FINISH.OK)
    assert ok == [f"http://{HOST}/near/0"]
    assert sum(r["finish"] == FINISH.TOO_SIMILAR for r in fam) == N_NEAR - 1
    # the hub (distinct random words) survives at 64 bits
    hub = next(r for r in rows if r["url"] == f"http://{HOST}/")
    assert hub["finish"] == FINISH.OK
    # fingerprints really are 64-bit (some hash uses the high lanes)
    assert any(
        (r["smhash"] or 0) > 2**32 or (r["smhash"] or 0) < 0
        for r in rows
        if r["smhash"] is not None
    )
