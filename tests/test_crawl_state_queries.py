"""The committed crawl-state fixture cannot drift from the engine.

tools/gen_crawl_state.py freezes the deterministic fixture crawl's final
frontier into resources/crawl_state/frontier.parquet; the registry's
crawl_state_* queries (driver-checked with DuckDB oracles) read it. The
drift test runs the tool's table builders over the session's fixture
crawl (the ``engine_frontier`` fixture, built by the tool's
``fixture_engine``) plus a fresh one-wave crawl, and asserts each
committed file still equals what the engine produces today — if an
engine change legitimately moves the frontier, regenerate the fixture
with the tool and commit both.
"""

import pyarrow.parquet as pq

from spacetime_crawler4_spark.queries import (
    _CRAWL_STATE_PARQUET,
    q_crawl_state_depth_audit,
    q_crawl_state_domain_audit,
    q_crawl_state_finish_histogram,
)


def test_committed_state_matches_fresh_crawl(spark, corpus_dir, engine_frontier):
    from tools.gen_crawl_state import (
        PAGETEXT_OUT,
        WAVE1_OUT,
        WORDSTATS_OUT,
        crawl_state_tables,
        fixture_engine,
        pagetext_table,
        wave1_table,
    )

    _eng, frontier = engine_frontier
    fresh, fresh_ws = crawl_state_tables(frontier)
    fresh_pt = pagetext_table(spark, frontier, f"{corpus_dir}/pages.parquet")
    fresh_w1 = wave1_table(fixture_engine(spark, corpus_dir, max_waves=1).run())
    for committed, fresh_tbl, label in [
        (pq.read_table(_CRAWL_STATE_PARQUET), fresh, "frontier"),
        (pq.read_table(WORDSTATS_OUT), fresh_ws, "wordstats"),
        (pq.read_table(PAGETEXT_OUT), fresh_pt, "pagetext"),
        (pq.read_table(WAVE1_OUT), fresh_w1, "frontier_wave1"),
    ]:
        assert committed.column_names == fresh_tbl.column_names, label
        assert committed.num_rows == fresh_tbl.num_rows, label
        for c in fresh_tbl.column_names:
            assert committed[c].to_pylist() == fresh_tbl[c].to_pylist(), (
                f"{label} column {c} drifted"
            )


def test_crawl_state_queries_cover_the_gates(spark):
    """The fixture exercises every gate the queries audit: multiple finish
    codes including SIFTED, dedup rejects, redirects; >1 domain; >1 depth."""
    fin = {
        (r["status"], r["finish"]): r["n"]
        for r in q_crawl_state_finish_histogram(spark, "").collect()
    }
    finishes = {f for (_s, f) in fin}
    # OK, LOWINFO_PRE/POST, TOO_EXACT, TOO_SIMILAR, NOT_ALLOWED, REDIRECT,
    # SIFTED, CACHE_ERROR all present in the fixture crawl
    assert {0, 2, 3, 4, 5, 6, 7, 8, 255} <= finishes
    assert sum(fin.values()) == 252  # fixture frontier row count

    dom = q_crawl_state_domain_audit(spark, "").collect()
    assert len(dom) >= 2
    assert any(r["n_dup_reject"] > 0 for r in dom)
    assert all(r["n_downloaded"] <= r["n_urls"] for r in dom)

    dep = q_crawl_state_depth_audit(spark, "").collect()
    assert len(dep) >= 3
    assert any(r["n_sifted"] > 0 for r in dep)


def test_snapshot_delta_has_signal(spark):
    """The wave-1 → final diff actually exercises every delta column:
    later waves discovered new URLs, resolved pending ones, and assigned
    new finish verdicts — and the totals reconcile with the snapshots."""
    import pyarrow.parquet as pq_

    from spacetime_crawler4_spark.queries import (
        _CRAWL_WAVE1_PARQUET,
        q_crawl_snapshot_delta,
    )

    rows = q_crawl_snapshot_delta(spark, "").collect()
    n_final = sum(r["n_final"] for r in rows)
    n_new = sum(r["n_new"] for r in rows)
    assert n_final == 252
    t0 = pq_.read_table(_CRAWL_WAVE1_PARQUET)
    assert n_final - n_new == t0.num_rows  # every wave-1 row persists
    assert n_new > 0
    assert sum(r["n_resolved"] for r in rows) > 0
    assert sum(r["n_reverdicted"] for r in rows) > 0
