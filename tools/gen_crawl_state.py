#!/usr/bin/env python
"""Materialize the committed crawl-state fixture (VERDICT r3 #7).

Runs the deterministic fixture crawl (sources/fixture.py, seed=42) to
quiescence and writes the final frontier's SCALAR columns — sorted by
(gen, seq) and written via pyarrow as one file — to
spacetime_crawler4_spark/resources/crawl_state/frontier.parquet.

That parquet is committed test data: the registry's crawl_state_*
queries (and their DuckDB oracles) read it, giving the driver's
correctness harness green rows over REAL crawl-engine output (robots
gate, depth sift, status/redirect/length filters, dedup verdicts,
politeness domains) instead of only the local test suite.
Alongside it go the same crawl's wordstats, anchor-text links and page
text, and the frontier after one wave: five tables from two crawls of
one ``fixture_engine``. links and pagetext read the admitted pages
through ``crawl/run.admitted_pages``, the path the CLI exports take.
tests/test_crawl_state_queries.py and tests/test_linkgraph.py run these
builders over the test session's fixture crawl and assert the committed
files still match, so the fixtures cannot drift.

Usage: python tools/gen_crawl_state.py  (rewrites the committed parquet)
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

OUT = (
    Path(__file__).resolve().parent.parent
    / "spacetime_crawler4_spark"
    / "resources"
    / "crawl_state"
    / "frontier.parquet"
)
LINKS_OUT = OUT.parent / "links.parquet"
WORDSTATS_OUT = OUT.parent / "wordstats.parquet"
PAGETEXT_OUT = OUT.parent / "pagetext.parquet"
WAVE1_OUT = OUT.parent / "frontier_wave1.parquet"


def fixture_engine(spark, corpus_dir: str, **config):
    """The fixture crawl's ``CrawlEngine``: ``SEED_URLS`` over the corpus
    written to ``corpus_dir`` under ``CrawlConfig(whitelist=
    FIXTURE_WHITELIST, **config)``. The committed tables and the test
    suite's session crawl both come from it."""
    from spacetime_crawler4_spark.crawl.engine import CrawlEngine
    from spacetime_crawler4_spark.crawl.schema import CrawlConfig
    from spacetime_crawler4_spark.sources.fixture import (
        FIXTURE_WHITELIST,
        SEED_URLS,
    )

    return CrawlEngine(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        list(SEED_URLS),
        CrawlConfig(whitelist=FIXTURE_WHITELIST, **config),
    )


def _arrow(rows):
    """Collected Rows as a pyarrow table, columns in row order."""
    import pyarrow as pa

    cols = rows[0].asDict().keys() if rows else []
    return pa.table({c: [r[c] for r in rows] for c in cols})


def crawl_state_tables(frontier):
    """The final frontier -> (frontier scalars, wordstats) pyarrow tables.

    frontier: the scalar columns (``_frontier_scalars``).
    wordstats: the same frontier's word bags exploded to one (url, domain,
    finish, word, cnt) row per distinct token — the committed signal table
    for content-mining queries (soft-404 boilerplate share) whose DuckDB
    oracles need word-level access the scalar table drops. Sorted
    (url, word)."""
    from pyspark.sql import functions as F

    ws_rows = (
        frontier.filter(
            F.size(F.map_keys(F.coalesce("words", F.create_map()))) > 0
        )
        .select("url", "domain", "finish", F.explode("words").alias("word", "cnt"))
        .orderBy("url", "word")
        .collect()
    )
    return _frontier_scalars(frontier), _arrow(ws_rows)


def _frontier_scalars(frontier):
    """Frontier scalar columns as a pyarrow table, (gen, seq)-sorted for
    byte-stable committed output (maps/arrays reduced to counts)."""
    from pyspark.sql import functions as F

    return _arrow(
        frontier.select(
            "urlhash",
            "url",
            "parent",
            "status",
            "finish",
            "absdepth",
            "reldepth",
            "monodepth",
            "dupdepth",
            F.size(F.map_keys(F.coalesce("words", F.create_map()))).alias(
                "n_words"
            ),
            F.size(F.coalesce("links", F.array())).alias("n_links"),
            "exhash",
            "smhash",
            "gen",
            "seq",
            "domain",
            "retries",
        )
        .orderBy("gen", "seq")
        .collect()
    )


def wave1_table(frontier):
    """The frontier AFTER EXACTLY ONE WAVE (``max_waves=1``) — the
    committed mid-crawl snapshot. Paired with the final frontier it makes
    the store's time-travel surface driver-checkable: crawl_snapshot_delta
    diffs the two exactly like an Iceberg incremental read between
    snapshot commits (crawl/store.py commits once per wave)."""
    return _frontier_scalars(frontier)


def links_table(spark, frontier, pages_path: str):
    """Anchor-text edges of the crawl's admitted pages
    (``crawl/run.admitted_pages``) via the production ``anchor_edges``
    operator (operators/linkgraph.py), the rows ``--links-out`` exports —
    so the committed fixture IS the operator's output, not a parallel
    reimplementation. Sorted (src_url, pos) for byte-stable output."""
    from spacetime_crawler4_spark.crawl.run import admitted_pages
    from spacetime_crawler4_spark.operators.linkgraph import anchor_edges

    return _arrow(
        anchor_edges(admitted_pages(spark, frontier, pages_path))
        .orderBy("src_url", "pos")
        .collect()
    )


def pagetext_table(spark, frontier, pages_path: str):
    """(url, domain, text) for the crawl's admitted pages: the
    ``crawl/run.admitted_text`` projection ``--wet-out`` exports, the
    canonical newline-joined fragment serialization, so the committed
    fixture carries the exact line granularity the line-dedup operators
    (operators/dedup.line_dedup) consume. Sorted by url for byte-stable
    output."""
    import pyarrow as pa

    from spacetime_crawler4_spark.crawl.run import admitted_text
    from spacetime_crawler4_spark.crawl.schema import domain_of

    rows = admitted_text(spark, frontier, pages_path).orderBy("url").collect()
    return pa.table(
        {
            "url": [r["url"] for r in rows],
            "domain": [domain_of(r["url"]) for r in rows],
            "text": [r["text"] for r in rows],
        }
    )


def main() -> None:
    import pyarrow.parquet as pq

    from spacetime_crawler4_spark.session import get_spark
    from spacetime_crawler4_spark.sources.fixture import write_corpus

    spark = get_spark(
        "gen-crawl-state",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as td:
        write_corpus(td)
        pages = f"{td}/pages.parquet"
        frontier = fixture_engine(spark, td).run()
        tbl, wordstats = crawl_state_tables(frontier)
        links = links_table(spark, frontier, pages)
        pagetext = pagetext_table(spark, frontier, pages)
        wave1 = wave1_table(fixture_engine(spark, td, max_waves=1).run())
    OUT.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, OUT, compression="zstd")
    print(f"wrote {OUT} rows={tbl.num_rows}")
    pq.write_table(links, LINKS_OUT, compression="zstd")
    print(f"wrote {LINKS_OUT} rows={links.num_rows}")
    pq.write_table(wordstats, WORDSTATS_OUT, compression="zstd")
    print(f"wrote {WORDSTATS_OUT} rows={wordstats.num_rows}")
    pq.write_table(pagetext, PAGETEXT_OUT, compression="zstd")
    print(f"wrote {PAGETEXT_OUT} rows={pagetext.num_rows}")
    pq.write_table(wave1, WAVE1_OUT, compression="zstd")
    print(f"wrote {WAVE1_OUT} rows={wave1.num_rows}")


if __name__ == "__main__":
    main()
