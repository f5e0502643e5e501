"""Crawl-state analytics: the reference report (report/report.py:21-98) as
six short DataFrame queries over the final frontier table (SURVEY.md §3.3).

All pure JVM built-ins over the committed state — the natural OLAP slice:
A2 global word counts / W1 top-50 (freq desc, word asc tie-break),
A3 longest page, A4 subdomain counts, A5 finish-code tallies, A6 totals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spacetime_crawler4_spark.crawl.schema import FINISH, STATUS

# report/report.py:15-19 — valid-word filter; the manual filter list is the
# reference's ad-hoc noise list, kept configurable here. A REPORT.txt
# parity run must pass REFERENCE_MANUAL_FILTER (report.py:15
# MANUAL_WORD_FILTER verbatim); the default is empty because the fixture
# corpora contain neither word.
DEFAULT_MANUAL_FILTER: tuple[str, ...] = ()
REFERENCE_MANUAL_FILTER: tuple[str, ...] = ("markellekelly", "ramesh")


def _valid_word(word: Column, manual_filter) -> Column:
    """report.py:18-19 ``is_valid_word``: len>=3, has a letter, not in the
    manual noise list — shared by top_words AND longest_page (the reference
    applies it in both aggregates, report.py:50,57)."""
    cond = (F.length(word) >= 3) & word.rlike(r"\p{L}")
    if manual_filter:
        cond = cond & ~word.isin(*manual_filter)
    return cond


def top_words(frontier: DataFrame, k: int = 50, manual_filter=DEFAULT_MANUAL_FILTER) -> DataFrame:
    """A2+W1 (report.py:56-59,76-78; helpers/common_words.py:4-29)."""
    words = frontier.select(F.explode("words").alias("word", "cnt"))
    return (
        words.filter(_valid_word(F.col("word"), manual_filter))
        .groupBy("word")
        .agg(F.sum("cnt").alias("total"))
        .orderBy(F.desc("total"), F.asc("word"))
        .limit(k)
    )


def longest_page(frontier: DataFrame, manual_filter=DEFAULT_MANUAL_FILTER) -> DataFrame:
    """A3 (report.py:48-54): argmax page by VALID-word total — the reference
    sums only words passing ``is_valid_word`` (report.py:50), so pages heavy
    in short/numeric tokens must not win here."""
    # row-local (no shuffle): filter the map entries, then fold the counts
    totals = frontier.select(
        "url",
        F.aggregate(
            F.filter(
                F.map_entries("words"),
                lambda e: _valid_word(e["key"], manual_filter),
            ),
            F.lit(0).cast("long"),
            lambda a, e: a + e["value"],
        ).alias("total_words"),
    )
    return totals.orderBy(F.desc("total_words"), F.asc("url")).limit(1)


def subdomain_counts(frontier: DataFrame, suffix: str) -> DataFrame:
    """A4 (report.py:35-41,83-85): URL counts per hostname under suffix."""
    host = F.parse_url("url", F.lit("HOST"))
    return (
        frontier.select(host.alias("hostname"))
        .filter(F.col("hostname").endswith(suffix))
        .groupBy("hostname")
        .count()
        .orderBy("hostname")
    )


def depth_histogram(frontier: DataFrame, max_depth: int | None = None) -> DataFrame:
    """Depth-counter histograms (reference scripts/depthcnt.sh: grep-count of
    absdepth/reldepth/monodepth/dupdepth per value over the frontier nap
    dump). One unpivot + one hash aggregate — (kind, depth) cardinality is
    tiny (4 × max_absdepth), so the shuffle is a few hundred rows at any
    corpus size."""
    long = frontier.select(
        F.stack(
            F.lit(4),
            F.lit("absdepth"), F.col("absdepth"),
            F.lit("reldepth"), F.col("reldepth"),
            F.lit("monodepth"), F.col("monodepth"),
            F.lit("dupdepth"), F.col("dupdepth"),
        ).alias("kind", "depth")
    )
    if max_depth is not None:
        long = long.filter(F.col("depth") <= max_depth)
    return long.groupBy("kind", "depth").count().orderBy("kind", "depth")


def finish_tallies(frontier: DataFrame) -> DataFrame:
    """A5 (report.py:43-67): finish-code histogram."""
    return frontier.groupBy("status", "finish").count().orderBy("status", "finish")


def totals(frontier: DataFrame) -> DataFrame:
    """A6 + headline numbers (report.py:26,70; REPORT.txt:1-2,198-200)."""
    return frontier.agg(
        F.count("*").alias("unique_urls"),
        F.sum((F.col("status") == STATUS.IS_DOWN).cast("long")).alias("downloads"),
        F.sum(
            F.col("finish").isin(FINISH.BAD, FINISH.NOT_ALLOWED, FINISH.CACHE_ERROR).cast("long")
        ).alias("errors"),
        F.sum((F.col("finish") == FINISH.TOO_SIMILAR).cast("long")).alias("too_similar"),
        F.sum((F.col("finish") == FINISH.TOO_EXACT).cast("long")).alias("too_exact"),
    )
