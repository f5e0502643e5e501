"""Frontier schema, state-machine constants, deterministic ordering keys.

Status / finish codes mirror the reference exactly
(crawler2/nurl.py:12-28); the frontier row is the Nurl record
(crawler2/nurl.py:123-145) plus engine bookkeeping:

- ``gen``  — BFS generation (FIFO position class). Children get
  ``parent.gen + 1`` regardless of which wave actually processes the
  parent, so in-slot reference retries and politeness deferrals never
  perturb ordering parity (SURVEY.md §2.5 W3).
- ``seq``  — deterministic FIFO path key: fixed-width '.'-separated
  segments, one per ancestor. Seeds: ``0000000``. Per-page enqueue order is
  encoded in the segment tag: ``a``=sitemap seeds (enqueued at domain init,
  frontier.py:165-176), ``b``=redirect child (workerpipe.py:163-186),
  ``c``=scraped children (worker.py:108-115). Lexicographic order of
  (gen, seq) == the reference's single-threaded FIFO processing order.
  Max depth is bounded by the absdepth sift (8), so paths stay short.
- ``retries`` — cross-wave loopback counter standing in for the
  reference's in-slot backoff (workerpipe.py:110-127).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from spacetime_crawler4_spark.functions.urls import get_urlhash, normalize_url


class STATUS:
    NO_DOWN = 0  # nurl.py:13
    IN_USE = 1   # nurl.py:14 (only observable mid-wave; snapshots are clean)
    IS_DOWN = 2  # nurl.py:15


class FINISH:
    OK = 0x0            # nurl.py:19
    BAD = 0x1           # nurl.py:20
    LOWINFO_PRE = 0x2   # nurl.py:21
    LOWINFO_POST = 0x3  # nurl.py:22
    TOO_EXACT = 0x4     # nurl.py:23
    TOO_SIMILAR = 0x5   # nurl.py:24
    NOT_ALLOWED = 0x6   # nurl.py:25
    REDIRECT = 0x7      # nurl.py:26
    SIFTED = 0x8        # nurl.py:27
    CACHE_ERROR = 0xFF  # nurl.py:28


# workerpipe.py:29-39
MIN_CONTENT_LEN = 200
MAX_CONTENT_LEN = 1_000_000
MAX_ABSDEPTH = 8
MAX_RELDEPTH = 2
MAX_MONODEPTH = 3
MAX_DUPDEPTH = 1
MIN_WORDS = 20
MIN_MAX_WORD_COUNT = 2
MIN_UNIQUE_WORDS = 5
MAX_RETRIES = 5  # len(RETRY_DELAY), workerpipe.py:26

FRONTIER_SCHEMA = StructType(
    [
        StructField("urlhash", StringType(), False),
        StructField("url", StringType(), False),
        StructField("parent", StringType(), True),
        StructField("status", IntegerType(), False),
        StructField("finish", IntegerType(), False),
        StructField("absdepth", IntegerType(), False),
        StructField("reldepth", IntegerType(), False),
        StructField("monodepth", IntegerType(), False),
        StructField("dupdepth", IntegerType(), False),
        StructField("words", MapType(StringType(), IntegerType()), True),
        StructField("links", ArrayType(StringType()), True),
        StructField("exhash", StringType(), True),
        StructField("smhash", LongType(), True),
        StructField("gen", IntegerType(), False),
        StructField("seq", StringType(), False),
        StructField("domain", StringType(), False),
        StructField("retries", IntegerType(), False),
    ]
)

DOMAINS_SCHEMA = StructType(
    [
        StructField("domain", StringType(), False),
        StructField("disallow_all", IntegerType(), False),
        StructField("allow_all", IntegerType(), False),
        StructField("crawl_delay", DoubleType(), True),  # None = default
        StructField("rules_body", StringType(), True),
        StructField("sitemap_urls", ArrayType(StringType()), True),
    ]
)


def urlhash(url: str) -> str:
    """Reference URL identity: sha256 of the scheme-less parts of the
    NORMALIZED url (nurl.py:130; utils/__init__.py:25-35)."""
    return get_urlhash(normalize_url(url))


def seed_seq(i: int) -> str:
    return f"{i:07d}"


def child_seq(parent_seq: str, tag: str, ordinal: int) -> str:
    """tag: 'a' sitemap, 'b' redirect, 'c' scraped — see module docstring."""
    return f"{parent_seq}.{tag}{ordinal:07d}"


def domain_of(url: str) -> str:
    """Reference domain key: f"{scheme}://{netloc}" (frontier.py:129-131).
    http/https twins of one host are distinct robots/politeness domains even
    though their urlhash collapses."""
    from urllib.parse import urlparse

    p = urlparse(url)
    return f"{p.scheme}://{p.netloc}"


@dataclass
class CrawlConfig:
    """Engine knobs. Defaults reproduce the reference's semantics exactly
    (whitelist etc. supplied per-corpus)."""

    whitelist: tuple[str, ...] | None = None  # None = strict off
    user_agent: str = "spacetime-crawler4-spark"
    # politeness: None = unlimited (pure BFS; matches the reference's
    # ordering, whose politeness is temporal and does not reorder).
    # Otherwise: per-wave per-domain budget = max(1, wave_seconds/delay).
    wave_seconds: float | None = None
    default_delay: float = 0.5  # config.ini:12 POLITENESS
    global_budget: int | None = None  # per-wave global cap (dpolmut analogue)
    # frontier scheduling policy — the north rule's "priority queue"
    # component. Under politeness budgets the frontier is a bounded
    # scheduler; the policy is the priority function it pops by:
    #   "fifo"        (gen, seq) discovery order — reference FIFO parity
    #   "shallow"     (absdepth, gen, seq) — breadth-optimized best-first
    #   "deep"        (-absdepth, gen, seq) — depth-greedy
    #   "domain_rank" (-rank(domain), gen, seq) — host-authority-first;
    #                 rank comes from priority_table, the host-PageRank
    #                 shape crawl_state_host_rank / linkgraph emit
    # Every policy is a deterministic total order (FIFO keys break ties).
    # The policy changes only WHICH pending rows a budgeted wave selects
    # (per-domain top-B and the global_budget cut); within-wave semantics
    # — dedup elections, processing keys, depth recurrences — are
    # untouched, so with no budgets every policy crawls identically.
    frontier_policy: str = "fifo"
    # parquet of (domain: string, rank: double) for frontier_policy=
    # "domain_rank"; unranked domains default to rank 0.0. Broadcast into
    # the selection join — host counts are bounded (~10^7 at 10^10 URLs).
    priority_table: str | None = None
    max_waves: int = 64
    # near-dup fingerprint width: 32 = reference parity (helpers/simhash.py
    # mod-2^32 crc64 lanes; saturates beyond ~10^5 docs — BASELINE.md); 64
    # = production plane (full crc64 lanes, same vote rule, same LSH plan;
    # a 32-bit banded pass is refused above engine.SIMHASH32_BANDED_MAX)
    simhash_bits: int = 32
