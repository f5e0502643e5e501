"""Arrow-batched pandas UDFs owned by the crawl engine.

Three small UDFs beyond the shared text plane (operators/textplane.py):

- ``links_meta_udf``   — per page, over its whole link array: reference
                         URL identity hash (sha256 of scheme-less parts of
                         the normalized URL, utils/__init__.py:25-35 —
                         stdlib urlparse semantics, deliberately NOT the
                         JVM ``parse_url``, whose path/params split
                         differs), robots/politeness domain key, validity
                         predicate, and the directory depth delta feeding
                         the depth recurrences (nurl.py:31-58). One call
                         per page, so the per-link rows never exist before
                         the JVM explodes them. Depth recurrences
                         themselves stay JVM ``when/otherwise`` chains.
- ``robots_parse_udf`` — robots.txt body -> (disallow_all, allow_all,
                         crawl_delay, sitemap_urls) via urllib.robotparser,
                         once per domain ever (crawler2/robots.py:10-60).
- ``can_fetch_udf``    — robots gate; parses each distinct rules body once
                         per batch (rule evaluation is pure Python in the
                         reference too — urllib.robotparser).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from spacetime_crawler4_spark.crawl.schema import domain_of, urlhash
from spacetime_crawler4_spark.functions.urls import (
    is_valid_url,
    normalize_url,
    rel_dirdepth,
)

LINK_META_SCHEMA = ArrayType(
    StructType(
        [
            StructField("url", StringType()),
            StructField("urlhash", StringType()),
            StructField("domain", StringType()),
            StructField("valid", BooleanType()),
            StructField("ddelta", IntegerType()),
        ]
    )
)

ROBOTS_SCHEMA = StructType(
    [
        StructField("disallow_all", IntegerType()),
        StructField("allow_all", IntegerType()),
        StructField("crawl_delay", DoubleType()),
        StructField("sitemap_urls", ArrayType(StringType())),
    ]
)


def make_links_meta_udf(whitelist: tuple[str, ...] | None):
    """(links: array<string>, parent_url: string) -> one LINK_META_SCHEMA
    entry per link, in link order. A null parent gives ddelta -1."""
    wl = tuple(whitelist) if whitelist is not None else None

    @pandas_udf(LINK_META_SCHEMA)
    def links_meta_udf(links: pd.Series, parent_url: pd.Series) -> pd.Series:
        out = []
        for ls, pu in zip(links, parent_url):
            pn = None if pu is None else normalize_url(pu)
            out.append(
                [
                    {
                        "url": u,
                        "urlhash": urlhash(u),
                        "domain": domain_of(u),
                        "valid": is_valid_url(u, wl),
                        "ddelta": -1
                        if pn is None
                        else rel_dirdepth(normalize_url(u), pn),
                    }
                    for u in (() if ls is None else ls)
                ]
            )
        return pd.Series(out)

    return links_meta_udf


def _build_parser(status, body):
    from urllib.robotparser import RobotFileParser

    rp = RobotFileParser()
    if status is None:
        rp.allow_all = True  # no robots response (robots.py:39-42)
    elif int(status) in (401, 403):
        rp.disallow_all = True
    elif 400 <= int(status) < 500:
        rp.allow_all = True
    elif int(status) == 200:
        rp.parse((body or "").splitlines())
    else:
        rp.allow_all = True
    return rp


def make_robots_parse_udf(user_agent: str):
    agent = user_agent

    @pandas_udf(ROBOTS_SCHEMA)
    def robots_parse_udf(status: pd.Series, body: pd.Series) -> pd.DataFrame:
        dis, allow, delays, smaps = [], [], [], []
        for st, b in zip(status, body):
            st = None if pd.isna(st) else int(st)
            rp = _build_parser(st, b)
            dis.append(1 if rp.disallow_all else 0)
            allow.append(1 if rp.allow_all else 0)
            d = rp.crawl_delay(agent)
            delays.append(float(d) if d is not None else None)
            smaps.append(list(rp.site_maps() or []))
        return pd.DataFrame(
            {
                "disallow_all": pd.Series(dis, dtype="int32"),
                "allow_all": pd.Series(allow, dtype="int32"),
                "crawl_delay": pd.Series(delays, dtype="float64"),
                "sitemap_urls": smaps,
            }
        )

    return robots_parse_udf


def make_can_fetch_udf(user_agent: str):
    agent = user_agent

    @pandas_udf(BooleanType())
    def can_fetch_udf(
        url: pd.Series, rules_body: pd.Series, disallow_all: pd.Series, allow_all: pd.Series
    ) -> pd.Series:
        cache: dict[str, object] = {}
        out = []
        for u, body, dis, allo in zip(url, rules_body, disallow_all, allow_all):
            if dis == 1:
                out.append(False)
                continue
            if allo == 1 or body is None:
                out.append(True)
                continue
            rp = cache.get(body)
            if rp is None:
                rp = _build_parser(200, body)
                cache[body] = rp
            out.append(bool(rp.can_fetch(agent, u)))
        return pd.Series(out, dtype="bool")

    return can_fetch_udf
