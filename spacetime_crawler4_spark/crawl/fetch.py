"""Live-fetch stage: batch HTTP as a mapInPandas operator.

The graft corpus IS the web, so the engine's default fetch is an equi-join
against the pages table (SURVEY.md §2.1 S2). This module completes the
reference's live-download surface (crawler2/download.py:22-40 +
utils/download.py:7-21, which fetch through a cache server): a *fetcher*
is any ``DataFrame[url] -> DataFrame[FETCH_SCHEMA]`` callable, and the
engine joins its output exactly where it would join the corpus — the rest
of the wave plan is unchanged.

Scale shape: the wave's (deduplicated) URLs stream through ``mapInPandas``
in Arrow batches; each executor task issues its batch of requests through
the injected ``transport``. Politeness is untouched — the engine's
per-domain wave budget bounds how many URLs per domain even reach the
fetch stage, so transport-level rate limiting is an extra safety net, not
the scheduler. The transport is injectable for tests (this sandbox has no
network) and for cache-server deployments like the reference's.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# the exact columns the engine's fetch join expects (engine._classify)
FETCH_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("page_status", IntegerType()),
        StructField("html", BinaryType()),
        StructField("content_type", StringType()),
        StructField("redirect_to", StringType()),
        StructField("retry_after", IntegerType()),
    ]
)

# transport: urls -> one result dict per url, keys matching FETCH_SCHEMA
# (page_status None => no response at all => engine classifies CACHE_ERROR)
Transport = Callable[[list[str]], list[dict]]


def http_transport(
    urls: list[str], user_agent: str = "spacetime-crawler4-spark", timeout: float = 5.0
) -> list[dict]:
    """stdlib urllib transport: no auto-redirect (3xx must surface to the
    engine's redirect expansion, workerpipe.py:163-186), Retry-After
    captured for the 5xx backoff loop."""
    import urllib.error
    import urllib.request

    class _NoRedirect(urllib.request.HTTPRedirectHandler):
        def redirect_request(self, req, fp, code, msg, headers, newurl):
            return None

    opener = urllib.request.build_opener(_NoRedirect)
    out = []
    for u in urls:
        row = {
            "url": u,
            "page_status": None,
            "html": None,
            "content_type": None,
            "redirect_to": None,
            "retry_after": 0,
        }
        try:
            req = urllib.request.Request(u, headers={"User-Agent": user_agent})
            with opener.open(req, timeout=timeout) as resp:
                row["page_status"] = int(resp.status)
                row["html"] = resp.read()
                row["content_type"] = resp.headers.get("Content-Type")
        except urllib.error.HTTPError as e:
            row["page_status"] = int(e.code)
            row["content_type"] = e.headers.get("Content-Type")
            row["redirect_to"] = e.headers.get("Location")
            try:
                row["retry_after"] = int(e.headers.get("Retry-After") or 0)
            except ValueError:
                row["retry_after"] = 0
            try:
                row["html"] = e.read()
            except Exception:
                row["html"] = None
        except Exception:
            pass  # unreachable host / timeout: page_status stays None
        out.append(row)
    return out


def make_http_fetcher(transport: Transport | None = None):
    """Build a fetcher for CrawlEngine(fetcher=...): a mapInPandas stage
    running ``transport`` over Arrow batches of wave URLs."""
    t = transport if transport is not None else http_transport

    def fetch(urls_df: DataFrame) -> DataFrame:
        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                urls = pdf["url"].tolist()
                if not urls:
                    continue
                rows = t(urls)
                out = pd.DataFrame(rows)
                out["page_status"] = out["page_status"].astype("Int32")
                out["retry_after"] = (
                    out["retry_after"].fillna(0).astype("int32")
                )
                yield out[[f.name for f in FETCH_SCHEMA.fields]]

        return urls_df.select("url").mapInPandas(gen, FETCH_SCHEMA)

    return fetch


def corpus_transport(pages_path: str) -> Transport:
    """A transport serving a pages-parquet corpus from memory — the mock
    used to drive the HTTP fetch path without a network (tests), and the
    reference's cache-server analogue (utils/download.py:7-21)."""
    import pyarrow.parquet as pq

    cache: dict[str, dict] = {}

    def _load() -> dict[str, dict]:
        if not cache:
            tbl = pq.read_table(
                pages_path,
                columns=[
                    "url", "status", "html", "content_type",
                    "redirect_to", "retry_after",
                ],
            )
            for r in tbl.to_pylist():
                cache[r["url"]] = {
                    "url": r["url"],
                    "page_status": r["status"],
                    "html": r["html"],
                    "content_type": r["content_type"],
                    "redirect_to": r["redirect_to"],
                    "retry_after": r["retry_after"] or 0,
                }
        return cache

    def transport(urls: list[str]) -> list[dict]:
        c = _load()
        miss = {
            "page_status": None,
            "html": None,
            "content_type": None,
            "redirect_to": None,
            "retry_after": 0,
        }
        return [c.get(u, {"url": u, **miss}) for u in urls]

    return transport


def cache_server_transport(
    host: str,
    port: int,
    user_agent: str = "spacetime-crawler4-spark",
    timeout: float = 5.0,
) -> Transport:
    """The reference's cache-server wire protocol as a Transport
    (utils/download.py:7-21): GET ``http://host:port/?q=<url>&u=<agent>``
    returning a CBOR map ``{url, status, error?, response?}``.

    Payload handling: the reference pickles a ``requests.Response`` into
    the ``response`` field and unpickles it client-side
    (utils/response.py). Unpickling arbitrary bytes is both unsafe and
    impossible without the requests package, so this transport accepts
    BOTH forms: (a) the sane flat form where the map itself carries
    ``content``/``content_type``/``redirect_to``/``retry_after`` keys —
    what our fake server and any from-scratch cache server emit — and
    (b) the pickled form, attempted only when requests is importable,
    inside a guard (a deployment talking to the original spacetime cache
    server has requests installed by construction). The spacetime Node
    registration handshake (utils/server_registration.py) is a
    framework dependency out of the crawl engine's behavioral contract;
    the host:port this transport takes is the value that handshake
    yields.
    """
    import urllib.parse
    import urllib.request

    from spacetime_crawler4_spark.functions import cbor

    def transport(urls: list[str]) -> list[dict]:
        out = []
        for u in urls:
            row = {
                "url": u,
                "page_status": None,
                "html": None,
                "content_type": None,
                "redirect_to": None,
                "retry_after": 0,
            }
            try:
                qs = urllib.parse.urlencode([("q", u), ("u", user_agent)])
                with urllib.request.urlopen(
                    f"http://{host}:{port}/?{qs}", timeout=timeout
                ) as resp:
                    payload = cbor.loads(resp.read())
            except Exception:
                out.append(row)  # server unreachable -> CACHE_ERROR path
                continue
            row["page_status"] = payload.get("status")
            if "content" in payload:  # flat form
                row["html"] = payload.get("content")
                row["content_type"] = payload.get("content_type")
                row["redirect_to"] = payload.get("redirect_to")
                row["retry_after"] = int(payload.get("retry_after") or 0)
            elif payload.get("response") is not None:  # pickled form
                try:
                    import pickle

                    import requests  # noqa: F401  (guard: original deployments)

                    raw = pickle.loads(payload["response"])
                    row["html"] = raw.content
                    row["content_type"] = raw.headers.get("Content-Type")
                    row["redirect_to"] = raw.headers.get("Location")
                    row["retry_after"] = int(raw.headers.get("Retry-After") or 0)
                except Exception:
                    pass  # undecodable response -> status-only row
            out.append(row)
        return out

    return transport
