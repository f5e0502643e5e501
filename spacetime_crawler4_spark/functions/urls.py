"""URL canonicalization, identity, validity, and depth recurrences.

Parity surfaces (reference file:line):
- ``normalize_url``   utils/__init__.py:32-35  — strip ALL trailing '/'
- ``get_urlhash``     utils/__init__.py:25-30  — sha256 over
  "{netloc}/{path}/{params}/{query}/{fragment}" — scheme deliberately
  excluded, so http://x and https://x collapse to one seen entry
- ``is_valid_url``    scraper2.py:69-109       — scheme/whitelist/extension
- ``rel_dirdepth``    crawler2/nurl.py:31-58   — directory-depth delta
- ``child_depths``    crawler2/nurl.py:180-230 — depth recurrences

Python forms run inside pandas UDF batches (link expansion needs stdlib
``urljoin``/``urlparse`` anyway; the JVM ``parse_url`` splits path and
params differently, see crawl/udfs.py). The JVM column forms are the
trailing-slash strip and the SURT key.
"""

from __future__ import annotations

import re
from hashlib import sha256
from urllib.parse import urlparse

from pyspark.sql import Column
from pyspark.sql import functions as F

# extension blacklist — regex identical to reference scraper2.py:94-101
EXT_BLACKLIST_RE = (
    r".*\.(css|js|bmp|gif|jpe?g|ico"
    r"|png|tiff?|mid|mp2|mp3|mp4"
    r"|wav|avi|mov|mpeg|ram|m4v|mkv|ogg|ogv|pdf"
    r"|ps|eps|tex|ppt|pptx|doc|docx|xls|xlsx|names"
    r"|data|dat|exe|bz2|tar|msi|bin|7z|psd|dmg|iso"
    r"|epub|dll|cnf|tgz|sha1"
    r"|thmx|mso|arff|rtf|jar|csv"
    r"|rm|smil|wmv|swf|wma|zip|rar|gz)$"
)
_EXT_BLACKLIST = re.compile(EXT_BLACKLIST_RE)

# reference scraper2.py:86-89 (strict mode); configurable for the graft corpus
DEFAULT_DOMAIN_WHITELIST = (
    ".ics.uci.edu",
    ".cs.uci.edu",
    ".informatics.uci.edu",
    ".stat.uci.edu",
)


def normalize_url(url: str) -> str:
    return url.rstrip("/") if url.endswith("/") else url


def get_urlhash(url: str) -> str:
    p = urlparse(url)
    return sha256(
        f"{p.netloc}/{p.path}/{p.params}/{p.query}/{p.fragment}".encode("utf-8")
    ).hexdigest()


def is_valid_url(url: str, whitelist: tuple[str, ...] | None = DEFAULT_DOMAIN_WHITELIST) -> bool:
    """Crawlability predicate. ``whitelist=None`` disables the host check
    (the reference's ``strict=False`` mode, crawlerman/worker.py:139)."""
    try:
        p = urlparse(url)
    except ValueError:
        return False
    if p.scheme not in ("http", "https"):
        return False
    if whitelist is not None and not p.netloc.endswith(whitelist):
        return False
    if _EXT_BLACKLIST.search(p.path.lower()):
        return False
    return True


def rel_dirdepth(child: str, parent: str) -> int:
    """Directory-depth of child below parent, or -1 (nurl.py:31-58)."""
    c, p = urlparse(child), urlparse(parent)
    if c.scheme != p.scheme or c.netloc != p.netloc:
        return -1
    if not c.path.startswith(p.path):
        return -1
    return c.path.count("/") - p.path.count("/")


def child_depths(
    child_url: str, parent_url: str, parent: dict
) -> tuple[int, int, int, int]:
    """(absdepth, reldepth, monodepth, dupdepth) of a child nurl.

    ``parent`` carries the parent's depths. Reference nurl.py:180-230:
    reldepth increments iff directly one level below (delta == 1),
    monodepth iff strictly below (delta >= 1), dupdepth iff same path
    modulo query/fragment (delta == 0); each resets to 0 otherwise.
    """
    delta = rel_dirdepth(normalize_url(child_url), normalize_url(parent_url))
    absd = parent["absdepth"] + 1
    if delta == 0:
        return absd, 0, 0, parent["dupdepth"] + 1
    if delta >= 1:
        return (
            absd,
            parent["reldepth"] + 1 if delta == 1 else 0,
            parent["monodepth"] + 1,
            0,
        )
    return absd, 0, 0, 0


# ---------------------------------------------------------------- JVM forms


def normalize_url_col(url: Column) -> Column:
    return F.regexp_replace(url, "/+$", "")


def surt_col(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) canonical key — the
    Wayback/Common-Crawl index key (webarchive-commons ``SURT``; the CDX
    index's first column): host labels reversed and comma-joined, then
    ``)`` + path + ``?`` + alphabetically-sorted query params, all
    lowercased and scheme-dropped, so one lexicographic sort clusters a
    host, its subdomains, and param-order URL variants.

        http://www.Example.test/A/b?z=1&a=2
            -> test,example,www)/a/b?a=2&z=1

    Variant notes: this is the classic full-host form (``www`` is kept —
    collapsing it is a lossy canonicalization option in webarchive
    tooling, not part of the transform); fragments are assumed already
    stripped (the crawl frontier defrags on ingest, F2). Pure JVM
    built-ins end-to-end (parse_url / split / reverse / array_sort) —
    stays inside whole-stage codegen, no UDF.
    """
    host = F.lower(F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit("")))
    rhost = F.array_join(F.reverse(F.split(host, "\\.")), ",")
    path = F.lower(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")))
    query = F.lower(F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit("")))
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        rhost,
        F.lit(")"),
        path,
        F.when(sorted_q == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), sorted_q)
        ),
    )
