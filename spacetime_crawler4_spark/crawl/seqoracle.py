"""Sequential differential oracle: the reference crawl semantics in plain
Python over the fixture parquet tables.

Faithful single-threaded re-statement of the reference pipeline
(crawler2/worker.py:27-121, crawler2/workerpipe.py, crawler2/frontier.py)
using the same pure functions as the Spark engine (tokenize, extract_page,
exhash, simhash32, urlhash, depth recurrences). Used by tests to assert the
wave engine reproduces crawl ordering and the final URL-seen set.

Two modes:
- ``fifo`` — the reference's exact discipline: one FIFO queue, in-slot
  retries (workerpipe.py:110-127), politeness ignored (it is temporal and
  does not reorder a single-threaded FIFO crawl).
- ``wave`` — generation loop with per-domain politeness budgets and
  next-wave retry loopback: the engine's scheduling semantics, used for
  budget-parity tests.

Both assign the engine's deterministic (gen, seq) keys; in fifo mode the
processing order provably equals sort-by-(gen, seq) (schema.py docstring).

Documented divergence from the reference (SURVEY.md §4 quirk 7): the
redirect child's inherited ``links``/``words`` are VALUE copies; the
reference aliases the parent's list object (workerpipe.py:166-176), an
in-memory artifact whose post-hoc mutations we do not reproduce.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.robotparser import RobotFileParser

import numpy as _np
import pyarrow.parquet as pq

from spacetime_crawler4_spark.crawl import schema as S
from spacetime_crawler4_spark.crawl.schema import FINISH, STATUS, CrawlConfig
from spacetime_crawler4_spark.functions.htmltext import extract_page
from spacetime_crawler4_spark.functions.simhash import (
    POPCOUNT16,
    SIMHASH_THRESHOLD,
    simhash32,
)
from spacetime_crawler4_spark.functions.tokenizer import tokenize, word_count
from spacetime_crawler4_spark.functions.urls import (
    is_valid_url,
    normalize_url,
    rel_dirdepth,
)


@dataclass
class ONurl:
    url: str
    urlhash: str
    parent: str | None = None
    status: int = STATUS.NO_DOWN
    finish: int = FINISH.OK
    absdepth: int = 0
    reldepth: int = 0
    monodepth: int = 0
    dupdepth: int = 0
    words: dict = field(default_factory=dict)
    links: list = field(default_factory=list)
    exhash: str | None = None
    smhash: int | None = None
    gen: int = 0
    seq: str = ""
    domain: str = ""
    retries: int = 0

    def row(self) -> dict:
        d = dict(self.__dict__)
        return d


def _mk(url: str) -> ONurl:
    return ONurl(url=url, urlhash=S.urlhash(url), domain=S.domain_of(url))


def _set_parent(child: ONurl, parent: ONurl) -> None:
    """Depth recurrences (nurl.py:180-230)."""
    child.parent = parent.urlhash
    child.absdepth = parent.absdepth + 1
    delta = rel_dirdepth(normalize_url(child.url), normalize_url(parent.url))
    if delta == 0:
        child.reldepth, child.monodepth, child.dupdepth = 0, 0, parent.dupdepth + 1
    elif delta >= 1:
        child.reldepth = parent.reldepth + 1 if delta == 1 else 0
        child.monodepth = parent.monodepth + 1
        child.dupdepth = 0
    else:
        child.reldepth, child.monodepth, child.dupdepth = 0, 0, 0


class SeqCrawler:
    def __init__(
        self,
        pages_path: str,
        robots_path: str,
        seeds: list[str],
        config: CrawlConfig,
        mode: str = "fifo",
    ):
        self.cfg = config
        self.mode = mode
        rows = pq.read_table(pages_path).to_pylist()
        self.pages = {r["url"]: r for r in rows}
        self.robots = {
            r["domain"]: r for r in pq.read_table(robots_path).to_pylist()
        }
        self.seeds = seeds
        # frontier priority queue (CrawlConfig.frontier_policy): domain
        # ranks for the "domain_rank" policy, from the same parquet the
        # engine broadcasts
        self._ranks: dict[str, float] = {}
        if config.frontier_policy == "domain_rank":
            if config.priority_table is None:
                raise ValueError("domain_rank needs priority_table")
            self._ranks = {
                r["domain"]: float(r["rank"])
                for r in pq.read_table(config.priority_table).to_pylist()
            }
        self.nap: dict[str, ONurl] = {}
        self.exdict: dict[str, str] = {}  # exhash -> master urlhash
        self.smlist: list[tuple[int, str]] = []  # (smhash, master urlhash), insertion order
        # numpy mirror of smlist's hashes (capacity-doubling buffer): the
        # per-page master scan is first-match-in-insertion-order, which the
        # pure-Python loop does in O(n) Python ops per page — quadratic and
        # hours-slow at the 95k-URL large corpus. The vectorized scan below
        # computes the SAME first index with a C-speed xor+popcount pass.
        self._smbuf = _np.zeros(1024, dtype=_np.uint32)
        self._sm_n = 0
        self.domains: dict[str, dict] = {}  # domain -> {rparser, crawl_delay}
        self.visit_log: list[tuple[int, str, str]] = []  # (gen, seq, url)
        self.queue: list[str] = []  # urlhashes (fifo mode)
        self._sitemap_backlog: list[ONurl] = []  # wave mode inserts

    # ----------------------------------------------------------- frontier
    def _add(self, nurl: ONurl) -> None:
        """frontier.add_nurl (frontier.py:66-81): insert iff unseen."""
        if nurl.status == STATUS.IS_DOWN:
            return
        if nurl.urlhash not in self.nap:
            self.nap[nurl.urlhash] = nurl
        self.queue.append(nurl.urlhash)

    # ------------------------------------------------------------- robots
    def _domain_info(self, trigger: ONurl) -> dict:
        """frontier.get_domain_info (frontier.py:120-178): robots fetch +
        sitemap seeding on first URL of a domain."""
        base = trigger.domain
        if base in self.domains:
            return self.domains[base]
        rrow = self.robots.get(base)
        rp = RobotFileParser()
        if rrow is None:
            rp.allow_all = True  # no response (robots.py:39-42)
        elif rrow["status"] in (401, 403):
            rp.disallow_all = True
        elif 400 <= rrow["status"] < 500:
            rp.allow_all = True
        elif rrow["status"] == 200:
            rp.parse(rrow["body"].splitlines())
        else:
            rp.allow_all = True
        delay = rp.crawl_delay(self.cfg.user_agent)
        self.domains[base] = {"rparser": rp, "crawl_delay": delay}
        smaps = rp.site_maps() or []
        for i, sm_url in enumerate(smaps):
            sm = _mk(sm_url)
            sm.parent = f"{base}/robots.txt"  # unhashed parent (frontier.py:171)
            sm.absdepth = 1
            sm.gen = trigger.gen + 1
            sm.seq = S.child_seq(trigger.seq, "a", i)
            if self.mode == "fifo":
                self._add(sm)
            else:
                self._sitemap_backlog.append(sm)
        return self.domains[base]

    # -------------------------------------------------------------- fetch
    def _fetch(self, nurl: ONurl, in_slot_retry: bool) -> tuple[dict | None, int]:
        """Returns (page_row | None, effective_status). In fifo mode the
        5xx retry loop happens in-slot (workerpipe.py:110-127)."""
        row = self.pages.get(nurl.url)
        if row is None:
            return None, 0
        attempts = nurl.retries
        while True:
            eff = 503 if attempts < (row["retry_after"] or 0) else row["status"]
            if not in_slot_retry:
                nurl.retries = attempts
                return row, eff
            if attempts >= S.MAX_RETRIES or eff not in range(500, 512):
                return row, eff
            attempts += 1

    # ------------------------------------------------------------ pipeline
    def _process(self, nurl: ONurl, in_slot_retry: bool) -> bool:
        """One worker.run iteration (worker.py:27-121). Returns False when
        the row must be retried next wave (wave mode only)."""
        self.visit_log.append((nurl.gen, nurl.seq, nurl.url))

        # sift (workerpipe.py:42-57): stays NO_DOWN
        if (
            nurl.absdepth > S.MAX_ABSDEPTH
            or nurl.reldepth > S.MAX_RELDEPTH
            or nurl.monodepth > S.MAX_MONODEPTH
            or nurl.dupdepth > S.MAX_DUPDEPTH
        ):
            nurl.finish = FINISH.SIFTED
            nurl.status = STATUS.NO_DOWN
            return True

        dinfo = self._domain_info(nurl)
        if not dinfo["rparser"].can_fetch(self.cfg.user_agent, nurl.url):
            nurl.finish = FINISH.NOT_ALLOWED
            nurl.status = STATUS.IS_DOWN
            return True

        row, eff = self._fetch(nurl, in_slot_retry)
        if (
            not in_slot_retry
            and row is not None
            and eff in range(500, 512)
            and nurl.retries < S.MAX_RETRIES
        ):
            nurl.retries += 1
            return False  # defer to next wave

        nurl.status = STATUS.IS_DOWN
        # filter_resp_pre (workerpipe.py:131-220)
        if row is not None and eff in (401, 403, 404):
            nurl.finish = FINISH.BAD
            return True
        if row is None or eff in range(600, 607):
            nurl.finish = FINISH.CACHE_ERROR
            return True
        if 300 <= eff < 400:
            loc = row["redirect_to"]
            if loc:
                child = _mk(loc)
                # inherit everything except url/hash/status/finish
                child.parent = nurl.parent
                child.absdepth = nurl.absdepth
                child.reldepth = nurl.reldepth
                child.monodepth = nurl.monodepth
                child.dupdepth = nurl.dupdepth
                child.words = dict(nurl.words)
                child.links = list(nurl.links)
                child.retries = 0
                child.gen = nurl.gen + 1
                child.seq = S.child_seq(nurl.seq, "b", 0)
                self._add(child)
                nurl.links.append(child.urlhash)
            nurl.finish = FINISH.REDIRECT
            return True
        content = row["html"] or b""
        if len(content) < S.MIN_CONTENT_LEN or len(content) > S.MAX_CONTENT_LEN:
            nurl.finish = FINISH.LOWINFO_PRE
            return True
        from spacetime_crawler4_spark.functions.exhash import exhash

        nurl.exhash = exhash(content)
        master = self.exdict.get(nurl.exhash)
        if master is not None and master != nurl.urlhash:
            nurl.finish = FINISH.TOO_EXACT
            return True
        self.exdict.setdefault(nurl.exhash, nurl.urlhash)

        parsed = extract_page(nurl.url, content, row["content_type"])
        if not parsed.sitemap:
            toks = tokenize(parsed.text)
            words = word_count(toks)
            nurl.words = words
            if (
                len(words) < S.MIN_UNIQUE_WORDS
                or (max(words.values()) if words else 0) < S.MIN_MAX_WORD_COUNT
                or len(toks) < S.MIN_WORDS
            ):
                nurl.finish = FINISH.LOWINFO_POST
                return True
            nurl.smhash = simhash32(words)
            # first-match-in-insertion-order master scan
            # (workerpipe.py:257-267), vectorized: xor against the numpy
            # mirror, 16-bit-table popcount, first index ≤ threshold —
            # bit-identical to the original `for h, mhash in self.smlist`
            # loop (asserted by the engine-parity suite), hours faster at
            # ~100k masters
            hit = -1
            if self._sm_n:
                x = self._smbuf[: self._sm_n] ^ _np.uint32(nurl.smhash)
                d = POPCOUNT16[x & 0xFFFF] + POPCOUNT16[x >> _np.uint32(16)]
                hits = _np.flatnonzero(d <= SIMHASH_THRESHOLD)
                if hits.size:
                    hit = int(hits[0])
            if hit >= 0:
                if self.smlist[hit][1] != nurl.urlhash:
                    nurl.finish = FINISH.TOO_SIMILAR
                    return True
                # matched its own master entry: not a dup, not re-appended
            else:
                self.smlist.append((nurl.smhash, nurl.urlhash))
                if self._sm_n == len(self._smbuf):
                    self._smbuf = _np.concatenate(
                        [self._smbuf, _np.zeros_like(self._smbuf)]
                    )
                self._smbuf[self._sm_n] = nurl.smhash
                self._sm_n += 1

        # scraper (worker.py:108-115, scraper2.py:11-19)
        ordinal = 0
        for link in parsed.links:
            if not is_valid_url(link, self.cfg.whitelist):
                continue
            child = _mk(link)
            _set_parent(child, nurl)
            child.gen = nurl.gen + 1
            child.seq = S.child_seq(nurl.seq, "c", ordinal)
            ordinal += 1
            nurl.links.append(child.urlhash)
            self._add(child)
        return True

    # ---------------------------------------------------------------- run
    def run(self) -> None:
        for i, url in enumerate(self.seeds):
            seed = _mk(url)
            seed.gen = 0
            seed.seq = S.seed_seq(i)
            self._add(seed)
        if self.mode == "fifo":
            self._run_fifo()
        else:
            self._run_waves()

    def _run_fifo(self) -> None:
        processed: set[str] = set()
        while self.queue:
            h = self.queue.pop(0)
            nurl = self.nap[h]
            if nurl.status != STATUS.NO_DOWN or h in processed:
                continue
            processed.add(h)
            nurl.status = STATUS.IN_USE
            self._process(nurl, in_slot_retry=True)

    def _domain_budget(self, crawl_delay: float | None) -> int | None:
        """Per-wave per-domain budget max(1, wave_seconds / delay): the
        rule the engine computes as Spark columns in ``_select_wave``."""
        cfg = self.cfg
        if cfg.wave_seconds is None:
            return None
        delay = crawl_delay if crawl_delay is not None else cfg.default_delay
        if delay <= 0:
            delay = cfg.default_delay
        return max(1, int(cfg.wave_seconds / delay))

    def _run_waves(self) -> None:
        processed: set[str] = set()
        for _wave in range(self.cfg.max_waves):
            pending = [
                n
                for n in self.nap.values()
                if n.status == STATUS.NO_DOWN
                and n.finish == FINISH.OK
                and n.urlhash not in processed
            ]
            pol = self.cfg.frontier_policy
            if pol == "shallow":
                pending.sort(key=lambda n: (n.absdepth, n.gen, n.seq))
            elif pol == "deep":
                pending.sort(key=lambda n: (-n.absdepth, n.gen, n.seq))
            elif pol == "domain_rank":
                pending.sort(
                    key=lambda n: (-self._ranks.get(n.domain, 0.0), n.gen, n.seq)
                )
            else:
                pending.sort(key=lambda n: (n.gen, n.seq))
            if not pending:
                break
            dom_taken: dict[str, int] = {}
            taken: list[ONurl] = []
            for n in pending:
                info = self.domains.get(n.domain)
                delay = info["crawl_delay"] if info else None
                budget = self._domain_budget(delay)
                if budget is not None and dom_taken.get(n.domain, 0) >= budget:
                    continue
                if self.cfg.global_budget is not None and len(taken) >= self.cfg.global_budget:
                    break
                dom_taken[n.domain] = dom_taken.get(n.domain, 0) + 1
                taken.append(n)
            self.queue = []  # wave mode: sitemap inserts via backlog
            self._sitemap_backlog = []
            # the priority policy decides WHICH rows enter the wave; the
            # within-wave processing order — dup-master elections, robots
            # trigger choice — is canonically the deterministic FIFO keys
            # (the engine's window/election ordering), independent of the
            # selection policy
            taken.sort(key=lambda n: (n.gen, n.seq))
            for n in taken:
                done = self._process(n, in_slot_retry=False)
                if done:
                    processed.add(n.urlhash)
                else:
                    self.visit_log.pop()  # deferred rows aren't visits yet
            for sm in self._sitemap_backlog:
                self._add(sm)

    # ------------------------------------------------------------- output
    def state(self) -> dict[str, dict]:
        return {h: n.row() for h, n in self.nap.items()}

    def ordered_visits(self) -> list[tuple[int, str, str]]:
        return sorted(self.visit_log, key=lambda t: (t[0], t[1]))
