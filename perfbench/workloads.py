"""Seeded workload generators for the crawl-engine benchmark.

Every input is a pure function of ``(workload, seed, size)``: the generator
draws from ``random.Random`` seeded with a string key and writes the corpus
in the ``sources.fixture.write_tables`` parquet shape (pages, robots,
seeds). The engine only ever sees those tables.

Both crawls are ONE wave over a wide seed list (``max_waves=1``): on a
4-vCPU machine a wave costs 15-35 s whatever its size, and the benchmark's
whole run budget (48 runs in under an hour) leaves room for one wave per
run. The seed list therefore carries the structure a multi-wave crawl would
reach later.

- ``wide``   — 1,600 distinct, text-heavy pages on 8 hosts as seeds; no
  robots rules and no politeness budget. Every page links to its host root
  and two unseen children, so the wave parses, tokenizes and fingerprints
  1,600 pages and inserts ~3,200 new URLs. Fingerprints are kept apart, so
  dedup finds nothing.
- ``polite`` — a hazard-rich web under a per-domain politeness budget:
  robots disallows, crawl-delays, a 403 host and a host with no robots
  row, 5xx pages with retry-after, redirect chains, query ladders, deep
  paths, sitemaps, near-duplicate families and exact copies, and dense
  cross-links that mostly point at already-seen URLs. The budget admits
  about a third of the ~270 seeds, so the wave is small and the per-wave
  floor, the robots gate, seen-set probes and the store commit dominate.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

from spacetime_crawler4_spark.functions.simhash import SIMHASH_THRESHOLD, simhash32
from spacetime_crawler4_spark.functions.tokenizer import tokenize, word_count
from spacetime_crawler4_spark.sources.fixture import Page, write_tables

VOCAB = [f"v{i:05d}" for i in range(20000)]


@dataclass(frozen=True)
class Workload:
    name: str
    whitelist: tuple[str, ...]
    config: dict  # extra CrawlConfig fields
    size: int  # generator size knob (leaves per host)
    store: bool  # the engine commits a SnapshotStore after every wave


WORKLOADS = {
    "wide": Workload(
        name="wide",
        whitelist=(".wide-bench.test",),
        config={"max_waves": 1},
        size=200,
        store=False,
    ),
    "polite": Workload(
        name="polite",
        whitelist=(".polite-bench.test",),
        # per-domain budget = wave_seconds / crawl_delay (0.5 s default)
        config={"wave_seconds": 12.0, "max_waves": 1},
        size=20,
        store=True,
    ),
}


def _words(rng: random.Random, n: int, topic: int) -> list[str]:
    # topic-sliced vocabulary: each page draws from its own 600-word
    # slice, so 32-bit simhash fingerprints of distinct pages diverge
    lo = (topic * 613) % (len(VOCAB) - 600)
    ws = [VOCAB[lo + rng.randrange(600)] for _ in range(n)]
    return ws + ws[:4]  # max word count >= 2 (low-info gate)


def _page(url: str, title: str, body: list[str], links: list[tuple[str, str]], **kw) -> Page:
    anchors = [a for _, a in links]
    return Page(
        url=url,
        fragments=[title, " ".join(body)] + anchors,
        hrefs=[h for h, _ in links],
        anchors=anchors,
        **kw,
    )


class _FarFingerprints:
    """Rejection sampler keeping every page's 32-bit simhash more than the
    near-dup threshold away from all earlier pages: at a few thousand
    random pages a 32-bit fingerprint collides by chance (~1 in 8 pages),
    and ``wide`` must carry no dedup work at all."""

    def __init__(self) -> None:
        self.hashes = np.zeros(0, dtype=np.uint32)
        self.pop16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)

    def accept(self, page: Page) -> bool:
        h = np.uint32(simhash32(word_count(tokenize(page.text()))))
        x = self.hashes ^ h
        if x.size and int((self.pop16[x & 0xFFFF] + self.pop16[x >> 16]).min()) <= SIMHASH_THRESHOLD:
            return False
        self.hashes = np.append(self.hashes, h)
        return True


def build_wide(seed: int, leaves: int) -> tuple[list[Page], list[dict], list[str]]:
    rng = random.Random(f"wide:{seed}:{leaves}")
    hosts = [f"http://h{i}.wide-bench.test" for i in range(8)]
    far = _FarFingerprints()
    pages: list[Page] = []
    for h in hosts:
        for k in range(leaves):
            links = [("/", "home"), (f"/l{k}/a", rng.choice(VOCAB)), (f"/l{k}/b", rng.choice(VOCAB))]
            while True:
                p = _page(f"{h}/l{k}", f"leaf {k}", _words(rng, 150, rng.randrange(10**6)), links)
                if far.accept(p):
                    break
            pages.append(p)
    return pages, [], [p.url for p in pages]


def build_polite(seed: int, items: int) -> tuple[list[Page], list[dict], list[str]]:
    rng = random.Random(f"polite:{seed}:{items}")
    hosts = [f"http://p{i}.polite-bench.test" for i in range(6)]
    forbidden = "http://forbidden.polite-bench.test"  # robots 403: disallow all
    open_host = "http://open.polite-bench.test"  # no robots row: allow all
    pages: list[Page] = []
    robots: list[dict] = [{"domain": forbidden, "status": 403, "body": ""}]
    delays = [None, 1.0, 2.0, 0.5, 1.5, None]

    def body() -> list[str]:
        return _words(rng, 90, rng.randrange(10**6))

    def anchor() -> str:
        return f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}"

    for hi, h in enumerate(hosts):
        rules = ["User-agent: *", "Disallow: /private"]
        if delays[hi] is not None:
            rules.append(f"Crawl-delay: {delays[hi]}")
        rules.append(f"Sitemap: {h}/sitemap.xml")
        robots.append({"domain": h, "status": 200, "body": "\n".join(rules) + "\n"})

        items_urls = [f"/x{k}" for k in range(items)]
        fam = [f"/fam{f}/m{m}" for f in range(3) for m in range(4)]
        copies = [f"/copy{c}" for c in range(3)]
        hazards = [
            "/private/a", "/private/b", "/redir/0", "/redir/1", "/busy/0",
            "/busy/1", "/gone", "/list?page=1", "/deep/a",
            f"{forbidden}/x{hi}", f"{open_host}/o{hi}",
        ]
        # children take FIFO keys in sorted-url order, so the budgeted
        # waves reach the hazards and dup families before the /x items
        root_links = [(u, anchor()) for u in hazards + fam + copies + items_urls]
        pages.append(_page(h, f"home {hi}", body(), root_links))
        for k in range(items):
            # dense cross-links: mostly already-seen siblings and the root
            cross = rng.sample(items_urls, 12) + ["/", f"{hosts[(hi + 1) % 6]}/x{k}"]
            cross.append(f"/x{k}/more")
            pages.append(_page(f"{h}/x{k}", f"item {k}", body(), [(u, anchor()) for u in cross]))
            pages.append(_page(f"{h}/x{k}/more", f"more {k}", body(), [("/", "home")]))
        for f in range(3):
            tmpl = body()
            for m in range(4):
                b = list(tmpl)
                for _ in range(m % 3):  # m=0 is the family head
                    b[rng.randrange(1, len(b))] = rng.choice(VOCAB)
                pages.append(_page(f"{h}/fam{f}/m{m}", f"family {f}", b, [("/", "home")]))
        proto = _page(f"{h}/copy0", "copy", body(), [("/", "home")])
        pages.append(proto)
        for c in (1, 2):  # byte-identical html: exact-dup family
            pages.append(
                Page(url=f"{h}/copy{c}", fragments=list(proto.fragments),
                     hrefs=list(proto.hrefs), anchors=list(proto.anchors))
            )
        pages.append(_page(f"{h}/private/a", "private", body(), []))
        pages.append(_page(f"{h}/private/b", "private", body(), []))
        pages.append(Page(url=f"{h}/redir/0", status=301, redirect_to=f"{h}/redir/1",
                          raw_html=b"", fragments=[]))
        pages.append(Page(url=f"{h}/redir/1", status=302, redirect_to=f"{h}/target",
                          raw_html=b"", fragments=[]))
        pages.append(_page(f"{h}/target", "target", body(), [("/", "home")]))
        for b_ in (0, 1):
            pages.append(_page(f"{h}/busy/{b_}", "busy", body(), [("/", "home")],
                               retry_after=1 + b_))
        pages.append(Page(url=f"{h}/gone", status=404, raw_html=b"", fragments=[]))
        for p in range(1, 6):  # query ladder: dupdepth trap
            pages.append(_page(f"{h}/list?page={p}", f"list {p}", body(),
                               [(f"/list?page={p + 1}", "next")]))
        deep = "/deep"
        for d in range(10):  # deep path chain: absdepth/reldepth trap
            nxt = f"{deep}/{'abcdefghijk'[d]}"
            pages.append(_page(f"{h}{deep}/a" if d == 0 else f"{h}{deep}", f"deep {d}",
                               body(), [(f"{h}{nxt}/a" if d == 0 else f"{h}{nxt}", "down")]))
            deep = nxt if d else f"{deep}/a"
        sm = [f"{h}/sm{k}" for k in range(6)]
        xml = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(f"<url><loc>{u}</loc></url>" for u in sm)
            + "</urlset>"
        ).encode()
        pages.append(Page(url=f"{h}/sitemap.xml", raw_html=xml, fragments=[],
                          content_type="application/xml"))
        for u in sm:
            pages.append(_page(u, "sitemap page", body(), [("/", "home"), ("/x0", "item")]))
        pages.append(_page(f"{forbidden}/x{hi}", "forbidden", body(), []))
        pages.append(_page(f"{open_host}/o{hi}", "open", body(), [(f"{open_host}/o{(hi + 1) % 6}", "next")]))
    # seed order = FIFO order: per host the root, hazards and dup families,
    # then the items; the budget admits the head of each host's share.
    # Redirect targets, ladder/chain successors, sitemap entries and the
    # items' /more pages are left for link expansion to discover.
    seeds = []
    for h in hosts:
        seeds.append(h)
        seeds += [u if u.startswith("http") else h + u for u in hazards + fam + copies]
    for h in hosts:
        seeds += [h + u for u in items_urls]
    return _unique(pages), robots, list(dict.fromkeys(seeds))


def _unique(pages: list[Page]) -> list[Page]:
    seen: dict[str, Page] = {}
    for p in pages:
        seen.setdefault(p.url, p)
    return list(seen.values())


BUILDERS = {"wide": build_wide, "polite": build_polite}


def write_workload(name: str, seed: int, out_dir: str) -> dict:
    """Generate workload ``name`` for ``seed`` into ``out_dir``; returns the
    table row counts plus the seed URL list."""
    wl = WORKLOADS[name]
    pages, robots, seeds = BUILDERS[name](seed, wl.size)
    counts = write_tables(out_dir, pages, robots, seeds)
    return {**counts, "seed_urls": seeds}
