"""Pure-Python helpers of the benchmark: the percentile rule, the union of
Spark job intervals, and the frontier digests the oracle check compares.
No Spark import here, so the self-tests run without a session."""

from __future__ import annotations

import hashlib
import json
import statistics

# percentiles the summary may quote, highest last
_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest quoted percentile with at least ten samples beyond it,
    as ``(percentile, value)``; None when fewer than 20 samples exist.
    The value is the nearest-rank sample at that percentile."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in _PERCENTILES:
        rank = max(1, -(-int(p * n) // 100))  # ceil(p/100 * n), 1-based
        if n - rank >= 10:
            best = (p, float(xs[rank - 1]))
    return best


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals — the time at least one Spark job was running."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# frontier columns compared by the oracle check; ``retries`` is left out
# (the engine's cross-wave retry counter and the oracle's in-slot retry
# loop count differently in FIFO mode)
STATE_FIELDS = (
    "urlhash", "url", "parent", "status", "finish", "absdepth", "reldepth",
    "monodepth", "dupdepth", "words", "links", "exhash", "smhash", "gen",
    "seq", "domain",
)
_STATUS_NO_DOWN = 0
_FINISH_SIFTED = 0x8


def row_digest(row: dict) -> str:
    d = {k: row.get(k) for k in STATE_FIELDS}
    d["words"] = sorted(dict(row.get("words") or {}).items())
    blob = json.dumps(d, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def order_digest(visits: list[tuple[int, str, str]]) -> str:
    """sha256 over a processing order of ``(gen, seq, url)`` triples, taken
    in the order given."""
    h = hashlib.sha256()
    for gen, seq, url in visits:
        h.update(f"{gen}\t{seq}\t{url}\n".encode())
    return h.hexdigest()


def processed_visits(state: dict[str, dict]) -> list[tuple[int, str, str]]:
    """Rows the crawl has processed (downloaded, or sifted in place), in
    ``(gen, seq)`` order — the engine's processing order."""
    done = [
        (v["gen"], v["seq"], v["url"])
        for v in state.values()
        if v["status"] != _STATUS_NO_DOWN or v["finish"] == _FINISH_SIFTED
    ]
    return sorted(done, key=lambda t: (t[0], t[1]))


def state_digests(state: dict[str, dict]) -> dict:
    """Digest set of one frontier: per-urlhash row digests, their combined
    sha256, and the processed-order sha256."""
    rows = {h: row_digest(v) for h, v in state.items()}
    combined = hashlib.sha256(
        "".join(f"{h}:{rows[h]}\n" for h in sorted(rows)).encode()
    ).hexdigest()
    return {
        "order": order_digest(processed_visits(state)),
        "state": combined,
        "rows": rows,
    }


def compare_digests(got: dict, want: dict) -> list[str]:
    """Human-readable differences between two digest sets (empty = equal)."""
    problems = []
    if got["order"] != want["order"]:
        problems.append("processed order differs")
    if got["state"] != want["state"]:
        g, w = got["rows"], want["rows"]
        only_g = len(g.keys() - w.keys())
        only_w = len(w.keys() - g.keys())
        differ = sum(1 for h in g.keys() & w.keys() if g[h] != w[h])
        problems.append(
            f"row state differs: {differ} rows differ, {only_g} extra, {only_w} missing"
        )
    return problems
