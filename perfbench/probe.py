"""Outside-in probes: everything the benchmark learns about a layer it
learns by timing calls into public functions, wrapping the engine's
collaborators from the outside, or reading counters the engine and Spark
already expose. Nothing here is installed inside the package."""

from __future__ import annotations

import os
import threading
import time

import stats


class WaveClock(list):
    """Stands in for ``CrawlEngine.metrics``: the engine appends one counter
    dict per wave after its post phase, so the append time is the wave's
    end."""

    def __init__(self) -> None:
        super().__init__()
        self.ends: list[float] = []

    def append(self, item) -> None:
        self.ends.append(time.time())
        super().append(item)


def wave_intervals(start: float, ends: list[float], store_log: list[dict]) -> list[tuple[float, float]]:
    """Per-wave ``(begin, end)``: a wave begins where the previous one
    ended, or after the store commit made in between (a commit belongs to
    no wave)."""
    out = []
    prev = start
    for end in ends:
        between = [c["end"] for c in store_log if prev <= c["start"] < end]
        begin = max([prev] + between)
        out.append((begin, end))
        prev = end
    return out


def wrap_store(store, log: list[dict], tracer=None) -> None:
    """Time ``SnapshotStore.commit`` / ``commit_delta`` / ``load_latest`` on
    one store instance (instance attributes shadow the class methods)."""
    for name in ("commit", "commit_delta", "load_latest"):
        inner = getattr(store, name)

        def timed(*a, _inner=inner, _name=name, **kw):
            t0 = time.time()
            try:
                return _inner(*a, **kw)
            finally:
                t1 = time.time()
                log.append({"op": _name, "start": t0, "end": t1})
                if tracer is not None:
                    tracer.span(f"SnapshotStore.{_name}", t0, t1)

        setattr(store, name, timed)


class Tracer:
    """In-memory spans ``(id, parent, name, start, end, attrs)``; written
    out once, when the benchmark ends. ``cost`` is the time spent recording
    spans: the only work a traced crawl does beyond an untraced one."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.cost = 0.0

    def span(self, name: str, start: float, end: float | None, parent: int | None = None, **attrs) -> int:
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, "attrs": attrs}
        )
        self.cost += time.perf_counter() - t0
        return sid


class RssSampler(threading.Thread):
    """Samples the resident memory of this process and all descendants
    (the driver JVM and its Python workers) from /proc."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(parts[1]), []).append(int(d))
            rss[int(d)] = int(parts[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return total

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> None:
        self._halt.set()
        self.join()


# ----------------------------------------------------------- Spark status
def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def spark_jobs(spark, since: float, until: float) -> list[dict]:
    """Jobs submitted in ``[since, until]`` from Spark's status store."""
    store = spark._jsc.sc().statusStore()
    out = []
    for j in _iter(store.jobsList(None)):
        s, e = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if s is None or e is None or s < since or s > until:
            continue
        out.append({"id": j.jobId(), "start": s, "end": e, "tasks": j.numTasks()})
    return sorted(out, key=lambda j: j["start"])


def spark_stages(spark, since: float, until: float) -> list[dict]:
    """Stages submitted in ``[since, until]``."""
    store = spark._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    out = []
    for st in _iter(
        store.stageList(None, False, False, no_quantiles, spark._jvm.java.util.ArrayList())
    ):
        s = _opt_ms(st.submissionTime())
        if s is None or s < since or s > until:
            continue
        out.append(
            {
                "id": st.stageId(),
                "attempt": st.attemptId(),
                "tasks": st.numTasks(),
                "run_ms": st.executorRunTime(),
                "shuffle_write": st.shuffleWriteBytes(),
            }
        )
    return out


def task_durations(spark, stage: dict) -> list[float]:
    store = spark._jsc.sc().statusStore()
    out = []
    for t in _iter(store.taskList(stage["id"], stage["attempt"], 1_000_000)):
        d = t.duration()
        if d.isDefined():
            out.append(float(d.get()))
    return out


def spark_summary(spark, start: float, end: float) -> dict:
    """Job/stage/task counts, job busy time (union of job intervals), the
    driver gap (wall not covered by any job), shuffle MB and the task skew
    of the stage with the most executor time."""
    jobs = spark_jobs(spark, start, end)
    stages = spark_stages(spark, start, end)
    busy = stats.interval_union([(j["start"], j["end"]) for j in jobs])
    skew = 1.0
    if stages:
        big = max(stages, key=lambda s: s["run_ms"])
        durs = task_durations(spark, big)
        if durs and stats.median(durs) > 0:
            skew = max(durs) / stats.median(durs)
    return {
        "jobs": jobs,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": (end - start) - busy,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 1e6,
        "spark.task_skew": skew,
    }
