"""Snapshot-store time travel (Iceberg VERSION AS OF semantics):
reads at any retained wave, expiration after compaction, snapshot log."""

import pytest

from spacetime_crawler4_spark.crawl.store import SnapshotStore


def _fr(spark, rows):
    return spark.createDataFrame(rows, "urlhash string, status int")


def _aux(spark, tag):
    return spark.createDataFrame([(tag,)], "v string")


def _tables(spark, fr_rows, tag):
    return {
        "frontier": _fr(spark, fr_rows),
        "domains": _aux(spark, tag),
    }


def _frontier_state(tables):
    return {
        (r.urlhash, r.status) for r in tables["frontier"].collect()
    }


def test_load_at_replays_each_retained_wave(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "st"))
    store.commit(0, _tables(spark, [("a", 0), ("b", 0)], "w0"), [{"w": 0}])
    # wave 1: upsert a, add c
    store.commit_delta(
        1, _tables(spark, [("a", 1), ("c", 0)], "w1"), [{"w": 1}]
    )
    # wave 2: upsert c
    store.commit_delta(2, _tables(spark, [("c", 2)], "w2"), [{"w": 2}])

    log = store.snapshots()
    assert [(s["wave"], s["kind"]) for s in log] == [
        (0, "base"), (1, "delta"), (2, "delta"),
    ]

    w, t0, m0 = store.load_at(spark, 0)
    assert w == 0 and m0 == [{"w": 0}]
    assert _frontier_state(t0) == {("a", 0), ("b", 0)}

    w, t1, _ = store.load_at(spark, 1)
    assert w == 1
    assert _frontier_state(t1) == {("a", 1), ("b", 0), ("c", 0)}

    w, t2, _ = store.load_at(spark, 2)
    assert w == 2
    assert _frontier_state(t2) == {("a", 1), ("b", 0), ("c", 2)}

    # latest == time travel to the newest wave
    wl, tl, _ = store.load_latest(spark)
    assert wl == 2 and _frontier_state(tl) == _frontier_state(t2)

    with pytest.raises(KeyError):
        store.load_at(spark, 3)  # future
    with pytest.raises(KeyError):
        store.load_at(spark, -1)  # before the base


def test_compaction_expires_older_snapshots(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "st"))
    store.commit(0, _tables(spark, [("a", 0)], "w0"), [{"w": 0}])
    store.commit_delta(1, _tables(spark, [("a", 1)], "w1"), [{"w": 1}])
    # full compaction at wave 2: the chain collapses to one base
    store.commit(2, _tables(spark, [("a", 2)], "w2"), [{"w": 2}])

    assert [(s["wave"], s["kind"]) for s in store.snapshots()] == [(2, "base")]
    with pytest.raises(KeyError):
        store.load_at(spark, 1)  # expired by compaction
    w, t, _ = store.load_at(spark, 2)
    assert w == 2 and _frontier_state(t) == {("a", 2)}


def test_commit_syncs_data_before_manifest_swap(spark, tmp_path, monkeypatch):
    """Every data file of a commit, its folder and the store root are
    fsynced before the manifest is replaced (crash durability)."""
    import os

    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.path.basename(dst)))
        return real_replace(src, dst)

    root = tmp_path / "st"
    store = SnapshotStore(str(root))
    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    store.commit(0, _tables(spark, [("a", 0)], "w0"), [{"w": 0}])
    store.commit_delta(1, _tables(spark, [("b", 0)], "w1"), [{"w": 1}])
    swaps = [i for i, e in enumerate(events) if e == ("replace", "manifest.json")]
    assert len(swaps) == 2
    for commit_dir, swap in zip(("snap-00000", "delta-00001"), swaps):
        synced = {e[1] for e in events[:swap] if e[0] == "fsync"}
        data = [
            os.path.join(d, f)
            for d, _, fs in os.walk(root / commit_dir)
            for f in fs
        ]
        assert any(p.endswith(".parquet") for p in data)
        for p in data + [str(root / commit_dir), str(root)]:
            assert os.stat(p).st_ino in synced, p
