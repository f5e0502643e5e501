"""Structured Streaming surface: file-source ingestion through the fused
text-plane UDF, watermarked windowed aggregation, and foreachBatch
incremental crawling — all run to completion with availableNow triggers."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from spacetime_crawler4_spark.streaming.ingest import (
    incremental_crawl_query,
    stream_pages,
    streaming_text_plane,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def drops_dir(corpus_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("drops")
    shutil.copy(f"{corpus_dir}/pages.parquet", d / "drop-000.parquet")
    return str(d)


def test_streaming_text_plane_matches_batch(spark, corpus_dir, drops_dir, tmp_path):
    st = streaming_text_plane(stream_pages(spark, drops_dir))
    q = (
        st.writeStream.format("memory")
        .queryName("planed_stream")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["url"]: (r["n_tokens"], r["smhash"], r["n_links"])
        for r in spark.sql("select * from planed_stream").collect()
    }
    from spacetime_crawler4_spark.operators.textplane import crawl_features_udf

    batch = (
        spark.read.parquet(f"{corpus_dir}/pages.parquet")
        .select(
            "url",
            crawl_features_udf(F.col("url"), F.col("html"), F.col("content_type")).alias("f"),
        )
        .select("url", "f.n_total", "f.smhash", F.size("f.links").alias("nl"))
    )
    exp = {r["url"]: (r["n_total"], r["smhash"], r["nl"]) for r in batch.collect()}
    assert got == exp


def test_windowed_event_counts(spark, drops_dir, tmp_path):
    st = streaming_text_plane(stream_pages(spark, drops_dir))
    win = windowed_event_counts(st, window="60 minutes", watermark="2 hours")
    q = (
        win.writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from win_stream").collect()
    # fixture warc_ts spans (2024-01-01 + minutes) -> several 1h windows;
    # append mode emits only watermark-closed windows
    assert sum(r["n_pages"] for r in rows) > 0
    assert all(r["total_tokens"] >= 0 for r in rows)


@pytest.mark.slow
def test_incremental_crawl_foreachbatch(spark, corpus_dir, tmp_path, engine_frontier):
    """Seeds arriving as a stream reproduce the batch crawl's final
    frontier (same corpus, same seeds, state in the snapshot store); a
    batch that adds no seed leaves the store as it was; and every
    micro-batch frees the frames it made: no persistent RDD made during
    the query survives it (compared by id)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spacetime_crawler4_spark.crawl.schema import CrawlConfig
    from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST, SEED_URLS

    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    manifest = tmp_path / "state" / "manifest.json"
    jsc = spark.sparkContext._jsc

    def persistent() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    before = persistent()
    committed = []
    # the second batch re-sends the seeds: the resumed engine appends
    # none of them, runs no wave and commits nothing, and the frontier
    # stays the batch crawl's
    for b in range(2):
        pq.write_table(
            pa.table({"url": list(SEED_URLS)}), str(seeds_dir / f"batch{b}.parquet")
        )
        seeds_stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(seeds_dir))
        )
        writer = incremental_crawl_query(
            spark,
            seeds_stream,
            f"{corpus_dir}/pages.parquet",
            f"{corpus_dir}/robots.parquet",
            state_dir=str(tmp_path / "state"),
            config=CrawlConfig(whitelist=FIXTURE_WHITELIST),
            checkpoint_dir=str(tmp_path / "ck3"),
        )
        q = writer.trigger(availableNow=True).start()
        # returns False on timeout — fail HERE with a clear message instead
        # of comparing a half-written frontier below (seen once when a
        # co-tenant bench starved the JVM: TaskMemoryManager page-allocation
        # stalls)
        assert q.awaitTermination(1800), "streaming crawl did not finish in 30min"
        committed.append(manifest.read_text())
    assert committed[1] == committed[0], committed
    assert not persistent() - before

    from spacetime_crawler4_spark.crawl.store import SnapshotStore

    loaded = SnapshotStore(str(tmp_path / "state")).load_latest(spark)
    assert loaded is not None
    _wave, tables, _m = loaded
    got = {r["urlhash"]: (r["status"], r["finish"]) for r in tables["frontier"].collect()}
    _eng, batch_frontier = engine_frontier
    exp = {r["urlhash"]: (r["status"], r["finish"]) for r in batch_frontier.collect()}
    assert got == exp


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization over time-partitioned event
    drops == the batch lag+running-sum sessionization on the same data."""
    import duckdb

    from spacetime_crawler4_spark.queries import q_events_sessionize
    from spacetime_crawler4_spark.streaming.stateful import sessionize_stream

    sf_dir = "/root/testdata/sf0.001"
    # split the events into 3 time-ordered drops (per-user time never goes
    # backwards across drops — the operator's documented requirement)
    con = duckdb.connect()
    drops = tmp_path / "edrops"
    drops.mkdir()
    con.execute(
        f"CREATE VIEW ev AS SELECT * FROM '{sf_dir}/events.parquet' ORDER BY ts, event_id"
    )
    n = con.sql("SELECT count(*) FROM ev").fetchone()[0]
    third = (n + 2) // 3
    for i in range(3):
        con.execute(
            f"COPY (SELECT * FROM ev ORDER BY ts, event_id LIMIT {third} "
            f"OFFSET {i * third}) TO '{drops}/drop-{i:03d}.parquet' (FORMAT PARQUET)"
        )
    st = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drops))
    )
    q = (
        sessionize_stream(st)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # running counters are monotone: final value per user == max
    got = {
        r["user_id"]: (r["mx_e"], r["mx_s"])
        for r in spark.sql(
            "select user_id, max(n_events) mx_e, max(n_sessions) mx_s "
            "from sess_stream group by user_id"
        ).collect()
    }
    exp = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in q_events_sessionize(spark, sf_dir).collect()
    }
    assert got == exp


def test_seeds_frontier_df_bounded_fat_batch(spark, corpus_dir):
    """A >10^4-seed batch becomes frontier rows with no driver list: the
    seeds stay a DataFrame end to end (VERDICT r3 #8). Checks count,
    urlhash twin-collapse, and sorted-url seq numbering."""
    from pyspark.sql import functions as F

    from spacetime_crawler4_spark.crawl.engine import CrawlEngine
    from spacetime_crawler4_spark.crawl.schema import CrawlConfig, urlhash
    from spacetime_crawler4_spark.sources.fixture import FIXTURE_WHITELIST

    n = 20_000
    seeds = spark.range(n).select(
        F.format_string("http://www.example-a.test/p%07d", F.col("id")).alias("url")
    )
    # twins: https spellings of the first 100 collapse to the same urlhash
    twins = spark.range(100).select(
        F.format_string("https://www.example-a.test/p%07d", F.col("id")).alias("url")
    )
    eng = CrawlEngine(
        spark,
        f"{corpus_dir}/pages.parquet",
        f"{corpus_dir}/robots.parquet",
        seeds.unionByName(twins),
        CrawlConfig(whitelist=FIXTURE_WHITELIST),
    )
    fr = eng.seeds_frontier_df(seeds.unionByName(twins))
    rows = fr.orderBy("seq").collect()
    assert len(rows) == n  # twins collapsed by urlhash
    # http sorts before https, so the kept spelling is the http one
    assert all(r["url"].startswith("http://") for r in rows[:100])
    assert rows[0]["seq"] == "0000000" and rows[-1]["seq"] == f"{n - 1:07d}"
    assert rows[0]["urlhash"] == urlhash(rows[0]["url"])
    assert {r["domain"] for r in rows} == {"http://www.example-a.test"}


def test_seen_dedup_stream_bounded_state(spark, tmp_path):
    """Streaming URL-seen filter: first sighting wins across micro-batches,
    trailing-slash twins collapse (F1 normalization), and the state store
    is watermark-bounded (dropDuplicatesWithinWatermark, not the
    unbounded dropDuplicates)."""
    import datetime

    from spacetime_crawler4_spark.streaming.ingest import seen_dedup_stream

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    drops = tmp_path / "drops"
    drops.mkdir()
    rows_a = [(f"http://seen.test/p{i}", t0, "a") for i in range(10)]
    # batch b re-sights p5..p9 (plus a trailing-slash twin of p0) and
    # adds p10..p14
    rows_b = (
        [(f"http://seen.test/p{i}", t0, "b") for i in range(5, 10)]
        + [("http://seen.test/p0/", t0, "b")]
        + [(f"http://seen.test/p{i}", t0, "b") for i in range(10, 15)]
    )
    schema = "url string, warc_ts timestamp, batch string"
    for name, rows in (("drop-000.parquet", rows_a), ("drop-001.parquet", rows_b)):
        stage = tmp_path / f"stage-{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, drops / name)

    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force one file per micro-batch
        .parquet(str(drops))
    )
    q = (
        seen_dedup_stream(st, key_col="url", event_col="warc_ts")
        .writeStream.format("memory")
        .queryName("seen_dedup")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from seen_dedup").collect()

    # 15 distinct normalized keys: p0..p14 (the p0/ twin collapsed)
    assert len(got) == 15
    keys = sorted(r["url"].rstrip("/") for r in got)
    assert keys == sorted(f"http://seen.test/p{i}" for i in range(15))
    # first sighting wins: every overlapping key kept its batch-a row
    by_key = {r["url"].rstrip("/"): r["batch"] for r in got}
    for i in range(10):
        assert by_key[f"http://seen.test/p{i}"] == "a"
    for i in range(10, 15):
        assert by_key[f"http://seen.test/p{i}"] == "b"
    # equivalence with the batch seen-set: same surviving key set
    batch_keys = {
        r["k"]
        for r in spark.read.parquet(str(drops))
        .select(F.regexp_replace("url", "/+$", "").alias("k"))
        .distinct()
        .collect()
    }
    assert {r["url"].rstrip("/") for r in got} == batch_keys
