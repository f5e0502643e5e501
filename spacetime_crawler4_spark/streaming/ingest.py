"""Streaming ingestion + event-time aggregation.

All transformations here are expressed so Structured Streaming's
incremental planner can run them: stateless projections for the text
plane, watermark + windowed aggregation for metrics, ``foreachBatch``
where the batch engine (with its snapshot-store state) is the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from spacetime_crawler4_spark.operators.textplane import crawl_features_udf

PAGES_STREAM_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("redirect_to", StringType()),
        StructField("retry_after", IntegerType()),
    ]
)


def stream_pages(spark: SparkSession, drops_dir: str) -> DataFrame:
    """File-source stream over a directory receiving pages-parquet drops
    (the streaming analogue of the fetch join's right side)."""
    return (
        spark.readStream.schema(PAGES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(drops_dir)
    )


def streaming_text_plane(pages_stream: DataFrame) -> DataFrame:
    """Fused parse/tokenize/simhash over a page stream — stateless, so it
    runs unchanged under the incremental planner; per-batch parallelism is
    the file-split parallelism of the trigger."""
    feat = crawl_features_udf(F.col("url"), F.col("html"), F.col("content_type"))
    return pages_stream.select(
        "url",
        "warc_ts",
        feat.alias("feat"),
    ).select(
        "url",
        "warc_ts",
        F.col("feat.sitemap").alias("sitemap"),
        F.col("feat.n_total").alias("n_tokens"),
        F.col("feat.n_unique").alias("n_unique"),
        F.col("feat.smhash").alias("smhash"),
        F.size("feat.links").alias("n_links"),
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Event-time windowed counts with late-data handling: the watermark
    bounds state and admits stragglers up to ``watermark`` late — the
    streaming analogue of the per-wave metrics table (SURVEY.md §2.9)."""
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("sitemap").cast("long")).alias("n_sitemaps"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_pages",
            "total_tokens",
            "n_sitemaps",
        )
    )


def seen_dedup_stream(
    pages_stream: DataFrame,
    key_col: str = "url",
    event_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-seen filter with BOUNDED state: first sighting of a
    key passes, re-sightings within ``watermark`` of event time are
    dropped (``dropDuplicatesWithinWatermark``), and the state store
    evicts keys once the watermark passes them — the streaming analogue
    of the crawl engine's seen anti-join (J1) that never grows without
    bound the way a raw ``dropDuplicates`` on an infinite stream would.

    Keys are normalized (trailing-slash collapse, F1) before comparison
    so http(s) twins of the same page dedup the same way the batch
    frontier does. Late re-sightings BEYOND the watermark can re-admit a
    key; downstream the batch engine's exact seen anti-join (keyed on
    the durable frontier) stays the source of truth — this stage exists
    to shed the intra-window duplicate mass before the expensive
    parse/fetch plane, not to be the final arbiter.
    """
    from spacetime_crawler4_spark.functions.urls import normalize_url_col

    return (
        pages_stream.withColumn("_seen_key", normalize_url_col(F.col(key_col)))
        .withWatermark(event_col, watermark)
        .dropDuplicatesWithinWatermark(["_seen_key"])
        .drop("_seen_key")
    )


def incremental_crawl_query(
    spark: SparkSession,
    seeds_stream: DataFrame,
    pages_path: str,
    robots_path: str,
    state_dir: str,
    config=None,
    checkpoint_dir: str | None = None,
):
    """Drive the batch crawl engine from a stream of seed-URL batches.

    Each micro-batch resumes the engine from the snapshot store (an empty
    store starts an empty frontier), appends the new seeds through
    ``CrawlEngine.add_seeds`` numbered under ``b<batch_id>.``, runs waves
    and frees the engine's frames (``CrawlEngine.close``) and its seed
    checkpoint. Each wave commits the rows it processed; the sink commits
    only when the run stopped at ``max_waves`` after the batch added seeds,
    so that no added seed is left pending outside the store. State
    durability and exactly-once-ness come from the store's atomic commits
    (Iceberg snapshot transactions in production), not from Spark's state
    store. ``seeds_stream`` needs a single ``url: string`` column.
    """
    from spacetime_crawler4_spark.crawl.engine import CrawlEngine, _release
    from spacetime_crawler4_spark.crawl.store import TABLES

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # NO driver round-trip for the seed list (VERDICT r3 #8): the
        # batch stays a DataFrame end-to-end — urlhash/domain via the
        # Arrow-batched seed_meta_udf, batch-internal urlhash dedup +
        # sorted-url seq numbering inside seeds_frontier_df, and the
        # frontier append is a left_anti join + union. A 10^7-seed batch
        # costs one executor-side sort, zero driver memory.
        seeds_df = batch_df.select("url").localCheckpoint(eager=True)
        eng = None
        try:
            if seeds_df.isEmpty():
                return
            eng = CrawlEngine(
                spark, pages_path, robots_path, [], config, state_dir=state_dir
            )
            eng.init_state(resume=True)
            added = eng.add_seeds(seeds_df, f"b{batch_id:07d}.")
            first = eng.wave_no
            eng.run()
            # a run that stopped because nothing was pending processed every
            # added seed, and each wave committed its rows; one that hit
            # max_waves may have left some pending: one snapshot keeps them
            if added and eng.wave_no - first == eng.cfg.max_waves:
                eng.store.commit(
                    eng.wave_no, {t: getattr(eng, t) for t in TABLES}, eng.metrics
                )
        finally:
            if eng is not None:
                eng.close()
            _release(seeds_df)

    writer = seeds_stream.writeStream.foreachBatch(handle_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
