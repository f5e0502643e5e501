"""SparkSession factory with scale-appropriate defaults.

Single place that encodes the execution-model choices (SURVEY.md §4):
AQE on (runtime re-plan + skew-join splitting), Arrow on (every UDF in this
engine is a pandas/Arrow UDF — no per-row Python, BASELINE.json input_hint),
and shuffle partitions sized to the parallelism level instead of the 200
default (fixture/bench waves are far below 200 tasks; on a real cluster the
caller passes cores explicitly).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spacetime-crawler4-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[K] -> K; local[*] -> cpu count
        k = master.removeprefix("local[").removesuffix("]")
        shuffle_partitions = cpus if k in ("*", master) else int(k)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom filters prune the big side of shuffle joins. Not
        # the seen-set probe: a left_anti join never gets one, and the
        # engine's candidate side (an aggregate over a union of generators)
        # gets none even as a left-outer/isNull rewrite; its prefilter is
        # the engine's own broadcast bloom (engine.SEEN_BLOOM_FPP)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
