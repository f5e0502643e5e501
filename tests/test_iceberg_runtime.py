"""Execute the store's rendered Iceberg statements against a REAL
Iceberg runtime — the integration half of tests/test_iceberg_sql.py
(which checks structure only, because this sandbox has no Iceberg jars).

Gated: runs only when SPARK_GRAFT_ICEBERG_JARS points at an
iceberg-spark-runtime jar (comma-separated list accepted). In any
environment with the jar (e.g. a spark-iceberg container), this proves
the renderers' MERGE/INSERT/tag/time-travel/expire statements are not
just well-formed but executable, and that the MERGE upsert reproduces
the store's latest-version-wins semantics (crawl/store.py commit_delta).

Run: SPARK_GRAFT_ICEBERG_JARS=/path/iceberg-spark-runtime-3.5_2.12-*.jar \
         python -m pytest tests/test_iceberg_runtime.py -x -q
"""

import os

import pytest

ICEBERG_JARS = os.environ.get("SPARK_GRAFT_ICEBERG_JARS")

pytestmark = [
    pytest.mark.iceberg,
    pytest.mark.skipif(
        not ICEBERG_JARS,
        reason="no Iceberg runtime: set SPARK_GRAFT_ICEBERG_JARS to the "
        "iceberg-spark-runtime jar to enable",
    ),
]


@pytest.fixture(scope="module")
def iceberg_spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-runtime-test")
        .config("spark.jars", ICEBERG_JARS)
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config(
            "spark.sql.catalog.warehouse",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        .config("spark.sql.catalog.warehouse.type", "hadoop")
        .config("spark.sql.catalog.warehouse.warehouse", warehouse)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def _frontier_rows(spark, rows):
    """Build a frontier-schema DataFrame from (urlhash, url, gen) triples."""
    from pyspark.sql import Row

    from spacetime_crawler4_spark.crawl.schema import FRONTIER_SCHEMA

    base = {f.name: None for f in FRONTIER_SCHEMA.fields}
    out = []
    for urlhash, url, gen in rows:
        d = dict(base)
        d.update(
            urlhash=urlhash,
            url=url,
            parent=None,
            status=1,
            finish=0,
            absdepth=0,
            reldepth=0,
            monodepth=0,
            dupdepth=0,
            words={"w": 1},
            links=[],
            exhash="00000000",
            smhash=0,
            gen=gen,
            seq="s",
            domain="d.test",
            retries=0,
        )
        out.append(Row(**d))
    return spark.createDataFrame(out, FRONTIER_SCHEMA)


def test_merge_tag_timetravel_expire_roundtrip(iceberg_spark):
    """create -> MERGE (insert) -> tag wave 1 -> MERGE (upsert) -> tag
    wave 2 -> VERSION AS OF both tags -> expire. Asserts latest-version-
    wins on the matched key and exact historical reads on each tag."""
    from spacetime_crawler4_spark.crawl.iceberg import (
        create_table_sql,
        expire_snapshots_sql,
        merge_frontier_sql,
        tag_wave_sql,
        time_travel_sql,
    )

    spark = iceberg_spark
    cat = "warehouse.crawl"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS warehouse.crawl")
    spark.sql(create_table_sql(cat, "frontier"))

    _frontier_rows(
        spark, [("h1", "http://d.test/a", 0), ("h2", "http://d.test/b", 0)]
    ).createOrReplaceTempView("staged_w1")
    spark.sql(merge_frontier_sql(cat, "staged_w1"))
    spark.sql(tag_wave_sql(cat, "frontier", 1))

    # wave 2: h2 re-verdicted (gen bump) + h3 discovered
    _frontier_rows(
        spark, [("h2", "http://d.test/b", 1), ("h3", "http://d.test/c", 1)]
    ).createOrReplaceTempView("staged_w2")
    spark.sql(merge_frontier_sql(cat, "staged_w2"))
    spark.sql(tag_wave_sql(cat, "frontier", 2))

    now = {
        r["urlhash"]: r["gen"]
        for r in spark.sql(f"SELECT urlhash, gen FROM {cat}.frontier").collect()
    }
    assert now == {"h1": 0, "h2": 1, "h3": 1}  # latest-version-wins upsert

    w1 = {
        r["urlhash"]: r["gen"]
        for r in spark.sql(time_travel_sql(cat, "frontier", 1)).collect()
    }
    assert w1 == {"h1": 0, "h2": 0}  # tag reads are exact history

    w2 = {
        r["urlhash"]: r["gen"]
        for r in spark.sql(time_travel_sql(cat, "frontier", 2)).collect()
    }
    assert w2 == now

    spark.sql(expire_snapshots_sql("warehouse", "crawl.frontier", 1))
    # tags pin their snapshots through expiry; current read unaffected
    assert {
        r["urlhash"] for r in spark.sql(f"SELECT urlhash FROM {cat}.frontier").collect()
    } == {"h1", "h2", "h3"}


def test_append_tables_insert(iceberg_spark):
    """The append-only side tables accept the rendered INSERTs."""
    from spacetime_crawler4_spark.crawl.iceberg import (
        append_sql,
        create_table_sql,
    )

    spark = iceberg_spark
    cat = "warehouse.crawl"
    spark.sql(create_table_sql(cat, "domains"))
    spark.sql(
        "SELECT 'http://a.test' AS domain, 0 AS disallow_all, 1 AS allow_all, "
        "CAST(NULL AS double) AS crawl_delay, CAST(NULL AS string) AS rules_body, "
        "array('http://a.test/s') AS sitemap_urls"
    ).createOrReplaceTempView("staged_domains")
    spark.sql(append_sql(cat, "domains", "staged_domains"))
    assert spark.sql(f"SELECT count(*) c FROM {cat}.domains").first()["c"] == 1
