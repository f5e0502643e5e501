"""The store's Iceberg mapping renders to well-formed statements.

No Iceberg runtime exists in this sandbox, so the checks are structural:
the rendered DDL/DML for a sample commit chain (the shape store.py
actually produces: create -> full -> 3 deltas -> compaction) carries the
right verbs, keys, table names and wave tags, and parses as single
statements (no stray semicolons, balanced parens).
"""

import pytest

from spacetime_crawler4_spark.crawl.iceberg import (
    append_sql,
    create_table_sql,
    merge_frontier_sql,
    render_commit_chain,
    schema_ddl,
    tag_wave_sql,
    time_travel_sql,
)
from spacetime_crawler4_spark.crawl.schema import FRONTIER_SCHEMA
from spacetime_crawler4_spark.crawl.store import APPEND_TABLES, TABLES

CAT = "warehouse.crawl"


def test_create_table_covers_every_store_table():
    for t in TABLES:
        ddl = create_table_sql(CAT, t)
        assert ddl.startswith(f"CREATE TABLE IF NOT EXISTS {CAT}.{t} (")
        assert "USING iceberg" in ddl
        assert "merge-on-read" in ddl
        assert ddl.count("(") == ddl.count(")")
    # the big table gets a bucketed partition spec on its join key; the
    # append table (one row per host) is unpartitioned
    assert "PARTITIONED BY (bucket(512, urlhash))" in create_table_sql(CAT, "frontier")
    assert "PARTITIONED BY" not in create_table_sql(CAT, "domains")


def test_frontier_ddl_mirrors_spark_schema():
    ddl = schema_ddl(FRONTIER_SCHEMA)
    for f in FRONTIER_SCHEMA.fields:
        assert f.name in ddl
    assert "words map<string,int>" in ddl
    assert "links array<string>" in ddl
    assert "smhash bigint" in ddl


def test_merge_upserts_every_non_key_column():
    sql = merge_frontier_sql(CAT, "staged_frontier_w00003")
    assert f"MERGE INTO {CAT}.frontier t" in sql
    assert "ON t.urlhash = s.urlhash" in sql
    for f in FRONTIER_SCHEMA.fields:
        if f.name != "urlhash":
            assert f"t.{f.name} = s.{f.name}" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql
    # the key is never assigned in the UPDATE branch
    assert "t.urlhash = s.urlhash\nWHEN MATCHED" in sql
    assert sql.count("t.urlhash") == 1


def test_append_only_tables_reject_merge_shapes():
    for t in APPEND_TABLES:
        assert append_sql(CAT, t, "v") == f"INSERT INTO {CAT}.{t} SELECT * FROM v"
    with pytest.raises(ValueError):
        append_sql(CAT, "frontier", "v")


def test_commit_chain_renders_store_lifecycle():
    chain = render_commit_chain(
        CAT, [(0, "full"), (1, "delta"), (2, "delta"), (3, "delta"), (4, "full")]
    )
    text = "\n---\n".join(chain)
    # one create per state table, then per-commit blocks ending in wave tags
    assert sum(s.startswith("CREATE TABLE") for s in chain) == len(TABLES)
    assert sum("MERGE INTO" in s for s in chain) == 3
    assert sum(s.startswith("INSERT OVERWRITE") for s in chain) == 2 * len(TABLES)
    for w in range(5):
        assert tag_wave_sql(CAT, "frontier", w) in chain
    assert "rewrite_data_files" in text and "expire_snapshots" in text
    # statement hygiene: one statement each, balanced parens
    for s in chain:
        assert ";" not in s
        assert s.count("(") == s.count(")")


def test_time_travel_addresses_waves():
    assert (
        time_travel_sql(CAT, "frontier", 7)
        == f"SELECT * FROM {CAT}.frontier VERSION AS OF 'wave-00007'"
    )
