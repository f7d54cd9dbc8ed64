"""Load driver (§3.1) and SQL Server admin DDL builders (§2.11)."""

import pytest
from pyspark.sql import functions as F

from melt_spark.model import Source
from melt_spark.operators.load import load_sources
from melt_spark.sources.sql_server_admin import (
    change_sql, disable_table_tracking_sql, enable_db_change_tracking_sql,
    enable_table_tracking_sql, track_all, untrack_all, TRACKED_TABLES_SQL)


def test_load_counts_per_topic(spark):
    s1 = Source(name="users", schema="main", keys=("id",))
    s2 = Source(name="items", schema="main", keys=("id",))
    data = {
        "users": spark.createDataFrame([(1, "a"), (2, "b")],
                                       "id long, name string"),
        "items": spark.createDataFrame([(7, 9.5)], "id long, price double"),
    }
    sent = []
    counts = load_sources(
        [s1, s2], read_fn=lambda s: data[s.name],
        send_fn=lambda df: sent.append(df))
    assert counts == {"melt.main.users": 2, "melt.main.items": 1}
    assert len(sent) == 2


GOLDEN_COUNTS = {
    # reference style: exact per-topic load counts (melt_test.clj:41-56)
    "melt.main.region": 5, "melt.main.nation": 25,
    "melt.main.customer": 150, "melt.main.supplier": 10,
    "melt.main.part": 200, "melt.main.orders": 1500,
    "melt.main.lineitem": 6000, "melt.main.events": 1000,
    "melt.main.documents": 500, "melt.main.embeddings": 500,
}

KEYS = {
    "region": ("r_regionkey",), "nation": ("n_nationkey",),
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",), "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def test_full_load_golden_counts(spark, sf_dir):
    """Load ALL fixture tables through the real message pipeline; exact
    per-topic counts (the reference's golden load fact)."""
    from melt_spark.sources.parquet import read_table

    sources = [Source(name=t, schema="main", keys=KEYS[t]) for t in KEYS]
    counts = load_sources(sources,
                          read_fn=lambda s: read_table(spark, sf_dir, s.name),
                          send_fn=lambda df: None)
    assert counts == GOLDEN_COUNTS


def test_load_validates_keyed_sources(spark):
    # keyless source with NO key-supplying transform must fail validation
    bad = Source(name="nokeys", schema="main", keys=())
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="constraint"):
        load_sources([bad], read_fn=lambda s: df, send_fn=lambda d: None)


def test_load_never_sends_an_invalid_source(spark):
    bad = Source(name="nokeys", schema="main", keys=())
    df = spark.createDataFrame([(1,), (2,)], "x long")
    sent = []
    with pytest.raises(ValueError, match="constraint"):
        load_sources([bad], read_fn=lambda s: df, send_fn=sent.append)
    assert sent == []


def test_load_without_validation_sends_null_keys(spark):
    keyless = Source(name="nokeys", schema="main", keys=())
    df = spark.createDataFrame([(1,), (2,)], "x long")
    sent = []
    counts = load_sources([keyless], read_fn=lambda s: df,
                          send_fn=sent.append, validate=False)
    assert counts == {"melt.main.nokeys": 2}
    [msgs] = sent
    assert msgs.filter(F.col("key").isNull()).count() == 2


def test_load_counts_every_topic_a_transform_routes_to(spark):
    def route(msgs):
        return msgs.withColumn("topic", F.when(
            F.col("key_struct.id") % 2 == 0, F.lit("even"))
            .otherwise(F.lit("odd")))

    src = Source(name="nums", schema="main", keys=("id",),
                 transforms=(route,))
    df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    counts = load_sources([src], read_fn=lambda s: df, send_fn=lambda d: None)
    assert counts == {"even": 3, "odd": 2}


def test_admin_ddl_builders():
    assert enable_db_change_tracking_sql("db1") == (
        "Alter Database [db1] Set CHANGE_TRACKING = ON "
        "(CHANGE_RETENTION = 2 DAYS, AUTO_CLEANUP = ON)")
    assert "Enable CHANGE_TRACKING" in enable_table_tracking_sql("s", "t")
    assert "Disable CHANGE_TRACKING" in disable_table_tracking_sql("s", "t")
    assert "sys.change_tracking_tables" in TRACKED_TABLES_SQL


def test_track_all_dry_run_and_execute():
    tables = [("SalesLT", "Address"), ("SalesLT", "Customer")]
    dry = track_all(tables)
    assert len(dry) == 2 and all("Enable" in s for s in dry)
    ran = []
    untrack_all(tables, execute=ran.append)
    assert len(ran) == 2 and all("Disable" in s for s in ran)


def test_change_sql_shape():
    sql = change_sql("SalesLT", "Address", ["addressid"],
                     ["addressid", "city", "postalcode"], 42)
    assert "CHANGETABLE(CHANGES [SalesLT].[Address], 42)" in sql
    assert "Left Outer Join" in sql
    assert "ct.[addressid] = t.[addressid]" in sql
    select_list = sql.split(" From ")[0]
    assert "t.[city]" in select_list
    assert " t.[addressid]" not in select_list  # PK comes from ct. side only
    assert sql.endswith("Order By ct.sys_change_version")
