"""PK-less value-as-key flow + verify retry loop (reference
integration_test.clj:158-184 and :102-112) — the two round-2 additions,
exercised end-to-end beyond the oracle smoke."""

import pyspark.sql.functions as F
import pytest

from melt_spark.model import Source
from melt_spark.operators.diff import diff, diff_matches
from melt_spark.operators.messages import invalid_message
from melt_spark.operators.sync import sync_plan
from melt_spark.operators.verify import verify, verify_sync
from melt_spark.sources.parquet import read_table


def _value_as_key(df):
    return df.withColumn("key", F.col("value"))


def _keyless_source():
    return Source(name="supplier", schema="main", keys=(),
                  transforms=(_value_as_key,))


def _supplier_rows(spark, sf_dir):
    return read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")


def test_keyless_messages_key_is_whole_row(spark, sf_dir):
    msgs = _keyless_source().messages(_supplier_rows(spark, sf_dir))
    sample = msgs.select("key", "value").limit(20).collect()
    assert sample
    for r in sample:
        assert r.key == r.value
        assert r.key.startswith('{"s_name":')
    # the transform satisfied the message contract: no NULL keys remain
    assert msgs.filter(invalid_message()).limit(1).count() == 0


def test_keyless_without_transform_flags_null_keys(spark, sf_dir):
    bare = Source(name="supplier", schema="main", keys=())
    msgs = bare.messages(_supplier_rows(spark, sf_dir))
    # keyless source without a key-supplying transform violates the contract
    assert msgs.filter(invalid_message()).limit(1).count() == 1


def test_keyless_load_diff_sync_roundtrip(spark, sf_dir):
    """Whole-row keys flow through load -> diff -> sync: dropping rows from
    the topic yields table_only upserts whose key == value; a mutated row
    becomes one upsert + one tombstone (identity changed with the value)."""
    src = _keyless_source()
    rows = _supplier_rows(spark, sf_dir)
    full = src.messages(rows).select("topic", "key", "value")

    topic = full.filter(~F.col("value").contains('"s_suppkey":3'))
    d = diff(full, topic)
    plan = sync_plan(d).collect()
    assert plan, "missing rows must produce upserts"
    assert all(p.value == p.key for p in plan)

    mutated = src.messages(
        rows.withColumn("s_nationkey",
                        F.when(F.col("s_suppkey") == 1, F.lit(99))
                        .otherwise(F.col("s_nationkey")))
    ).select("topic", "key", "value")
    d2 = diff(full, mutated)
    sides = {(r.side) for r in d2.select("side").collect()}
    # value-as-key: a changed row appears as BOTH a new key to upsert and a
    # stale key to tombstone
    assert sides == {"table_only", "topic_only"}


def test_verify_converges_on_lagging_topic(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    src = Source(name="customer", schema="main", keys=("c_custkey",))

    def msgs(df):
        return src.messages(df).select("topic", "key", "value")

    reads = {"n": 0}

    def topic_fn():
        reads["n"] += 1
        if reads["n"] < 3:
            return msgs(cust.filter(F.col("c_custkey") % 5 != 0))
        return msgs(cust)

    res = verify(lambda: msgs(cust), topic_fn, retries=5,
                 sleep=lambda _s: None)
    assert res.matches and res.attempts == 3 and not res.synced


def test_verify_exhausts_retries(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    src = Source(name="customer", schema="main", keys=("c_custkey",))

    def msgs(df):
        return src.messages(df).select("topic", "key", "value")

    res = verify(lambda: msgs(cust),
                 lambda: msgs(cust.filter(F.col("c_custkey") % 7 != 0)),
                 retries=2, sleep=lambda _s: None)
    assert not res.matches and res.attempts == 3


def test_verify_sync_repairs_stuck_topic(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    src = Source(name="customer", schema="main", keys=("c_custkey",))

    def msgs(df):
        return src.messages(df).select("topic", "key", "value")

    sent = []

    def topic_fn():
        base = msgs(cust.filter(F.col("c_custkey") % 7 != 0))
        for repair in sent:
            base = base.unionByName(
                repair.select("topic", "key", "value")
                .filter(F.col("value").isNotNull()))
        return base

    res = verify_sync(lambda: msgs(cust), topic_fn, send_fn=sent.append,
                      retries=1, sleep=lambda _s: None)
    missing = cust.filter(F.col("c_custkey") % 7 == 0).count()
    assert res.matches and res.synced
    assert res.sync_count == missing
    # post-sync the topic really is consistent
    assert diff_matches(diff(msgs(cust), topic_fn()))


def test_suite_is_exactly_fifty_with_full_oracle_coverage():
    from melt_spark.plans.suite import SUITE

    assert len(SUITE) == 50
    for name, (fn, sql) in SUITE.items():
        assert callable(fn), name
        assert isinstance(sql, str) and sql.strip(), name
