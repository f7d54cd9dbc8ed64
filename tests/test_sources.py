"""Sources: changelog fixtures, JDBC query building, Kafka offset
bookkeeping, sampling."""

import json
import os

from melt_spark.model import Source
from melt_spark.operators.sample import sample_db, sample_table
from melt_spark.sources.changelog import cdc_changes_from_events, events_changelog
from melt_spark.sources.jdbc import (information_schema_queries,
                                     scan_bounds_query, table_query)
from melt_spark.sources.kafka import refresh_offsets_json
from melt_spark.sources.parquet import read_table


def test_events_changelog_envelope(spark, sf_dir):
    log = events_changelog(read_table(spark, sf_dir, "events"))
    assert log.columns == ["topic", "partition", "offset", "timestamp",
                           "key", "value"]
    sample = log.orderBy("offset").limit(50).collect()
    assert all(r["topic"].startswith("melt.main.users_") for r in sample)
    assert all(r["key"].startswith('{"user_id":') for r in sample)
    # tombstones exist and are exactly the error events
    n_tomb = log.filter("value IS NULL").count()
    ev = read_table(spark, sf_dir, "events")
    assert n_tomb == ev.filter("event_type = 'error'").count()


def test_cdc_changes_shape(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    ch = cdc_changes_from_events(ev, cust)
    assert "sys_change_version" in ch.columns
    # deletes have NULL current values (left-join-miss semantics)
    d = ch.filter("sys_change_operation = 'D'").limit(5).collect()
    assert d and all(r["c_name"] is None for r in d)
    u = ch.filter("sys_change_operation = 'U'").limit(5).collect()
    assert u and all(r["c_name"] is not None for r in u)


def test_jdbc_query_building():
    s = Source(name="Address", schema="SalesLT", keys=("addressid",))
    assert table_query(s) == "Select * From [SalesLT].[Address]"
    custom = Source(name="x", schema="s",
                    sql="Select * From t Where id In (9,11)")
    assert table_query(custom) == "Select * From t Where id In (9,11)"
    assert "min([addressid])" in scan_bounds_query(s, "addressid")
    qs = information_schema_queries()
    assert set(qs) == {"tables", "columns", "key_columns"}


def test_refresh_offsets_json():
    wm = [{"topic": "t", "partition": 0, "max_offset": 41},
          {"topic": "t", "partition": 1, "max_offset": 9},
          {"topic": "u", "partition": 0, "max_offset": 0}]
    out = json.loads(refresh_offsets_json(wm))
    # startingOffsets are inclusive → resume at max+1
    assert out == {"t": {"0": 42, "1": 10}, "u": {"0": 1}}


def test_sample_table_and_db(spark, sf_dir, tmp_path):
    cust = read_table(spark, sf_dir, "customer")
    sample, total = sample_table(cust, n=10, order_by="c_custkey")
    assert sample.count() == 10 and total == cust.count()

    paths = sample_db({"customer": cust.limit(3)}, str(tmp_path), n=2)
    assert len(paths) == 1 and os.path.exists(paths[0])
    with open(paths[0]) as f:
        doc = json.load(f)
    assert doc["count"] == 3 and len(doc["sample"]) == 2


def test_tune_session_logs_confs_it_cannot_set(caplog):
    """A conf the session refuses is named in a warning, not swallowed;
    the rest are still set."""
    from melt_spark.session import tune_session

    class Conf:
        def __init__(self):
            self.values = {}

        def set(self, key, value):
            if key == "spark.sql.session.timeZone":
                raise RuntimeError("cannot modify")
            self.values[key] = value

    class Session:
        conf = Conf()

    with caplog.at_level("WARNING", logger="melt_spark.session"):
        tune_session(Session)
    assert "spark.sql.session.timeZone" in caplog.text
    assert Session.conf.values["spark.sql.legacy.parquet.nanosAsLong"] == "true"
