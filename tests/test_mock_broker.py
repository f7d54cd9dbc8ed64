"""The Kafka-shaped I/O boundary, executed for real against the file-backed
mock broker (sources/mock_broker.py): produce → bounded read → incremental
refresh → compaction → tombstones → streaming tail → streaming sink.

Covers SURVEY §2 S8/S10/S14/S15/T1/T3/T5 as *running* code (round 1 could
only restate them — no broker in the sandbox)."""

import json
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from melt_spark.operators.latest_state import latest_state, offset_watermarks
from melt_spark.sources import mock_broker as mb
from melt_spark.sources.kafka import refresh_offsets_json


@pytest.fixture(scope="module")
def broker(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("broker"))
    mb.register(spark)
    mb.create_topic(root, "melt.t1", partitions=3)
    return root


def _msgs(spark, rows):
    return spark.createDataFrame(
        [Row(topic=t, key=k, value=v) for t, k, v in rows],
        "topic string, key string, value string")


def test_produce_then_bounded_read(spark, broker):
    batch1 = [("melt.t1", f"k{i}", json.dumps({"n": i})) for i in range(20)]
    mb.write_messages(_msgs(spark, batch1), broker)

    env = mb.read_topics(spark, broker, ["melt.t1"])
    assert env.columns == ["topic", "partition", "offset",
                           "timestamp", "key", "value"]
    rows = env.collect()
    assert len(rows) == 20
    assert mb.count_topic(spark, broker, "melt.t1") == 20

    # dense offsets per partition, starting at 0
    by_part = {}
    for r in rows:
        by_part.setdefault(r.partition, []).append(r.offset)
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))

    # key -> partition is the deterministic hash (per-key ordering contract)
    for r in rows:
        assert r.partition == mb.key_partition(r.key, 3)


def test_incremental_refresh_watermarks(spark, broker):
    """T5 end-to-end: saved offset watermarks --refresh_offsets_json-->
    startingOffsets for the NEXT bounded read; the two reads tile the log."""
    first = mb.read_topics(spark, broker, ["melt.t1"])
    wm = offset_watermarks(first).collect()
    start_json = refresh_offsets_json([r.asDict() for r in wm])

    batch2 = [("melt.t1", f"k{i}", json.dumps({"n": i + 100}))
              for i in range(5, 25)]
    mb.write_messages(_msgs(spark, batch2), broker)

    delta = mb.read_topics(spark, broker, ["melt.t1"],
                           starting_offsets=start_json)
    assert delta.count() == 20  # exactly the second batch
    assert delta.agg(F.min("offset")).first()[0] >= 0
    total = mb.read_topics(spark, broker, ["melt.t1"]).count()
    assert total == 40


def test_compaction_and_tombstones(spark, broker):
    """Latest-state over the broker envelope: same-key updates collapse to
    the highest (partition, offset); a NULL value tombstone removes the key.
    A key lives on ONE partition, so (partition, offset) order is total
    per key."""
    mb.create_topic(broker, "melt.t2", partitions=2)
    mb.write_messages(_msgs(spark, [
        ("melt.t2", "a", '{"v":1}'), ("melt.t2", "b", '{"v":1}')]), broker)
    mb.write_messages(_msgs(spark, [
        ("melt.t2", "a", '{"v":2}')]), broker)
    mb.write_messages(_msgs(spark, [
        ("melt.t2", "b", None)]), broker)  # tombstone

    env = mb.read_topics(spark, broker, ["melt.t2"])
    state = latest_state(env.select("topic", "key", "value",
                                    "partition", "offset"),
                         key_cols=("topic", "key"),
                         order_col=("partition", "offset"))
    got = {r.key: r.value for r in state.collect()}
    assert got == {"a": '{"v":2}'}  # b tombstoned, a at latest version

    with_tombstones = latest_state(
        env.select("topic", "key", "value", "partition", "offset"),
        key_cols=("topic", "key"), order_col=("partition", "offset"),
        drop_tombstones=False)
    assert {r.key for r in with_tombstones.collect()} == {"a", "b"}


def test_offset_range_snapshot_is_bounded(spark, broker):
    """T1: endingOffsets resolved at planning time — a concurrent produce
    after planning does not leak into the read."""
    mb.create_topic(broker, "melt.t3", partitions=1)
    mb.write_messages(_msgs(spark, [("melt.t3", "x", "1")]), broker)
    ends = mb.end_offsets(broker, "melt.t3")
    end_json = json.dumps({"melt.t3": {str(p): e for p, e in ends.items()}})
    # produce MORE after capturing the end snapshot
    mb.write_messages(_msgs(spark, [("melt.t3", "y", "2")]), broker)
    bounded = mb.read_topics(spark, broker, ["melt.t3"],
                             ending_offsets=end_json)
    assert bounded.count() == 1
    assert mb.count_topic(spark, broker, "melt.t3") == 2


def test_streaming_tail_compacts_like_batch(spark, broker, tmp_path):
    """S9/T3: readStream over the broker, foreachBatch latest-state merge;
    final state == batch compaction of the same log."""
    from melt_spark.streaming.foreach_merge import KeyedStateSink

    sink = KeyedStateSink(spark, str(tmp_path / "state"),
                          key_cols=("topic", "key"), order_col="offset")

    stream = mb.tail_topics(spark, broker, ["melt.t2"])
    q = (stream.select("topic", "key", "value", "offset", "partition")
         .writeStream.foreachBatch(
             lambda df, bid: sink.merge_batch(
                 df.withColumn(
                     "offset",
                     F.col("partition").cast("long") * F.lit(1 << 40)
                     + F.col("offset"))
                 .drop("partition"), bid))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    state = sink.compacted_view()
    got = {r.key: r.value for r in state.collect()}
    assert got == {"a": '{"v":2}'}


def test_stream_writer_idempotent_batches(spark, broker, tmp_path):
    """writeStream INTO the broker (T3 producer side): a rate-limited file
    stream lands in the topic exactly once; batch-id ledger dedups replays."""
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    (src_dir / "a.json").write_text("\n".join(
        json.dumps({"topic": "melt.sink", "key": f"s{i}", "value": str(i)})
        for i in range(10)))

    stream = (spark.readStream.schema("topic string, key string, value string")
              .json(str(src_dir)))
    q = (stream.writeStream.format("melt_broker")
         .option("path", broker)
         .option("partitions", 2)
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    assert mb.count_topic(spark, broker, "melt.sink") == 10
    # replaying the same committed batch id appends nothing (ledger dedup)
    man_before = mb.end_offsets(broker, "melt.sink")
    msg = mb._write_segments(broker, 2, [
        {"topic": "melt.sink", "key": "s0", "value": "dup"}], "replay")
    mb._commit_segments(broker, [msg], 0)  # batch 0 already in ledger
    assert mb.end_offsets(broker, "melt.sink") == man_before


# ---------------------------------------------------------------------------
# the native batch read and the Arrow write, against the log's own reader

def _walk(root, topic, start=None, end=None):
    """The log as an independent _scan_segments walk of the manifests."""
    rows = []
    for p, e in mb.end_offsets(root, topic).items():
        rows += mb._scan_segments(root, topic, p, (start or {}).get(p, 0),
                                  (end or {}).get(p, e))
    return sorted(rows, key=lambda r: (r[1], r[2]))


def _read(spark, root, topic, **kw):
    return sorted(map(tuple, mb.read_topics(spark, root, [topic], **kw)
                      .collect()), key=lambda r: (r[1], r[2]))


def _stream_into(spark, root, topic, rows, ckpt):
    src = ckpt / "src"
    src.mkdir(parents=True)
    (src / "a.json").write_text("\n".join(
        json.dumps({"topic": topic, "key": k, "value": v}) for k, v in rows))
    q = (spark.readStream.schema("topic string, key string, value string")
         .json(str(src)).writeStream.format("melt_broker")
         .option("path", root)
         .option("checkpointLocation", str(ckpt / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def test_read_topics_equals_segment_walk(spark, broker, tmp_path):
    """Equivalence guard for the native read: several write_messages calls
    plus the stream sink, read in full and over a range whose ends fall
    inside segments, give exactly the rows the manifests' own walk gives."""
    topic = "melt.eq"
    mb.create_topic(broker, topic, partitions=3)
    mb.write_messages(_msgs(spark, [
        (topic, f"k{i}", json.dumps({"n": i, "s": "é✓"})) for i in range(60)
    ]).coalesce(1), broker)
    mb.write_messages(_msgs(spark, [
        (topic, f"k{i}", None if i % 3 else f"u{i}") for i in range(0, 60, 4)
    ]), broker)
    _stream_into(spark, broker, topic,
                 [(f"s{i}", str(i)) for i in range(12)], tmp_path)
    mb.write_messages(_msgs(spark, [(topic, None, "null key")]), broker)

    full = _read(spark, broker, topic)
    assert full == _walk(broker, topic)
    assert len(full) == sum(mb.end_offsets(broker, topic).values()) == 88

    ends = mb.end_offsets(broker, topic)
    start = {p: 3 for p in ends}
    end = {p: e - 2 for p, e in ends.items()}
    for p in ends:  # both ends strictly inside a committed segment
        segs = mb._load_manifest(broker, topic, p)["segments"]
        for off in (start[p], end[p]):
            assert any(s["base"] < off < s["base"] + s["count"] for s in segs)
    bounded = _read(
        spark, broker, topic,
        starting_offsets=json.dumps({topic: {str(p): o
                                             for p, o in start.items()}}),
        ending_offsets=json.dumps({topic: {str(p): o
                                           for p, o in end.items()}}))
    assert bounded == _walk(broker, topic, start, end)
    assert len(bounded) == 88 - 5 * len(ends)


def test_uncommitted_segments_are_invisible(spark, broker):
    """A segment a task wrote but the driver never committed is not read —
    not even opened: a garbage uncommitted file does not fail the scan."""
    topic = "melt.uncommitted"
    mb.create_topic(broker, topic, partitions=2)
    mb.write_messages(_msgs(spark, [(topic, "a", "1"), (topic, "b", "2")]),
                      broker)
    before = _read(spark, broker, topic)
    mb._write_segments(broker, 2, [{"topic": topic, "key": "c",
                                    "value": "3"}], "orphan")
    with open(os.path.join(broker, topic, "p0", "seg-torn.jsonl"), "w") as f:
        f.write('{"k": "torn", "v"')
    assert _read(spark, broker, topic) == before == _walk(broker, topic)
    assert len(before) == 2


def test_corrupt_committed_segment_raises(spark, broker):
    """A committed line that is not a segment record fails the read; it never
    comes back as a NULL row or a dropped one."""
    topic = "melt.corrupt"
    mb.create_topic(broker, topic, partitions=1)
    mb.write_messages(_msgs(spark, [(topic, f"k{i}", str(i))
                                    for i in range(3)]).coalesce(1), broker)
    seg = mb._load_manifest(broker, topic, 0)["segments"][0]["file"]
    path = os.path.join(broker, topic, "p0", seg)
    with open(path) as f:
        good = f.read().splitlines()
    for bad, error in (('{"k": "k1", "v": "1", "ts": nul', "MALFORMED"),
                       ('{"k": "k1", "v": "1"}', "without 'i'")):
        with open(path, "w") as f:
            f.write("\n".join([good[0], bad, good[2]]) + "\n")
        with pytest.raises(Exception, match=error):
            mb.read_topics(spark, broker, [topic]).collect()


def test_failed_write_leaves_log_unchanged(spark, broker):
    """The input fails in one task after another task has written its
    segment: the manifests do not move and no segment file of the call is
    left behind."""
    from pyspark.sql.functions import udf

    topic = "melt.failed_write"
    mb.create_topic(broker, topic, partitions=1)
    mb.write_messages(_msgs(spark, [(topic, "a", "1")]), broker)
    pdir = os.path.join(broker, topic, "p0")
    files, ends = set(os.listdir(pdir)), mb.end_offsets(broker, topic)

    def value(key, v):
        if key != "boom":
            return v
        deadline = time.time() + 60  # fail once the peer's segment exists
        while (len([f for f in os.listdir(pdir) if f.startswith("seg-")])
               < 2 and time.time() < deadline):
            time.sleep(0.05)
        raise RuntimeError("input failed mid-job")

    rows = [(topic, "ok", "1"), (topic, "boom", "2")]
    msgs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
                                 "topic string, key string, value string")
    with pytest.raises(Exception, match="input failed mid-job"):
        mb.write_messages(msgs.withColumn("value", udf(value)("key", "value")),
                          broker)
    assert mb.end_offsets(broker, topic) == ends
    assert set(os.listdir(pdir)) == files


def test_read_plan_has_no_python_node(spark, broker):
    """read_topics is planned and run by the SQL engine alone."""
    df = mb.read_topics(spark, broker, ["melt.t1"])
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan json" in plan
    for marker in ("Python", "InPandas", "InArrow"):
        assert marker not in plan, plan
