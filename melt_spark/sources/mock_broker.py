"""File-backed mock message broker for Spark 4.

The sandbox has no Kafka broker or spark-sql-kafka jar, so the reference's
core I/O boundary (consumer melt.clj:239-299, producer melt.clj:431-443)
could previously only be *restated* (sources/kafka.py), never executed.
This module makes those paths run for real: a partitioned, append-only,
offset-addressed commit log on the filesystem, exposed through the same four
surfaces Spark's Kafka connector has —

  * batch read with atomically-resolved starting/ending offsets (S8/T1) and
    incremental refresh from saved offset watermarks (T5): ``read_topics``,
    Spark's own JSON scan of the committed segments, no Python worker,
  * a producer sink with key-hash partitioning and tombstones (S14/S15):
    ``write_messages``, one ``mapInArrow`` job,
  * a streaming tail and a streaming sink (T3): the Python DataSource
    ``readStream/writeStream.format("melt_broker")``.

Design (mirrors a real broker's log, scaled down):
  <root>/<topic>/.meta.json            {"partitions": N}
  <root>/<topic>/p<k>/seg-<write id>-<uuid>.jsonl
      one producer task's records, a JSON object per line:
      {"k": key, "v": value, "ts": timestamp, "i": index in the segment}
  <root>/<topic>/p<k>/manifest.json    {"segments": [{file, base, count}],
                                        "end": next_offset,
                                        "batches": [stream batch ids]}

Segments are written by executor tasks (invisible until committed); the
driver-side commit assigns base offsets (a record's offset is base + i) and
atomically replaces the manifest (os.replace), so readers always see a
consistent prefix of the log — the same visibility contract as Kafka's high
watermark. Offsets are dense per partition; a key is hashed (crc32, stand-in
for Kafka's murmur2) to a fixed partition, so per-key order within a
producer task is preserved — Kafka's per-producer guarantee.

On a real cluster the root must be shared storage; this is a test double
for CI and local development, not a Kafka replacement. The production path
remains sources/kafka.py — every function here mirrors its signature so the
two are swappable.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
import zlib
from dataclasses import dataclass
from typing import Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (DataSource, DataSourceStreamWriter,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)

ENVELOPE_SCHEMA = ("topic string, partition int, offset bigint,"
                   " timestamp bigint, key string, value string")

WRITE_COLS = ("topic", "key", "value")

SEGMENT_SCHEMA = "k string, v string, ts bigint, i bigint"

# a committed segment the batch read keeps, and its partition's [lo, hi)
_INDEX_SCHEMA = ("file string, topic string, partition int, base bigint,"
                 " lo bigint, hi bigint")


# ---------------------------------------------------------------------------
# log primitives (driver + executor side; pure filesystem, no Spark)

def _meta_path(root: str, topic: str) -> str:
    return os.path.join(root, topic, ".meta.json")


def _part_dir(root: str, topic: str, part: int) -> str:
    return os.path.join(root, topic, f"p{part}")


def _manifest_path(root: str, topic: str, part: int) -> str:
    return os.path.join(_part_dir(root, topic, part), "manifest.json")


def create_topic(root: str, topic: str, partitions: int = 4) -> None:
    """Idempotent topic creation."""
    if os.path.exists(_meta_path(root, topic)):
        return
    for p in range(partitions):
        os.makedirs(_part_dir(root, topic, p), exist_ok=True)
        _save_json(_manifest_path(root, topic, p),
                   {"segments": [], "end": 0, "batches": []})
    _save_json(_meta_path(root, topic), {"partitions": partitions})


def topic_partitions(root: str, topic: str) -> int:
    with open(_meta_path(root, topic)) as f:
        return int(json.load(f)["partitions"])


def _save_json(path: str, obj: dict) -> None:
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)  # atomic publish


def _load_manifest(root: str, topic: str, part: int) -> dict:
    with open(_manifest_path(root, topic, part)) as f:
        return json.load(f)


def key_partition(key: str | None, num_partitions: int) -> int:
    """Deterministic key->partition (crc32 stand-in for Kafka murmur2);
    NULL keys land on partition 0 (Kafka round-robins; determinism wins
    here so replay tests are stable)."""
    if key is None:
        return 0
    return zlib.crc32(key.encode("utf-8")) % num_partitions


def end_offsets(root: str, topic: str) -> dict[int, int]:
    """Next offset to be written, per partition (== Kafka end offset)."""
    return {p: _load_manifest(root, topic, p)["end"]
            for p in range(topic_partitions(root, topic))}


def _scan_segments(root: str, topic: str, part: int, start: int,
                   end: int) -> Iterator[tuple]:
    """Yield envelope tuples for offsets in [start, end)."""
    man = _load_manifest(root, topic, part)
    for seg in man["segments"]:
        base, count = seg["base"], seg["count"]
        if base + count <= start or base >= end:
            continue
        path = os.path.join(_part_dir(root, topic, part), seg["file"])
        with open(path) as f:
            for i, line in enumerate(f):
                off = base + i
                if off < start or off >= end:
                    continue
                rec = json.loads(line)
                yield (topic, part, off, rec["ts"], rec["k"], rec["v"])


# ---------------------------------------------------------------------------
# offset-range resolution (driver side — the atomic snapshot that lets the
# batch source drop the reference's "read twice" workaround, melt.clj:342-351)

def _resolve_range(man_end: int, topic: str, part: int, starting, ending,
                   ) -> tuple[int, int]:
    def side(spec, default_earliest: bool) -> int:
        if spec == "earliest":
            return 0
        if spec == "latest":
            return man_end
        per_part = spec.get(topic, {})
        if str(part) in per_part:
            v = int(per_part[str(part)])
            return man_end if v == -1 else (0 if v == -2 else v)
        return 0 if default_earliest else man_end

    return side(starting, True), side(ending, False)


def _parse_offsets_spec(spec: str):
    if spec in ("earliest", "latest"):
        return spec
    return json.loads(spec)  # Kafka JSON form {"topic": {"0": off}}


# ---------------------------------------------------------------------------
# the DataSource (streaming tail and sink)

class MeltBrokerDataSource(DataSource):
    """readStream/writeStream.format("melt_broker") — options: path (broker
    root), subscribe (comma-separated topics; reader), startingOffsets
    ('earliest'|'latest'; reader), partitions (writer topic auto-create,
    default 4). Batch I/O is read_topics and write_messages."""

    @classmethod
    def name(cls) -> str:
        return "melt_broker"

    def schema(self) -> str:
        return ENVELOPE_SCHEMA

    def simpleStreamReader(self, schema) -> "MeltBrokerStreamReader":
        return MeltBrokerStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "MeltBrokerStreamWriter":
        return MeltBrokerStreamWriter(self.options)


class MeltBrokerStreamReader(SimpleDataSourceStreamReader):
    """Continuous tail (S9/T3): micro-batches of everything appended since
    the last checkpointed offset map. Offsets are
    {"<topic>": {"<part>": next_offset}} — Spark checkpoints them, replacing
    the reference's hand-rolled :offsets map (melt.clj:511-523)."""

    def __init__(self, options):
        self.root = options["path"]
        self.topics = [t for t in options.get("subscribe", "").split(",") if t]
        starting = options.get("startingoffsets", "earliest")
        self._initial = {}
        for topic in self.topics:
            if starting == "latest":
                ends = end_offsets(self.root, topic)
                self._initial[topic] = {str(p): e for p, e in ends.items()}
            else:
                self._initial[topic] = {
                    str(p): 0
                    for p in range(topic_partitions(self.root, topic))}

    def initialOffset(self) -> dict:
        return self._initial

    def read(self, start: dict):
        rows: list[tuple] = []
        new = {t: dict(pm) for t, pm in start.items()}
        for topic in self.topics:
            ends = end_offsets(self.root, topic)
            for p, e in ends.items():
                s = int(start.get(topic, {}).get(str(p), 0))
                if e > s:
                    rows.extend(_scan_segments(self.root, topic, p, s, e))
                new.setdefault(topic, {})[str(p)] = max(e, s)
        return iter(rows), new

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay after failure: the log is persistent, so the window is
        # simply re-scanned — deterministic by construction
        for topic in self.topics:
            for p_str, e in end.get(topic, {}).items():
                s = int(start.get(topic, {}).get(p_str, 0))
                yield from _scan_segments(self.root, topic, int(p_str),
                                          s, int(e))


@dataclass
class _SegmentMsg(WriterCommitMessage):
    segments: list  # [(topic, part, filename, count), ...]


def _write_segments(root: str, default_partitions: int, records: Iterable,
                    write_id: str) -> _SegmentMsg:
    """Executor side: bucket record dicts by (topic, key-hash partition),
    append one segment file per bucket, each record with its index "i" in
    it. Files are invisible until the driver commits them into the
    manifest."""
    buckets: dict[tuple[str, int], list[dict]] = {}
    nparts: dict[str, int] = {}
    for row in records:
        topic = row["topic"]
        if topic not in nparts:
            try:
                nparts[topic] = topic_partitions(root, topic)
            except FileNotFoundError:
                # auto-create (driver may race; create_topic is idempotent
                # and meta publish is atomic)
                create_topic(root, topic, default_partitions)
                nparts[topic] = topic_partitions(root, topic)
        recs = buckets.setdefault(
            (topic, key_partition(row["key"], nparts[topic])), [])
        recs.append({"k": row["key"], "v": row["value"],
                     "ts": row.get("timestamp"), "i": len(recs)})
    segments = []
    for (topic, part), recs in sorted(buckets.items()):
        fname = f"seg-{write_id}-{uuid.uuid4().hex}.jsonl"
        path = os.path.join(_part_dir(root, topic, part), fname)
        with open(path, "w") as f:
            for r in recs:
                f.write(json.dumps(r) + "\n")
        segments.append((topic, part, fname, len(recs)))
    return _SegmentMsg(segments=segments)


def _commit_segments(root: str, messages, batch_id: int | None) -> None:
    """Driver side: assign base offsets in task order and atomically publish
    the new manifests. With a batch_id (stream sink), replayed batches are
    skipped — idempotent exactly-once append per micro-batch."""
    per_part: dict[tuple[str, int], list] = {}
    for msg in messages:
        if msg is None:
            continue
        for topic, part, fname, count in msg.segments:
            per_part.setdefault((topic, part), []).append((fname, count))
    touched = sorted({t for (t, _p) in per_part})
    skip: set[str] = set()
    if batch_id is not None:
        # batch-id ledger lives on each topic's partition 0 manifest; a
        # replayed micro-batch (stream restart) appends nothing twice
        for topic in touched:
            if batch_id in _load_manifest(root, topic, 0).get("batches", []):
                skip.add(topic)
    for (topic, part), segs in sorted(per_part.items()):
        if topic in skip:
            continue
        man = _load_manifest(root, topic, part)
        base = man["end"]
        for fname, count in segs:
            man["segments"].append(
                {"file": fname, "base": base, "count": count})
            base += count
        man["end"] = base
        if batch_id is not None and part == 0:
            man.setdefault("batches", []).append(batch_id)
        _save_json(_manifest_path(root, topic, part), man)
    if batch_id is not None:
        for topic in touched:
            if topic in skip or (topic, 0) in per_part:
                continue
            man = _load_manifest(root, topic, 0)
            man.setdefault("batches", []).append(batch_id)
            _save_json(_manifest_path(root, topic, 0), man)


def _abort_segments(root: str, messages) -> None:
    for msg in messages:
        if msg is None:
            continue
        for topic, part, fname, _count in msg.segments:
            try:
                os.remove(os.path.join(_part_dir(root, topic, part), fname))
            except OSError:
                pass


class MeltBrokerStreamWriter(DataSourceStreamWriter):
    """writeStream sink (T3): per-micro-batch commit with batch-id dedup, so
    a restarted query that replays its last batch appends nothing twice."""

    def __init__(self, options):
        self.root = options["path"]
        self.default_partitions = int(options.get("partitions", 4))
        self.write_id = uuid.uuid4().hex

    def write(self, iterator):
        return _write_segments(self.root, self.default_partitions,
                               (row.asDict() for row in iterator),
                               self.write_id)

    def commit(self, messages, batchId):
        _commit_segments(self.root, messages, batchId)

    def abort(self, messages, batchId):
        _abort_segments(self.root, messages)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(MeltBrokerDataSource)


# ---------------------------------------------------------------------------
# kafka.py-mirroring convenience API (swap module, keep call sites)

def read_topics(spark: SparkSession, broker_path: str, topics: Sequence[str],
                starting_offsets: str = "earliest",
                ending_offsets: str = "latest") -> DataFrame:
    """Bounded snapshot (mirrors kafka.read_topics; S8/T1). Offset ranges
    are resolved ONCE here from the manifests — concurrent producers don't
    move the goalposts mid-read. Spark's JSON scan reads only the committed
    segments that overlap them (the file-name filter prunes the listing, so
    an uncommitted file is never opened), and a broadcast join on the file
    name turns each record's index into its offset."""
    starting = _parse_offsets_spec(starting_offsets)
    ending = _parse_offsets_spec(ending_offsets)
    index = {c: [] for c in ("file", "topic", "partition", "base", "lo", "hi")}
    for topic in topics:
        for p in range(topic_partitions(broker_path, topic)):
            man = _load_manifest(broker_path, topic, p)
            lo, hi = _resolve_range(man["end"], topic, p, starting, ending)
            for s in man["segments"]:
                if s["base"] < hi and s["base"] + s["count"] > lo:
                    for col, v in zip(index, (s["file"], topic, p, s["base"],
                                              lo, hi)):
                        index[col].append(v)
    # a path per topic, not per file: over 32 paths cost a file-listing job
    records = (spark.read.schema(SEGMENT_SCHEMA)
               .option("mode", "FAILFAST")
               .option("recursiveFileLookup", "true")
               .option("pathGlobFilter", "seg-*.jsonl")
               .json([os.path.join(broker_path, t) for t in topics])
               .select("*", F.col("_metadata.file_name").alias("file"))
               .filter(F.col("file").isin(index["file"])))
    # Arrow makes a LocalRelation; a list would make an RDD, ~8x slower here
    segments = spark.createDataFrame(pa.table(index), _INDEX_SCHEMA)
    i = F.coalesce("i", F.raise_error(F.lit("segment record without 'i'")))
    return (records.join(F.broadcast(segments), "file")
            .withColumn("offset", F.col("base") + i)
            .filter((F.col("offset") >= F.col("lo"))
                    & (F.col("offset") < F.col("hi")))
            .select("topic", "partition", "offset",
                    F.col("ts").alias("timestamp"), F.col("k").alias("key"),
                    F.col("v").alias("value")))


def write_messages(messages: DataFrame, broker_path: str,
                   partitions: int = 4) -> None:
    """Producer sink (mirrors kafka.write_messages; S14/S15): one Arrow job
    whose tasks write segments, committed by the driver in task order —
    at-least-once per call, per-key ordering within a task (Kafka's
    per-producer contract). NULL value = tombstone, stored, not dropped.
    If the job fails, every segment this call wrote is removed and the
    manifests are untouched."""
    write_id = uuid.uuid4().hex

    def produce(batches):
        segs = _write_segments(
            broker_path, partitions,
            (r for b in batches for r in b.to_pylist()), write_id).segments
        if segs:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in zip(*segs)],
                names=["topic", "part", "file", "count"])

    try:
        written = messages.select(*WRITE_COLS).mapInArrow(
            produce, "topic string, part bigint, file string, count bigint"
        ).collect()
    except Exception:
        for path in glob.glob(os.path.join(glob.escape(broker_path), "*",
                                           "p*", f"seg-{write_id}-*")):
            os.remove(path)
        raise
    _commit_segments(broker_path, [_SegmentMsg(segments=written)], None)


def count_topic(spark: SparkSession, broker_path: str, topic: str) -> int:
    """S10: message count currently in a topic."""
    return read_topics(spark, broker_path, [topic]).count()


def tail_topics(spark: SparkSession, broker_path: str,
                topics: Sequence[str],
                starting_offsets: str = "earliest") -> DataFrame:
    """Continuous tail (S9): a streaming DataFrame of the record envelope.
    The schema is given, so starting the stream skips the planner round
    trip that would only return it."""
    return (spark.readStream.format("melt_broker")
            .schema(ENVELOPE_SCHEMA)
            .option("path", broker_path)
            .option("subscribe", ",".join(topics))
            .option("startingOffsets", starting_offsets)
            .load())
