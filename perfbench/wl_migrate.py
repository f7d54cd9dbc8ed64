"""The migrate phase: full load, then one round of drift repaired through
the broker.

Four unique-key tables (orders, events, part, customer), each with its own
broker topic. The full load goes through ``load_sources``. Then seeded
drift (updates, deletes, inserts) is applied to the source tables:
``verify_sync`` verifies (finding it), repairs through the broker and
verifies once more (finding it gone), and VERIFIES standalone ``verify``
calls must each find the repaired topics matching; their median time is the
workload's operation time. The four sources are verified together: their
messages are unioned and diffed against the compacted state of all four
topics, which ``diff`` keys on (topic, key).

The warm-up loads the orders table on a separate broker, with the other
three topics left empty, and runs one verify there (which must find the
drift). A load of one table runs every plan the load of four runs, and
saves about 5 s of a set-up that sets how many runs fit the benchmark's
time budget.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import gen
from perfbench.harness import force

SF = 0.005           # orders 7.5k, events 5k, part 1k, customer 750 rows
DRIFT = gen.DriftSpec(update=0.02, delete=0.01, insert=0.01)
PARTITIONS = 4       # broker partitions per topic
VERIFIES = 2         # standalone verifies after the repair, all alike
WARM_LOAD = ("orders",)   # the tables the warm-up loads
OFFSET_STRIDE = 1 << 40


def _generate(seed: int, in_dir: str) -> dict:
    """Write the base tables (r0) and the drifted ones (r1); returns the
    drift the checks compare against."""
    tables = gen.make_tables(seed, SF)
    base = {name: tables[name] for name in gen.KEYED}
    drift = {name: gen.drift_round(seed, name, base[name], 1, DRIFT)
             for name in gen.KEYED}
    gen.write_tables(base, os.path.join(in_dir, "r0"))
    gen.write_tables({n: d.table for n, d in drift.items()},
                     os.path.join(in_dir, "r1"))
    return {"base_rows": {n: t.num_rows for n, t in base.items()},
            "drift": drift}


class Migrate:
    name = "migrate"

    def __init__(self, ctx):
        self.ctx = ctx
        from melt_spark.model import Source

        self.sources = [Source(name=n, keys=(k,))
                        for n, k in gen.KEYED.items()]
        self.topics = [s.default_topic for s in self.sources]

    # -- the program's calls, each inside a span ----------------------------
    def read_table(self, rnd: int, name: str):
        from melt_spark.sources import parquet

        return parquet.read_table(self.ctx.spark,
                                  os.path.join(self.ctx.tmp, "in", f"r{rnd}"),
                                  name)

    def source_msgs(self, rnd: int):
        """Union of every source's messages at round ``rnd``."""
        with self.ctx.tr.span("messages"):
            frames = [s.messages(self.read_table(rnd, s.name))
                      .select("topic", "key", "value") for s in self.sources]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out

    def read_log(self, broker: str):
        from melt_spark.sources import mock_broker as mb
        from pyspark.sql import functions as F

        with self.ctx.tr.span("broker.read_topics"):
            return mb.read_topics(self.ctx.spark, broker, self.topics
                                  ).withColumn(
                "off", F.col("partition").cast("long") * OFFSET_STRIDE
                + F.col("offset"))

    def topic_state(self, broker: str):
        from melt_spark.operators.latest_state import latest_state

        log = self.read_log(broker)
        with self.ctx.tr.span("latest_state"):
            return latest_state(log, key_cols=("topic", "key"),
                                order_col="off", payload_cols=["value"],
                                tombstone_col="value")

    def send(self, broker: str):
        from melt_spark.sources import mock_broker as mb

        def send_fn(msgs):
            with self.ctx.tr.span("broker.write"):
                mb.write_messages(msgs.select("topic", "key", "value"),
                                  broker, partitions=PARTITIONS)
        return send_fn

    def load(self, broker: str, sources: list) -> dict:
        from melt_spark.operators.load import load_sources

        with self.ctx.tr.span("load"):
            return load_sources(sources,
                                lambda s: self.read_table(0, s.name),
                                self.send(broker))

    def verify(self, broker: str, rnd: int):
        from melt_spark.operators.verify import verify

        with self.ctx.tr.span("verify"):
            return verify(lambda: self.source_msgs(rnd),
                          lambda: self.topic_state(broker))

    def verify_sync(self, broker: str):
        from melt_spark.operators.verify import verify_sync

        with self.ctx.tr.span("verify_sync"):
            return verify_sync(lambda: self.source_msgs(1),
                               lambda: self.topic_state(broker),
                               self.send(broker))

    # -- phases ---------------------------------------------------------------
    def generate(self) -> None:
        in_dir = os.path.join(self.ctx.tmp, "in")
        shutil.rmtree(in_dir, ignore_errors=True)
        self.inputs = _generate(self.ctx.seed, in_dir)
        base, drift = self.inputs["base_rows"], self.inputs["drift"]
        self.ctx.tally.info["generated"] = {
            "rows": base, "rows_total": sum(base.values()),
            "drift_spec": vars(DRIFT), "key_skew": "uniform",
            "drift": {n: {"updated": len(d.updated), "deleted": len(d.deleted),
                          "inserted": len(d.inserted)}
                      for n, d in drift.items()}}

    def drifted(self, name: str):
        """A table after the drift round (pyarrow)."""
        return self.inputs["drift"][name].table

    def warm_up(self) -> None:
        """Load and verify once on a separate broker: that compiles and
        warms every plan the measured phase runs (load, encode, broker read
        and write, compaction, diff)."""
        from melt_spark.sources import mock_broker as mb

        broker = os.path.join(self.ctx.tmp, "broker-warm")
        self._load_checked(broker, WARM_LOAD)
        for s in self.sources:
            if s.name not in WARM_LOAD:
                mb.create_topic(broker, s.default_topic, PARTITIONS)
        self._verify_checked(broker, 1, False, "verify_drifted")

    def measure(self) -> dict:
        """Load, then on the main broker: verify_sync against the drifted
        tables (its own first verify must find the drift, and it repairs
        it), then VERIFIES verifies against the drifted tables (the repair
        must match them). Returns the rows and times."""
        ctx, tally = self.ctx, self.ctx.tally
        broker = os.path.join(ctx.tmp, "broker")
        t0 = time.perf_counter()
        rows = self._load_checked(broker)
        load_s = time.perf_counter() - t0
        tally.info["loaded_rows"] = rows
        if ctx.trace:
            self._probe(broker)
        with ctx.tr.span("round", trace=ctx.tr.new_trace()):
            t0 = time.perf_counter()
            fix = self.verify_sync(broker)
            resync_s = time.perf_counter() - t0
            verify_s = [self._verify_checked(broker, 1, True,
                                             "verify_repaired")
                        for _ in range(VERIFIES)]
        want = sum(d.expected_sync for d in self.inputs["drift"].values())
        tally.op("verify_sync", fix.synced and fix.matches
                 and fix.sync_count == want,
                 f"synced={fix.synced} matches={fix.matches} "
                 f"sync_count={fix.sync_count} expected={want}")
        tally.add("verify.attempts", fix.attempts)
        self._check_tombstones(broker)
        return {"rows": rows, "load_s": load_s, "verify_s": verify_s,
                "resync_s": resync_s}

    # -- pieces ---------------------------------------------------------------
    def _load_checked(self, broker: str, names=gen.KEYED) -> int:
        sources = [s for s in self.sources if s.name in names]
        counts = self.load(broker, sources)
        want = {s.default_topic: self.inputs["base_rows"][s.name]
                for s in sources}
        self.ctx.tally.op("load", counts == want,
                          f"loaded {counts}, generated {want}")
        return sum(counts.values())

    def _verify_checked(self, broker: str, rnd: int, want_match: bool,
                        what: str) -> float:
        """verify against round ``rnd``'s source; returns its time."""
        t0 = time.perf_counter()
        res = self.verify(broker, rnd)
        dt = time.perf_counter() - t0
        self.ctx.tally.op(what, res.matches == want_match,
                          f"verify matches={res.matches}, expected "
                          f"{want_match}")
        self.ctx.tally.add("verify.attempts", res.attempts)
        return dt

    def _check_tombstones(self, broker: str) -> None:
        """Every key the drift deleted has a tombstone as its latest
        record (inserts use fresh keys, so none come back)."""
        from pyspark.sql import functions as F

        deleted = [(s.default_topic, f'{{"{s.keys[0]}":{int(k)}}}')
                   for s in self.sources
                   for k in self.inputs["drift"][s.name].deleted]
        want = self.ctx.spark.createDataFrame(deleted, "topic string, "
                                              "key string")
        log = self.read_log(broker)
        last = (log.join(F.broadcast(want), ["topic", "key"])
                .groupBy("topic", "key")
                .agg(F.max_by("value", "off").alias("value")))
        got = last.agg(F.count(F.lit(1)).alias("n"),
                       F.count("value").alias("live")).collect()[0]
        self.ctx.tally.op("tombstones", got["n"] == len(deleted)
                          and got["live"] == 0,
                          f"{len(deleted)} deleted keys: {got['n']} in the "
                          f"log, {got['live']} not tombstoned")

    def _probe(self, broker: str) -> None:
        """Traced run only: force each layer's intermediate frame into the
        noop sink, so lazy layers show their own cost."""
        from melt_spark.operators.diff import diff
        from melt_spark.operators.sync import sync_plan
        from pyspark.sql import functions as F

        tr, tally, rnd = self.ctx.tr, self.ctx.tally, 1
        # one job per table on both sides, so their difference is encoding
        with tr.span("probe.parquet"):
            for s in self.sources:
                force(self.read_table(rnd, s.name))
        with tr.span("probe.messages"):
            n = sum(force(s.messages(self.read_table(rnd, s.name)))["rows"]
                    for s in self.sources)
        tally.add("messages.rows", n)
        with tr.span("probe.source"):
            force(self.source_msgs(rnd))
        with tr.span("probe.broker_read"):
            n_in = force(self.read_log(broker))["rows"]
        with tr.span("probe.compact"):
            n_out = force(self.topic_state(broker))["rows"]
        tally.add("compact.rows_in", n_in)
        tally.add("compact.rows_out", n_out)
        with tr.span("probe.diff"):
            d = diff(self.source_msgs(rnd), self.topic_state(broker))
            n_diff = force(d)["rows"]
        tally.add("diff.rows_out", n_diff)
        tally.add("diff.out_of_sync_ratio", n_diff / max(1, n))
        with tr.span("probe.sync"):
            got = force(sync_plan(d),
                        F.count("value").alias("upserts"))
        tally.add("sync.upserts", got["upserts"])
        tally.add("sync.tombstones", got["rows"] - got["upserts"])
