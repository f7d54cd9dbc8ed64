"""The CDC phase: small deltas against a large keyed state, in an open loop.

It follows the ``orders`` topic the migrate phase loaded and repaired: one
long-running ``tail_topics`` query, whose foreachBatch handler is
``KeyedStateSink.merge_batch``, starts on it, and its first batch builds the
keyed state. The change log (CHANGETABLE-shaped I/U/D rows against the
drifted ``orders``, one version per batch, Zipf-skewed keys) becomes visible
on a fixed schedule whether or not the system keeps up: version v is due at
a set time, and the change table the capture loop reads holds exactly the
versions already due. The capture loop calls ``CdcTail.tick`` back to back
and the tail merges what the ticks publish. Once the schedule is drained, a
final burst makes many versions due at once and times the catch-up from an
idle tail.

A change's lag runs from its due time to the end of the merge that makes it
visible. Which merge that is follows from offsets: after each tick the loop
records the broker's end offsets, and a merge covers the tick once its
micro-batch's end offsets reach them.
"""

from __future__ import annotations

import ast
import os
import shutil
import threading
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import force
from perfbench.stats import summarize

PARTITIONS = 4          # broker partitions of the orders topic
INTERVAL_S = 0.25       # one version due every INTERVAL_S seconds
BATCH = 10              # changes per scheduled version: 40 changes/s
WARM_VERSIONS = 1       # untimed versions that warm the new query up
BURST_VERSIONS = 16     # versions due at once at the end (160 changes)
TICK_VERSIONS = 8       # most versions one capture read takes
MAX_SECONDS = 60        # scheduled versions are generated for at most this
CATCHUP_TIMEOUT_S = 60
OFFSET_STRIDE = 1 << 40
STREAM_KEYS = ("triggerExecution", "addBatch", "latestOffset",
               "queryPlanning", "walCommit", "commitOffsets")


def cover_time(ends: dict[int, int], batch_ends: dict[int, dict[int, int]],
               merges: list[tuple[int, float]]) -> float | None:
    """End time of the first merge whose micro-batch reached the broker end
    offsets ``ends`` (partition -> offset), or None if none has yet.
    ``batch_ends`` maps batch id -> end offsets; ``merges`` lists
    (batch id, merge end time)."""
    for bid, done in sorted(merges, key=lambda m: m[1]):
        got = batch_ends.get(bid)
        if got is not None and all(got.get(p, 0) >= e
                                   for p, e in ends.items()):
            return done
    return None


def version_sizes(seconds: float) -> list[int]:
    """Changes per version: warm-up, then the measured schedule, then the
    burst."""
    measured = int(min(seconds, MAX_SECONDS) / INTERVAL_S)
    return [BATCH] * (WARM_VERSIONS + measured + BURST_VERSIONS)


class CdcStream:
    name = "cdc_stream"

    def __init__(self, ctx):
        from melt_spark.model import Source

        self.ctx = ctx
        self.source = Source(name="orders", keys=("o_orderkey",))
        self.topic = self.source.default_topic
        self.broker = os.path.join(ctx.tmp, "broker")
        self.in_dir = os.path.join(ctx.tmp, "in", "cdc")
        self.sizes = version_sizes(ctx.seconds)
        self.due: dict[int, float] = {}     # version -> perf_counter due
        self.horizon = 0                    # highest version made visible
        self.ticks: list[dict] = []         # per tick: versions, end offsets
        self.merges: list[tuple[int, float]] = []  # batch id, end time
        self._lock = threading.Lock()
        self.query = None
        self.first_batch = 0
        self.measured_tick0 = 0

    def generate(self, orders) -> None:
        """Write the change log against ``orders`` (pyarrow), and the state
        it leads to."""
        shutil.rmtree(self.in_dir, ignore_errors=True)
        os.makedirs(self.in_dir)
        log = gen.change_log(self.ctx.seed, orders, self.sizes)
        pq.write_table(log.table, os.path.join(self.in_dir, "changes.parquet"))
        pq.write_table(log.expected,
                       os.path.join(self.in_dir, "expected.parquet"))
        self.ctx.tally.info["live_rows"] = log.expected.num_rows
        self.ctx.tally.info["generated"]["cdc"] = {
            "state_rows": orders.num_rows, "changes": log.table.num_rows,
            "changes_by_op": log.counts, "versions": len(self.sizes),
            "changes_per_version": BATCH, "interval_s": INTERVAL_S,
            "offered_changes_per_s": BATCH / INTERVAL_S,
            "burst_changes": BATCH * BURST_VERSIONS,
            "key_skew": {"zipf_a": 1.3,
                         "hot_1pct_share": round(log.hot_share, 4)},
            "expected_rows": log.expected.num_rows}

    def warm_up(self) -> None:
        """Start the tail on the loaded topic (building the state) and run
        the warm versions."""
        self.start()
        self.warm()

    # -- the program's calls --------------------------------------------------
    def _changes_due(self):
        """The change table as the capture loop sees it now: versions whose
        due time has passed, at most TICK_VERSIONS more than the last read
        (a bounded fetch, so a backlog drains over several ticks and the
        catch-up rate averages over several tick-merge cycles)."""
        from melt_spark.sources.parquet import read_table
        from pyspark.sql import functions as F

        now, cap = time.perf_counter(), self.horizon + TICK_VERSIONS
        while (self.horizon < cap
               and self.due.get(self.horizon + 1, float("inf")) <= now):
            self.horizon += 1
        return (read_table(self.ctx.spark, self.in_dir, "changes")
                .filter(F.col("sys_change_version") <= self.horizon))

    def _send(self, msgs) -> None:
        from melt_spark.sources import mock_broker as mb

        with self.ctx.tr.span("broker.write"):
            mb.write_messages(msgs.select("topic", "key", "value"),
                              self.broker, partitions=PARTITIONS)

    def _merge(self, delta, batch_id: int) -> None:
        """foreachBatch handler, run on the stream's callback thread."""
        from pyspark.sql import functions as F

        with self.ctx.tr.span("merge.batch"):
            self.sink.merge_batch(
                delta.withColumn("offset",
                                 F.col("partition").cast("long")
                                 * OFFSET_STRIDE + F.col("offset"))
                .select("topic", "key", "value", "offset"), batch_id)
        with self._lock:
            self.merges.append((batch_id, time.perf_counter()))

    def _tick(self) -> None:
        from melt_spark.sources import mock_broker as mb

        lo = self.ticks[-1]["hi"] if self.ticks else 0
        with self.ctx.tr.span("cdc.tick", trace=self.ctx.tr.new_trace()):
            stats = self.tail.tick()
        hi = int(stats["version"])
        want = sum(self.sizes[lo:hi])
        self.ctx.tally.op("cdc.tick", stats["sent_count"] == want,
                          f"versions {lo + 1}..{hi}: sent "
                          f"{stats['sent_count']}, generated {want}")
        if stats["sent_count"]:
            self.ticks.append({"lo": lo, "hi": hi,
                               "sent": stats["sent_count"],
                               "ends": mb.end_offsets(self.broker,
                                                      self.topic)})

    # -- phases ---------------------------------------------------------------
    def start(self) -> None:
        """Start the tail; returns once its first batch (the whole loaded
        topic) is merged into the keyed state."""
        from melt_spark.sources import mock_broker as mb
        from melt_spark.streaming.cdc_tail import CdcTail
        from melt_spark.streaming.foreach_merge import KeyedStateSink

        spark, tmp = self.ctx.spark, self.ctx.tmp
        self.sink = KeyedStateSink(spark, os.path.join(tmp, "state"),
                                   key_cols=("topic", "key"),
                                   order_col="offset")
        self.tail = CdcTail(self.source, self._changes_due, self._send,
                            checkpoint_path=os.path.join(tmp, "cdc.json"))
        self.query = (mb.tail_topics(spark, self.broker, [self.topic])
                      .writeStream.foreachBatch(self._merge)
                      .option("checkpointLocation",
                              os.path.join(tmp, "checkpoint"))
                      .start())
        self._wait_merged(mb.end_offsets(self.broker, self.topic))

    def warm(self) -> None:
        """The first scheduled versions, untimed: the query's first small
        batches pay its own warm-up."""
        from melt_spark.sources import mock_broker as mb

        warm_end = self._schedule(1, WARM_VERSIONS, INTERVAL_S)
        while self.horizon < WARM_VERSIONS or time.perf_counter() < warm_end:
            self._tick()
        self._wait_merged(mb.end_offsets(self.broker, self.topic))
        with self._lock:
            self.first_batch = max(b for b, _t in self.merges) + 1

    def measure(self) -> None:
        """The measured schedule for --seconds, then the burst."""
        from melt_spark.sources import mock_broker as mb

        ctx, tally = self.ctx, self.ctx.tally
        first = WARM_VERSIONS + 1
        last = len(self.sizes) - BURST_VERSIONS
        t0 = time.perf_counter()
        self._schedule(first, last, INTERVAL_S)
        n_ticks0 = self.measured_tick0 = len(self.ticks)
        while time.perf_counter() < t0 + ctx.seconds:
            self._tick()
        end_t = time.perf_counter()
        published = self._publish_times(before=end_t)
        tally.add("cdc_backlog_end", sum(
            self.sizes[v - 1] for v in range(first, last + 1)
            if self.due[v] <= end_t and v not in published))

        # drain what is already due, so the burst starts from an idle tail
        while self.ticks[-1]["hi"] < last:
            self._tick()
        self._wait_merged(mb.end_offsets(self.broker, self.topic))

        burst_t = time.perf_counter()
        self._schedule(last + 1, len(self.sizes), 0.0)
        deadline = burst_t + CATCHUP_TIMEOUT_S
        while (self.horizon < len(self.sizes)
               and time.perf_counter() < deadline):
            self._tick()
        self._wait_merged(mb.end_offsets(self.broker, self.topic))
        done = self._publish_times(n_ticks0)
        for v in range(first, last + 1):
            if v in done:
                lag = done[v] - self.due[v]
                for _ in range(self.sizes[v - 1]):
                    tally.add("cdc_lag_s", lag)
        burst_done = done.get(len(self.sizes))
        if tally.op("cdc.catchup", burst_done is not None,
                    "burst not merged before the time-out"):
            tally.add("cdc_catchup_changes_per_s",
                      sum(self.sizes[last:]) / (burst_done - burst_t))
        tally.op("cdc.lag", all(v in done for v in range(first, last + 1)),
                 "scheduled changes never merged")
        self.check_state()

    def check_state(self) -> None:
        """The merged state equals the state the generator computed from its
        own changes: their diff is empty."""
        from melt_spark.operators.diff import diff, diff_matches
        from melt_spark.sources.parquet import read_table

        view = self.sink.compacted_view()
        expected = self.source.messages(
            read_table(self.ctx.spark, self.in_dir, "expected"))
        ok = view is not None and diff_matches(
            diff(expected.select("topic", "key", "value"),
                 view.select("topic", "key", "value")))
        self.ctx.tally.op("cdc.state", ok,
                          "merged state differs from the generated changes")
        if self.ctx.trace and view is not None:
            self.ctx.tally.add("merge.state_rows",
                               force(self.sink.state())["rows"])

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(60)
            self.query = None

    # -- bookkeeping ----------------------------------------------------------
    def _schedule(self, first: int, last: int, interval: float) -> float:
        """Make versions first..last due from now, ``interval`` apart;
        returns the due time of the last."""
        start = time.perf_counter()
        for i, v in enumerate(range(first, last + 1)):
            self.due[v] = start + i * interval
        return self.due[last]

    def progress(self) -> list:
        """Progress of the measured micro-batches that carried data."""
        return [p for p in self.query.recentProgress
                if p.numInputRows > 0 and p.batchId >= self.first_batch]

    def _batch_ends(self) -> dict[int, dict[int, int]]:
        """Stream batch id -> end offset per broker partition."""
        out = {}
        for p in self.query.recentProgress:
            if not p.sources:
                continue
            end = p.sources[0].endOffset
            if isinstance(end, str):   # the Python source's offset repr
                end = ast.literal_eval(end)
            if end:
                out[p.batchId] = {int(k): int(v)
                                  for k, v in end.get(self.topic, {}).items()}
        return out

    def _wait_merged(self, ends: dict[int, int]) -> bool:
        deadline = time.perf_counter() + CATCHUP_TIMEOUT_S
        while time.perf_counter() < deadline:
            with self._lock:
                merges = list(self.merges)
            if cover_time(ends, self._batch_ends(), merges):
                return True
            time.sleep(0.05)
        return False

    def _publish_times(self, from_tick: int = 0, before: float | None = None
                       ) -> dict[int, float]:
        """Version -> end time of the merge that made it visible."""
        with self._lock:
            merges = [m for m in self.merges
                      if before is None or m[1] <= before]
        batch_ends = self._batch_ends()
        out = {}
        for t in self.ticks[from_tick:]:
            done = cover_time(t["ends"], batch_ends, merges)
            if done is not None:
                out.update({v: done for v in range(t["lo"] + 1, t["hi"] + 1)})
        return out

    def stream_metrics(self) -> dict[str, float]:
        """Per-trigger durationMs medians, batches and input rows of the
        measured batches."""
        progress = self.progress()
        out = {"stream.batches": len(progress),
               "stream.input_rows": sum(p.numInputRows for p in progress)}
        for key in STREAM_KEYS:
            vals = [p.durationMs.get(key, 0) for p in progress]
            out[f"stream.{key}_ms"] = summarize(vals)["median"] or 0
        return out
