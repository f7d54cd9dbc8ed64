"""Sync — turn a diff into the message batch that repairs the topic.

Reference sync-kafka (src/jdbc/melt.clj:495-509): produce every :table-only
row (upsert) and a nil-value tombstone for every `deleted` key, return the
total messages sent. Upserts carry the ORIGINAL values (unfuzz-keys,
melt.clj:415-416) — diffing happened in lossy space but what's sent is the
source row's canonical serialization, which for us is the same `value` string
(our canonical form IS the wire form, so no unfuzz step is needed).

Spark restatement: two projections of the diff output unioned into one
Kafka-sink-shaped DataFrame (topic, key, value) — a single write, tombstones
included as value=NULL rows.

The reference sends the diff it already computed (melt.clj:570), not a
fresh one. materialize_repair is the restatement: the repair batch is
computed from the diff ONCE and held, so its count, its upsert/tombstone
split and the send all read the same rows — the count is exactly what is
sent even if the source moves in between, and the full-outer join runs once.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .diff import SIDE, TABLE_ONLY, TOPIC_ONLY


def sync_plan(diff_df: DataFrame,
              on: Sequence[str] = ("topic", "key")) -> DataFrame:
    """Diff rows → repair messages: upserts (side=table_only, send source
    value) + tombstones (side=topic_only, value=NULL). Output matches the
    Kafka sink contract exactly.

    Single CASE projection rather than union-of-filters: a union would
    recompute the diff join once per branch (Spark does not dedup common
    subplans) — at 100 TB that doubles the dominant shuffle."""
    return diff_df.select(
        *on,
        F.when(F.col(SIDE) == TABLE_ONLY, F.col("src_value"))
         .otherwise(F.lit(None).cast("string")).alias("value"))


def sync_count(sync_df: DataFrame) -> int:
    """Total repair messages (reference returns the sum, melt.clj:504-508)."""
    return sync_df.count()


def materialize_repair(diff_df: DataFrame,
                       on: Sequence[str] = ("topic", "key")) -> DataFrame:
    """sync_plan(diff_df), computed once and held (eager local checkpoint):
    readers of the result re-run no diff join.

    Known limits: the held batch is every out-of-sync row, so its size grows
    with drift — a repair against an empty or far-behind topic holds the
    whole table in executor block storage before the send. The checkpoint
    cuts lineage, so an executor lost between it and the send fails the
    send instead of recomputing the diff."""
    return sync_plan(diff_df, on).localCheckpoint(eager=True)
