"""Message construction — rows → (topic, key, value) envelopes.

Reference: `message` builds {::topic, ::key = select-keys row pks,
::value = row}; ::value nil is a tombstone (src/jdbc/melt.clj:28,49-53,
489-493). The Kafka key is the canonical sorted-key JSON of the PK sub-map
(melt.clj:359-362,375).

Spark restatement: one projection producing exactly the Kafka-sink contract —
`topic: string, key: string, value: string|null` — plus the typed structs for
downstream operators. Pure Catalyst expressions; the whole load path
(scan → message → sink) is a single narrow stage, no shuffle.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..canonical import ISO_MILLIS, canonical_json, canonical_struct

if TYPE_CHECKING:
    from ..model import Source

# Envelope column names (reference ::melt/topic ::melt/key ::melt/value).
TOPIC, KEY, VALUE = "topic", "key", "value"


def message_df(df: DataFrame, source: "Source",
               ts_format: str | None = None,
               keep_columns: bool = False) -> DataFrame:
    """Project rows into message envelopes.

    Output columns: topic, key (canonical JSON of PK sub-map; NULL for
    keyless sources — a transform must then supply one, reference
    integration_test.clj:158-163), value (canonical JSON of the full row),
    key_struct, value_struct (typed forms). With keep_columns=True the
    original row columns ride along (needed by diff to resend ORIGINAL
    values after comparing in lossy space, melt.clj:415-416).
    """
    # explicit arg > source-level pipeline setting > engine default
    ts_format = ts_format or getattr(source, "ts_format", None) or ISO_MILLIS
    cols = [c.lower() for c in df.columns]
    df = df.toDF(*cols)  # reference lowercases all column names (melt.clj:63)

    missing = [k for k in source.keys if k not in cols]
    if missing:
        raise ValueError(f"key columns {missing} absent from {cols}")

    key_col = (canonical_json(source.keys, ts_format) if source.keyed
               else F.lit(None).cast("string"))
    key_struct = (canonical_struct(source.keys) if source.keyed
                  else F.lit(None))

    projection = [
        F.lit(source.default_topic).alias(TOPIC),
        key_col.alias(KEY),
        canonical_json(cols, ts_format).alias(VALUE),
        key_struct.alias("key_struct"),
        canonical_struct(cols).alias("value_struct"),
    ]
    if keep_columns:
        projection.extend(F.col(c) for c in cols)
    return df.select(*projection)


def tombstones(keys_df: DataFrame) -> DataFrame:
    """Envelope rows with value=NULL (delete markers, melt.clj:489-493).
    Input must carry topic + key columns."""
    return keys_df.select(
        TOPIC, KEY, F.lit(None).cast("string").alias(VALUE)
    )


def invalid_message(keyed: bool = True) -> Column:
    """True for a message violating the contract: null topic, or (keyed)
    null key. The reference spec-asserts every message (::message spec,
    melt.clj:26-28,467-469); the DataFrame restatement is a predicate, so
    `df.filter(invalid_message())` lists the violations (empty == valid)."""
    cond = F.col(TOPIC).isNull()
    if keyed:
        cond = cond | F.col(KEY).isNull()
    return cond
