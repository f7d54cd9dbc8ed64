"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from the workload
seed and written to parquet during set-up: the ten fixture-shaped tables
(same column names and types as the TPC-H-ish test fixtures), the
per-round drift of the migrate workload, and the CHANGETABLE-shaped change
log of the cdc_stream workload.

The same seed gives byte-identical files: every random stream is a NumPy
``default_rng`` keyed by (seed, purpose), and pyarrow writes parquet
deterministically for identical tables.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 1 (the fixture ratios: sf0.1 has 150k
# orders, 600k lineitem, 100k events, 5k documents, 2k embeddings)
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# the unique-key tables the migrate workload replicates, with their keys
# (lineitem is left out: its (l_orderkey, l_linenumber) is not unique)
KEYED = {"orders": "o_orderkey", "events": "event_id",
         "part": "p_partkey", "customer": "c_custkey"}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget",
             "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch"
         " spark line sort window data column join small big query stream"
         " order group filter customer").split()

_PURPOSE = {name: i for i, name in enumerate(
    TABLES + ("drift", "changes", "order"))}


def rng(seed: int, purpose: str, *extra: int) -> np.random.Generator:
    """Independent random stream for one purpose, so adding a table or a
    round never shifts the draws of another."""
    return np.random.default_rng([seed, _PURPOSE[purpose], *extra])


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base + (seconds * 1e6).astype(np.int64),
                    type=pa.timestamp("us"))


def _money(r: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(r.uniform(lo, hi, n), 2)


def _props(r: np.random.Generator, n: int) -> list[str]:
    """Embedded-JSON string column: the canonical encoder must escape the
    quotes inside it."""
    k = r.integers(0, 100, n)
    return [f'{{"k": {v}}}' for v in k.tolist()]


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture-shaped tables at scale factor ``sf``."""
    n = {t: max(1, int(round(rows * sf))) for t, rows in ROWS_AT_SF1.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(seed, "customer")
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, c)]})

    r = rng(seed, "supplier")
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, s)})

    r = rng(seed, "part")
    p = n["part"]
    adj, noun = r.integers(0, 8, p), r.integers(0, 8, p)
    keys = np.arange(p)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})

    r = rng(seed, "orders")
    o = n["orders"]
    days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, o)],
        "o_totalprice": _money(r, 1000, 500000, o),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           r.integers(0, days + 1, o) * 86400.0),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, o)]})

    r = rng(seed, "lineitem")
    li = n["lineitem"]
    qty = r.integers(1, 51, li).astype(np.float64)
    ship_days = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, li), 2),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          r.integers(0, ship_days + 1, li) * 86400.0)})

    r = rng(seed, "events")
    e = n["events"]
    users = max(10, int(e * 0.015))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(r.uniform(0, 30 * 86400, e))),
        "user_id": pa.array(r.integers(0, users, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, e)],
        "value": _money(r, 0.01, 490.0, e),
        "props": _props(r, e)})

    r = rng(seed, "documents")
    d = n["documents"]
    texts = []
    for length in r.integers(10, 90, d):
        texts.append(" ".join(WORDS[i] for i in r.integers(0, len(WORDS),
                                                           length)))
    # plant near-duplicates (one word swapped) so the dedup queries find
    # real candidate pairs
    for i in range(0, d - 1, 25):
        words = texts[i].split()
        words[-1] = WORDS[(WORDS.index(words[-1]) + 1) % len(WORDS)]
        texts[i + 1] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, 5, d)],
        "source": [f"src{i}" for i in r.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng(seed, "embeddings")
    m = n["embeddings"]
    vecs = r.normal(0.0, 0.13, (m, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32())})
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# migrate: per-round drift of the keyed tables

@dataclass(frozen=True)
class DriftSpec:
    """Share of a table's live rows changed per round."""
    update: float = 0.02
    delete: float = 0.01
    insert: float = 0.01


@dataclass
class Drift:
    """One round's changes to one table: the new table plus the exact key
    sets, from which the expected repair count follows."""
    table: pa.Table
    updated: np.ndarray
    deleted: np.ndarray
    inserted: np.ndarray

    @property
    def expected_sync(self) -> int:
        return len(self.updated) + len(self.deleted) + len(self.inserted)


def _mutate(name: str, table: pa.Table, rows: np.ndarray, tag: int
            ) -> pa.Table:
    """Change one column of ``rows`` so the row's canonical value is
    guaranteed to differ from before."""
    if name == "orders":
        col, val = "o_orderpriority", f"{tag % 5 + 1}-DRIFT{tag}"
    elif name == "customer":
        col, val = "c_mktsegment", f"DRIFT{tag}"
    elif name == "part":
        col, val = "p_name", f"drift part {tag}"
    else:  # events: rewrite the embedded JSON, quotes and backslash included
        col, val = "props", f'{{"k": {tag}, "note": "r\\"{tag}\\""}}'
    values = table.column(col).to_pylist()
    for i in rows.tolist():
        values[i] = val
    idx = table.schema.get_field_index(col)
    return table.set_column(idx, table.schema.field(idx),
                            pa.array(values, table.schema.field(idx).type))


def drift_round(seed: int, name: str, table: pa.Table, rnd: int,
                spec: DriftSpec = DriftSpec()) -> Drift:
    """Apply round ``rnd`` of seeded drift to ``table`` (the state after the
    previous round). Inserts copy existing rows under fresh keys above the
    current maximum."""
    key = KEYED[name]
    r = rng(seed, "drift", TABLES.index(name), rnd)
    n = table.num_rows
    n_upd, n_del = int(n * spec.update), int(n * spec.delete)
    n_ins = int(n * spec.insert)
    picks = r.choice(n, n_upd + n_del, replace=False)
    upd_rows, del_rows = np.sort(picks[:n_upd]), np.sort(picks[n_upd:])
    keys = table.column(key).to_numpy()

    changed = _mutate(name, table, upd_rows, 1000 * rnd + 7)
    keep = np.ones(n, dtype=bool)
    keep[del_rows] = False
    changed = changed.filter(pa.array(keep))

    src_rows = r.choice(n, n_ins, replace=True)
    new_keys = keys.max() + 1 + np.arange(n_ins)
    ins = table.take(pa.array(src_rows))
    kidx = ins.schema.get_field_index(key)
    ins = ins.set_column(kidx, ins.schema.field(kidx),
                         pa.array(new_keys, ins.schema.field(kidx).type))
    changed = pa.concat_tables([changed, ins])
    return Drift(table=changed, updated=keys[upd_rows],
                 deleted=keys[del_rows], inserted=new_keys)


# ---------------------------------------------------------------------------
# cdc_stream: CHANGETABLE-shaped change log

@dataclass
class ChangeLog:
    """CHANGETABLE-shaped change rows: one version per batch, version v
    (1-based) holding ``sizes[v - 1]`` changes."""
    table: pa.Table        # orders columns + sys_change_operation/version
    expected: pa.Table     # orders after every change, deletes removed
    counts: dict[str, int]  # changes per operation, I/U/D
    hot_share: float       # share of U/D changes on the hottest 1% of keys


def change_log(seed: int, orders: pa.Table, sizes: list[int],
               zipf_a: float = 1.3) -> ChangeLog:
    """I/U/D changes (20/70/10%) against ``orders``. Keys of updates and
    deletes are Zipf-skewed over the live key space; an update rewrites
    o_orderstatus and o_totalprice, an insert copies a live row under a
    fresh key, and a delete carries only the key (the base-table side of
    CHANGETABLE's left join is NULL)."""
    r = rng(seed, "changes")
    cols = orders.column_names
    state = {k: row for k, row in zip(
        orders.column("o_orderkey").to_pylist(), orders.to_pylist())}
    live = list(state)
    next_key = max(live) + 1
    hot_cut = max(1, len(live) // 100)
    rows, counts, hot_hits, keyed = [], {"I": 0, "U": 0, "D": 0}, 0, 0
    for version, size in enumerate(sizes, start=1):
        ops = r.choice(3, size, p=[0.2, 0.7, 0.1])
        ranks = r.zipf(zipf_a, size)
        for op, rank in zip(ops.tolist(), ranks.tolist()):
            pos = (rank - 1) % len(live)
            if op == 0 or len(live) < 2:         # insert
                row = dict(state[live[pos]], o_orderkey=next_key)
                state[next_key] = row
                live.append(next_key)
                next_key += 1
                change = dict(row, sys_change_operation="I")
            else:
                keyed += 1
                hot_hits += pos < hot_cut
                key = live[pos]
                if op == 1:                       # update
                    row = dict(state[key], o_orderstatus="U",
                               o_totalprice=round(
                                   1000 + r.random() * 499000, 2))
                    state[key] = row
                    change = dict(row, sys_change_operation="U")
                else:                             # delete
                    del state[key]
                    live[pos] = live[-1]
                    live.pop()
                    change = {c: None for c in cols}
                    change.update(o_orderkey=key, sys_change_operation="D")
            counts[change["sys_change_operation"]] += 1
            change["sys_change_version"] = version
            rows.append(change)
    schema = orders.schema.append(
        pa.field("sys_change_operation", pa.string())).append(
        pa.field("sys_change_version", pa.int64()))
    return ChangeLog(
        table=pa.Table.from_pylist(rows, schema=schema),
        expected=pa.Table.from_pylist([state[k] for k in sorted(state)],
                                      schema=orders.schema),
        counts=counts, hot_share=hot_hits / max(1, keyed))
