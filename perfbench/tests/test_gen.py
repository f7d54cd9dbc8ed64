import numpy as np
import pyarrow as pa
import pytest

from perfbench import gen
from perfbench.checks import tree_digest

SF = 0.001


def test_same_seed_same_bytes(tmp_path):
    gen.write_tables(gen.make_tables(5, SF), str(tmp_path / "a"))
    gen.write_tables(gen.make_tables(5, SF), str(tmp_path / "b"))
    gen.write_tables(gen.make_tables(6, SF), str(tmp_path / "c"))
    assert tree_digest(str(tmp_path / "a")) == tree_digest(str(tmp_path / "b"))
    assert tree_digest(str(tmp_path / "a")) != tree_digest(str(tmp_path / "c"))


def test_tables_match_fixture_shapes():
    t = gen.make_tables(1, SF)
    assert set(t) == set(gen.TABLES)
    assert t["orders"].num_rows == 1500 and t["lineitem"].num_rows == 6000
    assert t["orders"].schema.field("o_orderdate").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(
        pa.float32())
    for name, key in gen.KEYED.items():
        keys = t[name].column(key).to_numpy()
        assert len(np.unique(keys)) == len(keys), name
    assert all(p.startswith('{"k": ') for p in
               t["events"].column("props").to_pylist())


@pytest.mark.parametrize("name", sorted(gen.KEYED))
def test_drift_round_counts_and_keys(name):
    base = gen.make_tables(3, SF)[name]
    key = gen.KEYED[name]
    d = gen.drift_round(3, name, base, 1)
    n = base.num_rows
    spec = gen.DriftSpec()
    assert len(d.updated) == int(n * spec.update)
    assert len(d.deleted) == int(n * spec.delete)
    assert len(d.inserted) == int(n * spec.insert)
    assert d.expected_sync == len(d.updated) + len(d.deleted) + len(d.inserted)
    before = {r[key]: r for r in base.to_pylist()}
    after = {r[key]: r for r in d.table.to_pylist()}
    assert not set(d.deleted.tolist()) & set(after)
    assert set(d.inserted.tolist()) <= set(after)
    assert not set(d.inserted.tolist()) & set(before)
    assert not set(d.updated.tolist()) & set(d.deleted.tolist())
    for k in d.updated.tolist():
        assert after[k] != before[k]
    untouched = set(before) - set(d.updated.tolist()) - set(d.deleted.tolist())
    assert all(after[k] == before[k] for k in untouched)
    again = gen.drift_round(3, name, base, 1)
    assert again.table.equals(d.table)


def _replay(base: pa.Table, changes: pa.Table) -> dict:
    state = {r["o_orderkey"]: r for r in base.to_pylist()}
    for row in changes.to_pylist():
        op = row.pop("sys_change_operation")
        row.pop("sys_change_version")
        if op == "D":
            assert row["o_orderkey"] in state
            del state[row["o_orderkey"]]
        else:
            assert (op == "I") == (row["o_orderkey"] not in state)
            state[row["o_orderkey"]] = row
    return state


def test_change_log_expected_state_and_determinism():
    orders = gen.make_tables(9, SF)["orders"]
    sizes = [10] * 30
    log = gen.change_log(9, orders, sizes)
    assert log.table.num_rows == sum(sizes) == sum(log.counts.values())
    versions = log.table.column("sys_change_version").to_pylist()
    assert versions == sorted(versions) and set(versions) == set(range(1, 31))
    state = _replay(orders, log.table)
    assert [state[k] for k in sorted(state)] == log.expected.to_pylist()
    same = gen.change_log(9, orders, sizes)
    assert same.table.equals(log.table) and same.expected.equals(log.expected)
    assert not gen.change_log(10, orders, sizes).table.equals(log.table)


def test_change_log_keys_are_skewed():
    orders = gen.make_tables(2, SF)["orders"]
    log = gen.change_log(2, orders, [50] * 20)
    # the hottest 1% of keys draw far more than 1% of updates and deletes
    assert log.hot_share > 0.3
