import pytest

from perfbench import checks
from perfbench.wl_cdc import cover_time

COLS = ["a", "b"]


def test_compare_rows_accepts_any_order():
    ok, why = checks.compare_rows((COLS, [("1", "x"), ("2", "y")]),
                                  (COLS, [("2", "y"), ("1", "x")]))
    assert ok and why == "2 rows"


@pytest.mark.parametrize("duck, reason", [
    ((["a", "c"], [("1", "x"), ("2", "y")]), "columns"),
    ((COLS, [("1", "x")]), "rowcount"),
    ((COLS, [("1", "x"), ("2", "z")]), "values differ"),
    ((COLS, [("1", "x"), ("1", "x")]), "values differ"),   # multiset
])
def test_compare_rows_rejects(duck, reason):
    ok, why = checks.compare_rows((COLS, [("1", "x"), ("2", "y")]), duck)
    assert not ok and why.startswith(reason)


def test_compare_rows_on_check_oracle_normalisation():
    """The values compared are check_oracle.norm's strings: a float64 and
    a Decimal of the same amount normalise differently, as in
    tools/check_oracle.py's own drive."""
    import decimal

    norm = checks.check_oracle().norm
    ok, _ = checks.compare_rows((COLS, [(norm(1.5), norm(None))]),
                                (COLS, [(norm(decimal.Decimal("1.50")),
                                         "NULL")]))
    assert not ok


def test_every_headliner_has_an_oracle():
    import bench

    for name, _fn in bench.BENCH_QUERIES:
        sql = checks.oracle_sql(name)
        assert isinstance(sql, str) and "select" in sql.lower(), name


def test_tree_digest_sees_names_and_bytes(tmp_path):
    (tmp_path / "x").write_bytes(b"1")
    d1 = checks.tree_digest(str(tmp_path))
    (tmp_path / "x").write_bytes(b"2")
    d2 = checks.tree_digest(str(tmp_path))
    (tmp_path / "x").rename(tmp_path / "y")
    d3 = checks.tree_digest(str(tmp_path))
    assert len({d1, d2, d3}) == 3


def test_cover_time_needs_every_partition():
    ends = {0: 5, 1: 3}
    batch_ends = {7: {0: 5, 1: 2}, 8: {0: 6, 1: 3}}
    merges = [(8, 20.0), (7, 10.0)]
    assert cover_time(ends, batch_ends, merges) == 20.0
    assert cover_time({0: 5}, batch_ends, merges) == 10.0
    assert cover_time({0: 9}, batch_ends, merges) is None
    assert cover_time(ends, {}, merges) is None
