"""Correctness comparators.

The headliner oracle check reuses tools/check_oracle.py (its row
normalisation and DuckDB fetch) and applies the same three tests its drive
does: sorted column names, row count, and the multiset of normalised rows.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections import Counter

from perfbench.harness import ROOT


def check_oracle():
    """tools/check_oracle.py as a module (tools/ is not a package)."""
    tools = str(ROOT / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle


def compare_rows(spark_side: tuple[list, list], duck_side: tuple[list, list]
                 ) -> tuple[bool, str]:
    """(cols, rows) pairs as check_oracle.spark_rows / duck_rows return
    them -> (match, reason)."""
    s_cols, s_data = spark_side
    d_cols, d_data = duck_side
    if s_cols != d_cols:
        return False, f"columns spark={s_cols} duck={d_cols}"
    if len(s_data) != len(d_data):
        return False, f"rowcount spark={len(s_data)} duck={len(d_data)}"
    sc, dc = Counter(s_data), Counter(d_data)
    if sc != dc:
        only_s = list((sc - dc).elements())[:2]
        only_d = list((dc - sc).elements())[:2]
        return False, f"values differ: spark-only {only_s} duck-only {only_d}"
    return True, f"{len(s_data)} rows"


def oracle_sql(name: str) -> str:
    """The DuckDB oracle of a headliner: its constituent registry entry, or
    the suite's SQL_<NAME> constant for the pipeline queries the registry
    does not list."""
    from melt_spark.plans import suite
    from melt_spark.plans.registry import constituents

    entry = constituents().get(name)
    if entry is not None and entry[1] is not None:
        return entry[1]
    return getattr(suite, f"SQL_{name.upper()}")


def duck_views(in_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in check_oracle().TABLES:
        path = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def tree_digest(path: str) -> str:
    """Digest of every file under ``path`` (names and bytes), for the
    same-seed-same-bytes check."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
