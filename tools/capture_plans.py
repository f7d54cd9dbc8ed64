"""Capture .explain('formatted') for bench queries into plans/r<N>/.

Usage: python tools/capture_plans.py --round N before|after [name ...]

Writes plans/r<N>/<name>_<tag>.txt for every headliner (or the named
subset) — the optimization evidence trail: the plan-shape claims in
OPTIMIZATION_r<N>.md are checked against these files.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("tag", help="file suffix: before, after or a variant")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    tag, only, rnd = args.tag, set(args.names), f"r{args.round}"

    from bench import BENCH_QUERIES
    from melt_spark.plans.registry import constituents, entries
    from melt_spark.session import get_spark

    spark = get_spark(f"capture-plans-{rnd}")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")

    out_dir = Path(__file__).resolve().parent.parent / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)

    targets: list[tuple[str, object]] = list(BENCH_QUERIES)
    if only:
        reg = constituents()
        ent = entries()
        have = {n for n, _ in targets}
        for n in sorted(only - have):
            if n in reg:
                targets.append((n, reg[n][0]))
            elif n in ent:
                targets.append((n, ent[n]))
            else:
                raise KeyError(n)
        targets = [(n, f) for n, f in targets if n in only]

    for name, fn in targets:
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt ({plan.count('Exchange')} Exchange "
              f"mentions)")


if __name__ == "__main__":
    main()
