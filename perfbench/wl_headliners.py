"""headliners: the 13 bench.BENCH_QUERIES into the noop sink.

The queries come from bench.py itself, so this set and bench.py's compact
line cannot drift apart. The untimed warm-up pass collects every query and
compares it with its DuckDB oracle, running as many queries at a time as
there are cores (it only has to compile and warm each plan); timed passes
then run each query alone into the noop sink, in an order the seed shuffles
per pass, until --seconds have passed and at least MIN_PASSES passes have
run. A pass takes longer than the benchmark's --seconds, so every run
measures the same number of passes: the queries cache frames that pile up
pass after pass, and peak memory follows the pass count.

Operation (op_s): one query, the geometric mean of the 13 queries' times
(each its median over the timed passes), so every query counts alike; the
median of 13 different queries would follow whichever query lands in the
middle.
Throughput (throughput_per_s): queries per second over the timed passes, so
a slower query of any size lowers it (headliners_total_s is one pass).
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks, gen
from perfbench.harness import cores

SF = 0.005              # lineitem 30k rows, half the sf0.01 fixture
MIN_PASSES = 2


class Headliners:
    name = "headliners"

    def __init__(self, ctx):
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.tmp, "in")
        import bench

        self.queries = list(bench.BENCH_QUERIES)

    def generate(self) -> None:
        tables = gen.make_tables(self.ctx.seed, SF)
        gen.write_tables(tables, self.in_dir)
        self.ctx.tally.info["generated"] = {
            "rows": {n: t.num_rows for n, t in tables.items()},
            "key_skew": "uniform"}

    def phases(self) -> list:
        return [(self.warm_up, self.measure)]

    def warm_up(self) -> None:
        oracle = checks.check_oracle()
        con = checks.duck_views(self.in_dir)

        def check(query):
            name, fn = query
            try:
                got = oracle.spark_rows(fn(self.ctx.spark, self.in_dir))
                want = oracle.duck_rows(con.cursor(), checks.oracle_sql(name))
            except Exception as exc:  # a failing query is a result
                return name, exc
            return name, checks.compare_rows(got, want)

        try:
            with ThreadPoolExecutor(cores()) as pool:
                results = list(pool.map(check, self.queries))
        finally:
            con.close()
        for name, res in results:
            if isinstance(res, Exception):
                self.ctx.tally.error(f"oracle.{name}", res)
            else:
                self.ctx.tally.op(f"oracle.{name}", *res)

    def measure(self) -> None:
        ctx, tally = self.ctx, self.ctx.tally
        t0 = time.perf_counter()
        npass = 0
        while True:
            order = gen.rng(ctx.seed, "order", npass).permutation(
                len(self.queries))
            total = 0.0
            for i in order.tolist():
                name, fn = self.queries[i]
                with ctx.tr.span(f"headliner.{name}",
                                 trace=ctx.tr.new_trace()):
                    q0 = time.perf_counter()
                    try:
                        (fn(ctx.spark, self.in_dir).write.format("noop")
                         .mode("overwrite").save())
                        tally.op(f"query.{name}", True)
                    except Exception as exc:
                        tally.error(f"query.{name}", exc)
                    dt = time.perf_counter() - q0
                total += dt
                tally.add(f"headliner.{name}_s", dt)
                tally.add("query_s", dt)
            tally.add("headliners_total_s", total)
            npass += 1
            if (npass >= MIN_PASSES
                    and time.perf_counter() - t0 >= ctx.seconds):
                break

    def end_to_end(self) -> tuple[float, float]:
        """(op_s, throughput_per_s)."""
        s = self.ctx.tally.samples
        per_query = [statistics.median(s[f"headliner.{name}_s"])
                     for name, _fn in self.queries]
        return (statistics.geometric_mean(per_query),
                len(s["query_s"]) / sum(s["headliners_total_s"]))
