"""pipeline: the melt workflow end to end, in one Spark session.

The migrate phase (perfbench/wl_migrate.py) fully loads four tables into
their broker topics, verifies against a drifted source and repairs with
verify_sync; the CDC phase (perfbench/wl_cdc.py) then tails the repaired
``orders`` topic into a keyed state while an open loop of changes arrives.
Each phase warms up before it is measured; both warm-ups count as set-up.

Operation (op_s): one verify (a diff of every source row against the
compacted topics), the median of the migrate phase's standalone verifies of
the repaired topics, which run the same plan on the same data.
Throughput (throughput_per_s): source rows per second over the migrate
phase's load, verify_sync and verifies together, each of which handles every
row of its source once, so a slower load, diff or repair each lowers it.

The CDC phase's figures (change lag, catch-up rate, backlog) are printed in
the report but not gated: they are latency-bound, and on a shared 4-core
host they move about three times as much with the host's speed as the
migrate phase's figures do (five seeds in a row: change lag p50 fell 37%
while verify time fell 10%).
"""

from __future__ import annotations

import statistics

from perfbench.wl_cdc import CdcStream
from perfbench.wl_migrate import Migrate


class Pipeline:
    name = "pipeline"

    def __init__(self, ctx):
        self.ctx = ctx
        self.migrate = Migrate(ctx)
        self.cdc = CdcStream(ctx)

    def generate(self) -> None:
        self.migrate.generate()
        self.cdc.generate(self.migrate.drifted("orders"))

    def phases(self) -> list:
        """(warm-up, measure) pairs, run in order."""
        return [(self.migrate.warm_up, self._measure_migrate),
                (self.cdc.warm_up, self.cdc.measure)]

    def _measure_migrate(self) -> None:
        tally = self.ctx.tally
        t = self.migrate.measure()
        drifted = sum(self.migrate.drifted(n).num_rows
                      for n in self.migrate.inputs["drift"])
        for v in t["verify_s"]:
            tally.add("verify_s", v)
        tally.add("load_rows_per_s", t["rows"] / t["load_s"])
        tally.add("resync_s", t["resync_s"])
        # every operation handles every row of its source once: the load the
        # base rows, verify_sync and the verifies the drifted rows
        rows = t["rows"] + (1 + len(t["verify_s"])) * drifted
        tally.add("throughput", rows / (t["load_s"] + sum(t["verify_s"])
                                        + t["resync_s"]))

    def end_to_end(self) -> tuple[float, float]:
        """(op_s, throughput_per_s)."""
        s = self.ctx.tally.samples
        return statistics.median(s["verify_s"]), s["throughput"][0]

    def stop(self) -> None:
        self.cdc.stop()
