"""melt-spark benchmark.

    python3 perfbench/run.py --workload pipeline|headliners \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The run starts Spark (local[<cores>]),
generates its inputs from the seed, warms up with one untimed pass of each
phase of the workload, measures, checks the program's outputs, and prints a
report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the run records spans around every layer call (each tagged with a
Spark job group) and reports the per-layer ones instead. Spans go to
.perfbench_out/spans-<workload>-<seed>.json. Each untraced run leaves its
end-to-end figures in .perfbench_out/, keyed by workload, seed and a digest
of the code, and a traced run of the same key prints the tracing overhead
against them. Everything else the run writes lives under .perfbench_tmp/
and is deleted at exit. See perfbench/README.md for workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402
from perfbench.layers import HEADLINERS, NAMED  # noqa: E402
from perfbench.stats import summarize  # noqa: E402

GEN_REPEATS = 3        # set-up generates its inputs this many times
RUN_LIMIT_S = 170      # hard stop: a run must end within 180 s


def metric_lists(path: Path = ROOT / "BENCHMARK.json"
                 ) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metrics of BENCHMARK.json, each as
    name -> (unit, better), in file order."""
    with open(path) as f:
        doc = json.load(f)
    return tuple({m["name"]: (m["unit"], m["better"]) for m in doc[k]}
                 for k in ("end_to_end", "per_layer"))


END_TO_END, PER_LAYER = metric_lists()


@dataclass
class Ctx:
    spark: object
    tr: object
    tally: harness.Tally
    seed: int
    seconds: float
    trace: bool
    tmp: str


def workload_class(name: str):
    if name == "pipeline":
        from perfbench.wl_pipeline import Pipeline
        return Pipeline
    from perfbench.wl_headliners import Headliners
    return Headliners


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pipeline", "headliners"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = harness.missing_inputs()
    if missing:
        print(f"perfbench: not a melt-spark checkout, missing {missing}",
              file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    tmp = harness.make_tmp_root()
    harness.prepare_env(tmp)
    spark, wl, result = None, None, None
    try:
        from melt_spark.session import get_spark
        from melt_spark.sources import mock_broker as mb
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=harness.spark_conf(tmp))
        mb.register(spark)
        spark_s = time.perf_counter() - t0
        tally = harness.Tally()
        ctx = Ctx(spark=spark, tr=Tracer(spark, enabled=False), tally=tally,
                  seed=args.seed, seconds=args.seconds,
                  trace=bool(args.trace), tmp=tmp)
        wl = workload_class(args.workload)(ctx)
        result = run_workload(ctx, wl, spark_s, t_start)
    finally:
        signal.alarm(0)
        t0 = time.perf_counter()
        if wl is not None and hasattr(wl, "stop"):
            wl.stop()
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_tmp_root(tmp)
        teardown_s = time.perf_counter() - t0
    result[3]["teardown_s"] = teardown_s
    print_result(args, *result)
    return 0


def run_workload(ctx: Ctx, wl, spark_s: float, t_start: float):
    from perfbench import checks
    from perfbench.trace import SparkCounters

    tally = ctx.tally
    gen_s, digests = [], set()
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
        digests.add(checks.tree_digest(os.path.join(ctx.tmp, "in")))
    tally.op("generator.deterministic", len(digests) == 1,
             f"{len(digests)} different input sets from one seed")

    store = SparkCounters(ctx.spark) if ctx.trace else None
    if ctx.trace:
        _count_read_table(ctx)
    broker_root = os.path.join(ctx.tmp, "broker")
    warm_s = wall = 0.0
    # jobs not to charge to the measured phases: earlier ones and warm-ups
    unmeasured = set(store.all_jobs()) if store else set()
    for n, (warm_up, measure) in enumerate(wl.phases()):
        ctx.tr.enabled = False
        jobs0 = set(store.all_jobs()) if store else set()
        t0 = time.perf_counter()
        warm_up()
        warm_s += time.perf_counter() - t0
        if store:
            unmeasured |= set(store.all_jobs()) - jobs0
        ctx.tr.enabled = ctx.trace
        if n == 0 and ctx.trace:
            with ctx.tr.span("session.get_spark"):
                from melt_spark.session import get_spark
                get_spark("perfbench")    # returns the running session
        if n == 0:
            tally.op("peak_rss.reset", harness.reset_peak_rss(ctx.spark),
                     "could not reset the peak RSS of the process tree")
        t0 = time.perf_counter()
        measure()
        wall += time.perf_counter() - t0
    if ctx.trace:
        ctx.tr.harvest()
    ctx.tr.enabled = False
    rss = harness.peak_rss_mb()
    setup = {"spark_s": spark_s, "generate_s": statistics.median(gen_s),
             "generate_runs": len(gen_s), "warm_up_s": warm_s}
    op, throughput = wl.end_to_end()
    e2e = {"setup_s": spark_s + setup["generate_s"] + warm_s,
           "op_s": op, "throughput_per_s": throughput,
           "peak_rss_mb": rss}
    layers = None
    if ctx.trace:
        jobs = set(store.all_jobs()) - unmeasured
        layers = layer_metrics(ctx, wl, wall, sorted(jobs), broker_root)
        out = ROOT / harness.OUT_DIR
        out.mkdir(exist_ok=True)
        ctx.tr.dump(str(out / f"spans-{wl.name}-{ctx.seed}.json"))
    report = {"workload": wl.name, "seed": ctx.seed, "seconds": ctx.seconds,
              "trace": int(ctx.trace), "setup": setup,
              "measured_wall_s": wall,
              "total_s": time.perf_counter() - t_start,
              "generated": tally.info.get("generated"),
              "checks_failed": tally.checks_failed}
    return tally, e2e, layers, report


def _count_read_table(ctx: Ctx) -> None:
    """Traced run: wrap parquet.read_table in every melt_spark module that
    holds it, so the calls made inside the program are spans too."""
    from melt_spark.sources import parquet

    original = parquet.read_table

    def read_table(*a, **kw):
        with ctx.tr.span("parquet.read_table"):
            return original(*a, **kw)

    for name, mod in list(sys.modules.items()):
        if name.startswith("melt_spark") and \
                getattr(mod, "read_table", None) is original:
            mod.read_table = read_table


def _broker_files(root: str) -> tuple[int, int]:
    """(segment files, segment bytes) of the broker log under root."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("seg-") and f.endswith(".jsonl"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _log_records(root: str) -> int:
    """Records in every topic of the broker log under root."""
    from melt_spark.sources import mock_broker as mb

    if not os.path.isdir(root):
        return 0
    return sum(sum(mb.end_offsets(root, t).values())
               for t in os.listdir(root)
               if os.path.isdir(os.path.join(root, t)))


def layer_metrics(ctx: Ctx, wl, wall: float, jobs: list[int],
                  broker_root: str) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not run reads 0."""
    from perfbench.trace import SparkCounters
    from perfbench.wl_cdc import STREAM_KEYS

    tr, s = ctx.tr, ctx.tally.samples
    store = SparkCounters(ctx.spark)
    total = lambda k: float(sum(s.get(k, [])))  # noqa: E731
    med = lambda k: statistics.median(s[k]) if s.get(k) else 0.0  # noqa: E731
    m = {}

    m["session.get_spark_s"] = tr.total("session.get_spark")
    m["parquet.read_table_calls"] = len(tr.by_name("parquet.read_table"))
    m["parquet.read_table_s"] = tr.total("parquet.read_table")

    # probes (migrate phase): marginal cost of each lazy layer over its input
    probe = {p: tr.total(f"probe.{p}") for p in
             ("parquet", "messages", "source", "broker_read", "compact",
              "diff")}
    m["messages.encode_s"] = max(0.0, probe["messages"] - probe["parquet"])
    m["messages.rows"] = total("messages.rows")
    m["compact.s"] = max(0.0, probe["compact"] - probe["broker_read"])
    m["compact.rows_in"] = total("compact.rows_in")
    m["compact.rows_out"] = total("compact.rows_out")
    m["compact.shuffle_write_bytes"] = tr.counter("probe.compact",
                                                  "shuffle_write_bytes")
    # the join's two inputs run side by side, so the join is charged only
    # for the time beyond the slower of them
    m["diff.s"] = max(0.0, probe["diff"]
                      - max(probe["source"], probe["compact"]))
    m["diff.rows_out"] = total("diff.rows_out")
    m["diff.out_of_sync_ratio"] = med("diff.out_of_sync_ratio")
    m["diff.shuffle_write_bytes"] = max(
        0.0, tr.counter("probe.diff", "shuffle_write_bytes")
        - m["compact.shuffle_write_bytes"])

    migrate = getattr(wl, "migrate", None)
    m["load.s"] = tr.total("load")
    m["load.jobs_per_source"] = (tr.inclusive("load", "jobs")
                                 / len(migrate.sources) if migrate else 0.0)
    m["load.tasks"] = tr.inclusive("load", "tasks")
    m["load.source_scans"] = tr.inclusive("load", "input_records") / max(
        1, ctx.tally.info.get("loaded_rows", 0))

    m["broker.write_s"] = tr.total("broker.write")
    seg_n, seg_bytes = _broker_files(broker_root)
    m["broker.segments_written"] = seg_n
    m["broker.log_bytes"] = seg_bytes
    m["broker.write_rows"] = _log_records(broker_root)
    live = ctx.tally.info.get("live_rows", 0)
    m["broker.log_bytes_per_live_row"] = seg_bytes / live if live else 0.0
    m["broker.read_s"] = probe["broker_read"]

    vs = tr.by_name("verify_sync")
    m["verify.attempts"] = total("verify.attempts")
    vs_spans = [sp for top in vs for sp in tr.subtree(top)]
    vs_jobs = [j for sp in vs_spans for j in sp.counters.get("job_ids", [])]
    m["verify.diff_executions"] = store.sql_executions(
        ctx.spark, vs_jobs, "FullOuter") / len(vs) if vs else 0.0
    m["sync.send_s"] = sum(sp.duration for sp in vs_spans
                           if sp.name == "broker.write")
    m["sync.upserts"] = total("sync.upserts")
    m["sync.tombstones"] = total("sync.tombstones")

    cdc = getattr(wl, "cdc", None)
    ticks = tr.by_name("cdc.tick")
    sent_ticks = cdc.ticks[cdc.measured_tick0:] if cdc else []
    sent = sum(t["sent"] for t in sent_ticks)
    m["cdc.tick_s"] = tr.total("cdc.tick")
    m["cdc.ticks"] = len(ticks)
    m["cdc.empty_ticks"] = len(ticks) - len(sent_ticks)
    m["cdc.rows_scanned_per_change_sent"] = tr.inclusive(
        "cdc.tick", "input_records") / max(1, sent)
    stream = (cdc.stream_metrics() if cdc else
              {f"stream.{k}_ms": 0 for k in STREAM_KEYS}
              | {"stream.batches": 0, "stream.input_rows": 0})
    m.update(stream)
    m["merge.batch_s"] = tr.total("merge.batch")
    m["merge.state_rows"] = total("merge.state_rows")
    m["merge.rows_written_per_delta_row"] = tr.inclusive(
        "merge.batch", "output_records") / max(
        1, stream["stream.input_rows"])
    # the migrate probe reads the whole log; the tail reads it in batches
    m["broker.read_rows"] = (total("compact.rows_in")
                             + stream["stream.input_rows"])
    for q in HEADLINERS:
        m[f"headliner.{q}_s"] = med(f"headliner.{q}_s")

    eng = store.for_jobs(jobs)
    for k_out, k_in in (("spark.jobs", "jobs"), ("spark.stages", "stages"),
                        ("spark.tasks", "tasks"),
                        ("spark.executor_run_s", "run_s"),
                        ("spark.executor_cpu_s", "cpu_s"),
                        ("spark.input_bytes", "input_bytes"),
                        ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
                        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                        ("spark.spill_bytes", "spill_bytes"),
                        ("spark.peak_exec_memory_bytes",
                         "peak_exec_memory_bytes")):
        m[k_out] = eng[k_in]
    m["spark.cpu_share"] = eng["cpu_s"] / (wall * harness.cores())
    m["driver.non_job_s"] = max(0.0, wall - eng["job_s"])
    m["spark.storage_bytes_end"] = store.storage_bytes()

    return {name: float(m[name]) for name in PER_LAYER}


def code_digest() -> str:
    """Digest of the benchmark and the program it measures, so the
    tracing-overhead line compares runs of the same code only."""
    h = hashlib.sha256()
    for base in ("perfbench", "melt_spark"):
        for path in sorted((ROOT / base).rglob("*.py")):
            h.update(str(path.relative_to(ROOT)).encode())
            h.update(path.read_bytes())
    for name in ("bench.py", "BENCHMARK.json"):
        h.update((ROOT / name).read_bytes())
    return h.hexdigest()[:16]


def _untraced_path(args) -> Path:
    return (ROOT / harness.OUT_DIR
            / f"untraced-{args.workload}-{args.seed}-{code_digest()}.json")


def print_result(args, tally, e2e, layers, report) -> None:
    w = args.workload
    print(f"perfbench workload={w} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print("generated " + json.dumps(report["generated"], sort_keys=True))
    st = report["setup"]
    print(f"setup: spark {st['spark_s']:.3f} s + generate "
          f"{st['generate_s']:.3f}"
          f" s (median of {st['generate_runs']}) + warm-up "
          f"{st['warm_up_s']:.3f} s")
    print(f"run: measured {report['measured_wall_s']:.3f} s, checks and "
          f"report done at {report['total_s']:.3f} s, teardown "
          f"{report['teardown_s']:.3f} s")
    for name, (unit, better) in END_TO_END.items():
        print(f"metric {name} = {e2e[name]:.6g} {unit} ({better} is better)")
    for name, (unit, better) in NAMED[w].items():
        sm = summarize(tally.samples.get(name, []))
        if sm["n"] == 0:
            print(f"metric {name}: no samples")
            continue
        tail = (f"p{sm['tail_pct']:g} {sm['tail']:.6g} {unit}"
                if sm["tail"] is not None else "too few samples for a tail")
        label = "cdc_lag_p50_s" if name == "cdc_lag_s" else name
        print(f"metric {label} = {sm['median']:.6g} {unit} (median; {tail};"
              f" n={sm['n']}; {better} is better)")
        if name == "cdc_lag_s":
            p99 = ("p99 " + f"{sm['tail']:.6g} s" if sm["tail_pct"] == 99.0
                   else f"p99 unsupported, highest is p{sm['tail_pct']}")
            print(f"metric cdc_lag_p99_s: {p99} (n={sm['n']})")
    ratio = tally.failed / max(1, tally.attempted)
    print(f"metric failed_ratio = {ratio:.6g} ({tally.failed} of "
          f"{tally.attempted} operations)")
    if tally.checks_failed:
        print("failed checks: " + "; ".join(tally.checks_failed[:10]))
    path = _untraced_path(args)
    if layers is not None:
        try:
            with open(path) as f:
                base = json.load(f)
            print("tracing overhead (traced minus untraced, same seed and "
                  "code): " + ", ".join(f"{k} {e2e[k] - base[k]:+.4g}"
                                        for k in END_TO_END))
        except (OSError, ValueError):
            print("tracing overhead: unavailable, no untraced run of this "
                  "workload, seed and code in this checkout")
        for name, (unit, _b) in PER_LAYER.items():
            print(f"layer {name} = {layers[name]:.6g} {unit}")
    elif tally.failed == 0:
        path.parent.mkdir(exist_ok=True)
        with open(path, "w") as f:
            json.dump(e2e, f)
    chosen = layers if layers is not None else e2e
    units = PER_LAYER if layers is not None else END_TO_END
    print(json.dumps({
        "correct": tally.failed == 0, "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k][0]}
                    for k in units}}))


if __name__ == "__main__":
    sys.exit(main())
