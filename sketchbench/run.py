"""The repository's benchmark: seeded sketch workloads on ``local[4]``.

    python3 sketchbench/run.py --workload sketch_build --seed 1 --seconds 10 --trace 0
    python3 sketchbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. Each workload is a closed loop with one
client: a round is one pass over the workload's fixed, ordered ops, each
op one Spark action, and the next op starts when the previous one ends.
Every op result is checked against exact answers.

``--trace 0`` prints the end-to-end metrics: the median round time over
at least MIN_ROUNDS rounds and ``--seconds`` seconds, rows per second at
that median, set-up time (the median of SETUPS set-ups, each a fresh
session, the state builds and the first round, which holds the first
probe of each state; only the first starts the JVM) and Python worker
peak memory. Times are reported in reference seconds (see ``untraced_run``);
raw seconds are in the report. ``--workload all`` runs the three
workloads in turn in one process; only the first one's set-up includes
starting the JVM.

``--trace 1`` prints the per-layer metrics instead: it measures untraced
rounds, then traced rounds with spans and Spark plan counters, reports
the tracing overhead as the gap between the two, and adds
TRACED_MIN_ROUNDS traced rounds of each other workload (after the same
warm-up) and the Spark-free core micro-benchmark so every layer is
reported.

Progress goes to stderr; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROWS = 50_000  # pages rows; the probe set has as many keys
DOC_SHARE = 5  # one content id in DOC_SHARE is in the document sample
SETUPS = 3  # set-ups per run; setup_s is their median
WARM_ROUNDS = 1  # untimed rounds between set-up and measurement
MIN_ROUNDS = 3  # measured rounds per run, however long they take
TRACED_MIN_ROUNDS = 2  # pairs of untraced and traced rounds in a traced run
# hostspeed probe seconds on the reference host (4 cores, 15 GiB, Python
# 3.11, numpy 1.26) when this benchmark was defined; fixes the unit of
# the reference seconds the times are reported in
REF_PROBE_S = 0.066

END_TO_END_UNITS = {
    "rows_per_s": "1/s",
    "round_s_p50": "s",
    "setup_s": "s",
    "py_worker_peak_rss_mib": "MiB",
}


def log(msg: str) -> None:
    print(f"[sketchbench] {msg}", file=sys.stderr, flush=True)


class Runner:
    """Runs rounds of one workload and keeps the run's tallies."""

    def __init__(self, host, data, speed):
        self.host = host
        self.data = data
        self.speed = speed
        self.attempted = 0
        self.failed = 0
        self.violations: list[str] = []
        self.memory = None
        self.derived: dict = {}  # exact answers shared by the run's contexts
        self.check_s = 0.0  # time the last round spent checking results
        self.probes: list[list[float]] = []  # speed samples before each set-up and measured round

    def session(self, tracer):
        """A fresh Spark session (the first one starts the JVM)."""
        from sketchbench.tracing import WorkerMemory
        from sketchbench.workloads import Ctx

        self.host.stop_session()
        spark = self.host.start()
        if self.memory is None:
            self.memory = WorkerMemory(self.host.jvm_pid)
        return Ctx(spark, self.data, tracer, derived=self.derived)

    def round(self, ctx, wl) -> float:
        """One pass over the ops; returns its wall time. Results are
        checked after the round, outside the timed region; the checking
        time is kept in ``check_s``."""
        ctx.tracer.new_trace()
        results = []
        t0 = time.perf_counter()
        with ctx.tracer.span("round"):
            for op in wl.ops:
                self.attempted += 1
                try:
                    results.append(op.run(ctx))
                except Exception:
                    self.failed += 1
                    log(f"op {op.name} failed:\n{traceback.format_exc()}")
                    results.append(None)
        elapsed = time.perf_counter() - t0
        for op, res in zip(wl.ops, results):
            if res is not None:
                self.violations += [f"{op.name}: {v}" for v in op.check(ctx, res)]
        self.memory.sample()
        self.check_s = time.perf_counter() - t0 - elapsed
        return elapsed

    def setup(self, wl, tracer, setups: int = SETUPS):
        """``setups`` set-ups, each a fresh session (the first one also starts
        the JVM), the state builds and the first round (the first probe of
        each state), then WARM_ROUNDS untimed rounds. Returns the last
        session's context and the set-up seconds of each set-up."""
        times, ctx = [], None
        for _ in range(setups):
            if ctx is not None:
                release(ctx)
            self.probes.append(self.speed.sample())
            t0 = time.perf_counter()
            ctx = self.session(tracer)
            wl.setup(ctx)
            self.round(ctx, wl)
            times.append(time.perf_counter() - t0 - self.check_s)
        warm = [self.round(ctx, wl) for _ in range(WARM_ROUNDS)]
        log(f"{wl.name}: set-ups {[round(t, 2) for t in times]} s, warm-up rounds {warm}")
        return ctx, times

    def measure(self, ctx, wl, seconds: float) -> list[float]:
        times: list[float] = []
        end = time.perf_counter() + seconds
        while len(times) < MIN_ROUNDS or time.perf_counter() < end:
            self.probes.append(self.speed.sample())
            times.append(self.round(ctx, wl))
        return times


def untraced_run(runner, wl, seconds: float) -> tuple[dict, dict]:
    """End-to-end metrics. Times are in reference seconds: the host's CPU
    speed drifts by up to 2x over tens of minutes, so each raw time is
    scaled by REF_PROBE_S over the run's median host speed probe (see
    ``hostspeed``). The raw values go to the report."""
    from sketchbench import hostspeed
    from sketchbench.tracing import SpanRecorder

    ctx, setups = runner.setup(wl, SpanRecorder(enabled=False))
    times = runner.measure(ctx, wl, seconds)
    p50 = statistics.median(times)
    probe = hostspeed.median(runner.probes)
    scale = REF_PROBE_S / probe
    metrics = {
        "rows_per_s": wl.rows_per_round(runner.data) / (p50 * scale),
        "round_s_p50": p50 * scale,
        "setup_s": statistics.median(setups) * scale,
        "py_worker_peak_rss_mib": runner.memory.peak_mib,
    }
    info = {
        "rounds": len(times),
        "raw_round_s": times,
        "raw_setup_s": setups,
        "probe_s": probe,
        "ref_seconds_per_second": scale,
    }
    return metrics, info


def release(ctx) -> None:
    """Unpersist the tables a workload's set-up persisted."""
    for state in ctx.states.values():
        if hasattr(state, "unpersist"):
            state.unpersist(blocking=True)


def traced_run(runner, wl, seconds: float, trace_path: str) -> tuple[dict, dict]:
    from sketchbench import layers, micro
    from sketchbench.tracing import PlanCounters, SpanRecorder
    from sketchbench.workloads import WORKLOADS, Ctx

    ctx, _ = runner.setup(wl, SpanRecorder(enabled=False), setups=1)
    # untraced and traced rounds alternate, so drift between them does
    # not read as tracing overhead
    off, tracer, counters = ctx.tracer, SpanRecorder(enabled=True), PlanCounters(ctx.spark)
    plain, traced = [], []
    end = time.perf_counter() + seconds
    while len(traced) < TRACED_MIN_ROUNDS or time.perf_counter() < end:
        ctx.tracer, ctx.counters = off, None
        plain.append(runner.round(ctx, wl))
        ctx.tracer, ctx.counters = tracer, counters
        traced.append(runner.round(ctx, wl))
    main_records = list(ctx.records)
    main_spans = list(tracer.spans)
    rows = wl.rows_per_round(runner.data)

    # each other workload too, warmed up like the traced one, so every
    # layer is reported as a median of TRACED_MIN_ROUNDS traced rounds;
    # persisted states go first, or a build with the same plan as a
    # persisted table would read the cache
    release(ctx)
    for other in WORKLOADS.values():
        if other is wl:
            continue
        octx = Ctx(ctx.spark, runner.data, SpanRecorder(enabled=False), derived=runner.derived)
        other.setup(octx)
        for _ in range(WARM_ROUNDS):
            runner.round(octx, other)
        octx.tracer, octx.counters, octx.records, octx.layer = tracer, ctx.counters, ctx.records, ctx.layer
        for _ in range(TRACED_MIN_ROUNDS):
            runner.round(octx, other)
        release(octx)
    ctx.counters.close_listener()
    tracer.dump(trace_path)

    metrics = layers.per_layer(ctx.records, main_records, ctx.layer, runner.data)
    metrics.update(micro.family_metrics())
    metrics.update(micro.hashing_metrics())
    cover = layers.coverage(main_spans)
    plain_rate = rows / statistics.median(plain)
    traced_rate = rows / statistics.median(traced)
    info = {
        "untraced_rows_per_s": plain_rate,
        "traced_rows_per_s": traced_rate,
        "tracing_overhead": (plain_rate - traced_rate) / plain_rate,
        "coverage": cover,
        "sketch_agg_merge_python_s": layers.merge_python_cross_check(ctx.records),
        "self_time_s": layers.self_time_by_layer(main_spans),
        "rounds": {"untraced": len(plain), "traced": len(traced)},
        "trace_file": trace_path,
    }
    return metrics, info


def report(runner, wl_name: str, metrics: dict, units: dict, info: dict) -> None:
    """The human-readable report of one workload (stdout, before the
    result line). ``failed_op_ratio`` and ``bound_violations`` are shown
    here and carried by the result's ``failed`` and ``correct``."""
    ratio = runner.failed / max(1, runner.attempted)
    print(f"[{wl_name}]")
    print(f"  {'failed_op_ratio':<48} {ratio:.6g} ({runner.failed}/{runner.attempted} ops)")
    print(f"  {'bound_violations':<48} {len(runner.violations)}")
    for v in runner.violations[:20]:
        print(f"    violation: {v}")
    for name, value in metrics.items():
        print(f"  {name:<48} {value:.6g} {units[name]}")
    for key, value in info.items():
        print(f"  {key}: {json.dumps(value)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=["sketch_build", "state_probe", "text_dedup", "all"],
        help="one workload, or all three in turn in one process (untraced only)",
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all" and args.trace:
        ap.error("--trace 1 takes one workload (its traced run covers every layer)")

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    if not os.path.isfile(os.path.join(root, "probabilistic_rs_spark", "__init__.py")):
        log(f"no probabilistic_rs_spark package next to {here}; run from a full checkout")
        return 2
    # import the benchmark as a package from the checkout root, not its
    # modules from the script directory
    sys.path[0] = root
    from sketchbench import inputs
    from sketchbench.hostspeed import HostSpeed
    from sketchbench.layers import PER_LAYER_UNITS
    from sketchbench.session import CORES, SparkHost
    from sketchbench.workloads import WORKLOADS

    cache = os.path.join(here, ".cache")
    t0 = time.perf_counter()
    data = inputs.ensure(os.path.join(cache, "inputs"), args.seed, ROWS, ROWS, DOC_SHARE)
    log(f"inputs seed={args.seed} rows={ROWS} digest={data.digest[:16]} ({time.perf_counter() - t0:.1f} s)")
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    host = SparkHost(root, os.path.join(cache, "spark"))
    speed = HostSpeed(CORES)  # forks its workers before the JVM starts
    runners, results = [], []
    try:
        for name in names:
            runner = Runner(host, data, speed)
            runners.append(runner)
            if args.trace:
                trace_path = os.path.join(cache, "traces", f"{name}-seed{args.seed}.json")
                results.append(traced_run(runner, WORKLOADS[name], args.seconds, trace_path))
            else:
                results.append(untraced_run(runner, WORKLOADS[name], args.seconds))
    finally:
        try:
            host.close()
        finally:
            speed.close()

    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print(f"sketchbench seed={args.seed} rows={ROWS} cores={CORES} digest={data.digest} trace={args.trace}")
    out = {}
    for name, runner, (metrics, info) in zip(names, runners, results):
        report(runner, name, metrics, units, info)
        prefix = f"{name}." if len(names) > 1 else ""
        out.update({prefix + k: {"value": v, "unit": units[k]} for k, v in metrics.items()})
    failed = sum(r.failed for r in runners)
    result = {
        "correct": failed == 0 and not any(r.violations for r in runners),
        "attempted": sum(r.attempted for r in runners),
        "failed": failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
