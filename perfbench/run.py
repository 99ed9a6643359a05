"""CDC engine benchmark: one command, two workloads, every metric named
with its unit, outputs checked against the seed.

    python3 perfbench/run.py --workload catchup|attach \
        --seed N --seconds S --trace 0|1

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layer entry
points (from this side of the call) and reports the per-layer metrics,
writing the raw spans to ``.perfbench_out/``. A failed correctness gate
prints ``correct: false`` and exits 1; a run that cannot finish exits
non-zero without a result. See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time


def _process_age() -> float:
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


T_PROC0 = time.perf_counter() - _process_age()
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1  # seed 2 is held out of all tuning, for re-checking claims
CPUS = 4
BUILD_REPEATS = 3


def _metric_names() -> tuple[list, list]:
    """(name, unit) lists of the end-to-end and per-layer metrics, from
    BENCHMARK.json — the one place they are declared."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "attach"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import polardbx_cdc_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import importlib

    from common import Run, Tracer, median

    e2e, layers = _metric_names()

    mod = importlib.import_module(args.workload)
    tracer = Tracer() if args.trace else None
    ctx = Run(ROOT, args.workload, args.seed)
    try:
        ctx.start_spark(CPUS)
        phases = {"spark_s": time.perf_counter() - T_PROC0}
        builds, state = [], None
        for _ in range(BUILD_REPEATS):
            t0 = time.perf_counter()
            state = mod.build(ctx, args.seed, args.seconds)
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        mod.prepare(ctx, state, tracer)
        phases.update(build_s=builds, prepare_s=time.perf_counter() - t0)
        setup_s = (time.perf_counter() - T_PROC0) - sum(builds) + median(builds)
        res = mod.measure(ctx, state, args.seconds, tracer)
        peak_rss = ctx.procs.peak_rss
        if tracer is not None:
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        leftover = ctx.close()
    if leftover:
        print(f"perfbench: processes outlived the run: {leftover}", file=sys.stderr)
        return 3

    if not res["ops"]:
        print("perfbench: the window measured no operation", file=sys.stderr)
        return 4
    errors = res["errors"]
    attempted = res["ops"]
    ev = max(1, res["events"])
    cpu = res["cpu"]
    if args.trace:
        values = {name: 0.0 for name, _ in layers}
        values.update({
            "cpu.jvm_us_per_event": cpu["jvm"] / ev * 1e6,
            "cpu.pyworker_us_per_event": cpu["pyworker"] / ev * 1e6,
            "cpu.driver_us_per_event": cpu["driver"] / ev * 1e6,
            "jvm.gc_s": res["gc_s"],
            "trace.op_p50_s": res["op_p50_s"],
            "trace.samples": res["ops"],
        })
        values.update(res["layers"])
        names = layers
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": res["op_p50_s"],
            "cpu_us_per_event": sum(cpu.values()) / ev * 1e6,
            "peak_rss_mb": peak_rss / 2**20,
        }
        names = e2e
    metrics = {n: {"value": values[n], "unit": u} for n, u in names}
    detail = dict(res["detail"], ops=res["ops"], events=res["events"], cpu=cpu,
                  **phases, **ctx.phases, rss_at_peak=getattr(ctx.procs, 'peak_at', None))
    print(f"perfbench {args.workload} seed={args.seed} errors={errors} "
          f"detail={json.dumps(detail, default=str)}", file=sys.stderr)
    # a failed correctness gate fails every operation of the run
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": attempted if errors else 0, "metrics": metrics}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
