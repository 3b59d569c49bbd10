"""The benchmark command.

    python3 perfbench/run.py --workload {headline,catalog,stream} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. One process runs one workload on
local[<cores>] with as many shuffle partitions, from a fresh scratch
directory under ``.perfbench/``, and checks every output. It prints each
of the workload's own metrics with its unit, median, tail percentile and
sample count, then, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` its
per-layer ones, measured by timing each call into the program under its
own Spark job group. It exits 1 on any wrong output and 2 when the
program is missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import statistics
import sys
import time

from common import (
    DATA_DIR,
    ROOT,
    Session,
    Tracer,
    cpu_count,
    cpu_ticks,
    fresh_run_dir,
    pin_environment,
    steal_pct,
    summary,
)

WORKLOADS = ("headline", "catalog", "stream")
SIZES = {
    "full": {"sf": "sf0.1", "datasets": 12},
    # for the smoke tests: smallest data, a couple of uploads and triggers
    "tiny": {"sf": "sf0.001", "datasets": 3},
}


class Context:
    """What a workload's ``run`` gets: the session, the tracer, its inputs'
    location and size, and two marks for timing set-up."""

    def __init__(self, args, session: Session, tracer: Tracer, work, pins):
        self.spark = session.spark
        self.cpus = session.cpus
        self.tracer = tracer
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = SIZES[args.size]
        self.sf_name = self.size["sf"]
        self.sf_dir = str(DATA_DIR / self.sf_name)
        self.work = work
        self.pins = pins
        self.excluded_s = 0.0
        self.setup_end = None
        self.ticks = None

    def exclude_from_setup(self, seconds: float) -> None:
        """Input generation is not set-up the program pays."""
        self.excluded_s += seconds

    def setup_done(self) -> None:
        self.setup_end = time.perf_counter()
        self.ticks = cpu_ticks()


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "imagingdb_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    pins = json.loads((ROOT / "perfbench" / "pins.json").read_text())
    cpus = cpu_count()
    run_dir = fresh_run_dir(args.workload, args.seed)
    try:
        env = pin_environment(run_dir, cpus)
        workload = importlib.import_module(args.workload)
        if hasattr(workload, "prepare"):
            workload.prepare(SIZES[args.size])
        session = Session(cpus)
        try:
            t_warm = time.perf_counter()
            tracer = Tracer(session.spark, bool(args.trace))
            ctx = Context(args, session, tracer, run_dir, pins)
            result = workload.run(ctx)
            env["steal_pct"] = steal_pct(ctx.ticks, cpu_ticks())
            env["calibration_s"] = session.calibrate()  # on the warm JVM
        finally:
            session.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    warmup_s = ctx.setup_end - t_warm - ctx.excluded_s
    setup_s = session.start_s + warmup_s
    ops = result["ops"]
    attempted = max(len(ops), 1)
    errors = result["errors"]
    failed = min(len(errors), attempted)
    times = result["op_times"]
    e2e = dict(result["e2e"])
    e2e["setup_s"] = ([setup_s], "s")
    e2e["error_rate"] = ([failed / attempted], "fraction")

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"env={json.dumps(env, sort_keys=True)}")
    for name, (values, unit) in e2e.items():
        s = summary(values)
        print(f"  {name:24s} median={s['median']} tail(p{s['tail_pct']})={s['tail']} "
              f"n={s['n']} {unit}")
    for op in ops:
        jobs = f" {op['jobs']} jobs" if "jobs" in op else ""
        print(f"  op {op['kind']} {op.get('name', '')} {op.get('s', float('nan')):.3f} s{jobs}")
    for err in errors:
        print(f"  WRONG {err}")

    if args.trace:
        layers = dict(result["layers"])
        layers["session.start_s"] = session.start_s
        layers["session.warmup_s"] = warmup_s
        layers["trace.op_mean_s"] = statistics.fmean(times) if times else 0.0
        print(f"layers {json.dumps(layers, sort_keys=True)}")
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {"setup_s": setup_s, "op_mean_s": statistics.fmean(times) if times else 0.0}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
