"""The analytics lap: one query per operator module of ``bench.HEADLINE``,
in an order the seed shuffles, on a fresh session. Each query is one
operation of a closed-loop client: build the plan, then run it to the end.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
import time
from collections import defaultdict

from pyspark.sql import Observation
from pyspark.sql import functions as F

def lap_queries(headline: list[str], module_of) -> list[str]:
    """The last query of each operator module in ``headline`` order. A
    full 36-query lap on a fresh 4-core session takes about 60 s, more
    than one run's share of the benchmark's time budget; the last-added
    query of a module is the one carrying its driver-side training
    (IVF/PQ, LM tables, sketches), the build cost this lap exists to
    show."""
    last = {module_of(n): n for n in headline}
    return [n for n in headline if n in last.values()]


def run_to_end(df, tag: str) -> int:
    """Compute every output column and the final sort, and return the row
    count. A ``count()`` lets the optimizer prune unused columns and drop
    the ORDER BY; a no-op write consumes the whole result instead."""
    obs = Observation(tag)
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["rows"]


def module_name(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def the_lap() -> list[str]:
    import bench
    from imagingdb_spark import registry

    registry.load_all()
    return lap_queries(bench.HEADLINE, lambda n: module_name(registry.QUERIES[n]))


def fixture_cache(sf_name: str):
    from common import RUNS_DIR

    return RUNS_DIR / "fixtures" / sf_name


def prepare(size: dict) -> None:
    """Some queries build a fixture table under ``tempfile.gettempdir()``
    the first time they are planned (x_snapshot_scan's snapshot table).
    Build them once per checkout, in a process of their own, so that every
    measured run starts from the same temp-dir state: a copy of them."""
    cache = fixture_cache(size["sf"])
    if not cache.is_dir():
        subprocess.run([sys.executable, __file__, size["sf"]], check=True,
                       stdout=subprocess.DEVNULL)


def build_fixtures(sf_name: str) -> None:
    """Plan every lap query once and keep what planning left in TMPDIR."""
    from common import DATA_DIR, Session, cpu_count, fresh_run_dir, pin_environment

    run_dir = fresh_run_dir(f"fixtures-{sf_name}", 0)
    try:
        pin_environment(run_dir, cpu_count())
        from imagingdb_spark import registry

        session = Session(cpu_count())
        try:
            for name in the_lap():
                registry.QUERIES[name](session.spark, str(DATA_DIR / sf_name))
        finally:
            session.stop()
        cache = fixture_cache(sf_name)
        cache.parent.mkdir(parents=True, exist_ok=True)
        os.rename(run_dir / "tmp", cache)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(ctx) -> dict:
    from imagingdb_spark import registry

    t_copy = time.perf_counter()
    shutil.copytree(fixture_cache(ctx.sf_name), os.environ["TMPDIR"], dirs_exist_ok=True)
    ctx.exclude_from_setup(time.perf_counter() - t_copy)
    spark, tracer = ctx.spark, ctx.tracer
    pins = ctx.pins["headline"][ctx.sf_name]
    order = the_lap()
    random.Random(ctx.seed).shuffle(order)
    ctx.setup_done()

    ops, errors = [], []
    t_lap = time.perf_counter()
    for i, name in enumerate(order):
        fn = registry.QUERIES[name]
        op = {"kind": "query", "name": name, "module": module_name(fn)}
        try:
            with tracer.span(f"build:{name}") as build:
                df = fn(spark, ctx.sf_dir)
            with tracer.span(f"exec:{name}") as execute:
                rows = run_to_end(df, f"rows{i}")
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            op["failed"] = True
            errors.append(f"{name}: {type(e).__name__}: {e}")
            ops.append(op)
            continue
        finally:
            spark.catalog.clearCache()
        op.update(build=build, execute=execute, s=build["s"] + execute["s"], rows=rows)
        if tracer.enabled:
            op["jobs"] = build["jobs"] + execute["jobs"]
        if rows != pins[name]:
            op["wrong"] = True
            errors.append(f"{name}: {rows} rows, pinned {pins[name]}")
        ops.append(op)
    lap_s = time.perf_counter() - t_lap

    done = [o for o in ops if "s" in o]
    times = [o["s"] for o in done]
    e2e = {
        "lap_s": ([lap_s], "s"),
        "query_p50_s": (times, "s"),
        "query_tail_s": (times, "s"),
    }
    layers = {}
    if tracer.enabled:
        layers = headline_layers(done, lap_s, ctx.cpus)
    return {"ops": ops, "errors": errors, "e2e": e2e, "layers": layers,
            "op_times": times, "measured_s": lap_s}


def headline_layers(ops: list[dict], wall_s: float, cpus: int) -> dict:
    by_module: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    total: dict[str, float] = defaultdict(float)
    for o in ops:
        m = by_module[o["module"]]
        m["build_s"] += o["build"]["s"]
        m["exec_s"] += o["execute"]["s"]
        m["jobs"] += o["build"]["jobs"] + o["execute"]["jobs"]
        total["build_jobs"] += o["build"]["jobs"]
        total["exec_jobs"] += o["execute"]["jobs"]
        for part in (o["build"], o["execute"]):
            for k in ("tasks", "shuffle_write_bytes", "spill_bytes", "cpu_s", "run_s"):
                total[k] += part[k]
    out = {f"operators.{m}.{k}": v for m, d in by_module.items() for k, v in d.items()}
    out.update(spark_totals(total, wall_s, cpus))
    return out


def spark_totals(total: dict, wall_s: float, cpus: int) -> dict:
    return {
        "spark.build_jobs": total.get("build_jobs", 0),
        "spark.exec_jobs": total.get("exec_jobs", 0),
        "spark.tasks": total.get("tasks", 0),
        "spark.shuffle_write_bytes": total.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": total.get("spill_bytes", 0),
        "spark.task_cpu_s": total.get("cpu_s", 0.0),
        "spark.core_busy_frac": total.get("run_s", 0.0) / (wall_s * cpus),
    }


if __name__ == "__main__":
    build_fixtures(sys.argv[1])
