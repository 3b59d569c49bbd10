"""Fast checks of the benchmark itself: its statistics, its image codecs,
and one smoke run of each workload at the smallest size (sf0.001, a couple
of uploads and triggers). Run with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

from common import summary  # noqa: E402
from headline import lap_queries, module_name  # noqa: E402
from images import png_pixels, tiff_bytes  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_summary_tail_needs_ten_samples_beyond():
    assert summary([]) == {"median": None, "tail": None, "tail_pct": None, "n": 0}
    s = summary([3.0, 1.0, 2.0])
    assert (s["median"], s["tail_pct"], s["tail"], s["n"]) == (2.0, 50, 2.0, 3)
    s = summary([float(i) for i in range(1, 101)])
    assert (s["tail_pct"], s["tail"]) == (90, 90.0)  # 10 samples lie beyond p90


def test_tiff_stack_splits_into_the_written_pages():
    from imagingdb_spark.tiff import png_page_reader

    pages = np.random.default_rng(7).integers(0, 4096, (4, 6, 5), dtype=np.uint16)
    frames = png_page_reader(tiff_bytes(pages))
    assert len(frames) == 4
    for frame, page in zip(frames, pages):
        assert np.array_equal(png_pixels(frame), page)


def test_lap_covers_every_operator_module():
    import bench
    from imagingdb_spark import registry

    registry.load_all()
    lap = lap_queries(bench.HEADLINE, lambda n: module_name(registry.QUERIES[n]))
    modules = {module_name(registry.QUERIES[n]) for n in bench.HEADLINE}
    assert sorted(module_name(registry.QUERIES[n]) for n in lap) == sorted(modules)
    layer_modules = {m["name"].split(".")[1] for m in SPEC["per_layer"]
                     if m["name"].startswith("operators.")}
    assert layer_modules == modules


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["headline", "catalog", "stream"])
def test_smoke_traced_run_reports_every_layer_metric(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", "1", "--size", "tiny")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}


def test_smoke_timed_run_reports_every_end_to_end_metric():
    p = _run(ROOT, "--workload", "catalog", "--seed", "2", "--seconds", "1",
             "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_without_the_program_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "data"))
    p = _run(tmp_path, "--workload", "headline", "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert not p.stdout.strip()
