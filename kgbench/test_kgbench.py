"""Self-tests of the benchmark: attribution, coverage and the refusal to run
without the program. Run from the repository root:

    python3 -m pytest kgbench -q -p no:cacheprovider

The attribution tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layertrace  # noqa: E402
import run  # noqa: E402

# ~120-file corpora: big enough to reach every code path (coref fixtures,
# edge files, the mega-repo), small enough for a test
SMALL = {
    "bulk": {"kind": "bulk", "files": 120, "content_scale": 1},
    "stream": {"kind": "stream", "files": 120, "content_scale": 1,
               "landing_files": 2},
}


def test_interval_arithmetic():
    iv = layertrace.union([(5, 7), (0, 2), (1, 3), (9, 9)])
    assert iv == [(0, 3), (5, 7)]
    assert layertrace.subtract([(0, 10)], [(2, 3), (5, 12)]) == [(0, 2), (3, 5)]
    assert layertrace.intersect([(0, 10)], [(2, 3), (5, 12)]) == [(2, 3), (5, 10)]
    assert layertrace.length([(0, 2), (3, 5)]) == 4


def test_benchmark_json_names_what_runs_print():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    per_layer = {f"{layer}.{name}": unit
                 for layer in layertrace.ALL_LAYERS
                 for name, unit in layertrace.LAYER_METRICS.items()}
    per_layer.update(run.RATIO_METRICS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_refuses_without_program(tmp_path):
    """A checkout holding only the benchmark exits non-zero and prints no
    result line."""
    shutil.copytree(HERE, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "stream_refresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _traced_run(workload: str, wl: dict, warm_passes: int = 0) -> dict:
    """A --trace 1 run on a small corpus, in a process of its own: pyspark
    UDF objects cache their JVM handle, so one process gets one JVM."""
    code = (
        "import json, sys; sys.path.insert(0, %r); import run\n"
        "args = run.parse_args(['--workload', %r, '--seed', '7',"
        " '--seconds', '1', '--trace', '1'])\n"
        "print(json.dumps(run.run(args, %r, warm_passes=%d)))\n"
    ) % (HERE, workload, wl, warm_passes)
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_attribution(result: dict) -> None:
    d, m = result["detail"], result["metrics"]
    assert result["correct"], d["errors"]
    assert d["jobs_unattributed"] == 0
    jobs = sum(m[f"{layer}.jobs"]["value"] for layer in layertrace.ALL_LAYERS)
    assert jobs == d["jobs_total"] > 0
    walls = d["layer_wall_sum_s"]
    assert abs(walls - d["traced_wall_s"]) <= 0.05 * d["traced_wall_s"], \
        (walls, d["traced_wall_s"])
    print(json.dumps({k: d[k] for k in (
        "bulk_wall_s", "traced_wall_s", "layer_wall_sum_s", "jobs_total")}))


def test_bulk_attribution_and_overhead():
    """Every job of a traced bulk pass lands in exactly one layer, layer
    jobs sum to the pass total, layer walls to within 5% of the pass wall;
    the tracing overhead against an untraced warm pass is reported."""
    result = _traced_run("bulk_large_files", SMALL["bulk"], warm_passes=1)
    _check_attribution(result)
    d = result["detail"]
    overhead = d["traced_wall_s"] / d["untraced_wall_s"] - 1.0
    print(f"tracing overhead {overhead:+.1%} "
          f"(traced {d['traced_wall_s']:.2f} s, "
          f"untraced {d['untraced_wall_s']:.2f} s)")
    assert overhead < 0.25


def test_stream_attribution():
    """The traced drain splits each trigger into ledger_upsert and refresh,
    attributes every job and equals the bulk run over the same files."""
    result = _traced_run("stream_refresh", SMALL["stream"])
    _check_attribution(result)
    m = result["metrics"]
    assert m["refresh.trigger_share"]["value"] > 0.5
    assert m["ledger_upsert.jobs"]["value"] > 0
