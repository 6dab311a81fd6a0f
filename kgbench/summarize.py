"""Summarize the checked-in runs under kgbench/results/.

    python3 kgbench/summarize.py [results_dir]

For each workload: median and quartiles of every end-to-end metric over
the untraced runs, the layers of the traced run ordered by self time, and
`scaling_eff_1to4` = (local[1] wall / local[4] wall) / 4 from the
single-thread baseline run and the local[4] run of the same seed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(results: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(results, "*.json"))):
        with open(path) as f:
            runs.append(json.load(f))
    return runs


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 \
        else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0}


def summarize(runs: list[dict]) -> dict:
    out: dict = {}
    untraced = [r for r in runs if not r["args"]["trace"]]
    for wl in sorted({r["args"]["workload"] for r in runs}):
        w = out.setdefault(wl, {})
        base = [r for r in untraced if r["args"]["workload"] == wl
                and r["args"]["cores"] == "nproc"]
        if base:
            names = base[0]["metrics"]
            w["end_to_end"] = {k: spread([r["metrics"][k]["value"]
                                          for r in base]) for k in names}
        for r in runs:
            if r["args"]["workload"] != wl or not r["args"]["trace"]:
                continue
            walls = {k[:-len(".wall_s")]: v["value"]
                     for k, v in r["metrics"].items() if k.endswith(".wall_s")}
            d = r["detail"]
            w["traced_seed_%d" % r["args"]["seed"]] = {
                "correct": r["correct"],
                "layers_by_wall_s": sorted(walls.items(), key=lambda kv: -kv[1]),
                "traced_wall_s": d["traced_wall_s"],
                "untraced_wall_s": d["untraced_wall_s"],
                # the untraced pass runs first, so it is the colder one
                "tracing_overhead_share":
                    d["traced_wall_s"] / d["untraced_wall_s"] - 1.0,
                "layer_wall_sum_s": d["layer_wall_sum_s"],
                "jobs_total": d["jobs_total"],
                "jobs_unattributed": d["jobs_unattributed"],
            }
        for one in untraced:
            if one["args"]["workload"] != wl or one["args"]["cores"] != "1":
                continue
            four = [r for r in base if r["args"]["seed"] == one["args"]["seed"]]
            if four:
                t1 = one["metrics"]["kg_wall_s"]["value"]
                t4 = four[0]["metrics"]["kg_wall_s"]["value"]
                w["scaling_eff_1to4"] = {
                    "seed": one["args"]["seed"], "local1_s": t1,
                    "local4_s": t4, "value": t1 / t4 / 4}
    return out


def main() -> None:
    results = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "results")
    print(json.dumps(summarize(load(results)), indent=1))


if __name__ == "__main__":
    main()
