"""KG-construction benchmark: files parquet table -> materialized graph.

    python3 kgbench/run.py --workload bulk_large_files --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository (see README.md). Set-up
starts Spark with host-safe settings, computes the golden triples and
writes the workload's corpus to parquet. Then:

* ``--trace 0`` makes untraced passes (a bulk pipeline run plus graph
  materialization, or a full streaming drain) until ``--seconds`` have
  elapsed, at least one, and reports the end-to-end metrics;
* ``--trace 1`` makes one untraced bulk pass and one traced pass of the
  workload and reports the per-layer metrics of the traced one (see
  ``layertrace.py``).

Every pass is checked: triple precision and recall against the goldens, a
fingerprint of the materialized nodes and edges that must match across
passes (for the stream: the drained graph equals the bulk one) and the
``content_sha`` invariant of the mentions stage. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import traceback
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> corpus and drive shape. The sizes of the two workloads in
# BENCHMARK.json let a run fit the benchmark's time budget while the layer
# each exists for stays the largest (see the traced runs in results/);
# bulk_many_files is too large for that budget and is run by hand.
WORKLOADS = {
    # many small files around one ~1,000-file mega-repo: coref's BFS over
    # the hub-heavy graph and the triple/edge shuffles grow fastest here
    "bulk_many_files": {"kind": "bulk", "files": 20000, "content_scale": 1},
    # few ~46 KB files: the Arrow mapInPandas extraction kernel dominates
    # and the node count stays small, so coref/canonicalize pay only their
    # fixed job floor
    "bulk_large_files": {"kind": "bulk", "files": 352, "content_scale": 32},
    # files landing as equal parquet files drained one per trigger with a
    # refresh every trigger: write-heavy and job-floor bound
    "stream_refresh": {"kind": "stream", "files": 64, "content_scale": 1,
                       "landing_files": 2},
}

END_TO_END = {
    "setup_s": "s", "kg_wall_s": "s", "kg_triples_per_sec": "1/s",
    "freshness_p50_s": "s", "drain_s": "s", "peak_rss_mb": "MB",
    "triple_precision": "ratio", "triple_recall": "ratio",
    "ops_ok_share": "ratio",
}
# per-layer ratios, each reported next to its base
RATIO_METRICS = {
    "coref.need_coref_in": "rows", "coref.resolved_share": "ratio",
    "edge_norm.triples_in": "rows", "edge_norm.kept_share": "ratio",
    "refresh.growth_s_per_krow": "s/krow", "refresh.ledger_rows": "rows",
    "refresh.trigger_share": "ratio",
}
PR_GATE = 0.95


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", default="nproc",
                    help="Spark local[N] threads; 'nproc' = usable CPUs")
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=16,
                    help="bucket_by_repo width of the bulk pipeline")
    ap.add_argument("--driver-mem-share", type=float, default=0.125,
                    help="driver heap as a share of MemTotal")
    ap.add_argument("--work-dir", default=".kgbench_work",
                    help="scratch root, relative to the checkout")
    ap.add_argument("--out", help="also write the full result JSON here")
    return ap.parse_args(argv)


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_settings(args, work: str) -> dict:
    """Environment and Spark conf the benchmark owns (session.py is not
    edited): a heap sized from physical memory instead of the 24g default,
    worker PYTHONPATH, local dirs inside the checkout, no progress bar."""
    cores = usable_cpus() if args.cores == "nproc" else int(args.cores)
    heap_mb = max(1024, int(mem_total_mb() * args.driver_mem_share))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: G1 resizes a variable heap by GC-timing-
        # dependent steps, which made the RSS peak vary by ~20% run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
    }
    return {"cores": cores, "heap_mb": heap_mb, "env": env, "conf": conf,
            "shuffle_partitions": args.shuffle_partitions,
            "buckets": args.buckets}


# ---------------------------------------------------------------------------
# resident memory of the driver, the JVM and the Python workers
# ---------------------------------------------------------------------------
class RssSampler:
    """Samples the resident memory of this process and all descendants.

    Each process counts its proportional share (PSS) of the pages it
    shares, so forked Python workers and a JVM child that has not yet
    exec'ed are not counted twice; without sharing this equals summed
    RSS."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = None

    @staticmethod
    def _pss_mb(pid: int) -> float:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def _tree_rss_mb(self) -> dict[str, float]:
        """Resident MB of this process tree, keyed by process name."""
        parent, comm = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            # comm may contain spaces: fields after the closing paren
            parent[int(pid)] = int(stat[stat.rindex(")") + 2:].split()[1])
            comm[int(pid)] = stat[stat.index("(") + 1:stat.rindex(")")]
        tree, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            tree.add(p)
            todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
        parts: dict[str, float] = {}
        for p in tree:
            try:
                mb = self._pss_mb(p)
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                continue
            parts[comm[p]] = parts.get(comm[p], 0.0) + mb
        return parts

    def _sample(self) -> None:
        parts = self._tree_rss_mb()
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, parts

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------
class Bench:
    def __init__(self, spark, wl: dict, seed: int, settings: dict, work: str,
                 golden: set):
        self.spark, self.wl, self.seed = spark, wl, seed
        self.settings, self.work, self.golden = settings, work, golden
        self._seq = 0
        self.input_path: str | None = None

    def fresh(self, tag: str) -> str:
        """A never-used root: a reused checkpoint root would let the
        fingerprint-chained StageStore skip every stage."""
        self._seq += 1
        d = os.path.join(self.work, "pass", f"{self._seq:03d}_{tag}")
        os.makedirs(d)
        return d

    def retire(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    # -- set-up ----------------------------------------------------------
    def write_inputs(self) -> None:
        """Write the workload's corpus to a fresh parquet table."""
        from legal_knowledge_graph_spark.corpus import corpus_df_distributed

        wl = self.wl
        # the stream lands one parquet file per generator partition (equal
        # index ranges, drained one per trigger)
        files = corpus_df_distributed(
            self.spark, wl["files"], seed=self.seed,
            partitions=wl.get("landing_files",
                              self.settings["shuffle_partitions"]),
            content_scale=wl["content_scale"])
        self.input_path = os.path.join(self.fresh("input"), "files")
        files.write.parquet(self.input_path)

    # -- one bulk pass ---------------------------------------------------
    def bulk_pass(self, tracer=None) -> dict:
        """run_pipeline into a fresh checkpoint root, then materialize_graph
        into a fresh graph root (the tools/submit_pipeline.py path)."""
        from legal_knowledge_graph_spark.plans import run_pipeline
        from legal_knowledge_graph_spark.sources.io import materialize_graph

        root = self.fresh("bulk")
        span = tracer.span if tracer is not None else _no_span
        t0_ms, t0 = time.time() * 1000, time.perf_counter()
        with span("ingest"):
            files = self.spark.read.parquet(self.input_path)
        res = run_pipeline(self.spark, files,
                           checkpoint_root=os.path.join(root, "stages"),
                           bucket_by_repo=self.settings["buckets"])
        with span("graph_store"):
            nodes, edges = materialize_graph(
                self.spark, os.path.join(root, "graph"), res.nodes, res.edges)
        wall, t1_ms = time.perf_counter() - t0, time.time() * 1000
        if tracer is not None:
            tracer.outputs["graph_store"] = edges
        return {"wall_s": wall, "window_ms": (t0_ms, t1_ms), "root": root,
                "nodes": nodes, "edges": edges, "ingested": res.ingested,
                "mentions": res.mentions}

    # -- one streaming drain ---------------------------------------------
    def stream_pass(self, tracer=None) -> dict:
        from legal_knowledge_graph_spark.sources.io import read_graph_table
        from legal_knowledge_graph_spark.streaming import run_full_incremental

        root = self.fresh("stream")
        graph = os.path.join(root, "graph")
        ledger = os.path.join(root, "ledger")
        t0_ms, t0 = time.time() * 1000, time.perf_counter()
        q = run_full_incremental(
            self.spark, self.input_path, ledger, graph,
            os.path.join(root, "stream_ckpt"), max_files_per_trigger=1,
            refresh_every=1,
            on_batch=tracer.on_batch if tracer is not None else None)
        wall, t1_ms = time.perf_counter() - t0, time.time() * 1000
        if tracer is not None:
            tracer.phase(None)
        triggers = []
        for p in q.recentProgress:
            if p.numInputRows > 0:
                start = _iso_ms(p.timestamp)
                triggers.append(
                    (p.batchId, start, start + p.durationMs["triggerExecution"]))
        nodes = read_graph_table(self.spark, os.path.join(graph, "graph_nodes"))
        edges = read_graph_table(self.spark, os.path.join(graph, "graph_edges"))
        out = {"wall_s": wall, "window_ms": (t0_ms, t1_ms), "root": root,
               "nodes": nodes, "edges": edges, "triggers": triggers,
               "ledger": ledger}
        if tracer is not None:
            tracer.triggers = triggers
            tracer.outputs["ledger_upsert"] = read_graph_table(self.spark, ledger)
            tracer.outputs["refresh"] = edges
        return out

    def run_pass(self, tracer=None) -> dict:
        if self.wl["kind"] == "stream":
            return self.stream_pass(tracer)
        return self.bulk_pass(tracer)

    # -- checks ----------------------------------------------------------
    def check(self, p: dict) -> dict:
        """Correctness of one pass; adds 'fp', 'precision', 'recall',
        'edges_n', 'errors'."""
        from pyspark.sql import functions as F

        errors = []
        p["fp"] = (fingerprint(p["nodes"]), fingerprint(p["edges"]))
        got = {(r[0], r[1], r[2]) for r in p["edges"].select(
            "subject_canonical", "predicate", "object_canonical")
            .distinct().collect()}
        tp = len(got & self.golden)
        p["precision"] = tp / len(got) if got else 0.0
        p["recall"] = tp / len(self.golden) if self.golden else 0.0
        p["edges_n"] = p["fp"][1][0]
        if p["precision"] < PR_GATE or p["recall"] < PR_GATE:
            errors.append(f"P/R below {PR_GATE}: "
                          f"{p['precision']:.4f}/{p['recall']:.4f}")
        if "mentions" in p:
            # content_sha invariant: every mention row carries the sha256 of
            # its document's content as ingested
            ing = p["ingested"].select(
                "doc_key", F.sha2(F.coalesce("content", F.lit("")), 256)
                .alias("want"))
            bad = (p["mentions"].select("doc_key", "content_sha").distinct()
                   .join(ing, "doc_key", "left")
                   .where(F.col("want").isNull()
                          | (F.col("want") != F.col("content_sha")))
                   .count())
            if bad:
                errors.append(f"content_sha invariant broken on {bad} docs")
        p["errors"] = errors
        return p


@contextlib.contextmanager
def _no_span(layer):
    yield


def fingerprint(df) -> tuple[int, int]:
    """(rows, order-insensitive XOR of a hash over all columns), the shape
    of tools/benchlib.fingerprint_all_cols but hashing the columns in name
    order, so tables written by different plans (bulk, stream) compare."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    r = df.agg(F.count(F.lit(1)).alias("rows"),
               F.bit_xor(F.xxhash64(*cols)).alias("fp")).collect()[0]
    return int(r["rows"]), int(r["fp"] or 0)


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------
def start_spark(settings: dict, evlog_dir: str | None):
    os.environ.update(settings["env"])
    from legal_knowledge_graph_spark.session import build_session

    conf = dict(settings["conf"])
    if evlog_dir:
        os.makedirs(evlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app_name="kgbench",
                         shuffle_partitions=settings["shuffle_partitions"],
                         extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def program_present() -> bool:
    return os.path.isfile(os.path.join(
        ROOT, "legal_knowledge_graph_spark", "plans", "pipeline.py"))


def golden_triples(wl: dict, seed: int) -> set:
    from legal_knowledge_graph_spark.corpus import generate_corpus

    _, golden, _ = generate_corpus(wl["files"], seed=seed,
                                   content_scale=wl["content_scale"])
    return set(golden)


def run(args, wl: dict | None = None, warm_passes: int = 0) -> dict:
    """One benchmark run; `wl` overrides the named workload's shape and
    `warm_passes` adds untimed passes before a traced run's untraced one
    (tests use both)."""
    wl = wl or WORKLOADS[args.workload]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, args.work_dir, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = host_settings(args, work)
    evlog = os.path.join(work, "evlog") if args.trace else None
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            # the goldens are pure driver Python: compute them while the
            # JVM starts
            with ThreadPoolExecutor(1) as pool:
                golden = pool.submit(golden_triples, wl, args.seed)
                spark = start_spark(settings, evlog)
                spark.sparkContext.setLogLevel("ERROR")
                session_s = time.perf_counter() - t0
                bench = Bench(spark, wl, args.seed, settings, work,
                              golden.result())
            bench.write_inputs()
            setup_s = time.perf_counter() - t0
            if args.trace:
                for _ in range(warm_passes):
                    bench.retire(bench.bulk_pass()["root"])
                result = measure_traced(bench, settings, evlog)
            else:
                result = measure(args, bench)
        detail = result["detail"]
        detail["setup_s"] = setup_s
        detail["session_s"] = session_s
        detail["settings"] = {k: settings[k] for k in (
            "cores", "heap_mb", "shuffle_partitions", "buckets")}
        detail["workload"] = wl
        detail["peak_rss_parts_mb"] = rss.peak_parts
        if not args.trace:
            m = result["metrics"]
            m["setup_s"] = {"value": setup_s, "unit": "s"}
            m["peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MB"}
            result["metrics"] = {k: m[k] for k in END_TO_END}
        return result
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, bench: Bench) -> dict:
    """Untraced passes until --seconds have elapsed (at least one)."""
    passes, errors, crashed = [], [], 0
    deadline = time.perf_counter() + args.seconds
    while True:
        try:
            p = bench.check(bench.run_pass())
        except Exception:  # a failed pass is a failed operation: report it
            crashed += 1
            errors.append(traceback.format_exc(limit=3))
        else:
            if passes and p["fp"] != passes[0]["fp"]:
                p["errors"].append(
                    f"fingerprint {p['fp']} != {passes[0]['fp']}")
            errors.extend(p["errors"])
            passes.append(p)
            bench.retire(p["root"])
        if time.perf_counter() >= deadline:
            break
    if not passes:
        raise RuntimeError("every pass failed:\n" + "\n".join(errors))
    failed = crashed + sum(1 for p in passes if p["errors"])
    attempted = crashed + len(passes)
    walls = [p["wall_s"] for p in passes]
    kg_wall = median(walls)
    if bench.wl["kind"] == "stream":
        fresh = [(t1 - t0) / 1000.0
                 for p in passes for _, t0, t1 in p["triggers"]]
    else:
        # the whole input is one batch: its snapshot lands at pass end
        fresh = walls
    m = {
        "kg_wall_s": kg_wall,
        "kg_triples_per_sec": median(
            [p["edges_n"] / p["wall_s"] for p in passes]),
        "freshness_p50_s": median(fresh),
        "drain_s": kg_wall,
        "triple_precision": min(p["precision"] for p in passes),
        "triple_recall": min(p["recall"] for p in passes),
        "ops_ok_share": 1.0 - failed / attempted,
    }
    return {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                    for k, v in m.items()},
        "detail": {"passes": len(passes), "pass_wall_s": walls,
                   "freshness_s": fresh, "fingerprint": passes[0]["fp"],
                   "ops_failed_share": failed / attempted,
                   "errors": errors[:20]},
    }


def measure_traced(bench: Bench, settings: dict, evlog: str) -> dict:
    """One untraced bulk pass, then one traced pass of the workload; their
    graphs must be identical (for the stream: drained == bulk). The stream
    first drains once untraced, so that the traced drain's first trigger is
    not the JVM's first and the refresh-growth slope is not a cold start."""
    from layertrace import ALL_LAYERS, LAYER_METRICS, Tracer

    spark = bench.spark
    base = bench.check(bench.bulk_pass())
    bench.retire(base["root"])
    passes = [base]
    if bench.wl["kind"] == "stream":
        passes.append(bench.check(bench.stream_pass()))
        bench.retire(passes[-1]["root"])
    tracer = Tracer(spark)
    with tracer.patched(stream=bench.wl["kind"] == "stream"):
        traced = bench.run_pass(tracer)
    rep = tracer.report(evlog, settings["cores"], *traced["window_ms"])
    layers = rep["layers"]
    # rows out and ratios are counted after the pass, outside every span
    spark.sparkContext.setJobGroup("kgbench-post", "post-pass counts")
    for layer in ALL_LAYERS:
        df = tracer.outputs.get(layer)
        layers[layer]["rows_out"] = df.count() if df is not None else 0
    layers["stage_store"]["rows_out"] = sum(df.count() for df in tracer.written)
    ratios = ratio_metrics(tracer, traced, spark)
    bench.check(traced)
    passes.append(traced)
    if rep["jobs_unattributed"]:
        traced["errors"].append(f"{rep['jobs_unattributed']} jobs not attributed")
    for p in passes[1:]:
        if p["fp"] != base["fp"]:
            p["errors"].append(f"fingerprint {p['fp']} != bulk {base['fp']}")
    errors = [e for p in passes for e in p["errors"]]
    bench.retire(traced["root"])
    metrics = {f"{layer}.{name}": {"value": layers[layer][name], "unit": unit}
               for layer in ALL_LAYERS for name, unit in LAYER_METRICS.items()}
    for name, value in ratios.items():
        metrics[name] = {"value": value, "unit": RATIO_METRICS[name]}
    return {
        "correct": not errors, "attempted": len(passes),
        "failed": sum(1 for p in passes if p["errors"]),
        "metrics": metrics,
        "detail": {
            "bulk_wall_s": base["wall_s"], "traced_wall_s": traced["wall_s"],
            "untraced_wall_s": passes[-2]["wall_s"],
            "layer_wall_sum_s": sum(v["wall_s"] for v in layers.values()),
            "jobs_total": rep["jobs_total"],
            "jobs_unattributed": rep["jobs_unattributed"],
            "unattributed": rep["unattributed"],
            "fingerprint": traced["fp"], "triggers": traced.get("triggers"),
            "errors": errors[:20],
        },
    }


def ratio_metrics(tracer, traced: dict, spark) -> dict:
    """The RATIO_METRICS values."""
    from pyspark.sql import functions as F

    def rows(df, cond=None):
        if df is None:
            return 0
        return (df.where(cond) if cond is not None else df).count()

    need_in = rows(tracer.inputs.get("coref"), F.col("need_coref"))
    need_left = rows(tracer.outputs.get("coref"), F.col("need_coref"))
    triples_in = rows(tracer.inputs.get("edge_norm"))
    edges_out = rows(tracer.outputs.get("edge_norm"))
    # refresh cost against the ledger size it recomputed over: one point
    # per trigger, ledger rows read from the trigger's ledger snapshot
    slope, krows, share = 0.0, [], 0.0
    if "ledger" in traced:
        ledger = traced["ledger"]
        versions = sorted(v for v in os.listdir(ledger) if v.startswith("v"))
        krows = [spark.read.parquet(os.path.join(ledger, v)).count() / 1000.0
                 for v in versions]
        refresh = [sp for sp in tracer.spans if sp.layer == "refresh"]
        secs = [(sp.t1 - sp.t0) / 1000.0 for sp in refresh]
        if len(krows) == len(secs) >= 2:
            slope = statistics.linear_regression(krows, secs).slope
        trig = {b: (t1 - t0) / 1000.0 for b, t0, t1 in traced["triggers"]}
        share = median([s / trig[sp.batch] for sp, s in zip(refresh, secs)
                        if trig.get(sp.batch)])
    return {
        "coref.need_coref_in": need_in,
        "coref.resolved_share": (need_in - need_left) / need_in if need_in
        else 0.0,
        "edge_norm.triples_in": triples_in,
        "edge_norm.kept_share": edges_out / triples_in if triples_in else 0.0,
        "refresh.growth_s_per_krow": slope,
        "refresh.ledger_rows": int(round(krows[-1] * 1000)) if krows else 0,
        "refresh.trigger_share": share,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("kgbench: the KG pipeline package is not in this checkout",
              file=sys.stderr)
        return 2
    result = run(args)
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    if args.out:
        with open(args.out, "w") as f:
            json.dump({**result, "args": vars(args)}, f, indent=1)
    print(json.dumps(result["detail"], default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
