"""Per-layer attribution of the KG pipeline, measured from outside.

The tracer replaces the program's public layer entry points with timing
wrappers for the duration of one pass (``Tracer.patched``) and tags every
Spark job started inside a wrapped call with a job group of its own. After
the pass, ``Tracer.report`` joins those spans with the application's event
log (uncompressed, non-rolling) to give each layer its self time, job and
task counts, executor time, idle time, shuffle, spill and skew. No file of
the program is edited; the wrappers live only in this process.

Attribution rules:

* a job belongs to the innermost wrapped call that was running when it was
  submitted (the call's job group travels with broadcast and subquery jobs);
* ``StageStore.write`` executes the lazy plan a layer returned, so the jobs
  it runs are charged to that producing layer, and only the driver time
  outside those jobs (commit, file listing, manifest) is ``stage_store``'s;
* a streaming trigger is split at the program's ``on_batch`` hook into
  ``ledger_upsert`` (trigger start to the hook) and ``refresh`` (the hook
  to trigger end), clipped to the trigger windows the query reports; layer
  calls inside a trigger are its children, and jobs the query starts
  outside any wrapped call belong to the phase they were submitted in.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time

from pyspark.sql import DataFrame

PKG = "legal_knowledge_graph_spark"

# layer name -> (defining module, public function)
LAYER_FUNCS = {
    "ingest": ("operators.ingest", "ingest"),
    "mentions": ("operators.mentions", "mentions_from_files"),
    "canonicalize": ("operators.canonicalize", "canonicalize"),
    "triples": ("operators.triples", "emit_triples"),
    "edge_norm": ("operators.edge_norm", "normalize_edges"),
    "coref": ("operators.coref", "resolve_coref"),
}
BULK_LAYERS = list(LAYER_FUNCS) + ["stage_store", "graph_store"]
STREAM_LAYERS = ["ledger_upsert", "refresh"]
ALL_LAYERS = BULK_LAYERS + STREAM_LAYERS
LAYER_METRICS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
    "busy_share": "ratio", "idle_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
    "rows_out": "rows",
}
GROUP_PREFIX = "kgbench-"


# ---------------------------------------------------------------------------
# interval arithmetic (all times are epoch milliseconds)
# ---------------------------------------------------------------------------
def union(iv):
    out = []
    for a, b in sorted(i for i in iv if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def subtract(iv, cut):
    """Parts of the (disjoint) intervals `iv` not covered by `cut`."""
    cut = union(cut)
    out = []
    for a, b in iv:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def intersect(iv, cut):
    return subtract(iv, subtract(iv, cut))


def length(iv) -> float:
    return float(sum(b - a for a, b in iv))


def now_ms() -> float:
    return time.time() * 1000.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Span:
    __slots__ = ("layer", "charge", "group", "t0", "t1", "parent", "batch")

    def __init__(self, layer, charge, group, parent, batch=None):
        self.layer, self.charge, self.group = layer, charge, group
        self.parent, self.batch = parent, batch
        self.t0, self.t1 = now_ms(), None


class Tracer:
    """Records spans around the program's layer entry points.

    One tracer serves one pass. Spans are kept in memory; ``report`` reads
    the event log once the pass is over."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._phase: Span | None = None
        # id(DataFrame) -> (layer, position in the layer's return value,
        # the DataFrame itself, held so the id is not reused)
        self._produced: dict[int, tuple[str, int, DataFrame]] = {}
        # stored output / input table of each layer, and every stage table
        self.outputs: dict[str, DataFrame] = {}
        self.inputs: dict[str, DataFrame] = {}
        self.written: list[DataFrame] = []
        self.triggers: list[tuple[int, float, float]] = []

    # -- job groups ------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _new(self, layer, charge, batch=None) -> Span:
        with self._lock:
            stack = self._stack()
            parent = stack[-1] if stack else self._phase
            sp = Span(layer, charge, f"{GROUP_PREFIX}{len(self.spans)}",
                      parent, batch)
            self.spans.append(sp)
        return sp

    @contextlib.contextmanager
    def span(self, layer: str, charge: str | None = None):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        sp = self._new(layer, charge or layer)
        self._stack().append(sp)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.t1 = now_ms()
            self._stack().pop()
            self._set_group(prev)

    def phase(self, layer: str | None, batch=None) -> None:
        """Close the running stream phase and open `layer` (None: close)."""
        with self._lock:
            if self._phase is not None:
                self._phase.t1 = now_ms()
            self._phase = None
        if layer is not None:
            sp = self._new(layer, layer, batch)
            with self._lock:
                self._phase = sp
            self._set_group(sp.group)

    # -- wrappers --------------------------------------------------------
    def _note(self, layer, args, out) -> None:
        # inputs and outputs are kept only when stored (a stage table), so
        # counting them after the pass re-runs nothing
        first = next((a for a in args if isinstance(a, DataFrame)), None)
        if any(first is w for w in self.written):
            self.inputs[layer] = first
        outs = out if isinstance(out, tuple) else (out,)
        for i, df in enumerate(outs):
            if isinstance(df, DataFrame):
                self._produced[id(df)] = (layer, i, df)

    def wrap_layer(self, layer, fn, on_enter=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if on_enter is not None:
                on_enter()
            with self.span(layer):
                out = fn(*args, **kwargs)
            self._note(layer, args, out)
            return out
        return traced

    def wrap_stage_write(self, fn):
        @functools.wraps(fn)
        def traced(store, stage, df, fp, *args, **kwargs):
            layer, idx, _ = self._produced.get(id(df), ("stage_store", 1, None))
            with self.span("stage_store", charge=layer):
                out = fn(store, stage, df, fp, *args, **kwargs)
            self.written.append(out)
            if idx == 0:
                self.outputs[layer] = out
            return out
        return traced

    @contextlib.contextmanager
    def patched(self, stream: bool = False):
        """Wrap every binding of the layer entry points in the program's
        loaded modules (modules bind them at import with ``from .. import``)
        plus ``StageStore.write``; restore them on exit."""
        import importlib

        from legal_knowledge_graph_spark.sources.io import StageStore

        saved = []
        for layer, (mod, name) in LAYER_FUNCS.items():
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), name)
            on_enter = None
            if stream and layer == "ingest":
                # ingest is the first call of every trigger
                on_enter = functools.partial(self.phase, "ledger_upsert")
            wrapped = self.wrap_layer(layer, orig, on_enter)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) \
                        and getattr(m, name, None) is orig:
                    saved.append((m, name, orig))
                    setattr(m, name, wrapped)
        saved.append((StageStore, "write", StageStore.write))
        StageStore.write = self.wrap_stage_write(StageStore.write)
        try:
            yield self
        finally:
            for m, name, orig in reversed(saved):
                setattr(m, name, orig)

    def on_batch(self, batch_id: int) -> None:
        """The program's on_batch hook: the ledger upsert has committed."""
        self.phase("refresh", batch_id)

    # -- post-pass -------------------------------------------------------
    def group_job_ids(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set()
        for sp in self.spans:
            ids.update(st.getJobIdsForGroup(sp.group))
        return ids

    def report(self, evlog_dir: str, cores: int, t0_ms: float,
               t1_ms: float) -> dict:
        """Per-layer metrics for the jobs submitted in [t0_ms, t1_ms]."""
        ev = read_eventlog(evlog_dir, self.group_job_ids())
        ev["jobs"] = {j: v for j, v in ev["jobs"].items()
                      if t0_ms <= v["t0"] <= t1_ms}
        return attribute(self.spans, ev, cores, self.triggers)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
def _evlog_file(evlog_dir: str) -> str:
    files = [os.path.join(evlog_dir, f) for f in os.listdir(evlog_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {evlog_dir}: {files}")
    return files[0]


def read_eventlog(evlog_dir: str, expect_jobs: set[int],
                  timeout_s: float = 60.0) -> dict:
    """Parse the event log once every expected job has ended in it (the
    listener bus writes asynchronously)."""
    deadline = time.time() + timeout_s
    while True:
        ev = _parse(_evlog_file(evlog_dir))
        done = set(ev["job_end"])
        if expect_jobs <= done and set(ev["jobs"]) <= done:
            return ev
        if time.time() > deadline:
            raise RuntimeError(
                f"event log incomplete: {sorted(expect_jobs - done)[:10]}")
        time.sleep(0.2)


def _parse(path: str) -> dict:
    jobs, job_end, tasks = {}, {}, []
    with open(path) as f:
        for line in f:
            if not line.endswith("\n"):
                break  # partially flushed tail
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": e.get("Submission Time"),
                    "stages": e.get("Stage IDs", []),
                    "name": ((e.get("Stage Infos") or [{}])[0]
                             .get("Stage Name", "")),
                }
            elif kind == "SparkListenerJobEnd":
                job_end[e["Job ID"]] = e.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                info = e.get("Task Info") or {}
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "t0": info.get("Launch Time"),
                    "t1": info.get("Finish Time"),
                    "run_ms": m.get("Executor Run Time", 0),
                    "sh_r": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "sh_w": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "job_end": job_end, "tasks": tasks}


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------
def attribute(spans: list[Span], ev: dict, cores: int, triggers=()) -> dict:
    """Per-layer metrics from the spans and the parsed event log.

    Returns {"layers": {layer: {metric: value}}, "jobs_total",
    "jobs_unattributed", "unattributed"} (the first ten such jobs)."""
    by_group = {sp.group: sp for sp in spans}
    # a streaming trigger's phases are clipped to the trigger window the
    # query reported, so ledger_upsert + refresh cover each trigger exactly
    windows = {b: (t0, t1) for b, t0, t1 in triggers}
    phases = [sp for sp in spans if sp.layer in STREAM_LAYERS]
    for i, sp in enumerate(phases):
        if sp.layer == "refresh" and sp.batch in windows:
            sp.t1 = windows[sp.batch][1]
            if i > 0 and phases[i - 1].layer == "ledger_upsert":
                phases[i - 1].t0 = windows[sp.batch][0]

    children: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(id(sp.parent), []).append((sp.t0, sp.t1))

    # jobs outside every span group (those the streaming query starts
    # itself) belong to the stream phase whose window they were submitted in
    def owner(job):
        sp = by_group.get(job["group"])
        if sp is None:
            sp = next((p for p in phases
                       if p.t0 <= job["t0"] <= (p.t1 or job["t0"])), None)
        return sp

    job_iv: dict[str, list] = {}
    layer_jobs: dict[str, int] = {}
    stage_owner: dict[int, Span] = {}
    unattributed = []
    for jid in sorted(ev["jobs"]):
        j = ev["jobs"][jid]
        sp = owner(j)
        if sp is None:
            unattributed.append({"job": jid, "t0": j["t0"],
                                 "group": j["group"], "name": j["name"]})
            continue
        job_iv.setdefault(sp.group, []).append((j["t0"], ev["job_end"][jid]))
        layer_jobs[sp.charge] = layer_jobs.get(sp.charge, 0) + 1
        # a stage listed again by a later job was skipped there: its tasks
        # ran in the first job that lists it
        for sid in j["stages"]:
            stage_owner.setdefault(sid, sp)

    layer_iv: dict[str, list] = {}
    for sp in spans:
        own = subtract([(sp.t0, sp.t1)], children.get(id(sp), []))
        if sp.charge != sp.layer:
            jobs_part = intersect(own, job_iv.get(sp.group, []))
            layer_iv.setdefault(sp.charge, []).extend(jobs_part)
            own = subtract(own, jobs_part)
        layer_iv.setdefault(sp.layer, []).extend(own)

    layer_tasks: dict[str, list] = {}
    for t in ev["tasks"]:
        sp = stage_owner.get(t["stage"])
        if sp is not None:
            layer_tasks.setdefault(sp.charge, []).append(t)

    layers = {}
    for layer in ALL_LAYERS:
        iv = union(layer_iv.get(layer, []))
        tasks = layer_tasks.get(layer, [])
        wall = length(iv) / 1000.0
        task_s = sum(t["run_ms"] for t in tasks) / 1000.0
        busy = union([(t["t0"], t["t1"]) for t in tasks])
        by_stage: dict[int, list] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        skew = 0.0
        if by_stage:
            big = max(by_stage.values(), key=sum)
            med = statistics.median(big)
            skew = max(big) / med if med > 0 else 1.0
        layers[layer] = {
            "wall_s": wall,
            "jobs": layer_jobs.get(layer, 0),
            "tasks": len(tasks),
            "task_s": task_s,
            "busy_share": task_s / (wall * cores) if wall > 0 else 0.0,
            "idle_s": length(subtract(iv, busy)) / 1000.0,
            "shuffle_write_mb": sum(t["sh_w"] for t in tasks) / 1e6,
            "shuffle_read_mb": sum(t["sh_r"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "task_skew": skew,
        }
    return {"layers": layers, "jobs_total": len(ev["jobs"]),
            "jobs_unattributed": len(unattributed),
            "unattributed": unattributed[:10]}
