"""Traced-run plumbing: spans around calls into webdq's layers, Spark
jobs tagged with the open span, and a reducer that turns the
uncompressed Spark event log into per-layer metrics.

Only the traced process calls ``install``; the untraced run never
imports the wrappers' effects. Spans live in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from stats import covered, median, self_times

TAG = "pb"  # job description prefix: "pb:<span id>:<span name>"


class Tracer:
    """Records spans while ``enabled``; when off, wrapped functions run
    untouched so plain and traced passes can alternate in one process."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"{TAG}:{s['id']}:{name}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(f"{TAG}:{parent['id']}:{parent['name']}" if parent else None)

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` by a version that runs inside a span;
        ``after(span, args, result)`` may annotate the span or finish
        lazy work inside it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kw):
            if not self.enabled:
                return orig(*args, **kw)
            label = name(args, kw) if callable(name) else name
            with self.span(label) as s:
                out = orig(*args, **kw)
                if after is not None:
                    after(s, args, out)
                return out

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install(tracer: Tracer) -> None:
    """Wrap the public functions of each layer the workloads call into."""
    from webdq import label, ml, normalize, pipeline, storage, synth

    def stage_name(args, kw):
        return f"pipeline.stage.{args[1]}"

    def materialize(s, args, df):
        # memory mode persists lazily: count inside the stage span so its
        # work is not billed to whichever later call first touches it
        if not args[0].workdir:
            df.count()

    def kmeans_iters(s, args, model):
        s["iters"] = int(model.iterations)

    tracer.wrap(pipeline.StageRunner, "run", stage_name, after=materialize)
    tracer.wrap(pipeline, "extract_features", "pipeline.extract_features")
    tracer.wrap(pipeline, "cluster_documents", "pipeline.cluster_documents")
    tracer.wrap(synth, "pages_from_documents", "synth.pages_from_documents")
    tracer.wrap(normalize, "ecdf", "normalize.ecdf")
    tracer.wrap(ml, "fit_scaled_pca_with_init", "ml.fit_scaled_pca_with_init")
    tracer.wrap(ml, "kmeans_fit", "ml.kmeans_fit", after=kmeans_iters)
    tracer.wrap(ml, "kmeans_assign", "ml.kmeans_assign")
    tracer.wrap(label, "keep_dim_plan", "label.keep_dim_plan")
    tracer.wrap(storage, "spread_scan", "storage.spread_scan")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

# ArrowEvalPython / BatchEvalPython SQL metric names (PythonSQLMetrics)
PY_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_python_bytes",
    "time to initialize Python workers": "init_ms",
}


def read_events(log_dir: str) -> list[dict]:
    """Every event of every (rolling or single-file) log under ``log_dir``."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".") and not n.startswith("appstatus")]

    def order(p):  # rolling logs: events_<n>_<app>
        base = os.path.basename(p)
        parts = base.split("_")
        return (os.path.dirname(p), int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0)

    events = []
    for p in sorted(files, key=order):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for c in node.get("children", []):
        _plan_metrics(c, out)


def parse_log(events: list[dict]) -> dict:
    """Jobs (with span tag and interval), stages (job, tasks) and the
    Python-UDF SQL metrics of each stage."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    acc_names: dict[int, tuple[str, str]] = {}
    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            span = None
            if desc.startswith(TAG + ":"):
                span = int(desc.split(":")[1])
            jid = e["Job ID"]
            jobs[jid] = {"id": jid, "span": span, "group": props.get("spark.jobGroup.id"),
                         "start": e["Submission Time"] / 1000.0, "end": None}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = stages.setdefault(sid, {"tasks": [], "py": {}})
            info, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            st["tasks"].append(
                {
                    "failed": bool(info.get("Failed")) or (e.get("Task End Reason") or {}).get("Reason") != "Success",
                    "run_ms": tm.get("Executor Run Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                }
            )
            for a in info.get("Accumulables", []):
                st.setdefault("acc", []).append((a.get("ID"), a.get("Update")))
    for sid, st in stages.items():
        for aid, upd in st.pop("acc", []):
            node, name = acc_names.get(aid, ("", ""))
            key = PY_METRICS.get(name)
            if key is None and name == "number of output rows" and "EvalPython" in node:
                key = "rows"
            if key is not None and upd is not None:
                st["py"][key] = st["py"].get(key, 0) + float(upd)
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def codegen_fallbacks(log_path: str) -> int:
    try:
        with open(log_path, errors="replace") as f:
            return sum(1 for line in f if "ERROR CodeGenerator" in line)
    except OSError:
        return 0


# ---------------------------------------------------------------------------
# reducer
# ---------------------------------------------------------------------------

def _root_of(spans_by_id: dict, sid: int) -> int:
    while spans_by_id[sid]["parent"] is not None:
        sid = spans_by_id[sid]["parent"]
    return sid


def reduce(spans: list[dict], log: dict, span_metrics: list[str], layer_spans: dict[str, list[str]]) -> dict:
    """Per-layer metrics, per traced pass (root spans named "pass") and
    then the median over passes.

    ``span_metrics`` names the spans that get shuffle/spill/task figures;
    ``layer_spans`` maps a layer metric prefix to the span names it sums.
    """
    by_id = {s["id"]: s for s in spans}
    passes = [s for s in spans if s["parent"] is None and s["name"] == "pass"]
    selfs = self_times(spans)
    jobs_of_span: dict[int, list[dict]] = {}
    for j in log["jobs"].values():
        if j["span"] in by_id:
            jobs_of_span.setdefault(j["span"], []).append(j)
    stages_of_job: dict[int, list[dict]] = {}
    for st in log["stages"].values():
        if st["job"] is not None:
            stages_of_job.setdefault(st["job"], []).append(st)

    per_pass: list[dict[str, float]] = []
    for p in passes:
        mine = [s for s in spans if _root_of(by_id, s["id"]) == p["id"]]
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        pass_jobs = [j for s in mine for j in jobs_of_span.get(s["id"], [])]
        pass_stages = [st for j in pass_jobs for st in stages_of_job.get(j["id"], [])]
        tasks = [t for st in pass_stages for t in st["tasks"]]
        wall = p["end"] - p["start"]
        busy = covered([(j["start"], j["end"] or p["end"]) for j in pass_jobs], p["start"], p["end"])
        m["run.driver_gap_s"] = wall - busy
        m["run.jobs"] = float(len(pass_jobs))
        m["run.tasks_failed"] = float(sum(t["failed"] for t in tasks))
        m["run.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1000.0
        m["run.span_coverage"] = 1.0 - selfs[p["id"]] / wall if wall else 0.0
        for st in pass_stages:
            py = st["py"]
            add("scorers.python_s", py.get("python_ms", 0.0) / 1000.0)
            add("scorers.to_python_mb", py.get("to_python_bytes", 0.0) / 1e6)
            add("scorers.worker_init_s", py.get("init_ms", 0.0) / 1000.0)
            add("scorers.rows", py.get("rows", 0.0))
        for s in mine:
            sj = jobs_of_span.get(s["id"], [])
            add(f"{s['name']}.self_s", selfs[s["id"]])
            add(f"{s['name']}.jobs", float(len(sj)))
            if "iters" in s:
                add(f"{s['name']}.iters", float(s["iters"]))
            if s["name"] in span_metrics:
                sts = [st for j in sj for st in stages_of_job.get(j["id"], [])]
                ts = [t for st in sts for t in st["tasks"]]
                add(f"{s['name']}.shuffle_write_mb", sum(t["shuffle_write"] for t in ts) / 1e6)
                add(f"{s['name']}.spill_mb", sum(t["spill"] for t in ts) / 1e6)
                add(f"{s['name']}.task_s", sum(t["run_ms"] for t in ts) / 1000.0)
                if sts:
                    big = max(sts, key=lambda st: sum(t["run_ms"] for t in st["tasks"]))
                    runs = [t["run_ms"] for t in big["tasks"]]
                    med = median(runs)
                    m[f"{s['name']}.task_skew"] = max(m.get(f"{s['name']}.task_skew", 0.0), max(runs) / med if med else 1.0)
        for prefix, names in layer_spans.items():
            add(f"{prefix}.self_s", sum(m.get(f"{n}.self_s", 0.0) for n in names))
            add(f"{prefix}.jobs", sum(m.get(f"{n}.jobs", 0.0) for n in names))
        per_pass.append(m)

    keys = {k for m in per_pass for k in m}
    out = {k: median([m.get(k, 0.0) for m in per_pass]) for k in keys}
    it = out.get("ml.kmeans_fit.iters", 0.0)
    out["ml.kmeans_fit.s_per_iter"] = out.get("ml.kmeans_fit.self_s", 0.0) / it if it else 0.0
    return out
