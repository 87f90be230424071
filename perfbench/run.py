"""webdq benchmark driver.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, ``local[4]`` pinned to four
cores. Set-up makes the seeded input, the expected outputs and one
checked warm-up pass; then timed passes run for about ``--seconds``,
each checked. The last stdout line is one JSON object: with ``--trace
0`` the end-to-end metrics, with ``--trace 1`` the per-layer metrics of
a traced run (spans around webdq's layer functions plus the Spark event
log). Exits non-zero when the sources are missing or an output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# The whole local-mode executor; fits a 15 GB host beside the Python workers.
DRIVER_MEM = "2g"

# name -> unit; BENCHMARK.json lists the same metrics (checked by test_perfbench)
END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "spark_jobs": "count",
}
# spans that also get shuffle / spill / task-time / skew figures
SHUFFLE_SPANS = [
    "pipeline.stage.features",
    "pipeline.stage.normalized",
    "ml.fit_scaled_pca_with_init",
    "ml.kmeans_fit",
    "pipeline.stage.labels",
]
LAYER_SPANS = {"label": ["label.keep_dim_plan", "pipeline.stage.labels"]}


def _per_layer() -> dict[str, str]:
    from workloads import QUERIES

    m = {
        "session.build_s": "s",
        "synth.materialize_s": "s",
        "pipeline.stage.features.self_s": "s",
        "pipeline.stage.normalized.self_s": "s",
        "pipeline.stage.labels.self_s": "s",
        "normalize.ecdf.self_s": "s",
        "normalize.ecdf.jobs": "count",
        "ml.fit_scaled_pca_with_init.self_s": "s",
        "ml.fit_scaled_pca_with_init.jobs": "count",
        "ml.kmeans_fit.self_s": "s",
        "ml.kmeans_fit.jobs": "count",
        "ml.kmeans_fit.iters": "count",
        "ml.kmeans_fit.s_per_iter": "s",
        "label.self_s": "s",
        "label.jobs": "count",
        "storage.spread_scan.self_s": "s",
        "scorers.python_s": "s",
        "scorers.to_python_mb": "MB",
        "scorers.worker_init_s": "s",
        "scorers.rows": "count",
    }
    for s in SHUFFLE_SPANS:
        m.update({f"{s}.shuffle_write_mb": "MB", f"{s}.spill_mb": "MB", f"{s}.task_s": "s", f"{s}.task_skew": "ratio"})
    for q in QUERIES:
        m.update({f"query.{q}.self_s": "s", f"query.{q}.jobs": "count"})
    m.update(
        {
            "run.driver_gap_s": "s",
            "run.jobs": "count",
            "run.tasks_failed": "count",
            "run.gc_s": "s",
            "run.codegen_fallbacks": "count",
            "run.span_coverage": "ratio",
            "trace_overhead_s": "s",
        }
    )
    return m


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_session(work: str, trace: bool):
    from webdq.session import build_session as webdq_session

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = webdq_session(f"local[{CORES}]", app_name="webdq-perfbench", shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Passes:
    """Runs, times and checks passes; counts jobs per pass by job group
    and the share of CPU time the hypervisor stole during each."""

    def __init__(self, wl, spark):
        self.wl, self.spark, self.sc = wl, spark, spark.sparkContext
        self.walls: list[float] = []  # plain timed passes
        self.jobs: list[int] = []
        self.steal: list[float] = []
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self._n = 0

    def one(self, collect: bool = False, tracer=None) -> tuple[float, int, float] | None:
        import host

        self.attempted += 1
        self._n += 1
        group = f"pass-{self._n}"
        self.sc.setJobGroup(group, group)
        try:
            steal0 = host.steal_ticks()
            t0 = time.perf_counter()
            if tracer is None or not tracer.enabled:
                out = self.wl.run_pass(self.spark, collect=collect)
            else:
                with tracer.span("pass"):
                    out = self.wl.run_pass(self.spark, on_query=lambda q: tracer.span(f"query.{q}"))
            wall = time.perf_counter() - t0
            steal = host.steal_share(steal0)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            chk = self.wl.check(self.spark, out)
            self.wl.release(self.spark, out)
        except Exception as e:  # noqa: BLE001 - a failing pass is counted and reported, the run goes on
            print(f"perfbench: pass {self._n} raised {type(e).__name__}: {str(e)[:500]}", file=sys.stderr)
            self.failed += 1
            return None
        self.checks.append(chk)
        if not chk["ok"]:
            print(f"perfbench: pass {self._n} output wrong: {chk}", file=sys.stderr)
            self.failed += 1
        return wall, jobs, steal

    def timed(self, seconds: float, tracer=None) -> dict[bool, list[float]]:
        """Timed passes for about ``seconds``: at least the workload's
        ``min_passes`` run, and a further pass starts only while the
        median pass so far still fits. With a tracer, passes alternate
        plain / traced / plain ... (at least those three, so the JVM's
        warm-up trend does not bias the traced-minus-plain overhead) and
        only the plain ones count toward the end-to-end figures."""
        walls: dict[bool, list[float]] = {False: [], True: []}
        t_end = time.perf_counter() + seconds
        done: list[float] = []
        least = max(self.wl.min_passes, 3 if tracer is not None else 1)
        while len(done) < least or time.perf_counter() + sorted(done)[len(done) // 2] <= t_end:
            traced = tracer is not None and len(walls[True]) < len(walls[False])
            if tracer is not None:
                tracer.enabled = traced
            r = self.one(tracer=tracer)
            if tracer is not None:
                tracer.enabled = False
            if r is None:
                if time.perf_counter() >= t_end:
                    break
                continue
            done.append(r[0])
            walls[traced].append(r[0])
            if not traced:
                self.walls.append(r[0])
                self.jobs.append(r[1])
                self.steal.append(r[2])
        return walls


def run(args, work: str, log) -> tuple[dict, dict | None, list[str], Passes]:
    import host
    import stats
    import workloads

    notes = []
    wl = workloads.WORKLOADS[args.workload](work)
    # the input is written and the expected outputs computed (without
    # Spark) before the session starts; only the write counts in setup_s
    info = workloads.setup(wl, args.seed)
    t0 = time.perf_counter()
    spark = build_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        passes = Passes(wl, spark)
        t = time.perf_counter()
        warm = passes.one(collect=True)
        # the pass's own wall; its check is not set-up
        warmup_s = warm[0] if warm is not None else time.perf_counter() - t
        setup_s = info["materialize_s"] + session_s + warmup_s
        notes.append(
            f"input: {info['rows']} rows, {info['bytes']} bytes; setup {setup_s:.2f} s ="
            f" input write {info['materialize_s']:.2f} + session {session_s:.2f} + warm-up pass {warmup_s:.2f}"
            f" (expected outputs computed before, in {info['oracle_s']:.2f} s)"
        )
        if warm is None:
            notes.append("warm-up pass failed")
        if not args.trace:
            passes.timed(args.seconds)
            layer = None
        else:
            from tracing import Tracer, codegen_fallbacks, install, parse_log, read_events, reduce

            tracer = Tracer(spark.sparkContext)
            install(tracer)
            walls = passes.timed(args.seconds, tracer=tracer)
        plain = ", ".join(f"{w:.3f} s ({100.0 * st:.1f}% of CPU time stolen)" for w, st in zip(passes.walls, passes.steal))
        notes.append(f"plain timed passes: {plain}")
    finally:
        host.stop_spark(spark)
    if args.trace:
        tracer.dump(os.path.join(work, "spans.json"))
        layer = reduce(tracer.spans, parse_log(read_events(os.path.join(work, "events"))), SHUFFLE_SPANS, LAYER_SPANS)
        layer["session.build_s"] = session_s
        layer["synth.materialize_s"] = info["materialize_s"]
        layer["run.codegen_fallbacks"] = float(codegen_fallbacks(log.path))
        layer["trace_overhead_s"] = stats.median(walls[True]) - stats.median(walls[False])
    tail, tail_label = stats.tail(passes.walls)
    wall_s = stats.median(passes.walls)
    e2e = {
        "wall_s": wall_s,
        "docs_per_s": wl.n_docs / wall_s if wall_s else 0.0,
        "setup_s": setup_s,
        "spark_jobs": float(stats.median(passes.jobs)),
    }
    f1 = [c["keep_f1"] for c in passes.checks if "keep_f1" in c]
    # printed, not a JSON metric: a run has too few passes for a tail
    notes.append(f"wall_s_tail = {tail:.6g} s, the {tail_label} timed pass walls")
    notes.append(f"spark_jobs per pass {passes.jobs}")
    if f1:
        notes.append(f"keep_f1 = {min(f1):.6f} (min over {len(f1)} checked passes; gate >= {wl.keep_f1_min})")
    notes.append(f"failed_frac = {passes.failed / passes.attempted:.4f} ({passes.failed}/{passes.attempted} passes)")
    return e2e, layer, notes, passes


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "webdq")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: webdq sources not found in {ROOT}", file=sys.stderr)
        return 2
    import host

    others = host.wait_for_exclusive(timeout_s=60.0)
    if others:
        print("perfbench: another benchmark is running, refusing to start:\n  " + "\n  ".join(others), file=sys.stderr)
        return 3
    cores = host.pin_cores(CORES)
    if len(cores) < CORES:
        print(f"perfbench: needs {CORES} cores, has {len(cores)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    log = host.StderrToFile(os.path.join(work, "driver.log"))
    try:
        with host.RssSampler() as rss:
            with log:
                e2e, layer, notes, passes = run(args, work, log)
        e2e["peak_rss_mb"] = rss.peak / 1e6
        correct = passes.failed == 0 and passes.attempted > 0
        if not correct:
            print(log.tail(), file=sys.stderr)
    except BaseException:
        print(log.tail(), file=sys.stderr)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: run took {time.perf_counter() - t_start:.1f} s")
    for line in notes:
        print("  " + line)
    for k, unit in END_TO_END.items():
        print(f"  {k} = {e2e[k]:.6g} {unit}")
    units = END_TO_END if not args.trace else _per_layer()
    values = e2e if not args.trace else layer
    if args.trace:
        for k, unit in units.items():
            print(f"  {k} = {values.get(k, 0.0):.6g} {unit}")
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": passes.attempted, "failed": passes.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
