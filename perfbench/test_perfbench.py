"""Self-tests of the benchmark's own logic: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os

import pytest

import stats
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))


def test_self_time_subtracts_only_child_coverage():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1: union 1..6
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild: not subtracted from 0
        {"id": 4, "parent": 0, "start": 9.5, "end": 12.0},  # runs past its parent: clipped
    ]
    self_s = stats.self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 5.0 - 0.5)
    assert self_s[1] == pytest.approx(2.0)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[3] == pytest.approx(1.0)


@pytest.mark.parametrize(
    "n, p", [(0, None), (10, None), (19, None), (20, 50), (21, 52), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (1 - p / 100) >= 10 - 1e-9
        assert n * (1 - (p + 1) / 100) < 10


def test_tail_falls_back_to_max_and_labels_it():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    v, label = stats.tail([float(i) for i in range(1, 21)])
    assert label == "p50 of 20" and v == pytest.approx(10.5)


def _event_log() -> list[dict]:
    """Two traced passes of one job-bearing span each, in Spark's event
    JSON field names (times in ms); pass 2 ends with a failed task."""
    plan = {
        "nodeName": "ArrowEvalPython",
        "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 11, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 12, "metricType": "size"},
            {"name": "number of output rows", "accumulatorId": 13, "metricType": "sum"},
            {"name": "time to initialize Python workers", "accumulatorId": 14, "metricType": "timing"},
        ],
        "children": [{"nodeName": "Scan parquet", "metrics": [{"name": "number of output rows", "accumulatorId": 15}]}],
    }

    def task(stage, run_ms, failed=False, acc=()):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Failed": failed, "Accumulables": [{"ID": i, "Update": u} for i, u in acc]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": 5,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 1_000_000,
            },
        }

    ev = [{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan}]
    for job, (span, t0, t1, stage) in enumerate([(1, 100_200, 100_700, 0), (3, 200_200, 200_500, 1)]):
        ev.append(
            {
                "Event": "SparkListenerJobStart",
                "Job ID": job,
                "Submission Time": t0,
                "Stage IDs": [stage],
                "Properties": {"spark.job.description": f"pb:{span}:pipeline.stage.features"},
            }
        )
        ev += [task(stage, ms, acc=[(11, 300), (12, 4_000_000), (13, 50), (14, 100), (15, 999)]) for ms in (100, 100, 400)]
        if job == 1:
            ev.append(task(stage, 10, failed=True))
        ev.append({"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t1})
    return ev


def test_reduce_event_log_fixture(tmp_path):
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    (log_dir / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in _event_log()) + "\n")
    spans = [
        {"id": 0, "name": "pass", "parent": None, "start": 100.0, "end": 101.0},
        {"id": 1, "name": "pipeline.stage.features", "parent": 0, "start": 100.1, "end": 100.8},
        {"id": 2, "name": "pass", "parent": None, "start": 200.0, "end": 201.0},
        {"id": 3, "name": "pipeline.stage.features", "parent": 2, "start": 200.1, "end": 200.6},
    ]
    log = tracing.parse_log(tracing.read_events(str(tmp_path)))
    m = tracing.reduce(spans, log, ["pipeline.stage.features"], {})
    assert m["run.jobs"] == 1 and m["pipeline.stage.features.jobs"] == 1
    # driver gap: pass 1 is 1.0 s with a 0.5 s job, pass 2 has a 0.3 s job
    assert m["run.driver_gap_s"] == pytest.approx((0.5 + 0.7) / 2)
    assert m["pipeline.stage.features.self_s"] == pytest.approx((0.7 + 0.5) / 2)
    assert m["run.span_coverage"] == pytest.approx((0.7 + 0.5) / 2)
    assert m["scorers.python_s"] == pytest.approx(0.9)
    assert m["scorers.to_python_mb"] == pytest.approx(12.0)
    assert m["scorers.rows"] == 150  # the scan's output rows are not the UDF's
    assert m["scorers.worker_init_s"] == pytest.approx(0.3)
    assert m["pipeline.stage.features.shuffle_write_mb"] == pytest.approx((6.0 + 8.0) / 2)
    assert m["pipeline.stage.features.spill_mb"] == pytest.approx((3.0 + 4.0) / 2)
    assert m["pipeline.stage.features.task_skew"] == pytest.approx(4.0)
    assert m["run.tasks_failed"] == pytest.approx(0.5)  # median over passes of 0 and 1


def test_generated_inputs_match_the_measured_fixture():
    """At sf0.1 the generator reproduces every statistic recorded from the
    sf0.1 fixture: within 5%, or within the sampling noise named here."""
    import fixture_stats
    import inputs

    got = fixture_stats.measure(inputs.sf_tables(seed=3, sf=0.1))
    noise = {
        "documents.exact_dup_share": 0.001,  # 7-8 of 5,000 documents
        "documents.en_share": 0.02,
        "embeddings.norm_err": 1e-6,  # float32 rounding
        "embeddings.centroid_z": 0.5,  # ~1 when isotropic, >> 1 around cluster centres
        "embeddings.label_centroid_z_max": 0.5,
        "embeddings.max_pair_cos": 0.1,
    }
    for k, want in fixture_stats.FIXTURE_SF01.items():
        assert got[k] == pytest.approx(want, rel=0.05, abs=noise.get(k, 0.0)), k


def test_benchmark_json_lists_the_metrics_run_py_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run._per_layer()
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_spark_jobs_repeat_exactly_across_two_passes(tmp_path):
    """The job count is a tracked metric only if it is a property of the
    code and input, not of timing."""
    import sys

    import host
    import run
    import workloads

    sys.path.insert(0, run.ROOT)
    (tmp_path / "tmp").mkdir()
    spark = run.build_session(str(tmp_path), trace=False)
    try:
        wl = workloads.PipelineSmall(str(tmp_path))
        wl.sf = 0.006  # 300 documents, 240 kept
        workloads.setup(wl, 7)
        passes = run.Passes(wl, spark)
        assert passes.one(collect=True) is not None
        jobs = [passes.one()[1] for _ in range(2)]
    finally:
        host.stop_spark(spark)
    # every pass ran to its check (the F1 gate is meant for the full-size
    # corpus, not for these 240 documents)
    assert len(passes.checks) == passes.attempted == 3
    assert jobs[0] == jobs[1] > 0
