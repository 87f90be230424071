"""Bucketed interval join vs a naive inequality join + sessionize
reference (webdq.rangejoin)."""

import datetime

import pytest

import numpy as np
from pyspark.sql import functions as F

from webdq.rangejoin import interval_join, sessionize

BASE = datetime.datetime(2024, 1, 1)


def _events(seed=5, n=400):
    rng = np.random.RandomState(seed)
    secs = np.sort(rng.randint(0, 200_000, size=n))
    return [
        (int(i), BASE + datetime.timedelta(seconds=int(s), microseconds=int(rng.randint(0, 1_000_000))))
        for i, s in enumerate(secs)
    ]


def _intervals(seed=9, n=60):
    rng = np.random.RandomState(seed)
    out = []
    for i in range(n):
        s = int(rng.randint(0, 200_000))
        out.append(
            (
                int(1000 + i),
                BASE + datetime.timedelta(seconds=s),
                BASE + datetime.timedelta(seconds=s + int(rng.randint(0, 3000))),
            )
        )
    # one inverted interval (end < start): must match nothing
    out.append((2000, BASE + datetime.timedelta(seconds=500), BASE))
    return out


def test_interval_join_matches_naive(spark):
    ev = _events()
    iv = _intervals()
    evdf = spark.createDataFrame(ev, "event_id long, ts timestamp_ntz").repartition(7)
    ivdf = spark.createDataFrame(iv, "iv_id long, start timestamp_ntz, end timestamp_ntz")
    got = {
        (r["event_id"], r["iv_id"])
        for r in interval_join(
            evdf, ivdf, ts_col="ts", start_col="start", end_col="end", bucket_width_s=700.0
        ).collect()
    }
    want = {
        (eid, ivid) for eid, ts in ev for ivid, s, e in iv if s <= ts <= e
    }
    assert got == want
    assert all(ivid != 2000 for _, ivid in got)  # inverted interval empty


def test_interval_join_boundary_inclusive(spark):
    t0 = BASE
    t1 = BASE + datetime.timedelta(seconds=600)
    evdf = spark.createDataFrame(
        [(1, t0), (2, t1), (3, t1 + datetime.timedelta(microseconds=1))],
        "event_id long, ts timestamp_ntz",
    )
    ivdf = spark.createDataFrame([(10, t0, t1)], "iv_id long, start timestamp_ntz, end timestamp_ntz")
    got = sorted(
        r["event_id"]
        for r in interval_join(
            evdf, ivdf, ts_col="ts", start_col="start", end_col="end", bucket_width_s=600.0
        ).collect()
    )
    assert got == [1, 2]  # closed on both ends, exclusive past end


def test_interval_join_equi_keys_and_span_guard(spark):
    ev = [(1, 7, BASE + datetime.timedelta(seconds=100)), (2, 8, BASE + datetime.timedelta(seconds=100))]
    iv = [
        (10, 7, BASE, BASE + datetime.timedelta(seconds=500)),
        # same time range, other user: must not match event 1
        (11, 8, BASE, BASE + datetime.timedelta(seconds=500)),
    ]
    evdf = spark.createDataFrame(ev, "event_id long, user long, ts timestamp_ntz")
    ivdf = spark.createDataFrame(iv, "iv_id long, user long, start timestamp_ntz, end timestamp_ntz")
    got = {
        (r["event_id"], r["iv_id"])
        for r in interval_join(
            evdf, ivdf, ts_col="ts", start_col="start", end_col="end",
            bucket_width_s=600.0, on=["user"],
        ).collect()
    }
    assert got == {(1, 10), (2, 11)}


def test_sessionize_matches_naive(spark):
    rng = np.random.RandomState(11)
    rows = []
    eid = 0
    for u in range(5):
        t = 0
        for _ in range(rng.randint(5, 40)):
            t += int(rng.choice([30, 300, 2000, 5000]))
            rows.append((eid, u, BASE + datetime.timedelta(seconds=t)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz").repartition(5)
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(df, key_col="user_id", ts_col="ts", gap_s=1800.0, order_cols=["event_id"]).collect()
    }
    # naive per-user replay
    want = {}
    by_user: dict[int, list] = {}
    for eid_, u, ts in rows:
        by_user.setdefault(u, []).append((ts, eid_))
    for u, evs in by_user.items():
        evs.sort()
        prev, sess = None, 0
        for ts, eid_ in evs:
            if prev is None or (ts - prev).total_seconds() > 1800.0:
                sess += 1
            want[eid_] = sess
            prev = ts
    assert got == want


def test_interval_join_zero_width_raises(spark):
    # ADVICE r4: sub-microsecond widths floored to w_us == 0 and died
    # with an opaque divide-by-zero — loud ValueError instead
    rows = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "id long, ts string")
    iv = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00")], "t0 string, t1 string"
    )
    with pytest.raises(ValueError, match="microsecond"):
        interval_join(rows, iv, "ts", "t0", "t1", bucket_width_s=1e-9)


def test_bbox_join_matches_naive(spark):
    import random

    from webdq.rangejoin import bbox_join

    rng = random.Random(7)
    pts = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(300)]
    boxes = [
        (j, *(sorted((rng.uniform(0, 100), rng.uniform(0, 100)))), 0.0, 0.0)
        for j in range(40)
    ]
    # rebuild boxes with independent y ranges
    boxes = []
    for j in range(40):
        x0, x1 = sorted((rng.uniform(0, 100), rng.uniform(0, 100)))
        y0, y1 = sorted((rng.uniform(0, 100), rng.uniform(0, 100)))
        boxes.append((j, x0, x1, y0, y1))
    p = spark.createDataFrame(pts, "pid long, x double, y double")
    b = spark.createDataFrame(boxes, "bid long, xmin double, xmax double, ymin double, ymax double")
    got = {
        (r["pid"], r["bid"])
        for r in bbox_join(p, b, "x", "y", cell_w=13.0, cell_h=17.0).collect()
    }
    want = {
        (i, j)
        for (i, x, y) in pts
        for (j, x0, x1, y0, y1) in boxes
        if x0 <= x <= x1 and y0 <= y <= y1
    }
    assert got == want and len(want) > 100


def test_bbox_join_boundary_inclusive_and_degenerate(spark):
    from webdq.rangejoin import bbox_join

    p = spark.createDataFrame([(1, 10.0, 20.0)], "pid long, x double, y double")
    b = spark.createDataFrame(
        [
            (1, 10.0, 10.0, 20.0, 20.0),   # zero-area box exactly on the point
            (2, 0.0, 10.0, 0.0, 20.0),     # point on the max edges
            (3, 10.0, 30.0, 20.0, 40.0),   # point on the min edges
            (4, 11.0, 9.0, 0.0, 40.0),     # inverted x range: matches nothing
        ],
        "bid long, xmin double, xmax double, ymin double, ymax double",
    )
    got = sorted(
        r["bid"] for r in bbox_join(p, b, "x", "y", cell_w=5.0, cell_h=5.0).collect()
    )
    assert got == [1, 2, 3]


def test_bbox_join_span_guard_and_bad_cell(spark):
    from webdq.rangejoin import bbox_join

    p = spark.createDataFrame([(1, 50.0, 50.0)], "pid long, x double, y double")
    b = spark.createDataFrame(
        [(1, 0.0, 100.0, 0.0, 100.0), (2, 49.0, 51.0, 49.0, 51.0)],
        "bid long, xmin double, xmax double, ymin double, ymax double",
    )
    got = [
        r["bid"]
        for r in bbox_join(p, b, "x", "y", cell_w=2.0, cell_h=2.0, max_span_cells=100).collect()
    ]
    assert got == [2]  # the 51x51-cell box is dropped by the guard
    with pytest.raises(ValueError, match="cell_w"):
        bbox_join(p, b, "x", "y", cell_w=0.0)
