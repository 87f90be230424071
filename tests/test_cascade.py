"""cascade.py: first-trip attribution, per-stage accounting, reserved
names."""

import pytest
from pyspark.sql import functions as F

from webdq import cascade


def _rules():
    return [
        ("too_short", F.col("n") < 3),
        ("too_long", F.col("n") > 8),
        ("bad_ratio", F.col("r") < 0.5),
    ]


def _df(spark):
    rows = [
        (1, 2, 0.9),   # too_short
        (2, 2, 0.1),   # too_short AND bad_ratio -> attributed too_short
        (3, 9, 0.9),   # too_long
        (4, 5, 0.4),   # bad_ratio
        (5, 5, 0.9),   # kept
        (6, 6, 0.8),   # kept
    ]
    return spark.createDataFrame(rows, "id long, n long, r double")


def test_cascade_stats_and_filter(spark):
    df = _df(spark)
    stats = {r["stage"]: r for r in cascade.cascade_stats(df, _rules()).collect()}
    assert stats["too_short"]["n_dropped"] == 2       # first-trip attribution
    assert stats["too_long"]["n_dropped"] == 1
    assert stats["bad_ratio"]["n_dropped"] == 1
    assert stats["kept"]["n_dropped"] == 0
    # running remainders
    assert stats["too_short"]["n_remaining"] == 4
    assert stats["too_long"]["n_remaining"] == 3
    assert stats["bad_ratio"]["n_remaining"] == 2
    assert stats["kept"]["n_remaining"] == 2
    assert [r["stage_idx"] for r in sorted(stats.values(), key=lambda x: x["stage_idx"])] == [0, 1, 2, 3]
    # rule that drops nothing still appears with zero count
    stats2 = {
        r["stage"]: r
        for r in cascade.cascade_stats(
            df, [("never", F.col("n") > 100)] + _rules()
        ).collect()
    }
    assert stats2["never"]["n_dropped"] == 0
    assert stats2["never"]["n_remaining"] == 6


def test_cascade_arg_guards(spark):
    df = _df(spark)
    with pytest.raises(ValueError):
        cascade.cascade_stats(df, [])
    with pytest.raises(ValueError):
        cascade.cascade_stats(df, [("a", F.col("n") < 3), ("a", F.col("n") > 8)])
    with pytest.raises(ValueError):
        cascade.cascade_stats(df, [("kept", F.col("n") < 3)])
