"""asof_join / range_join semantics: equal-ts match, no-prior-row NULLs,
per-key isolation, and the [ts - lookback, ts) boundary half-openness."""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from model_audit_spark.operators.asof import asof_join, range_join


def _ts(spark, rows, schema="id BIGINT, k STRING, ts STRING, v DOUBLE"):
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_asof_backward_match_and_nulls(spark):
    left = _ts(spark, [
        (1, "a", "2026-01-01 00:10:00", 0.0),
        (2, "a", "2026-01-01 00:20:00", 0.0),
        (3, "b", "2026-01-01 00:05:00", 0.0),   # no prior right row
    ])
    right = _ts(spark, [
        (10, "a", "2026-01-01 00:10:00", 1.0),  # equal ts -> matches id 1
        (11, "a", "2026-01-01 00:15:00", 2.0),
        (12, "b", "2026-01-01 00:06:00", 3.0),  # after left id 3
    ])
    out = {
        r.id: (r.id_right, r.v_right)
        for r in asof_join(
            left, right, by="k", right_cols=("id", "v")
        ).collect()
    }
    assert out[1] == (10, 1.0)      # equal timestamp matches
    assert out[2] == (11, 2.0)      # latest prior, not first
    assert out[3] == (None, None)   # nothing at-or-before in group b


def test_asof_does_not_leak_across_keys(spark):
    left = _ts(spark, [(1, "a", "2026-01-01 01:00:00", 0.0)])
    right = _ts(spark, [(9, "b", "2026-01-01 00:00:00", 5.0)])
    row = asof_join(left, right, by="k", right_cols=("id",)).first()
    assert row.id_right is None


def test_range_join_half_open_boundary(spark):
    left = _ts(spark, [(1, "a", "2026-01-01 00:10:00", 0.0)])
    right = _ts(spark, [
        (20, "a", "2026-01-01 00:00:00", 1.0),  # == ts - 10m -> included
        (21, "a", "2026-01-01 00:05:00", 2.0),  # inside
        (22, "a", "2026-01-01 00:10:00", 3.0),  # == left ts -> excluded
        (23, "a", "2026-01-01 00:11:00", 4.0),  # after -> excluded
        (24, "b", "2026-01-01 00:05:00", 9.0),  # other key -> excluded
    ])
    got = sorted(
        r.id_right
        for r in range_join(
            left, right, by="k", lookback="10 minutes",
            right_cols=("id", "v"),
        ).collect()
    )
    assert got == [20, 21]


def test_funnel_greedy_subsequence(spark):
    from datetime import datetime

    from model_audit_spark.operators.asof import funnel_counts

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1 completes view -> click -> purchase in order
        (1, "view", t(1)), (1, "click", t(2)), (1, "purchase", t(3)),
        # user 2 clicks BEFORE viewing: click must not count
        (2, "click", t(1)), (2, "view", t(2)),
        # user 3 views then purchases with no click
        (3, "view", t(1)), (3, "purchase", t(2)),
        # user 4 never views
        (4, "purchase", t(1)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id int, event_type string, ts timestamp"
    )
    got = {
        r.step: r.n_users
        for r in funnel_counts(ev, ["view", "click", "purchase"]).collect()
    }
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_session_paths_hand_computed(spark):
    """One user, two sessions split by a >30min gap; path strings and
    counts by hand; a 6-event session truncates to 5 steps."""
    from datetime import datetime, timedelta

    from model_audit_spark.operators.threads import session_paths

    t0 = datetime(2024, 1, 1, 8, 0, 0)
    rows = []
    # session 1: view > click (1-min spacing)
    rows.append((1, t0, 7, "view"))
    rows.append((2, t0 + timedelta(minutes=1), 7, "click"))
    # session 2 (2h later): six events -> truncated to first 5
    t1 = t0 + timedelta(hours=2)
    for i, et in enumerate(
        ["view", "view", "click", "purchase", "view", "error"]
    ):
        rows.append((10 + i, t1 + timedelta(minutes=i), 7, et))
    # second user: view > click too (path count becomes 2)
    rows.append((30, t0, 8, "view"))
    rows.append((31, t0 + timedelta(minutes=1), 8, "click"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = [
        (r.rank, r.path, r.n_sessions)
        for r in session_paths(df).orderBy("rank").collect()
    ]
    assert got == [
        (1, "view>click", 2),
        (2, "view>view>click>purchase>view", 1),
    ]


def test_session_paths_rejects_non_positive_max_steps(spark):
    """max_steps < 1 raises at entry instead of silently filtering out
    every session."""
    from model_audit_spark.operators.threads import session_paths

    df = spark.createDataFrame(
        [(1, None, 7, "view")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_steps"):
            session_paths(df, max_steps=bad)


def test_burstiness_periodic_vs_bursty(spark):
    from pyspark.sql import functions as F

    from model_audit_spark.operators.threads import burstiness_profile

    rows = []
    # periodic: exact 10 s cadence -> sigma 0 -> B = -1
    for i in range(6):
        rows.append((i, 1, "periodic", f"2024-01-01 00:00:{10*i:02d}"))
    # bursty: gaps 1,1,1,1,116 s -> high variance -> B > 0
    ts = [0, 1, 2, 3, 4, 120]
    for j, t in enumerate(ts):
        rows.append((100 + j, 2, "bursty", f"2024-01-01 00:{t//60:02d}:{t%60:02d}"))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.event_type: r for r in burstiness_profile(ev).collect()}
    p = out["periodic"]
    assert p.n_intervals == 5 and p.mean_gap_s == 10.0
    assert p.burstiness == -1.0
    b = out["bursty"]
    assert b.n_intervals == 5 and b.burstiness > 0.3
