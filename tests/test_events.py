"""functions/events.py — tumbling windows + sessionization gates.

Value-level equivalence vs the DuckDB twins is covered end-to-end by
test_entry_oracle (event_window_stats / user_sessions); here: session
semantics on a hand-built timeline, and the scale contract that
sessionize plans NO SinglePartition exchange (its windows are
partitioned by user — the length_deciles lesson, test_ranking.py:60).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from dude_spark.functions.events import sessionize, tumbling_window_stats

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, rows):
    pdf = pd.DataFrame(
        [
            {
                "event_id": i,
                "ts": T0 + dt.timedelta(seconds=s),
                "user_id": u,
                "event_type": et,
                "value": v,
            }
            for i, (u, s, et, v) in enumerate(rows)
        ]
    )
    return spark.createDataFrame(pdf).repartition(5)


def test_sessionize_gap_semantics(spark):
    rows = [
        # user 1: two events 29m59s apart (one session), then a gap of
        # exactly 30m (same session — strictly-greater contract), then
        # 30m + 1us (new session)
        (1, 0, "a", 1.0),
        (1, 1799, "a", 1.0),
        (1, 1799 + 1800, "a", 1.0),
        (1, 1799 + 1800 + 1800.000001, "a", 1.0),
        # user 2: single event
        (2, 50, "b", 2.5),
    ]
    out = sessionize(_events(spark, rows), gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    assert len(per_user[1]) == 2
    sizes = sorted(r["n_events"] for r in per_user[1])
    assert sizes == [1, 3]
    assert len(per_user[2]) == 1
    assert per_user[2][0]["sum_value_x100"] == 250


def test_sessionize_plans_no_single_partition(spark):
    df = _events(spark, [(u, u * 7, "a", 1.0) for u in range(200)])
    plan = (
        sessionize(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan


def test_sessionize_bucketed_equals_plain(spark):
    """Time-sliced sessionize ≡ plain per-user windows, including
    sub-second boundaries, sessions spanning bucket edges, chain
    merges across EMPTY buckets, and a tiny bucket (every session
    crosses many bucket edges)."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for u in range(6):
        t = float(rng.randint(0, 3600))
        for _ in range(rng.randint(30, 80)):
            # gaps straddle the 30-min threshold, some sub-second
            t += float(rng.choice(
                [1, 59, 600, 1799.999999, 1800.000001, 5400, 12000]
            ))
            rows.append((u, t, "a", float(rng.randint(0, 10)) / 4))
    df = _events(spark, rows)
    want = {
        (r["user_id"], r["session_start"], r["n_events"], r["sum_value_x100"])
        for r in sessionize(df).collect()
    }
    for bucket in (60, 3600, 86400):
        got = {
            (r["user_id"], r["session_start"], r["n_events"],
             r["sum_value_x100"])
            for r in sessionize(df, bucket_seconds=bucket).collect()
        }
        assert got == want, f"bucket_seconds={bucket}"


def test_sessionize_hot_user_bounded(spark, monkeypatch):
    """Planted single-user 10^6-event history: the bucketed path's
    event-level windows partition on (user, bucket) — no window task
    receives the full user (plan-asserted) — and the cross-bucket
    stitch still reproduces the exact 4 planted sessions."""
    import re

    from pyspark.sql import functions as F

    n, seg = 1_000_000, 125_000
    base = 1_700_000_000
    # two 500k-event hot users (a LITERAL user id would be constant-
    # folded out of the window partition spec and defeat the assert)
    j = F.floor(F.col("id") / 2)
    ev = (
        spark.range(n)
        .select(
            (F.col("id") % 2).alias("user_id"),
            F.timestamp_seconds(
                F.lit(base) + j * 5 + F.floor(j / seg) * 10_000
            ).alias("ts"),
            F.lit(1.0).alias("value"),
        )
    )
    from dude_spark.functions import events as events_mod

    # plan shape with pinning off (a pin truncates the visible plan to
    # a Scan ExistingRDD): event-level windows must slice by (_u, _b) —
    # a spec partitioned by _u alone and ordered by _ats would stream
    # the whole user through one task (the plain path's shape)
    with monkeypatch.context() as m:
        m.setattr(events_mod, "pin", lambda df, eager=True: df)
        plan = (
            sessionize(ev, 30, "ts", "user_id", "value", 3600)
            ._jdf.queryExecution().executedPlan().toString()
        )
    assert not re.search(r"windowspecdefinition\(_u#\d+L?, _ats", plan), plan
    assert re.search(r"windowspecdefinition\(_u#\d+L?, _b#\d+L?, _ats", plan)
    out = sessionize(ev, bucket_seconds=3600)
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"], r["sum_value_x100"])
        for r in out.collect()
    )
    want = sorted(
        (u, base + k * seg * 5 + k * 10_000, seg, seg * 100)
        for u in (0, 1)
        for k in range(4)
    )
    assert got == want


def test_tumbling_window_day_boundaries(spark):
    rows = [
        (1, 10, "a", 1.0),               # day 0
        (2, 86399, "a", 2.0),            # day 0, last second
        (3, 86400, "a", 4.0),            # day 1, first second
        (1, 86400 * 2 + 5, "b", 8.0),    # day 2, other type
    ]
    out = tumbling_window_stats(_events(spark, rows)).collect()
    by_key = {(r["win_start"], r["event_type"]): r for r in out}
    epoch0 = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert by_key[(epoch0, "a")]["n_events"] == 2
    assert by_key[(epoch0, "a")]["n_users"] == 2
    assert by_key[(epoch0, "a")]["sum_value_x100"] == 300
    assert by_key[(epoch0 + 86400, "a")]["n_events"] == 1
    assert by_key[(epoch0 + 2 * 86400, "b")]["sum_value_x100"] == 800


def test_sliding_window_membership_and_boundaries(spark):
    """An event lands in exactly window/slide overlapping windows; an
    event at an exact window END is excluded from that window (strict
    upper bound) but starts the next one."""
    from dude_spark.functions.events import sliding_window_stats

    rows = [
        # 1970-01-02 00:00:00 exactly: multiple of both slide and window
        (1, "1970-01-02 00:00:00", 7, "a", 1.0),
        # mid-window event
        (2, "1970-01-02 03:00:00", 8, "a", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["win_start"], r["n_events"])
        for r in sliding_window_stats(df, "1 day", "6 hours").collect()
    }
    day = 86400
    h6 = 21600
    starts_e1 = {day - 3 * h6 + i * h6 for i in range(4)}  # (t-L, t] multiples
    # event 1 at t=86400: windows starting 21600..86400 (NOT 0: 0+L = t is excluded)
    assert {s for s, _ in out} == starts_e1 | {day + 0}  # e2's extra window? no:
    # e2 at t=97200 (1d+3h): starts in (10800, 97200] -> 21600..86400 too
    # so both events share windows 21600..86400; window 86400 holds both
    assert (day, 2) in out
    assert (0, 1) not in out  # strict end-boundary exclusion
