"""Event-stream aggregation surface: tumbling windows + sessionization.

The shapes a training-data/telemetry pipeline runs over timestamped
event tables (the driver's `events` table), built scale-first:

  tumbling_window_stats   groupBy(window(ts), key) — a plain hash
                          aggregate with map-side combine; the batch
                          twin of a Structured-Streaming windowed agg
                          (readStream + same expression + watermark).
  sessionize              gap-based session assignment via
                          lag/cumsum windows PARTITIONED BY USER —
                          each user's event sequence is one partition,
                          so there is no global-order window anywhere
                          (the length_deciles lesson); skew is bounded
                          by the hottest single user, and the session
                          id is deterministic (first event's epoch).
  asof_join               most-recent-prior match per key (the
                          attribution / point-in-time-correct join
                          Spark has no operator for): union-tag +
                          per-key carry-forward, with an optional
                          TIME-SLICED variant that bounds every window
                          task by (key, bucket) instead of the hottest
                          key's full history.
  range_pairs             interval self-join (pairs of same-key events
                          within a gap) via gap-width time binning —
                          two equi-join probes per row, never a
                          per-key cartesian.

Outputs are integers (epoch seconds, counts, value sums pre-rounded
per event to ×100 longs) so the DuckDB oracle twins hash exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin


def value_x100(value: Column) -> Column:
    """Per-EVENT integerization of a 2-decimal double (×100, round,
    long) — rounding before the sum keeps cross-engine float summation
    order out of the result entirely."""
    return F.round(value * 100).cast("long")


def _window_stats(
    events: DataFrame, w: Column, key_col: str, user_col: str, value_col: str
) -> DataFrame:
    """The shared (window, key) hash aggregate behind tumbling and
    sliding stats — partial map-side combine, no window functions."""
    return (
        events.groupBy(w.alias("win"), F.col(key_col))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct(user_col).cast("long").alias("n_users"),
            F.sum(value_x100(F.col(value_col))).cast("long").alias("sum_value_x100"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).cast("long").alias("win_start"),
            key_col,
            "n_events",
            "n_users",
            "sum_value_x100",
        )
    )


def tumbling_window_stats(
    events: DataFrame,
    window: str = "1 day",
    ts_col: str = "ts",
    key_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per (tumbling window, key): event count, distinct users, and
    per-event-rounded value sum.  One hash aggregate — partial
    map-side combine, no window functions; identical expression works
    under readStream with a watermark."""
    return _window_stats(
        events, F.window(F.col(ts_col), window), key_col, user_col, value_col
    )


def sliding_window_stats(
    events: DataFrame,
    window: str = "1 day",
    slide: str = "6 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per (sliding window, key) stats: each event lands in every
    epoch-aligned window of length ``window`` starting at a multiple
    of ``slide`` that covers it.  Spark's window generator replicates
    the event MAP-SIDE into its window/slide overlapping windows, then
    the same single hash aggregate as tumbling runs — so the scale
    cost is exactly the overlap factor (4 at 1 day / 6 hours), chosen
    explicitly by the caller, never a hidden blowup."""
    return _window_stats(
        events,
        F.window(F.col(ts_col), window, slide),
        key_col,
        user_col,
        value_col,
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    to the previous event of the SAME user exceeds ``gap_minutes``.
    Returns one row per session: (user, session_start epoch seconds,
    n_events, sum_value_x100).

    Plain path (``bucket_seconds=None``): lag + running-sum windows
    partitioned by user — per-user task locality, no SinglePartition
    exchange.  The per-user window streams ALL of one user's events
    through one task, so a bot identity with 10^9 events is a
    straggler/spill at 10^12-event scale — the same hot-key failure
    class ``asof_join`` bounds with its time-sliced path.

    ``bucket_seconds`` bounds it with the SAME summary-carry shape:

    1. events slice into (user, time-bucket) window partitions; gap
       detection + a local running session index run inside each slice
       — no task ever sees more than one key-bucket of rows;
    2. local sessions reduce to one row each (min ts, count, value
       sum) — a combinable aggregate;
    3. per (user, bucket) a 3-long summary (first ts, last ts, #local
       sessions) feeds a per-user window over the SUMMARY frame
       (#buckets rows per user, never #events): a bucket whose first
       event is within ``gap_minutes`` of the previous non-empty
       bucket's last event MERGES its first local session into that
       bucket's last (lag), and a running offset of
       (#local − merged) renumbers local → global session ids in
       closed form — chains of merges across empty buckets compose
       through the offsets;
    4. one final (user, global-session) combinable aggregate.

    Semantics are IDENTICAL to the plain path (the driver query
    ``user_sessions`` runs the bucketed path against the plain-SQL
    oracle, hash-green); full-precision microsecond timestamp
    comparisons in both (second-truncating epoch arithmetic would
    disagree with any oracle at sub-second boundaries).  Pick
    ``bucket_seconds`` ≫ the gap (e.g. hours vs a 30-minute gap) so
    merges stay rare; correctness never depends on the choice.
    """
    ts = F.col(ts_col).cast("timestamp")
    gap = F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
    if bucket_seconds is None:
        # order by the CAST column: ordering and gap arithmetic must
        # see the same chronology (a raw string ts_col would sort
        # lexicographically — '2024-9…' > '2024-10…' — and lag() would
        # pick the wrong previous event)
        per_user = Window.partitionBy(user_col).orderBy(ts)
        prev = F.lag(ts).over(per_user)
        new_sess = F.when(
            prev.isNull() | (ts > prev + gap), F.lit(1)
        ).otherwise(F.lit(0))
        with_sess = events.withColumn("_new", new_sess).withColumn(
            "_sess",
            F.sum("_new").over(
                per_user.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        return (
            with_sess.groupBy(user_col, "_sess")
            .agg(
                F.unix_timestamp(F.min(ts)).cast("long").alias("session_start"),
                F.count("*").cast("long").alias("n_events"),
                F.sum(value_x100(F.col(value_col))).cast("long").alias(
                    "sum_value_x100"
                ),
            )
            .select(
                F.col(user_col).cast("long").alias(user_col),
                "session_start",
                "n_events",
                "sum_value_x100",
            )
        )

    bucket_us = int(bucket_seconds) * 1_000_000
    ev = (
        events.select(
            F.col(user_col).alias("_u"),
            ts.alias("_ats"),
            value_x100(F.col(value_col)).alias("_vx"),
        )
        .withColumn(
            "_b", F.floor(F.unix_micros(F.col("_ats")) / F.lit(bucket_us))
        )
    )
    # gap detection + local session index WITHIN each (user, bucket)
    # slice — task size bounded by the bucket, not the user's history
    wub = Window.partitionBy("_u", "_b").orderBy("_ats")
    prev = F.lag("_ats").over(wub)
    ev = ev.withColumn(
        "_new",
        F.when(
            prev.isNull() | (F.col("_ats") > prev + gap), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_ls",
        F.sum("_new").over(
            wub.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # ONE event pass: the local-session reduction; the (user, bucket)
    # window's hash partitioning already clusters (_u, _b, _ls) groups,
    # so this aggregate adds no exchange.  The bucket summary below
    # derives from THIS frame (agg-of-agg over #sessions rows), so the
    # raw events are never read twice.
    loc = ev.groupBy("_u", "_b", "_ls").agg(
        F.min("_ats").alias("_s_start"),
        F.max("_ats").alias("_s_end"),
        F.count("*").alias("_n"),
        F.sum("_vx").alias("_v"),
    )
    # two consumers (bucket summary + final join) — lazy pin of the
    # SMALL per-session frame so the event windows run once
    loc = pin(loc, eager=False)
    summ = loc.groupBy("_u", "_b").agg(
        F.min("_s_start").alias("_bmin"),
        F.max("_s_end").alias("_bmax"),
        F.count("*").alias("_nls"),
    )
    # SUMMARY-frame windows: #buckets rows per user, never #events
    ws = Window.partitionBy("_u").orderBy("_b")
    prev_max = F.lag("_bmax").over(ws)
    summ = summ.withColumn(
        "_mrg",
        F.when(
            prev_max.isNotNull() & (F.col("_bmin") <= prev_max + gap),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_off",
        F.coalesce(
            F.sum(F.col("_nls") - F.col("_mrg")).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    keyed = loc.join(summ.select("_u", "_b", "_mrg", "_off"), ["_u", "_b"])
    return (
        keyed.withColumn("_gid", F.col("_off") + F.col("_ls") - F.col("_mrg"))
        .groupBy("_u", "_gid")
        .agg(
            F.unix_timestamp(F.min("_s_start")).cast("long").alias(
                "session_start"
            ),
            F.sum("_n").cast("long").alias("n_events"),
            F.sum("_v").cast("long").alias("sum_value_x100"),
        )
        .select(
            F.col("_u").cast("long").alias(user_col),
            "session_start",
            "n_events",
            "sum_value_x100",
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    prefix: str = "r_",
    bucket_seconds: int | None = None,
) -> DataFrame:
    """As-of join: attach to every LEFT row the most recent RIGHT row
    of the same key with ``right.ts <= left.ts`` (inclusive — a right
    event at exactly the left's timestamp matches).  Ties on ts resolve
    to the largest ``id_col`` — a total, engine-independent order, so a
    SQL oracle (``ORDER BY ts DESC, id DESC LIMIT 1``) agrees exactly.

    Spark has no native as-of operator; a naive range join is
    O(|left|·|right|) per key.  This is the union-tag formulation:
    tag rights 0 / lefts 1, sort per key by (ts, side, id) — side
    places a same-instant right BEFORE the left that should see it —
    and carry the last right payload forward with
    ``last(ignorenulls)``.  One keyed shuffle, no join at all.

    Scale: the plain path sorts each key's full history in one window
    task — fine when per-key volume is bounded (human users), a
    straggler for bot keys at 10^12 events.  ``bucket_seconds`` bounds
    that: rows slice into (key, time-bucket) window partitions, each
    bucket also aggregates its LAST right row (a combinable max-struct
    agg), a per-key window over the tiny bucket-summary frame carries
    the previous buckets' last right into each bucket, and the final
    match is coalesce(local carry, previous-bucket carry).  No task
    ever sees more than one key-bucket of rows; the cross-bucket
    window handles #buckets rows per key, not #events.

    Returns all LEFT columns plus the RIGHT's non-key columns renamed
    ``{prefix}<name>`` (null where no prior right event exists).
    """
    r_payload = [c for c in right.columns if c != on]
    r = right.select(
        F.col(on),
        F.col(ts_col).alias("_ats"),
        F.lit(0).alias("_side"),
        F.col(id_col).alias("_aid"),
        F.struct(*[F.col(c) for c in r_payload]).alias("_rv"),
    )
    l = left.select(
        F.col(on),
        F.col(ts_col).alias("_ats"),
        F.lit(1).alias("_side"),
        F.col(id_col).alias("_aid"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lv"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    order = [F.col("_ats"), F.col("_side"), F.col("_aid")]
    if bucket_seconds is None:
        w = (
            Window.partitionBy(on)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = u.withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
    else:
        bucket_us = int(bucket_seconds) * 1_000_000
        u = u.withColumn(
            "_b", F.floor(F.unix_micros(F.col("_ats").cast("timestamp")) / bucket_us)
        )
        # carry WITHIN each (key, bucket) slice — task size is bounded
        # by the bucket, not the key's history
        wl = (
            Window.partitionBy(on, "_b")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        u = u.withColumn("_ml", F.last("_rv", ignorenulls=True).over(wl))
        # last right per (key, bucket): combinable agg — (_ats, _aid)
        # is unique per right row, so the struct max never compares _rv
        bucket_last = (
            u.where(F.col("_side") == 0)
            .groupBy(on, "_b")
            .agg(F.max(F.struct("_ats", "_aid", "_rv")).alias("_bl"))
        )
        # previous buckets' last right, carried across the SUMMARY
        # frame (#buckets rows per key, never #events)
        wb = Window.partitionBy(on).orderBy("_b").rowsBetween(
            Window.unboundedPreceding, -1
        )
        carry = (
            u.select(on, "_b")
            .distinct()
            .join(bucket_last, [on, "_b"], "left")
            .withColumn("_prev", F.last("_bl", ignorenulls=True).over(wb))
            .select(on, "_b", F.col("_prev._rv").alias("_pv"))
        )
        matched = u.join(carry, [on, "_b"]).withColumn(
            "_m", F.coalesce(F.col("_ml"), F.col("_pv"))
        )
    return matched.where(F.col("_side") == 1).select(
        F.col("_lv.*"),
        *[F.col(f"_m.{c}").alias(prefix + c) for c in r_payload],
    )


def range_pairs(
    events: DataFrame,
    gap_seconds: int = 1800,
    on: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Interval self-join: all pairs of same-key events at most
    ``gap_seconds`` apart, each pair exactly once, oriented
    chronologically (``a`` strictly before ``b`` by (ts, id)).

    Spark plans an inequality self-join as a per-key cartesian; the
    scale-correct shape is gap-width time BINNING: with bins of
    exactly the gap, a qualifying partner is always in the anchor's
    own bin or the next one, so each anchor probes two equi-join keys
    — (key, bin) and (key, bin+1) — and the inequality filter runs
    AFTER a hash join, never inside a nested loop.  The two probe
    cases are disjoint (a partner's bin is one of the two, never
    both), so no dedup pass is needed.

    Skew note: output cardinality is inherently quadratic in
    per-(key, bin) density — a key with M events inside one gap
    window genuinely HAS M·(M-1)/2 qualifying pairs.  That is a
    property of the query, not the plan; callers on heavy-tailed keys
    should pre-cap with an audited filter (the candidates.py bucket
    pattern) before pairing.

    Returns (on, a, b, gap_us): event ids plus their microsecond gap.
    """
    gap_us = int(gap_seconds) * 1_000_000
    e = events.select(
        F.col(on),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(id_col).alias("_eid"),
    ).withColumn("_bin", F.floor(F.col("_us") / gap_us))
    probe = e.select(
        on,
        "_us",
        "_eid",
        F.explode(F.array(F.col("_bin"), F.col("_bin") + 1)).alias("_jb"),
    )
    build = e.select(
        F.col(on),
        F.col("_us").alias("_us2"),
        F.col("_eid").alias("_eid2"),
        F.col("_bin").alias("_jb"),
    )
    after = (F.col("_us2") > F.col("_us")) | (
        (F.col("_us2") == F.col("_us")) & (F.col("_eid2") > F.col("_eid"))
    )
    return (
        probe.join(build, [on, "_jb"])
        .where(after & (F.col("_us2") - F.col("_us") <= F.lit(gap_us)))
        .select(
            F.col(on),
            F.col("_eid").alias("a"),
            F.col("_eid2").alias("b"),
            (F.col("_us2") - F.col("_us")).alias("gap_us"),
        )
    )
