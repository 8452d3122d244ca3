"""Temporal joins Spark lacks as primitives: as-of join and range
(interval-containment) join — named custom-operator targets in the build
brief; implemented as compositions of existing DataFrame ops (no UDFs).

Scale design:

- ``asof_join``: the naive formulation (theta-join on t_l >= t_r + argmax)
  explodes quadratically per key and plans as a nested loop. The
  formulation here UNIONS both sides and carries the right payload forward
  with a per-key ordered window (`last(..., ignorenulls=True)`): exactly one
  shuffle (co-partition on the key), state bounded by the window frame, no
  row explosion — the standard distributed as-of (same shape Flink's
  temporal join and kdb's aj compile to).
- ``range_join``: a BETWEEN theta-join plans as BroadcastNestedLoopJoin /
  cartesian at scale. Bucketing time into fixed chunks turns it into an
  EQUI-join on (key, bucket) — hash-partitionable, AQE-skew-handled — with
  the exact containment as a cheap residual filter. Interval rows explode
  into only the buckets they overlap, so blowup is bounded by
  interval_len / bucket + 1.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType


def _epoch_col(col: F.Column, dt) -> F.Column:
    """Epoch seconds from a column of any time representation the catalog
    may hand us: TIMESTAMP / TIMESTAMP_NTZ → ``to_unix_timestamp`` (a direct
    CAST(ntz AS BIGINT) is an AnalysisException), integral epoch-seconds →
    passthrough cast. Shared by bucketing and the as-of tolerance check."""
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return F.to_unix_timestamp(col)
    if isinstance(dt, LongType):
        return col
    return col.cast("long")


def _epoch_seconds(df: DataFrame, col: str) -> F.Column:
    return _epoch_col(F.col(col), df.schema[col].dataType)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_time: str = "ts",
    right_time: str = "ts",
    right_cols: Sequence[str] | None = None,
    suffix: str = "_r",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of LEFT join (pandas ``merge_asof`` / kdb ``aj`` surface):

    - ``direction='backward'`` (default): each left row picks the LATEST
      right row of the same key with ``right_time <= left_time`` (inclusive
      — DuckDB `ASOF JOIN`'s convention; at equal timestamps the right row
      matches).
    - ``direction='forward'``: the EARLIEST right row with
      ``right_time >= left_time`` (inclusive).
    - ``direction='nearest'``: whichever of the two is closer in absolute
      time; exact ties prefer the backward match.
    - ``tolerance_seconds``: matches farther than this from the left time
      are discarded (payload NULL), any direction.

    Left rows with no admissible right row keep NULL payload; a left row
    whose OWN timestamp is NULL never matches (pandas merge_asof / DuckDB
    ASOF convention), and right rows with NULL timestamps are ignored.
    Right payload columns that collide with left names get ``suffix``. If
    several right rows share (key, right_time), the survivor is undefined —
    deduplicate upstream.

    Scale shape (all directions): one union + per-key ordered window
    carry — ONE shuffle on the key, state bounded by the frame, no row
    explosion. ``nearest`` computes both carries over the SAME partitioning
    (one exchange, two sorts). The carried state is ONE struct column (the
    whole matched right row), not per-payload-column aggregates: carrying
    columns independently with ignorenulls would skip a genuine NULL in one
    payload column and stitch together values from DIFFERENT right rows
    (r04 review — confirmed wrong-results bug).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    on = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in {*on, right_time}]
    lcols = [c for c in left.columns if c not in {*on, left_time}]
    renamed = {c: (c + suffix if c in left.columns else c) for c in right_cols}

    # The matched right row travels as ONE nullable struct — atomic, so the
    # ignorenulls carry can never mix fields across rows. NULL-timestamped
    # right rows are dropped up front (they can never match, and a non-null
    # struct with a null _rt would shadow a valid earlier match).
    pack = F.struct(
        F.col(right_time).alias("_rt"),
        *[F.col(c).alias(renamed[c]) for c in right_cols],
    )
    l2 = left.select(
        *on,
        *lcols,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.lit(None)
        .cast(
            "struct<_rt:"
            + right.schema[right_time].dataType.simpleString()
            + ","
            + ",".join(
                f"{renamed[c]}:{right.schema[c].dataType.simpleString()}"
                for c in right_cols
            )
            + ">"
        )
        .alias("_rpack"),
    )
    r2 = right.filter(F.col(right_time).isNotNull()).select(
        *on,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        pack.alias("_rpack"),
    )
    unioned = l2.unionByName(r2)

    # Backward: right sorts BEFORE left at equal _t (0 < 1) → inclusive
    # last() carry over the preceding frame. Forward: right sorts AFTER left
    # (1 - _is_left) → inclusive first() carry over the following frame.
    w_b = (
        Window.partitionBy(*on)
        .orderBy(F.col("_t"), F.col("_is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy(*on)
        .orderBy(F.col("_t"), F.lit(1) - F.col("_is_left"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )

    need_b = direction in ("backward", "nearest")
    need_f = direction in ("forward", "nearest")
    cols = {}
    if need_b:
        cols["_b_pack"] = F.last("_rpack", ignorenulls=True).over(w_b)
    if need_f:
        cols["_f_pack"] = F.first("_rpack", ignorenulls=True).over(w_f)
    carried = unioned.select(
        *on, *lcols, "_t", "_is_left", *[v.alias(k) for k, v in cols.items()]
    ).filter(F.col("_is_left") == 1)

    lt_dt = left.schema[left_time].dataType
    rt_dt = right.schema[right_time].dataType

    def delta(side):
        return F.abs(
            _epoch_col(F.col("_t"), lt_dt).cast("double")
            - _epoch_col(F.col(f"_{side}_pack._rt"), rt_dt).cast("double")
        )

    def admissible(side):
        # A NULL left timestamp never matches, any direction.
        ok = F.col("_t").isNotNull() & F.col(f"_{side}_pack").isNotNull()
        if tolerance_seconds is not None:
            ok = ok & (delta(side) <= F.lit(float(tolerance_seconds)))
        return ok

    if direction in ("backward", "forward"):
        side = "b" if direction == "backward" else "f"
        chosen = F.when(admissible(side), F.col(f"_{side}_pack"))
    else:
        ok_b, ok_f = admissible("b"), admissible("f")
        use_b = ok_b & (~ok_f | (delta("b") <= delta("f")))
        chosen = F.when(use_b, F.col("_b_pack")).otherwise(
            F.when(ok_f, F.col("_f_pack"))
        )
    picked = carried.withColumn("_pick", chosen)
    return picked.select(
        *on,
        *lcols,
        F.col("_t").alias(left_time),
        *[F.col(f"_pick.{renamed[c]}").alias(renamed[c]) for c in right_cols],
        F.col("_pick._rt").alias("_matched_time"),
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | None,
    left_time: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int | str = 86400,
) -> DataFrame:
    """Interval-containment INNER join: left rows to the right intervals
    containing them (``start <= t < end``, half-open). Time is chunked into
    ``bucket_seconds`` buckets; intervals explode into the buckets they
    overlap and the join is an equi-join on (key..., bucket) with the exact
    range as residual filter — a hash join, never a nested loop (asserted in
    tests/test_temporal.py).

    Pick ``bucket_seconds`` near the typical interval length: too small
    explodes interval rows, too big inflates candidate pairs.
    ``bucket_seconds='auto'`` measures the p75 interval length on the right
    side (one GK-sketch aggregation — the right side is the small one) and
    uses it, clamped to [60s, 30d]."""
    on = [] if on is None else ([on] if isinstance(on, str) else list(on))
    if bucket_seconds == "auto":
        p75 = right.agg(
            F.percentile_approx(
                _epoch_seconds(right, end_col) - _epoch_seconds(right, start_col),
                F.lit(0.75),
                10_000,
            )
        ).collect()[0][0]
        bucket_seconds = int(min(max(p75 or 86400, 60), 30 * 86400))
    step = F.lit(int(bucket_seconds))
    lb = left.withColumn("_b", F.floor(_epoch_seconds(left, left_time) / step))
    # Guard: an inverted interval (end < start — one corrupt row) can never
    # contain a point, but without the filter F.sequence would default to
    # step -1 and explode a huge DESCENDING bucket array (a multi-minute /
    # OOM job-killer from a single bad row, r04 review).
    rb = right.filter(F.col(end_col) >= F.col(start_col)).withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(_epoch_seconds(right, start_col) / step),
                F.floor(_epoch_seconds(right, end_col) / step),
            )
        ),
    )
    joined = lb.join(rb, on=[*on, "_b"], how="inner").filter(
        (F.col(left_time) >= F.col(start_col)) & (F.col(left_time) < F.col(end_col))
    )
    return joined.drop("_b")


def resample_gap_fill(
    df: DataFrame,
    key_cols: str | Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int = 86400,
) -> DataFrame:
    """Regular-grid resample with gap filling — the time-series primitive
    behind dashboards and feature pipelines (pandas ``resample().mean()
    .interpolate()``, kdb ``fills``): bucket events into ``step_seconds``
    bins, then emit EVERY bin in each key's [min, max] bucket span with

    - ``n_obs`` / ``v_avg``: observation count and mean (null in gaps),
    - ``v_locf``: last observation carried forward,
    - ``v_linear``: linear interpolation between the nearest observed
      neighbors (exact on observed bins; the span edges are always observed
      bins, so neighbors exist for every gap).

    Scale shape: one (keys, bucket) partial-agg shuffle over the raw events;
    the dense grid is keys x span/step rows — sequence+explode from a
    keys-sized bounds frame, NEVER a driver loop — and the fill windows run
    on the already-aggregated grid (rows = grid size, not event count). At
    100 TB the grid is bounded by time-span/step per key, so the window
    stage is orders of magnitude smaller than the scan; pick ``step_seconds``
    so each key's span stays partition-sized (a year of minutes = 525 600
    rows per key — fine; of seconds — use a coarser grid or split keys)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    bucket = F.floor(_epoch_seconds(df, ts_col) / F.lit(int(step_seconds)))
    obs = (
        df.select(*keys, bucket.alias("bucket"), F.col(value_col).alias("_v"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).alias("n_obs"), F.avg("_v").alias("v_avg"))
    )
    grid = (
        obs.groupBy(*keys)
        .agg(F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx"))
        .select(*keys, F.explode(F.sequence("_mn", "_mx")).alias("bucket"))
    )
    filled = grid.join(obs, on=[*keys, "bucket"], how="left").withColumn(
        "n_obs", F.coalesce(F.col("n_obs"), F.lit(0))
    )
    back = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("v_avg").isNotNull(), F.col("bucket"))
    prev_v = F.last("v_avg", ignorenulls=True).over(back)
    prev_t = F.last(obs_bucket, ignorenulls=True).over(back)
    next_v = F.first("v_avg", ignorenulls=True).over(fwd)
    next_t = F.first(obs_bucket, ignorenulls=True).over(fwd)
    linear = F.when(F.col("v_avg").isNotNull(), F.col("v_avg")).otherwise(
        prev_v
        + (next_v - prev_v)
        * (F.col("bucket") - prev_t)
        / (next_t - prev_t)
    )
    return filled.select(
        *keys,
        "bucket",
        "n_obs",
        "v_avg",
        F.last("v_avg", ignorenulls=True).over(back).alias("v_locf"),
        linear.alias("v_linear"),
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each user's events in (ts, tiebreak) order, count consecutive
    (from_state -> to_state) pairs and normalize per from_state. Returns
    (from_state, to_state, n_transitions, prob) — the next-event model
    used for behavioral analytics and sequence-sanity checks on training
    corpora.

    Scale shape: one user-keyed window (lead) over the events — the same
    shuffle a sessionization pass already pays — then a states x states
    aggregate (tiny). Probabilities come from a from_state-partitioned
    window over the AGGREGATED matrix, so the normalization never touches
    raw events."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = events.select(
        F.col(type_col).alias("from_state"),
        F.lead(type_col).over(w).alias("to_state"),
    ).where(F.col("to_state").isNotNull())
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    total = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(total).cast("double"),
            6,
        ).alias("prob"),
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel analysis: for each user, step i counts as reached
    only by an event of ``steps[i]`` STRICTLY AFTER the user's earliest
    completion of step i−1 (the classic earliest-completion greedy, which
    maximizes conversion counts for ordered funnels). Returns one row per
    step: (step_index, step, users_reached, conversion_rate) with the rate
    relative to step 1.

    Scale shape: one conditional-min aggregation per step over only that
    step's events (type filter pushes to the scan), joined user-keyed to
    the previous frontier — the frontier is users-sized, events are
    touched once per step with their own pushed filter, and the loop is
    driver-counted with length = funnel length. Each frontier is
    eager-checkpointed (users-grain, bounded): unpersisted, step k's
    count re-ran the whole join chain from the scan — O(k²) scans over
    a k-step funnel (the r11-verdict fan-out pattern, swept r12)."""
    if not steps:
        raise ValueError("steps must be non-empty")
    frontier = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
        .localCheckpoint(eager=True)
    )
    counts = [frontier.count()]
    for step in steps[1:]:
        nxt = events.where(F.col(type_col) == step).select(
            user_col, F.col(ts_col).alias("_ts")
        )
        frontier = (
            nxt.join(frontier, on=user_col)
            .where(F.col("_ts") > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min("_ts").alias("_t"))
            .localCheckpoint(eager=True)
        )
        counts.append(frontier.count())
    spark = events.sparkSession
    base = max(counts[0], 1)
    rows = [
        (i + 1, s, counts[i], round(counts[i] / base, 6))
        for i, s in enumerate(steps)
    ]
    return spark.createDataFrame(
        rows,
        "step_index int, step string, users_reached long, "
        "conversion_rate double",
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week (Monday-truncated) of a
    user's first event; a cohort member is retained at offset k if they
    have any event in cohort_week + k weeks. Returns (cohort_week,
    week_offset, n_active, cohort_size, retention_rate) for every
    (cohort, offset) with activity — offset 0 is the cohort itself, so
    its retention_rate is 1.0 by construction.

    Scale shape: first-event election is one user-keyed min; the activity
    matrix is distinct (user, week) — both shuffles carry user-sized rows,
    never raw events; the final rollup is cohort×offset-sized (tiny)."""
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    first = events.groupBy(user_col).agg(
        F.min(wk).alias("cohort_week")
    )
    active = events.select(user_col, wk.alias("_wk")).distinct()
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        active.join(first, on=user_col)
        .select(
            "cohort_week",
            (
                F.datediff(F.col("_wk"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
            user_col,
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(sizes, on="cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 6
            ).alias("retention_rate"),
        )
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: assign every event a per-key session
    number that increments whenever the gap since the PREVIOUS event of the
    same key exceeds ``gap_seconds`` — the classic lag + running-sum
    formulation, and the batch twin of the native ``session_window``
    streaming aggregate (which can only emit per-session AGGREGATES; this
    labels the raw events so arbitrary downstream logic can group on the
    session id).

    Gap comparison is on whole epoch seconds (cross-engine deterministic);
    event ORDER within a key uses the full-precision timestamp plus the
    tiebreak column, so sub-second bursts still order stably.

    Output: input columns + ``session_seq`` (1-based per key).

    Scale shape: one shuffle by key for the window pair (lag and the
    running sum share the same sort); everything else is map-only. Hot
    keys (bot traffic) are the skew risk — pre-split them by a coarse
    time bucket appended to the partition key if one key exceeds a
    partition."""
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col is not None else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    secs = _epoch_seconds(df, ts_col)
    prev = F.lag(secs).over(w)
    new_session = F.when(
        prev.isNull() | ((secs - prev) > F.lit(int(gap_seconds))), 1
    ).otherwise(0)
    return df.withColumn(
        "session_seq",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )


def session_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-session rollup over ``sessionize``: event count, bounds, and
    whole-second duration per (key, session_seq). The rollup reuses the
    sessionize shuffle partitioning (same key), so AQE plans it without a
    second exchange."""
    labeled = sessionize(df, key_col, ts_col, gap_seconds, tiebreak_col)
    secs = _epoch_seconds(labeled, ts_col)
    return labeled.groupBy(key_col, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max(secs) - F.min(secs)).cast("long").alias("duration_s"),
    )


def session_funnel(
    events: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Within-session ordered funnel: like ``funnel_steps`` but the
    conversion unit is a SESSION (gap-based, see ``sessionize``), so a
    view today and a purchase next week no longer count as a conversion —
    the attribution-correct funnel for browse-to-buy flows.

    Returns one row per step: (step_index, step, sessions_reached,
    conversion_rate relative to step 1).

    Scale shape: sessionize's one key shuffle, then funnel_steps'
    per-step conditional-min chain keyed on the (key, session) composite
    — frontier is sessions-sized, each step touches only its own
    type-filtered events."""
    labeled = sessionize(events, key_col, ts_col, gap_seconds, tiebreak_col)
    keyed = labeled.withColumn(
        "_sess",
        F.concat_ws(
            "#",
            F.col(key_col).cast("string"),
            F.col("session_seq").cast("string"),
        ),
    )
    out = funnel_steps(keyed, steps, user_col="_sess", ts_col=ts_col,
                       type_col=type_col)
    return out.withColumnRenamed("users_reached", "sessions_reached")


def eventually_follows(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Process-mining eventually-follows matrix: for every ordered pair of
    event types (a, b), the number of keys whose FIRST a strictly precedes
    their FIRST b — the long-range ordering structure that a direct
    transition matrix (Markov chain on adjacent events) can't see.

    Output: (type_a, type_b, n_keys, frac) where frac divides by the keys
    having BOTH types; first-timestamp ties count for neither direction.

    Scale shape: one (key, type) min-aggregate over the fact (map-side
    combined), then all pair math runs on the keys x types first-seen
    table; the pair join is per-key with a types^2 fan-out (types are
    few). Raw events are touched once."""
    firsts = events.groupBy(
        F.col(key_col).alias("k"), F.col(type_col).alias("t")
    ).agg(F.min(ts_col).alias("ft"))
    a, b = firsts.alias("a"), firsts.alias("b")
    pairs = a.join(
        b,
        on=[F.col("a.k") == F.col("b.k"), F.col("a.t") != F.col("b.t")],
    ).select(
        F.col("a.t").alias("type_a"),
        F.col("b.t").alias("type_b"),
        (F.col("a.ft") < F.col("b.ft")).cast("long").alias("before"),
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.sum("before").alias("n_keys"),
        F.round(
            F.sum("before") / F.count(F.lit(1)).cast("double"), 6
        ).alias("frac"),
    )


def frequent_sequences(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    order_tiebreak: str | None = None,
    top_k: int = 20,
) -> DataFrame:
    """Top-k most frequent length-3 behavior sequences: each user's
    event-type timeline yields its consecutive trigrams (two leads over
    the per-user order), tallied corpus-wide — the sequence-mining step
    past markov_transitions' bigram view (A->B->C patterns a first-order
    chain cannot see, e.g. view->click->purchase vs click->view->purchase).

    ``order_tiebreak``: a column that breaks timestamp ties
    deterministically (an event id); REQUIRED for stable results when two
    events share (key, ts).

    Output: top_k rows — (step_1, step_2, step_3, n_occurrences), ordered
    by count desc then steps asc.

    Scale shape: one key-partitioned window shuffle builds the leads (the
    sessionization exchange); the trigram tally map-side combines to the
    types³ grid; the election is TakeOrderedAndProject. Raw events are
    touched once."""
    order = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    tri = (
        df.select(
            F.col(type_col).alias("step_1"),
            F.lead(type_col, 1).over(w).alias("step_2"),
            F.lead(type_col, 2).over(w).alias("step_3"),
        )
        .filter(F.col("step_3").isNotNull())
        .groupBy("step_1", "step_2", "step_3")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return tri.orderBy(
        F.desc("n_occurrences"),
        F.asc("step_1"),
        F.asc("step_2"),
        F.asc("step_3"),
    ).limit(int(top_k))


def markov_removal_attribution(
    events: DataFrame,
    user_col: str,
    channel_col: str,
    ts_col: str,
    order_col: str,
    conversion: str,
    rounds: int = 12,
    max_channels: int = 500,
) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2016 — the
    data-driven alternative to last-touch): build per-user journeys
    (touch channels in (ts, order_col) order, truncated at the first
    ``conversion`` event), fit the first-order transition matrix over
    START/channels/CONV/DROP, and credit each channel by its REMOVAL
    EFFECT — how much the START→CONV absorption probability falls when
    that channel's node is knocked out (its state forced to absorb 0).
    Last-touch credits only the final click; removal effect credits a
    channel for every path that needed it.

    Absorption runs ``rounds`` fixed synchronous value-iteration steps
    (journeys longer than ``rounds`` contribute nothing — identical
    truncation on both engines, same fixed-iteration policy as the
    kmeans / GD training rounds). Converting users with no touches
    contribute START→CONV; non-converting users with no touches carry no
    signal and are dropped. Output per channel: (channel, n_touches,
    removal_effect, attribution_share), 6dp — removal_effect =
    1 − p_removed/p_base, shares normalized over positive effects.

    Scale shape: journey construction is two user-keyed windows; the
    transition grid aggregates map-side to ≤ (channels+2)² fixed-width
    rows, hard-bounded by ``max_channels`` (raises beyond — this is the
    bounded-driver fit, like bradley_terry_ratings); the value iteration
    runs on that grid driver-side. The event table is touched once."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    u = F.col(user_col)
    pos = F.struct(F.col(ts_col).alias("t"), F.col(order_col).alias("o"))
    base = events.select(
        u.alias("uid"),
        F.col(channel_col).alias("ch"),
        pos.alias("pos"),
    )
    conv_pos = (
        base.filter(F.col("ch") == conversion)
        .groupBy("uid")
        .agg(F.min("pos").alias("cpos"))
    )
    touches = (
        base.filter(F.col("ch") != conversion)
        .join(conv_pos, on="uid", how="left")
        .filter(F.col("cpos").isNull() | (F.col("pos") < F.col("cpos")))
    )
    # Two bounded collects read this lineage (the transition grid and the
    # per-channel touch counts); persist so the events scan + join + window
    # chain runs once, not twice. Both actions happen inside this function,
    # so the cache is released before returning (the output frame is a
    # createDataFrame over driver rows — no lineage on `touches`).
    from pyspark import StorageLevel

    touches = touches.persist(StorageLevel.MEMORY_AND_DISK)
    w = Window.partitionBy("uid").orderBy(F.col("pos").asc())
    seq = touches.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_prev", F.lag("ch").over(w)
    ).withColumn(
        "_last",
        F.row_number().over(
            Window.partitionBy("uid").orderBy(F.col("pos").desc())
        ),
    )
    conv_flag = conv_pos.select("uid", F.lit(True).alias("_cv"))
    seq = seq.join(conv_flag, on="uid", how="left")
    start_edges = seq.filter(F.col("_rn") == 1).select(
        F.lit("__START").alias("s"), F.col("ch").alias("t")
    )
    mid_edges = seq.filter(F.col("_prev").isNotNull()).select(
        F.col("_prev").alias("s"), F.col("ch").alias("t")
    )
    end_edges = seq.filter(F.col("_last") == 1).select(
        F.col("ch").alias("s"),
        F.when(F.col("_cv"), F.lit("__CONV"))
        .otherwise(F.lit("__DROP"))
        .alias("t"),
    )
    no_touch_conv = (
        conv_pos.join(
            touches.select("uid").distinct(), on="uid", how="left_anti"
        ).select(
            F.lit("__START").alias("s"), F.lit("__CONV").alias("t")
        )
    )
    edges = (
        start_edges.unionByName(mid_edges)
        .unionByName(end_edges)
        .unionByName(no_touch_conv)
    )
    grid = edges.groupBy("s", "t").agg(F.count(F.lit(1)).alias("n"))
    # Both bounded collects run inside try/finally so an exception in
    # either cannot leak the MEMORY_AND_DISK cache for the session
    # lifetime (repo convention, cf. rake_keywords / pq_train_codebooks_lloyd).
    try:
        rows = grid.collect()  # bounded: <= (channels+2)^2
        touch_counts = {
            r["ch"]: r["n"]
            for r in touches.groupBy("ch")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        touches.unpersist()
    from collections import defaultdict

    out_n: dict = defaultdict(int)
    trans: dict = defaultdict(dict)
    channels: set = set()
    for r in rows:
        s, t, n = r["s"], r["t"], int(r["n"])
        out_n[s] += n
        trans[s][t] = trans[s].get(t, 0) + n
        for x in (s, t):
            if x not in ("__START", "__CONV", "__DROP"):
                channels.add(x)
    if len(channels) > max_channels:
        raise ValueError(
            f"markov_removal_attribution: {len(channels)} channels exceeds "
            f"max_channels={max_channels}; this is the bounded-driver fit"
        )
    states = sorted(channels) + ["__START"]

    def absorb(removed: str | None) -> float:
        import math

        p = {s: 0.0 for s in states}
        for _ in range(int(rounds)):
            new = {}
            for s in states:
                if s == removed:
                    new[s] = 0.0
                    continue
                tot = out_n[s]
                acc = 0.0
                if tot:
                    # fsum: correctly-rounded, order-independent — same
                    # accepted last-ulp-vs-oracle note as bradley_terry
                    terms = []
                    for t in sorted(trans[s]):
                        if t == "__CONV":
                            wv = 1.0
                        elif t == "__DROP" or t == removed:
                            wv = 0.0
                        else:
                            wv = p[t]
                        terms.append(trans[s][t] / tot * wv)
                    acc = math.fsum(terms)
                new[s] = acc
            p = new
        return p["__START"]

    base_cv = absorb(None)
    effects = {}
    for c in sorted(channels):
        pc = absorb(c)
        effects[c] = (1.0 - pc / base_cv) if base_cv > 0 else 0.0
    pos_sum = sum(e for e in effects.values() if e > 0)
    spark = events.sparkSession
    out_rows = [
        (
            c,
            int(touch_counts.get(c, 0)),
            effects[c],
            (effects[c] / pos_sum) if pos_sum > 0 and effects[c] > 0 else 0.0,
        )
        for c in sorted(channels)
    ]
    return spark.createDataFrame(
        out_rows,
        "channel string, n_touches long, removal_effect double, "
        "attribution_share double",
    ).select(
        "channel",
        "n_touches",
        F.round("removal_effect", 6).alias("removal_effect"),
        F.round("attribution_share", 6).alias("attribution_share"),
    )


def position_attribution(
    events: DataFrame,
    user_col: str,
    channel_col: str,
    ts_col: str,
    order_col: str,
    conversion: str,
) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution over
    the SAME journey construction as ``markov_removal_attribution``
    (touches strictly before the first ``conversion``, converting users
    only): the first and last touch each take 40% of the conversion
    credit, the middle touches split the remaining 20% evenly; one-touch
    journeys take 100%, two-touch 50/50. The rule-based midpoint between
    last-touch (all credit to the closer) and Markov removal effect
    (model-based) — the three-way comparison a marketing/data team
    actually runs.

    Determinism: per-touch credit is integer micro-units (400000 /
    round(200000/(n−2)) / 1000000), so per-channel sums are exact
    integers; a journey's credits may total 1e6 ± a few micros from the
    middle-split rounding — deterministic and mirrored in the oracle.
    Returns (channel, n_touches, n_first, n_last, credit, credit_share),
    6dp, shares over the summed credit.

    Scale shape: identical to the Markov journey stage — two user-keyed
    windows, then one map-side-combining channel aggregate; the event
    table is touched once and nothing driver-side but the output."""
    u = F.col(user_col)
    pos = F.struct(F.col(ts_col).alias("t"), F.col(order_col).alias("o"))
    base = events.select(
        u.alias("uid"), F.col(channel_col).alias("ch"), pos.alias("pos")
    )
    conv_pos = (
        base.filter(F.col("ch") == conversion)
        .groupBy("uid")
        .agg(F.min("pos").alias("cpos"))
    )
    touches = (
        base.filter(F.col("ch") != conversion)
        .join(conv_pos, on="uid", how="inner")
        .filter(F.col("pos") < F.col("cpos"))
    )
    w = Window.partitionBy("uid").orderBy(F.col("pos").asc())
    nw = Window.partitionBy("uid")
    seq = (
        touches.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(nw))
    )
    first = F.col("_rn") == 1
    last = F.col("_rn") == F.col("_n")
    credit_micro = (
        F.when(F.col("_n") == 1, F.lit(1_000_000))
        .when(F.col("_n") == 2, F.lit(500_000))
        .when(first | last, F.lit(400_000))
        .otherwise(
            F.round(F.lit(200_000.0) / (F.col("_n") - 2), 0).cast("long")
        )
    )
    per_ch = (
        seq.withColumn("cm", credit_micro.cast("long"))
        .groupBy("ch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum(first.cast("long")).cast("long").alias("n_first"),
            F.sum(last.cast("long")).cast("long").alias("n_last"),
            F.sum("cm").cast("long").alias("cm"),
        )
    )
    total = per_ch.agg(F.sum("cm").cast("long").alias("tot"))
    return per_ch.crossJoin(F.broadcast(total)).select(
        F.col("ch").alias("channel"),
        "n_touches",
        "n_first",
        "n_last",
        F.round(F.col("cm") / 1e6, 6).alias("credit"),
        F.round(F.col("cm") / F.col("tot"), 6).alias("credit_share"),
    )


def shapley_attribution(
    events: DataFrame,
    channels: Sequence[str],
    conversion: str,
    channel_col: str = "event_type",
    user_col: str = "user_id",
) -> DataFrame:
    """EXACT Shapley-value conversion attribution over journey channel
    SETS — the game-theoretic credit rule the last-touch/position/Markov
    trio approximates (unique solution satisfying efficiency, symmetry,
    dummy, additivity). The coalition value v(T) counts conversions by
    users whose touched-channel set is contained in T; channel i's
    credit is the Shapley sum over its marginal contributions.

    Exactness: every quantity is an INTEGER until the single final
    division — v(T) values are counts, and the coalition weights are
    pre-multiplied by n! (w_s·n! = s!·(n−1−s)!, a plain integer per
    coalition size, embedded as literals by Python's factorial), so both
    engines do identical integer sums and one double divide. ``channels``
    is a caller-frozen vocabulary (like quantize bounds): bit i of the
    user mask = channels[i], deterministic with no driver collect.

    Scale shape: user journeys collapse to a bitmask via one bit_or
    aggregate (map-side combinable); everything after runs on the 2^n
    COALITION grain (n = |channels|, n <= 20 guarded — at n=4 that is 16
    rows), joined by broadcast. The row-count-sized work is exactly two
    aggregates over the event log."""
    n = len(channels)
    if n < 1 or n > 20:
        raise ValueError("channels must have 1..20 entries")
    if len(set(channels)) != n:
        raise ValueError("channels must be distinct")
    bits = {c: 1 << i for i, c in enumerate(channels)}
    spark = events.sparkSession
    chan_df = spark.createDataFrame(
        [(c, bits[c]) for c in channels], "channel string, bit long"
    )
    ev = events.select(
        F.col(user_col).alias("u"), F.col(channel_col).alias("ch")
    )
    masks = (
        ev.join(
            F.broadcast(
                chan_df.select(
                    F.col("channel").alias("ch"), F.col("bit")
                )
            ),
            on="ch",
        )
        .groupBy("u")
        .agg(F.bit_or("bit").alias("mask"))
    )
    conv = ev.filter(F.col("ch") == F.lit(conversion)).select("u").distinct()
    set_counts = (
        conv.join(masks, on="u", how="left")
        .select(F.coalesce("mask", F.lit(0)).alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    t = spark.range(0, 1 << n).select(F.col("id").alias("t"))
    v = (
        t.join(
            F.broadcast(set_counts),
            on=F.col("mask").bitwiseAND(F.col("t")) == F.col("mask"),
            how="left",
        )
        .groupBy("t")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
    )
    fact = [1] * (n + 1)
    for i in range(2, n + 1):
        fact[i] = fact[i - 1] * i
    w = [fact[s] * fact[n - 1 - s] for s in range(n)]  # w_s * n!
    w_arr = F.array([F.lit(x) for x in w])
    vt = v.select(F.col("t").alias("t"), F.col("v").alias("vt"))
    vti = v.select(F.col("t").alias("ti"), F.col("v").alias("vti"))
    pairs = (
        chan_df.crossJoin(vt)
        .filter(F.col("t").bitwiseAND(F.col("bit")) == 0)
        .withColumn("ti", F.col("t").bitwiseOR(F.col("bit")))
        .join(vti, on="ti")
    )
    num = F.sum(
        F.element_at(w_arr, F.bit_count("t").cast("int") + F.lit(1))
        * (F.col("vti") - F.col("vt"))
    ).cast("long")
    return (
        pairs.groupBy("channel")
        .agg(
            F.round(num / F.lit(float(fact[n])), 6).alias("shapley"),
        )
        .orderBy("channel")
    )


def sequential_pattern_support(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    time_col: str = "ts_epoch",
    min_support: float = 0.05,
    top_n: int = 50,
) -> DataFrame:
    """Length-3 SEQUENTIAL-PATTERN support mining (the GSP/PrefixSpan
    contract at fixed length: Srikant & Agrawal 1996, Pei et al. 2001)
    — for every ordered type triple (a, b, c), the fraction of users
    whose history contains a, then b strictly later, then c strictly
    later still (subsequence semantics, arbitrary gaps). The
    order-sensitive complement of assoc_rules_copurchase (itemsets
    ignore order) and eventually_follows (pairs only).

    Containment test per (user, pattern) is the classic GREEDY earliest
    occurrence, provably equivalent to existence: e₁ = first a;
    e₂ = first b after e₁; e₃ = first c after e₂ — three array lookups
    on the user's per-type sorted time arrays, no per-event work.

    Scale shape: one (user, type) aggregate with sorted time arrays;
    the pattern grid is the DISTINCT-TYPE cube (|T|³ rows — alphabet-
    sized, broadcast); three broadcast-grid joins fan each user row out
    |T|²-fold at most, never event-grain; one pattern-keyed count
    reduce. Exact integer support counts. Returns (t1, t2, t3,
    n_users, support) — support = users containing / all users, 6dp —
    filtered to support ≥ ``min_support``, top ``top_n`` by
    (support DESC, t1, t2, t3)."""
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.col(time_col).cast("long").alias("e"),
    ).where(
        F.col("u").isNotNull()
        & F.col("t").isNotNull()
        & F.col("e").isNotNull()
    )
    upt = base.groupBy("u", "t").agg(
        F.sort_array(F.collect_list("e")).alias("ts")
    )
    n_users = base.select("u").distinct().count()
    if n_users == 0:
        return events.sparkSession.createDataFrame(
            [],
            "t1 string, t2 string, t3 string, n_users long, support double",
        )
    types = base.select(F.col("t").alias("ty")).distinct()
    pats = (
        types.select(F.col("ty").alias("t1"))
        .crossJoin(types.select(F.col("ty").alias("t2")))
        .crossJoin(types.select(F.col("ty").alias("t3")))
    )
    a = upt.select("u", F.col("t").alias("t1"), F.col("ts").alias("tsa"))
    b = upt.select("u", F.col("t").alias("t2"), F.col("ts").alias("tsb"))
    c = upt.select("u", F.col("t").alias("t3"), F.col("ts").alias("tsc"))
    joined = (
        a.join(F.broadcast(pats), on="t1")
        .join(b, on=["u", "t2"])
        .join(c, on=["u", "t3"])
    )
    # try_element_at: the filtered arrays are legitimately empty when
    # no b follows the first a (ANSI element_at would throw)
    e1 = F.try_element_at("tsa", F.lit(1))
    bs = F.filter(F.col("tsb"), lambda x: x > e1)
    e2 = F.try_element_at(bs, F.lit(1))
    cs = F.filter(F.col("tsc"), lambda x: x > e2)
    contained = (F.size(cs) > 0).cast("int")
    sup = joined.select("t1", "t2", "t3", contained.alias("hit")).groupBy(
        "t1", "t2", "t3"
    ).agg(F.sum("hit").cast("long").alias("n_users"))
    ratio = F.col("n_users") / F.lit(float(n_users))
    return (
        sup.where(ratio >= F.lit(float(min_support)))
        .select(
            "t1",
            "t2",
            "t3",
            "n_users",
            F.round(ratio, 6).alias("support"),
        )
        .orderBy(F.desc("support"), "t1", "t2", "t3")
        .limit(int(top_n))
    )


# HMM forward-algorithm parameters: a 2-state browse/buy model over the
# five event types. Literal constants so both engines unroll the exact
# same arithmetic; probabilities are x.xx literals that sum to 1 per row.
HMM_PI = (0.6, 0.4)
HMM_T = ((0.8, 0.2), (0.3, 0.7))
HMM_E = {
    "view": (0.5, 0.2),
    "click": (0.3, 0.3),
    "error": (0.1, 0.1),
    "signup": (0.05, 0.1),
    "purchase": (0.05, 0.3),
}


def hmm_forward_loglik(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order_cols: Sequence[str],
    steps: int = 4,
) -> DataFrame:
    """Forward-algorithm log-likelihood of each user's first ``steps``
    events under a fixed 2-state HMM — the hidden-state sequence model
    above markov_attribution's observable-state chain: scores how well
    a browse/buy latent structure explains early sessions, the
    anomaly/segmentation signal (a low-likelihood prefix is a bot or a
    new behavior class).

    The recursion α'_j = (Σ_i α_i·T_ij)·E_j(obs) is UNROLLED for the
    fixed step count into pure column expressions — no fold, no UDF —
    with every multiply/add in one fixed association both engines
    share. Per-user log-likelihoods are micro-quantized and summed
    exactly per first-event type, so the cross-user double summation
    order cannot diverge.

    Scale shape: one rank window bounded at ``steps`` rows per user
    (TakeOrdered-class), one user-grain pivot, map-only unrolled
    arithmetic, one small-grain reduce. Driver state: none."""
    w = Window.partitionBy(user_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    firsts = (
        df.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("x"),
            F.row_number().over(w).alias("k"),
        )
        .where(F.col("k") <= steps)
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            *[
                F.max(F.when(F.col("k") == i, F.col("x"))).alias(
                    f"o{i}"
                )
                for i in range(1, steps + 1)
            ],
        )
        .where(F.col("n_obs") == steps)
    )

    def emit(state: int, obs_col: str) -> Column:
        expr = F.lit(None).cast("double")
        for t, probs in HMM_E.items():
            expr = F.when(F.col(obs_col) == t, F.lit(probs[state])).otherwise(
                expr
            )
        return expr

    a0 = F.lit(HMM_PI[0]) * emit(0, "o1")
    a1 = F.lit(HMM_PI[1]) * emit(1, "o1")
    for i in range(2, steps + 1):
        b0 = (a0 * F.lit(HMM_T[0][0]) + a1 * F.lit(HMM_T[1][0])) * emit(
            0, f"o{i}"
        )
        b1 = (a0 * F.lit(HMM_T[0][1]) + a1 * F.lit(HMM_T[1][1])) * emit(
            1, f"o{i}"
        )
        a0, a1 = b0, b1
    ll_micro = F.round(F.log(a0 + a1) * 1e6, 0).cast("long")
    per_user = firsts.select(
        F.col("o1").alias("first_type"), ll_micro.alias("llu")
    )
    out = per_user.groupBy("first_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("llu").cast("decimal(38,0)")).alias("lls"),
    )
    avg = F.col("lls").cast("double") / F.lit(1e6) / F.col(
        "n_users"
    ).cast("double")
    return out.select(
        "first_type",
        "n_users",
        F.round(avg, 6).alias("avg_loglik"),
    ).orderBy("first_type")


def hmm_viterbi_paths(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order_cols: Sequence[str],
    steps: int = 4,
) -> DataFrame:
    """Viterbi decoding of each user's first ``steps`` events under the
    SAME fixed 2-state HMM as :func:`hmm_forward_loglik` — the
    most-likely hidden-state PATH (browse/buy segmentation label) where
    forward gives the total likelihood. With 2 states and a fixed step
    count the decoder is ENUMERATED, not folded: all 2^steps path
    products are pure column expressions sharing one left-to-right
    association, the argmax is ``greatest`` over them with ties to the
    smallest path index (a first-match coalesce both engines replay as
    the same CASE chain), so the decode is bit-identical cross-engine
    with no log-sum or backpointer state.

    Scale shape: one rank window bounded at ``steps`` rows per user
    (TakeOrdered-class), one user-grain pivot, 2^steps map-only product
    expressions, one (first_type, path)-grain reduce. Driver state:
    none. Returns (first_type, path, n_users, avg_best_loglik) — the
    decoded-path census with the mean best-path log-likelihood,
    micro-quantized per user and summed exactly."""
    import itertools

    w = Window.partitionBy(user_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    firsts = (
        df.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("x"),
            F.row_number().over(w).alias("k"),
        )
        .where(F.col("k") <= steps)
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            *[
                F.max(F.when(F.col("k") == i, F.col("x"))).alias(f"o{i}")
                for i in range(1, steps + 1)
            ],
        )
        .where(F.col("n_obs") == steps)
    )

    def emit(state: int, obs_col: str) -> Column:
        expr = F.lit(None).cast("double")
        for t, probs in HMM_E.items():
            expr = F.when(
                F.col(obs_col) == t, F.lit(probs[state])
            ).otherwise(expr)
        return expr

    paths = list(itertools.product((0, 1), repeat=steps))

    def path_prob(pth) -> Column:
        e = F.lit(HMM_PI[pth[0]]) * emit(pth[0], "o1")
        for i in range(1, steps):
            e = (
                e
                * F.lit(HMM_T[pth[i - 1]][pth[i]])
                * emit(pth[i], f"o{i + 1}")
            )
        return e

    probs = [path_prob(p) for p in paths]
    # r14 (guide §1.2): materialize the 2^steps path products ONCE as a
    # real array column behind a Generate barrier (operators/scale.py
    # barrier_col), and the argmax value once more on top. Inlined, each
    # deep product expression was duplicated into greatest() AND every
    # argmax comparison (~2^steps·(2^steps+1) copies at steps=4): the
    # physical plan was 278 KB of expression text costing ~3.5 s of
    # DRIVER planning plus interpreted-size codegen per row; the
    # materialized form carries 2^steps products + cheap array refs.
    # Bit-identical: the products keep their association, greatest and
    # the first-match CASE compare the same doubles — and the DuckDB
    # oracle already names the products once in its `probs` CTE, so this
    # mirrors the oracle's structure rather than changing it.
    from ningaloo_turtle_etl_spark.operators.scale import barrier_col

    staged = barrier_col(firsts, "_pv", F.array(*probs))
    pcols = [F.col("_pv").getItem(i) for i in range(len(paths))]
    staged = barrier_col(staged, "_best", F.greatest(*pcols))
    path_lbl = F.coalesce(
        *[
            F.when(pc == F.col("_best"), F.lit("".join(map(str, pth))))
            for pc, pth in zip(pcols, paths)
        ]
    )
    llu = F.round(F.log(F.col("_best")) * 1e6, 0).cast("long")
    per_user = staged.select(
        F.col("o1").alias("first_type"),
        path_lbl.alias("path"),
        llu.alias("llu"),
    )
    out = per_user.groupBy("first_type", "path").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("llu").cast("decimal(38,0)")).alias("lls"),
    )
    avg = (
        F.col("lls").cast("double")
        / F.lit(1e6)
        / F.col("n_users").cast("double")
    )
    return out.select(
        "first_type",
        "path",
        "n_users",
        F.round(avg, 6).alias("avg_best_loglik"),
    ).orderBy("first_type", "path")
