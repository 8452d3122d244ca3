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

from ningaloo_turtle_etl_spark.operators.text import barrier_col


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
    above markov_transitions' observable-state chain: scores how well
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
    # real array column behind a Generate barrier (barrier_col), and the
    # argmax value once more on top. Inlined, each deep product
    # expression was duplicated into greatest() AND every
    # argmax comparison (~2^steps·(2^steps+1) copies at steps=4): the
    # physical plan was 278 KB of expression text costing ~3.5 s of
    # DRIVER planning plus interpreted-size codegen per row; the
    # materialized form carries 2^steps products + cheap array refs.
    # Bit-identical: the products keep their association, greatest and
    # the first-match CASE compare the same doubles — and the DuckDB
    # oracle already names the products once in its `probs` CTE, so this
    # mirrors the oracle's structure rather than changing it.
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
