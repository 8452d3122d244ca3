"""Temporal-join queries (extensions beyond the reference surface): as-of
join checked against DuckDB's native ASOF JOIN, range join against a plain
BETWEEN theta-join. Registered past the driver window; swept by
tests/test_oracle_all.py."""

from __future__ import annotations

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.temporal import asof_join, range_join
from ningaloo_turtle_etl_spark.registry import register
from ningaloo_turtle_etl_spark.sources.tables import load_table


def _rates(ev):
    """Sparse per-type daily 'rate' table derived deterministically from the
    events table (rates exist only on days divisible by 3, so most events
    as-of match a PREVIOUS day's rate)."""
    return (
        ev.filter(F.dayofmonth("ts") % 3 == 0)
        .select("event_type", F.date_trunc("day", "ts").alias("rts"))
        .distinct()
        .withColumn("rate", F.round(F.dayofmonth("rts") * 1.5, 2))
    )


@register(
    "asof_join_rates",
    """
    WITH rates AS (
        SELECT DISTINCT event_type,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS rts,
               ROUND(day(date_trunc('day', CAST(ts AS TIMESTAMP))) * 1.5, 2) AS rate
        FROM events WHERE day(CAST(ts AS TIMESTAMP)) % 3 = 0
    )
    SELECT e.event_type, e.event_id, CAST(e.ts AS TIMESTAMP) AS ts,
           r.rate, r.rts AS matched_time
    FROM events e
    ASOF LEFT JOIN rates r
      ON e.event_type = r.event_type AND CAST(e.ts AS TIMESTAMP) >= r.rts
    """,
)
def asof_join_rates(spark, sf_dir):
    """Backward as-of join (each event picks the latest same-type rate at or
    before its timestamp; events before the first rate keep NULL) — the
    union + carry-forward-window formulation vs DuckDB's native ASOF JOIN."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "ts")
    out = asof_join(
        ev, _rates(ev), on="event_type", left_time="ts", right_time="rts"
    )
    return out.select(
        "event_type", "event_id", "ts", "rate",
        F.col("_matched_time").alias("matched_time"),
    )


@register(
    "asof_join_rates_forward",
    """
    WITH rates AS (
        SELECT DISTINCT event_type,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS rts,
               ROUND(day(date_trunc('day', CAST(ts AS TIMESTAMP))) * 1.5, 2) AS rate
        FROM events WHERE day(CAST(ts AS TIMESTAMP)) % 3 = 0
    )
    SELECT e.event_type, e.event_id, CAST(e.ts AS TIMESTAMP) AS ts,
           r.rate, r.rts AS matched_time
    FROM events e
    ASOF LEFT JOIN rates r
      ON e.event_type = r.event_type AND CAST(e.ts AS TIMESTAMP) <= r.rts
    """,
)
def asof_join_rates_forward(spark, sf_dir):
    """Forward as-of join (each event picks the EARLIEST same-type rate at
    or after its timestamp; events after the last rate keep NULL) — the r03
    mirrored-carry formulation vs DuckDB's native forward ASOF (`<=`)."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "ts")
    out = asof_join(
        ev, _rates(ev), on="event_type", left_time="ts", right_time="rts",
        direction="forward",
    )
    return out.select(
        "event_type", "event_id", "ts", "rate",
        F.col("_matched_time").alias("matched_time"),
    )


@register(
    "range_join_tally",
    """
    WITH iv AS (
        SELECT DISTINCT event_type,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS ivs,
               date_trunc('day', CAST(ts AS TIMESTAMP)) + INTERVAL 2 DAYS AS ive
        FROM events WHERE day(CAST(ts AS TIMESTAMP)) % 5 = 0
    )
    SELECT iv.event_type, iv.ivs, CAST(COUNT(*) AS BIGINT) AS n
    FROM events e
    JOIN iv ON e.event_type = iv.event_type
           AND CAST(e.ts AS TIMESTAMP) >= iv.ivs
           AND CAST(e.ts AS TIMESTAMP) < iv.ive
    GROUP BY 1, 2
    """,
)
def range_join_tally(spark, sf_dir):
    """Interval-containment join (events inside per-type 2-day maintenance
    windows), tallied. Spark side is the bucketed equi-join + residual
    filter — a hash join; the oracle states the naive BETWEEN theta-join."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "ts")
    iv = (
        ev.filter(F.dayofmonth("ts") % 5 == 0)
        .select("event_type", F.date_trunc("day", "ts").alias("ivs"))
        .distinct()
        .withColumn("ive", F.col("ivs") + F.expr("INTERVAL 2 DAYS"))
    )
    joined = range_join(
        ev, iv, on="event_type", left_time="ts",
        start_col="ivs", end_col="ive", bucket_seconds=86400,
    )
    return joined.groupBy("event_type", "ivs").agg(F.count(F.lit(1)).alias("n"))


@register(
    "scd2_user_state",
    """
    WITH lagged AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS _prev
      FROM events
    ),
    versioned AS (
      SELECT user_id, ts, event_type,
             SUM(CASE WHEN _prev IS NULL OR _prev <> event_type
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS version
      FROM lagged
    ),
    runs AS (
      SELECT user_id, CAST(version AS BIGINT) AS version,
             MIN(event_type) AS event_type,
             MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM versioned GROUP BY 1, 2
    )
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             IS NULL AS is_current
    FROM runs
    """,
)
def scd2_user_state(spark, sf_dir):
    """SCD Type-2 validity-interval history of each user's event_type,
    treating the event feed as a change log (`operators/delta.py
    scd2_history`): consecutive identical states collapse into one
    version with [valid_from, valid_to) bounds and an open current
    version — the dimension-table build behind as-of entity lookups.
    One shuffle by user; the lead() pass runs at the collapsed version
    grain."""
    from ningaloo_turtle_etl_spark.operators.delta import scd2_history

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    return scd2_history(
        ev, ["user_id"], "ts", ["event_type"], tiebreak_col="event_id"
    )


@register(
    "attribution_last_touch",
    """
    WITH purchases AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS tts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    attributed AS (
      SELECT p.user_id, p.event_id, p.value,
             CASE WHEN t.tts >= p.ts - INTERVAL 7 DAY
                  THEN t.touch_type END AS touch_type
      FROM purchases p
      ASOF LEFT JOIN touches t
        ON p.user_id = t.user_id AND p.ts >= t.tts
    )
    SELECT COALESCE(touch_type, 'unattributed') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(value), 2) AS attributed_value
    FROM attributed GROUP BY 1 ORDER BY 1
    """,
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: every purchase credits the most
    recent click/view by the same user within a 7-day lookback — a direct
    composition of the as-of join operator (`operators/temporal.py
    asof_join`, backward direction + tolerance), aggregated to credit per
    touch channel. Purchases with no in-window touch report as
    'unattributed'. The oracle replays it with DuckDB's native ASOF JOIN,
    applying the tolerance as a post-filter (identical semantics: the
    nearest-preceding touch either is in window or the purchase is
    unattributed)."""
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch_type"),
    )
    joined = asof_join(
        purchases,
        touches,
        on="user_id",
        left_time="ts",
        right_time="tts",
        right_cols=["touch_type"],
        direction="backward",
        tolerance_seconds=7 * 86400,
    )
    return (
        joined.select(
            F.coalesce("touch_type", F.lit("unattributed")).alias("touch_type"),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("touch_type")
    )


@register(
    "event_sessions",
    """
    WITH lagged AS (
      SELECT user_id, ts, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS secs,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, secs,
             SUM(CASE WHEN prev IS NULL OR secs - prev > 1800
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM lagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(MAX(secs) - MIN(secs) AS BIGINT) AS duration_s
    FROM flagged GROUP BY 1, 2
    """,
)
def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity cut) rolled up to
    per-session stats — `operators/temporal.py sessionize/session_stats`,
    the batch twin of the native session_window streaming aggregate but
    with raw events labeled so arbitrary logic can group on the session.
    One user-keyed shuffle; the rollup reuses its partitioning."""
    from ningaloo_turtle_etl_spark.operators.temporal import session_stats

    ev = load_table(spark, "events", sf_dir)
    return session_stats(
        ev, "user_id", "ts", gap_seconds=1800, tiebreak_col="event_id"
    )


@register(
    "cdc_apply_snapshot",
    """
    WITH changes AS (
      SELECT user_id AS key, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'delete'
                  ELSE 'upsert' END AS op,
             value AS state_value
      FROM events
    ),
    latest AS (
      SELECT key, op, state_value FROM (
        SELECT key, op, state_value,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM changes) WHERE rn = 1
    ),
    snap AS (SELECT c_custkey AS key, c_acctbal AS state_value FROM customer)
    SELECT COALESCE(s.key, l.key) AS key,
           CASE WHEN l.op = 'upsert' THEN l.state_value
                ELSE s.state_value END AS state_value
    FROM snap s FULL OUTER JOIN latest l ON s.key = l.key
    WHERE l.op IS NULL OR l.op <> 'delete'
    """,
)
def q_cdc_apply_snapshot(spark, sf_dir):
    """CDC MERGE: apply the event feed as a change log (errors = deletes,
    anything else upserts its value) onto the customer balance snapshot —
    latest change per key wins, unseen keys insert, untouched keys carry
    over (`operators/delta.py cdc_apply`). The latest-change election
    windows only the FEED; the snapshot moves once through the key join."""
    from ningaloo_turtle_etl_spark.operators.delta import cdc_apply

    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    snapshot = cust.select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("state_value")
    )
    changes = ev.select(
        F.col("user_id").alias("key"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("value").alias("state_value"),
    )
    return cdc_apply(
        snapshot, changes, ["key"], "ts", tiebreak_col="event_id"
    )


@register(
    "eventually_follows_matrix",
    """
    WITH firsts AS (
        SELECT user_id AS k, event_type AS t, MIN(ts) AS ft
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.t AS type_a, b.t AS type_b,
               CASE WHEN a.ft < b.ft THEN 1 ELSE 0 END AS before
        FROM firsts a JOIN firsts b ON a.k = b.k AND a.t <> b.t
    )
    SELECT type_a, type_b, CAST(SUM(before) AS BIGINT) AS n_keys,
           ROUND(SUM(before) / CAST(COUNT(*) AS DOUBLE), 6) AS frac
    FROM pairs GROUP BY 1, 2
    """,
)
def q_eventually_follows(spark, sf_dir):
    """Process-mining eventually-follows matrix over the event stream
    (`operators/temporal.py eventually_follows`): per ordered type pair,
    the users whose first a strictly precedes their first b — long-range
    ordering the adjacent-transition Markov matrix can't see. One
    (user, type) min-agg; pair math on the first-seen table."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        eventually_follows,
    )

    ev = load_table(spark, "events", sf_dir)
    return eventually_follows(ev)


@register(
    "event_trigram_sequences",
    """
    WITH tri AS (
        SELECT event_type AS step_1,
               lead(event_type, 1) OVER w AS step_2,
               lead(event_type, 2) OVER w AS step_3
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step_1, step_2, step_3,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM tri WHERE step_3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_occurrences DESC, step_1, step_2, step_3
    LIMIT 20
    """,
)
def q_event_trigram_sequences(spark, sf_dir):
    """Top-20 length-3 behavior sequences across user timelines
    (`operators/temporal.py frequent_sequences`): the sequence-mining
    step past markov_transitions' bigram chain, tallied from two leads
    over the per-user order (event_id breaks timestamp ties)."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        frequent_sequences,
    )

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    return frequent_sequences(
        ev, "user_id", "ts", "event_type", order_tiebreak="event_id"
    )


def _markov_attr_oracle_sql(
    channels=("click", "error", "signup", "view"),
    conversion: str = "purchase",
    rounds: int = 12,
) -> str:
    """Full replay of markov_removal_attribution: journey windows, the
    transition grid, then one unrolled value-iteration chain per removal
    (base + one per channel), all MATERIALIZED (the doubled per-round
    references would otherwise re-expand the scan exponentially). The
    channel list is the generator's input — the fixture's event types
    are stable across SFs."""
    head = f"""
    WITH conv AS MATERIALIZED (
        SELECT uid, ct, co FROM (
            SELECT user_id AS uid, ts AS ct, event_id AS co,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = '{conversion}'
        ) WHERE rn = 1
    ),
    touches AS MATERIALIZED (
        SELECT e.user_id AS uid, e.event_type AS ch, e.ts, e.event_id
        FROM events e LEFT JOIN conv ON e.user_id = conv.uid
        WHERE e.event_type <> '{conversion}'
          AND (conv.uid IS NULL OR (e.ts, e.event_id) < (conv.ct, conv.co))
    ),
    seq AS MATERIALIZED (
        SELECT uid, ch,
               ROW_NUMBER() OVER (PARTITION BY uid
                                  ORDER BY ts, event_id) AS rn,
               LAG(ch) OVER (PARTITION BY uid
                             ORDER BY ts, event_id) AS prev,
               ROW_NUMBER() OVER (PARTITION BY uid
                                  ORDER BY ts DESC, event_id DESC) AS rlast
        FROM touches
    ),
    edges AS (
        SELECT '__START' AS s, ch AS t FROM seq WHERE rn = 1
        UNION ALL
        SELECT prev, ch FROM seq WHERE prev IS NOT NULL
        UNION ALL
        SELECT seq.ch,
               CASE WHEN conv.uid IS NOT NULL THEN '__CONV'
                    ELSE '__DROP' END
        FROM seq LEFT JOIN conv ON seq.uid = conv.uid
        WHERE rlast = 1
        UNION ALL
        SELECT '__START', '__CONV' FROM conv
        WHERE uid NOT IN (SELECT DISTINCT uid FROM touches)
    ),
    grid AS MATERIALIZED (
        SELECT s, t, COUNT(*) AS n FROM edges GROUP BY 1, 2
    ),
    tots AS MATERIALIZED (SELECT s, SUM(n) AS tot FROM grid GROUP BY 1),
    p AS MATERIALIZED (
        SELECT g.s, g.t, g.n * 1.0 / tots.tot AS p
        FROM grid g JOIN tots ON g.s = tots.s
    ),
    v0 AS MATERIALIZED (SELECT s, 0.0 AS v FROM tots)"""
    parts = [head]

    def chain(tag: str, removed: str | None) -> None:
        prev = "v0"
        for k in range(1, rounds + 1):
            drop = (
                f"p.t = '__DROP' OR p.t = '{removed}'"
                if removed is not None
                else "p.t = '__DROP'"
            )
            term = (
                f"SUM(p.p * CASE WHEN p.t = '__CONV' THEN 1.0 "
                f"WHEN {drop} THEN 0.0 "
                f"ELSE COALESCE(v.v, 0.0) END)"
            )
            if removed is None:
                case_s = term
            else:
                case_s = (
                    f"CASE WHEN p.s = '{removed}' THEN 0.0 "
                    f"ELSE {term} END"
                )
            parts.append(
                f""",
    {tag}{k} AS MATERIALIZED (
        SELECT p.s, {case_s} AS v
        FROM p LEFT JOIN {prev} v ON p.t = v.s
        GROUP BY p.s
    )"""
            )
            prev = f"{tag}{k}"

    chain("vb", None)
    for c in channels:
        chain(f"v{c}", c)
    vals = ",\n        ".join(
        f"('{c}', (SELECT v FROM v{c}{rounds} WHERE s = '__START'))"
        for c in channels
    )
    parts.append(
        f""",
    basev AS (SELECT v FROM vb{rounds} WHERE s = '__START'),
    eff AS (
        SELECT channel,
               CASE WHEN (SELECT v FROM basev) > 0
                    THEN 1.0 - pv / (SELECT v FROM basev)
                    ELSE 0.0 END AS re
        FROM (VALUES
        {vals}) AS t(channel, pv)
    ),
    pos AS (SELECT SUM(CASE WHEN re > 0 THEN re END) AS ps FROM eff),
    tc AS (
        SELECT ch AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches
        FROM touches GROUP BY 1
    )
    SELECT e.channel,
           COALESCE(tc.n_touches, 0) AS n_touches,
           ROUND(re, 6) AS removal_effect,
           ROUND(CASE WHEN ps > 0 AND re > 0 THEN re / ps ELSE 0.0 END, 6)
               AS attribution_share
    FROM eff e LEFT JOIN tc ON e.channel = tc.channel, pos
    ORDER BY e.channel"""
    )
    return "".join(parts)


@register("markov_attribution_channels", _markov_attr_oracle_sql())
def q_markov_attribution_channels(spark, sf_dir):
    """Markov-chain removal-effect attribution over the event journeys
    (`operators/temporal.py markov_removal_attribution`, 12 value-
    iteration rounds): each channel's credit is how much the
    START -> conversion absorption probability falls when its node is
    knocked out — the data-driven attribution that credits every path
    dependency, where attribution_last_touch credits only the final
    click. The oracle replays journeys, the transition grid, and all
    five unrolled value-iteration chains as materialized CTEs."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        markov_removal_attribution,
    )

    ev = load_table(spark, "events", sf_dir)
    return markov_removal_attribution(
        ev, "user_id", "event_type", "ts", "event_id", "purchase", rounds=12
    ).orderBy("channel")


@register(
    "position_attribution_channels",
    """
    WITH conv AS MATERIALIZED (
        SELECT uid, ct, co FROM (
            SELECT user_id AS uid, ts AS ct, event_id AS co,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ),
    touches AS MATERIALIZED (
        SELECT e.user_id AS uid, e.event_type AS ch, e.ts, e.event_id
        FROM events e JOIN conv ON e.user_id = conv.uid
        WHERE e.event_type <> 'purchase'
          AND (e.ts, e.event_id) < (conv.ct, conv.co)
    ),
    seq AS (
        SELECT uid, ch,
               ROW_NUMBER() OVER (PARTITION BY uid
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY uid) AS n
        FROM touches
    ),
    cr AS (
        SELECT ch, rn = 1 AS isf, rn = n AS isl,
               CASE WHEN n = 1 THEN 1000000
                    WHEN n = 2 THEN 500000
                    WHEN rn = 1 OR rn = n THEN 400000
                    ELSE CAST(round(200000.0 / (n - 2)) AS BIGINT)
               END AS cm
        FROM seq
    ),
    per AS (
        SELECT ch AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(CASE WHEN isf THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_first,
               CAST(SUM(CASE WHEN isl THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_last,
               CAST(SUM(cm) AS BIGINT) AS cm
        FROM cr GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cm) AS BIGINT) AS t FROM per)
    SELECT channel, n_touches, n_first, n_last,
           ROUND(cm / 1e6, 6) AS credit,
           ROUND(cm * 1.0 / t, 6) AS credit_share
    FROM per, tot ORDER BY channel
    """,
)
def q_position_attribution_channels(spark, sf_dir):
    """U-shaped (40/20/40) position-based attribution over the same
    journey construction as the Markov query (`operators/temporal.py
    position_attribution`): first and last touch take 40% each, middles
    split 20% — the rule-based midpoint between attribution_last_touch
    and markov_attribution_channels, integer-micro credits so per-channel
    sums are exact."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        position_attribution,
    )

    ev = load_table(spark, "events", sf_dir)
    return position_attribution(
        ev, "user_id", "event_type", "ts", "event_id", "purchase"
    ).orderBy("channel")


@register(
    "shapley_attribution_channels",
    """
    WITH chans(channel, bit) AS (
        VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)
    ),
    masks AS (
        SELECT e.user_id AS u, CAST(bit_or(c.bit) AS BIGINT) AS mask
        FROM events e JOIN chans c ON e.event_type = c.channel
        GROUP BY 1
    ),
    conv AS (SELECT DISTINCT user_id AS u FROM events
             WHERE event_type = 'purchase'),
    setc AS (
        SELECT COALESCE(m.mask, 0) AS mask, CAST(COUNT(*) AS BIGINT) AS c
        FROM conv LEFT JOIN masks m USING (u) GROUP BY 1
    ),
    ts AS (SELECT CAST(i AS BIGINT) AS t FROM range(0, 16) r(i)),
    v AS (
        SELECT ts.t, CAST(COALESCE(SUM(s.c), 0) AS BIGINT) AS v
        FROM ts LEFT JOIN setc s ON (s.mask & ts.t) = s.mask
        GROUP BY ts.t
    ),
    pairs AS (
        SELECT ch.channel, vt.v AS vt, vi.v AS vti,
               CAST(bit_count(vt.t) AS INT) AS s
        FROM chans ch
        JOIN v vt ON (vt.t & ch.bit) = 0
        JOIN v vi ON vi.t = (vt.t | ch.bit)
    )
    SELECT channel,
           ROUND(CAST(SUM(([6, 2, 2, 6])[s + 1] * (vti - vt)) AS BIGINT)
                 / CAST(24 AS DOUBLE), 6) AS shapley
    FROM pairs GROUP BY channel ORDER BY channel
    """,
)
def shapley_attribution_channels(spark, sf_dir):
    """EXACT Shapley-value attribution of purchase conversions across
    the four non-conversion channels (`operators/temporal.py
    shapley_attribution`) — the game-theoretic completion of the
    attribution trio (last-touch / position / Markov removal): the only
    credit rule satisfying efficiency + symmetry + dummy + additivity.
    Journeys collapse to one bitmask aggregate; everything after runs on
    the 16-row coalition grain with n!-scaled INTEGER weights, so both
    engines agree to the last bit before the single final division."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        shapley_attribution,
    )

    ev = load_table(spark, "events", sf_dir)
    return shapley_attribution(
        ev,
        channels=["click", "error", "signup", "view"],
        conversion="purchase",
    )


@register(
    "sequential_patterns_users",
    """
    WITH base AS (
        SELECT user_id AS u, event_type AS t,
               CAST(floor(epoch(ts)) AS BIGINT) AS e
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL AND value >= 90.0
    ),
    upt AS (
        SELECT u, t, list(e ORDER BY e) AS ts FROM base GROUP BY u, t
    ),
    nu AS (SELECT CAST(COUNT(DISTINCT u) AS DOUBLE) AS n FROM base),
    types AS (SELECT DISTINCT t AS ty FROM base),
    pats AS (
        SELECT a.ty AS t1, b.ty AS t2, c.ty AS t3
        FROM types a, types b, types c
    ),
    hits AS (
        SELECT p.t1, p.t2, p.t3, a.u,
               CASE WHEN len(list_filter(c.ts,
                        x -> x > (list_filter(b.ts,
                                 y -> y > a.ts[1]))[1])) > 0
                    THEN 1 ELSE 0 END AS hit
        FROM pats p
        JOIN upt a ON a.t = p.t1
        JOIN upt b ON b.u = a.u AND b.t = p.t2
        JOIN upt c ON c.u = a.u AND c.t = p.t3
    ),
    sup AS (
        SELECT t1, t2, t3, CAST(SUM(hit) AS BIGINT) AS n_users
        FROM hits GROUP BY t1, t2, t3
    )
    SELECT t1, t2, t3, n_users,
           ROUND(n_users / nu.n, 6) AS support
    FROM sup CROSS JOIN nu
    WHERE n_users / nu.n >= 0.05
    ORDER BY support DESC, t1, t2, t3
    LIMIT 50
    """,
)
def sequential_patterns_users(spark, sf_dir):
    """Length-3 sequential-pattern support over user event histories
    (`operators/temporal.py sequential_pattern_support`, min support
    5%, top 50, restricted to high-value events so histories are sparse
    enough for supports to differentiate): which ordered type triples
    actually occur as subsequences and how often — the order-sensitive complement of
    assoc_rules_copurchase. Greedy earliest-occurrence containment on
    per-type sorted time arrays; the pattern grid is the type cube,
    broadcast."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        _epoch_seconds,
        sequential_pattern_support,
    )

    raw = load_table(spark, "events", sf_dir)
    ev = raw.select(
        "user_id",
        "event_type",
        _epoch_seconds(raw, "ts").alias("ts_epoch"),
        "ts",
    ).where(F.col("ts").isNotNull() & (F.col("value") >= 90.0))
    return sequential_pattern_support(
        ev, "user_id", "event_type", "ts_epoch", 0.05, 50
    )


@register(
    "hmm_forward_first4",
    """
    WITH ranked AS (
        SELECT user_id AS u, event_type AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS k
        FROM events WHERE ts IS NOT NULL
    ),
    firsts AS (
        SELECT u,
               MAX(CASE WHEN k = 1 THEN x END) AS o1,
               MAX(CASE WHEN k = 2 THEN x END) AS o2,
               MAX(CASE WHEN k = 3 THEN x END) AS o3,
               MAX(CASE WHEN k = 4 THEN x END) AS o4
        FROM ranked WHERE k <= 4 GROUP BY u
        HAVING COUNT(*) = 4
    ),
    s1 AS (
        SELECT u, o1, o2, o3, o4,
               0.6 * (CASE o1 WHEN 'view' THEN 0.5 WHEN 'click' THEN 0.3
                      WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.05
                      WHEN 'purchase' THEN 0.05 END) AS a0,
               0.4 * (CASE o1 WHEN 'view' THEN 0.2 WHEN 'click' THEN 0.3
                      WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.1
                      WHEN 'purchase' THEN 0.3 END) AS a1
        FROM firsts
    ),
    s2 AS (
        SELECT u, o1, o3, o4,
               (a0 * 0.8 + a1 * 0.3)
               * (CASE o2 WHEN 'view' THEN 0.5 WHEN 'click' THEN 0.3
                  WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.05
                  WHEN 'purchase' THEN 0.05 END) AS a0,
               (a0 * 0.2 + a1 * 0.7)
               * (CASE o2 WHEN 'view' THEN 0.2 WHEN 'click' THEN 0.3
                  WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.1
                  WHEN 'purchase' THEN 0.3 END) AS a1
        FROM s1
    ),
    s3 AS (
        SELECT u, o1, o4,
               (a0 * 0.8 + a1 * 0.3)
               * (CASE o3 WHEN 'view' THEN 0.5 WHEN 'click' THEN 0.3
                  WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.05
                  WHEN 'purchase' THEN 0.05 END) AS a0,
               (a0 * 0.2 + a1 * 0.7)
               * (CASE o3 WHEN 'view' THEN 0.2 WHEN 'click' THEN 0.3
                  WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.1
                  WHEN 'purchase' THEN 0.3 END) AS a1
        FROM s2
    ),
    s4 AS (
        SELECT u, o1,
               (a0 * 0.8 + a1 * 0.3)
               * (CASE o4 WHEN 'view' THEN 0.5 WHEN 'click' THEN 0.3
                  WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.05
                  WHEN 'purchase' THEN 0.05 END) AS a0,
               (a0 * 0.2 + a1 * 0.7)
               * (CASE o4 WHEN 'view' THEN 0.2 WHEN 'click' THEN 0.3
                  WHEN 'error' THEN 0.1 WHEN 'signup' THEN 0.1
                  WHEN 'purchase' THEN 0.3 END) AS a1
        FROM s3
    ),
    per_user AS (
        SELECT o1 AS first_type,
               CAST(ROUND(ln(a0 + a1) * 1000000.0, 0) AS HUGEINT) AS llu
        FROM s4
    )
    SELECT first_type, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(llu) AS DOUBLE) / 1000000.0
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_loglik
    FROM per_user GROUP BY first_type ORDER BY first_type
    """,
)
def q_hmm_forward_first4(spark, sf_dir):
    """Forward-algorithm log-likelihood of each user's first four
    events under the fixed 2-state browse/buy HMM
    (`operators/temporal.py hmm_forward_loglik`), averaged per
    first-event type: the hidden-state sequence model above
    markov_attribution_channels' observable chain — low-likelihood
    prefixes flag bots or new behavior classes. The recursion is
    unrolled into pure column expressions (no fold, no UDF); per-user
    log-likelihoods are micro-quantized before the cross-user sum."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        hmm_forward_loglik,
    )

    # ts IS NOT NULL on BOTH sides (r11 ADVICE): Spark windows sort
    # NULLS FIRST, DuckDB NULLS LAST — a future NULL ts would silently
    # diverge; the filter pins the convention.
    ev = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    return hmm_forward_loglik(
        ev, "user_id", "event_type", ["ts", "event_id"], steps=4
    )


def _viterbi_oracle_sql(steps: int = 4) -> str:
    """hmm_viterbi_first4: the 2^steps path products fully enumerated as
    SQL double chains (every constant CAST AS DOUBLE so products,
    GREATEST and the first-match CASE are IEEE-identical to the Spark
    expressions — decimal literals would diverge exactly where the
    argmax comparison needs bit-equality), over the same ranked-firsts
    pivot as the forward-likelihood oracle."""
    import itertools

    from ningaloo_turtle_etl_spark.operators.temporal import (
        HMM_E,
        HMM_PI,
        HMM_T,
    )

    def emit(s: int, col: str) -> str:
        cases = " ".join(
            f"WHEN '{t}' THEN CAST({p[s]} AS DOUBLE)"
            for t, p in HMM_E.items()
        )
        return f"(CASE {col} {cases} END)"

    paths = list(itertools.product((0, 1), repeat=steps))
    exprs = []
    for pth in paths:
        e = f"(CAST({HMM_PI[pth[0]]} AS DOUBLE) * {emit(pth[0], 'o1')})"
        for i in range(1, steps):
            t = HMM_T[pth[i - 1]][pth[i]]
            e = f"(({e} * CAST({t} AS DOUBLE)) * {emit(pth[i], f'o{i + 1}')})"
        exprs.append(e)
    pdefs = ",\n               ".join(
        f"{e} AS p{i}" for i, e in enumerate(exprs)
    )
    plist = ", ".join(f"p{i}" for i in range(len(paths)))
    case = "CASE " + " ".join(
        f"WHEN p{i} = best THEN '{''.join(map(str, paths[i]))}'"
        for i in range(len(paths))
    ) + " END"
    omax = " ".join(
        f"MAX(CASE WHEN k = {i} THEN x END) AS o{i},"
        for i in range(1, steps + 1)
    ).rstrip(",")
    return f"""
    WITH ranked AS (
        SELECT user_id AS u, event_type AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS k
        FROM events WHERE ts IS NOT NULL
    ),
    firsts AS (
        SELECT u,
               {omax}
        FROM ranked WHERE k <= {steps} GROUP BY u
        HAVING COUNT(*) = {steps}
    ),
    probs AS (
        SELECT u, o1,
               {pdefs}
        FROM firsts
    ),
    bestp AS (
        SELECT u, o1, {plist}, GREATEST({plist}) AS best FROM probs
    ),
    dec AS (
        SELECT o1 AS first_type, {case} AS path,
               CAST(round(ln(best) * 1e6) AS BIGINT) AS llu
        FROM bestp
    )
    SELECT first_type, path, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(llu) AS DOUBLE) / 1e6 / COUNT(*), 6)
               AS avg_best_loglik
    FROM dec GROUP BY first_type, path
    ORDER BY first_type, path
    """


@register("hmm_viterbi_first4", _viterbi_oracle_sql(4))
def q_hmm_viterbi_first4(spark, sf_dir):
    """Viterbi-decoded most-likely hidden-state path of each user's
    first four events under the fixed 2-state browse/buy HMM
    (`operators/temporal.py hmm_viterbi_paths`) — the segmentation
    label where hmm_forward_first4 gives the likelihood: the decoded
    (first event type × path) census with mean best-path
    log-likelihood. Enumerated 2^4 path products in one shared double
    association; argmax ties to the smallest path index in both
    engines."""
    from ningaloo_turtle_etl_spark.operators.temporal import (
        hmm_viterbi_paths,
    )

    ev = load_table(spark, "events", sf_dir).where(F.col("ts").isNotNull())
    return hmm_viterbi_paths(
        ev, "user_id", "event_type", ["ts", "event_id"], steps=4
    )
