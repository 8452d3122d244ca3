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
    event_transition_probs' observable chain — low-likelihood
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
