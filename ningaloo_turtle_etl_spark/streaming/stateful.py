"""Custom stateful streaming operators via applyInPandasWithState.

The reference's closest analog is the re-runnable batch dedup
(EntryBatchProcess skipping done records, tagging-etl.Rmd:116-130); on a
stream that becomes first-seen-wins dedup with explicit keyed state and a
timeout, which Spark's built-in dropDuplicates covers only with unbounded
state. The operator here keeps (per key) only first-seen ids with an
event-count, emitting new keys once."""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "key string, first_event_id long, n_events long"
STATE_SCHEMA = "first_event_id long, n_events long"


def _dedup_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    # Timeout ticks (state.hasTimedOut with ProcessingTimeTimeout — the
    # production eviction mode the docstring below recommends) invoke this
    # with an EMPTY batch iterator: pd.concat([]) raises, so guard first
    # and evict the idle key's state instead (r04 review).
    batches = [b for b in pdfs if len(b)]
    if not batches:
        if state.hasTimedOut:
            state.remove()
        return iter(())
    rows = pd.concat(batches)
    n_new = len(rows)
    if state.exists:
        first_id, n = state.get
        state.update((int(first_id), int(n + n_new)))
        return iter(())  # known key: state updated, nothing emitted
    first_id = int(rows["event_id"].min())
    state.update((first_id, n_new))
    return iter([pd.DataFrame({"key": [key[0]], "first_event_id": [first_id], "n_events": [n_new]})])


def first_seen_dedup_stream(events: DataFrame, key_col: str = "event_type") -> DataFrame:
    """First-seen-wins keyed dedup over a stream: emits one row per NEW key
    (its first event id), while keyed state tracks the running count.
    ProcessingTimeTimeout would evict idle keys in production; NoTimeout
    keeps the test deterministic."""
    import pyspark.sql.functions as F

    keyed = events.select(F.col(key_col).cast("string").alias("key"), "event_id")
    return keyed.groupBy("key").applyInPandasWithState(
        _dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming heavy hitters (space-saving) ---------------------------------
HH_OUTPUT_SCHEMA = "shard int, item string, est_count long, max_err long"
HH_STATE_SCHEMA = "items array<string>, counts array<long>, errs array<long>"


def _space_saving_update(summary: dict, item_counts, capacity: int) -> None:
    """Apply batched (item, add) updates to a space-saving summary
    {item: [count, err]} in place (Metwally et al. 2005, SpaceSaving).
    Updates are applied in (-add, item) order: batch-granularity
    determinism — the same batch always produces the same summary
    regardless of row order inside the batch."""
    for item, add in sorted(item_counts.items(), key=lambda kv: (-kv[1], kv[0])):
        add = int(add)
        if item in summary:
            summary[item][0] += add
        elif len(summary) < capacity:
            summary[item] = [add, 0]
        else:
            # evict the min-count entry (ties: lexicographically first,
            # again for determinism); the newcomer inherits its count as
            # both floor and error bound.
            victim = min(summary.items(), key=lambda kv: (kv[1][0], kv[0]))
            vmin = victim[1][0]
            del summary[victim[0]]
            summary[item] = [vmin + add, vmin]


def _heavy_hitters_fn(capacity: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        batches = [b for b in pdfs if len(b)]
        if not batches:
            if state.hasTimedOut:
                state.remove()
            return iter(())
        rows = pd.concat(batches)
        if state.exists:
            items, counts, errs = state.get
            summary = {
                i: [int(c), int(e)] for i, c, e in zip(items, counts, errs)
            }
        else:
            summary = {}
        _space_saving_update(summary, rows["item"].value_counts(), capacity)
        ordered = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update((
            [i for i, _ in ordered],
            [v[0] for _, v in ordered],
            [v[1] for _, v in ordered],
        ))
        return iter(
            [
                pd.DataFrame(
                    {
                        "shard": [int(key[0])] * len(ordered),
                        "item": [i for i, _ in ordered],
                        "est_count": [v[0] for _, v in ordered],
                        "max_err": [v[1] for _, v in ordered],
                    }
                )
            ]
        )

    return fn


def heavy_hitters_stream(
    events: DataFrame,
    item_col: str = "user_id",
    capacity: int = 1024,
    shards: int = 4,
) -> DataFrame:
    """Streaming top-item tracking with BOUNDED state: per shard (item-hash
    partition) a space-saving summary of at most ``capacity`` counters,
    emitting (shard, item, est_count, max_err) after each batch. Sharding
    by item hash means every item lives in exactly one shard's summary, so
    shard summaries union into the global one; est_count ∈ [true, true +
    max_err], exact (max_err = 0) whenever a shard never evicts — which is
    the configuration the batch≡stream harness pins (capacity above the
    per-shard cardinality), while eviction arithmetic is unit-tested
    directly.

    OUTPUT CONTRACT (append mode): each micro-batch re-emits the FULL
    per-shard summary, and append-mode sinks cannot retract earlier
    emissions — so a multi-batch run leaves one (shard, item) row PER BATCH
    in the sink, with earlier rows carrying stale est_counts. The sink is
    therefore last-batch-wins: consumers must keep only each (shard, item)'s
    latest row (e.g. max_by on a batch-id/ingest-time column, or read only
    the final batch), or run in the single-batch ``availableNow`` regime
    the batch≡stream harness uses, where the one batch IS the final state.
    Emitting only changed entries would shrink the duplication but still
    could not retract an evicted item's last row; the full-summary emission
    keeps the last batch self-contained.

    Scale shape: state is O(shards × capacity) regardless of stream
    length — the knob the built-in streaming aggregation lacks (its state
    grows with distinct keys). Raise ``shards`` for hot-item write
    concurrency; per-batch work is one value_counts per shard plus O(m log
    m) bookkeeping, Arrow-batched."""
    import pyspark.sql.functions as F

    keyed = events.select(
        F.pmod(F.xxhash64(F.col(item_col).cast("string")), F.lit(shards))
        .cast("int")
        .alias("shard"),
        F.col(item_col).cast("string").alias("item"),
    ).filter(F.col("item").isNotNull())
    return keyed.groupBy("shard").applyInPandasWithState(
        _heavy_hitters_fn(capacity),
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def heavy_hitters_batch(
    events: DataFrame, item_col: str = "user_id", shards: int = 4
) -> DataFrame:
    """Batch ground truth for :func:`heavy_hitters_stream` in the
    no-eviction regime: exact per-item counts with the same shard hash and
    max_err = 0."""
    import pyspark.sql.functions as F

    return (
        events.filter(F.col(item_col).isNotNull())
        .groupBy(
            F.pmod(F.xxhash64(F.col(item_col).cast("string")), F.lit(shards))
            .cast("int")
            .alias("shard"),
            F.col(item_col).cast("string").alias("item"),
        )
        .agg(
            F.count(F.lit(1)).alias("est_count"),
            F.lit(0).cast("long").alias("max_err"),
        )
    )
