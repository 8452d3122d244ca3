"""Idempotent streaming sinks — ST7 (EntryBatchProcess re-runnability,
tagging-etl.Rmd:116-130: done records skipped, failed retried)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def upsert_parquet_batch(
    batch_df: DataFrame, target_path: str, key_cols: list[str]
) -> None:
    """Merge-on-key writer for ``foreachBatch``: new keys are appended,
    existing keys are replaced by the incoming batch — re-running the same
    batch is a no-op (idempotent, the ST7 contract).

    Local-parquet implementation rewrites the target (read → anti-join →
    union). On a real deployment the same function body is a Delta/Iceberg
    ``MERGE INTO`` — the foreachBatch seam is identical.

    The batch is materialized once: a micro-batch's frame re-runs its whole
    streaming plan (stateful operators included) on every action, and the
    merge reads it twice. An empty batch, such as the no-data batch after a
    watermark advance, leaves the target untouched.
    """
    _recover(target_path)
    spark = batch_df.sparkSession
    staged = batch_df.dropDuplicates(key_cols).persist()
    try:
        if staged.count() == 0:
            return
        if _exists(spark, target_path):
            current = spark.read.parquet(target_path)
            keep = current.join(staged.select(*key_cols), on=key_cols, how="left_anti")
            merged = keep.unionByName(staged)
        else:
            merged = staged
        # Write-then-swap: the merge plan reads target_path, so materialize to
        # a sibling temp dir distributed (never through the driver), then
        # rename.
        tmp_path = target_path.rstrip("/") + "._staging"
        merged.write.mode("overwrite").parquet(tmp_path)
        _swap(tmp_path, target_path)
    finally:
        staged.unpersist()


def _aside_path(target_path: str) -> str:
    return target_path.rstrip("/") + "._previous"


def _swap(tmp_path: str, target_path: str) -> None:
    """Replace ``target_path`` with ``tmp_path`` so that some complete
    version survives a crash at any point: the old version is moved aside
    (not deleted) until the new one is in place."""
    aside = _aside_path(target_path)
    if os.path.exists(target_path):
        os.replace(target_path, aside)
    os.replace(tmp_path, target_path)
    shutil.rmtree(aside, ignore_errors=True)


def _recover(target_path: str) -> None:
    """Finish a swap a crash interrupted: with the target missing, the
    aside copy is the last complete version; with both present, the target
    is the newer one."""
    aside = _aside_path(target_path)
    if not os.path.exists(aside):
        return
    if os.path.exists(target_path):
        shutil.rmtree(aside)
    else:
        os.replace(aside, target_path)


def foreach_batch_upserter(target_path: str, key_cols: list[str]):
    """Adapter: `writeStream.foreachBatch(foreach_batch_upserter(path, keys))`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet_batch(batch_df, target_path, key_cols)

    return _apply


def _exists(spark, path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )
