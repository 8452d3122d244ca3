"""Generate an sf1-scale slice (~10x sf0.1: ~6M lineitem rows) by tiling
the driver's sf0.1 parquet with key offsets — for an empirical
check that headline plans scale near-linearly 600k -> 6M
(the winnowing 64x CollapseProject cliff was exactly the class of
surprise this probe exists to catch). Dimensions (region/nation) stay
as-is; every fact/entity key is offset per copy so joins keep their
selectivity instead of fanning out.

Usage: python scripts/make_sf1.py [--src /root/testdata/sf0.1]
                                  [--dst /root/repo/.sf1_testdata]
                                  [--copies 10]
Writes <dst>/<table>.parquet (single parquet dir per table, same layout
driver_sim/bench read).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from ningaloo_turtle_etl_spark.session import get_spark  # noqa: E402

# per-table key columns to offset, as (column, stride source table) pairs;
# stride = 10^ceil(log10(max_key)) of the SOURCE table so copies never
# collide and keys stay joinable within a copy.
OFFSETS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey", "s_nationkey=KEEP"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]


def stride_for(maxv: int) -> int:
    s = 1
    while s <= maxv:
        s *= 10
    return s


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/root/repo/.sf1_testdata")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark("make-sf1", master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.dst, exist_ok=True)

    # shared strides so foreign keys offset consistently across tables
    key_max = {}
    for t, cols in OFFSETS.items():
        df = spark.read.parquet(f"{args.src}/{t}.parquet")
        for c in cols:
            c = c.split("=")[0]
            base = c.split("_", 1)[-1]  # custkey / orderkey / ...
            m = df.agg(F.max(F.col(c)).alias("m")).collect()[0]["m"]
            key_max[base] = max(key_max.get(base, 0), int(m or 0))
    strides = {k: stride_for(v) for k, v in key_max.items()}
    print("strides:", strides)

    for t in DIMS:
        df = spark.read.parquet(f"{args.src}/{t}.parquet")
        df.write.mode("overwrite").parquet(f"{args.dst}/{t}.parquet")
        print(f"{t}: copied dim")

    for t, cols in OFFSETS.items():
        df = spark.read.parquet(f"{args.src}/{t}.parquet")
        reps = spark.range(args.copies).select(F.col("id").alias("_rep"))
        big = df.crossJoin(reps)
        for c in cols:
            if c.endswith("=KEEP"):
                continue
            base = c.split("_", 1)[-1]
            big = big.withColumn(
                c, F.col(c) + F.col("_rep") * F.lit(strides[base])
            )
        big = big.drop("_rep").repartition(32)
        big.write.mode("overwrite").parquet(f"{args.dst}/{t}.parquet")
        n = spark.read.parquet(f"{args.dst}/{t}.parquet").count()
        print(f"{t}: {n} rows")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
