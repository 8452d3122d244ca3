"""Scale-mechanics tests: salted joins preserve semantics; bucketed tables
join without a shuffle; the full ETL graph runs end-to-end."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark.operators.scale import (
    read_table,
    salted_join,
    write_bucketed,
)


def test_salted_join_matches_plain_join(spark):
    # One pathological hot key (0) + uniform tail.
    skewed = spark.createDataFrame(
        [(0, i) for i in range(500)] + [(k, k) for k in range(1, 50)], "k long, payload long"
    )
    dim = spark.createDataFrame([(k, f"v{k}") for k in range(50)], "k long, v string")
    plain = skewed.join(dim, "k").groupBy("k").count()
    salted = salted_join(skewed, dim, "k", salt_buckets=8).groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_distributes_hot_key(spark):
    skewed = spark.createDataFrame([(0, i) for i in range(1000)], "k long, payload long")
    dim = spark.createDataFrame([(0, "x")], "k long, v string")
    s = skewed.withColumn("_salt", (F.rand(seed=42) * 8).cast("int"))
    n_salts = s.select("_salt").distinct().count()
    assert n_salts == 8  # hot key fans out across all buckets
    assert salted_join(skewed, dim, "k", salt_buckets=8).count() == 1000


@pytest.mark.usefixtures("spark")
def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    # warehouse dir is a static config — uses the session default
    # (./spark-warehouse, gitignored); tables dropped at the end.
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    # Stale-state hygiene: an interrupted prior run may have left the managed
    # table dir without catalog metadata.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bucketed_a", "bucketed_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    write_bucketed(a, "bucketed_a", ["k"], num_buckets=8, sort_cols=["k"])
    write_bucketed(b, "bucketed_b", ["k"], num_buckets=8, sort_cols=["k"])
    # Disable auto-broadcast: at test scale the planner would broadcast (and
    # skip bucketed reads entirely); at warehouse scale both sides are big
    # and the bucketed sort-merge path is exactly what runs.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "bucketed_a").join(
            read_table(spark, "bucketed_b"), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE bucketed_a")
        spark.sql("DROP TABLE bucketed_b")


def _etl_inputs(spark):
    """A two-site graph input with one missing bbox corner, one orphan crawl
    and one NA-species crawl."""
    raw_sites = spark.createDataFrame(
        [
            (1, "Ningaloo", "North", "Red Bluff", -23.0, 113.0, -22.9, -23.1, 113.0, 112.9),
            (2, "Ningaloo", "North", "Gnaraloo", -23.8, 113.5, -23.7, -23.9, 113.6, None),
        ],
        "id long, division string, section string, subsection string, lat double,"
        " lon double, y_max double, y_min double, x_max double, x_min double",
    )
    area = spark.createDataFrame(
        [(100, 1, "7/15/2020 6:30:00", "Ningaloo", "North", "Red Bluff", 1)],
        "survey_id long, date_id long, date_raw string, division string,"
        " section string, subsection string, site_disturbed int",
    )
    env = spark.createDataFrame([(1, 10.0, 25.0)], "date_id long, wind_speed double, air_temp double")
    species = spark.createDataFrame([(1, "Green")], "species_id long, species_name string")
    crawls = spark.createDataFrame(
        [(1, 100, 1, 2), (2, 999, None, 1)],
        "crawl_id long, survey_id long, species_id long, no_false_crawls int",
    )
    nests_joined = spark.createDataFrame(
        [(1, 100, "New", "Green", "2020-07-15", "Red Bluff")],
        "nest_id long, survey_id long, nest_type string, species_name string,"
        " date string, subsection string",
    )
    return {
        "raw_sites": raw_sites,
        "area_surveyed": area,
        "environment": env,
        "species": species,
        "raw_crawls": crawls,
        "nests_joined": nests_joined,
    }


_ETL_EXPECTED_QA = {
    "duplicated_sites": 0,
    "sites_missing_coords": 1,
    "orphan_crawls": 1,
    "na_species_crawls": 1,
}


def test_etl_graph_end_to_end(spark, tmp_path):
    import json

    from ningaloo_turtle_etl_spark.plans.etl_graph import publish_products, run_batch_etl
    from ningaloo_turtle_etl_spark.sources.catalogue import Catalogue

    out = str(tmp_path / "products")
    result = run_batch_etl(_etl_inputs(spark), out_dir=out, expected_qa=_ETL_EXPECTED_QA)
    # QA counts reflect the planted issues: one missing bbox corner, one
    # orphan crawl, one NA-species crawl.
    assert result.qa["sites_missing_coords"] == 1
    assert result.qa["orphan_crawls"] == 1
    assert result.qa["na_species_crawls"] == 1
    report = json.load(open(f"{out}/qa_report.json"))
    assert report == result.qa

    # Rendered QA run report (ningaloo-etl.Rmd:372-425 analog): every check
    # matched its expected count, sample rows captured, Markdown rendered.
    detail = json.load(open(f"{out}/qa_run_report.json"))
    assert detail["ok"] is True
    assert detail["counts"] == result.qa
    assert detail["checks"]["orphan_crawls"]["expected"] == 1
    assert len(detail["checks"]["orphan_crawls"]["sample"]) == 1
    md = open(f"{out}/qa_run_report.md").read()
    assert "# QA run report" in md and "orphan_crawls — OK" in md

    assert os.path.exists(f"{out}/sites.geojson")
    assert any(f.endswith(".csv") for f in os.listdir(f"{out}/surveys_csv"))

    cat = Catalogue({}, staging_dir=str(tmp_path / "stage"))
    publish_products(result, cat)
    assert "sites_geojson" in cat.published and "surveys" in cat.published


def _marker_job(sc, group: str) -> int:
    """Run one job in its own group and return its id once the status
    tracker has seen it (the tracker is fed asynchronously, in event order,
    so every earlier job has been recorded by then)."""
    import time

    sc.setJobGroup(group, group)
    sc.parallelize([1], 1).count()
    deadline = time.monotonic() + 60
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, f"job of {group} never reached the tracker"
        time.sleep(0.05)
    return max(ids)


def test_etl_graph_concurrent_actions_stay_in_callers_job_group(spark, tmp_path):
    """run_batch_etl submits its QA actions, then its product writes, from a
    thread pool: every job they run is accounted to the caller's job group,
    and the QA report still lists the checks in their declared order."""
    import json
    import uuid

    from ningaloo_turtle_etl_spark.plans.etl_graph import run_batch_etl

    sc = spark.sparkContext
    group = f"etl-graph-{uuid.uuid4().hex}"
    out = str(tmp_path / "products")
    try:
        before = _marker_job(sc, f"{group}-before")
        sc.setJobGroup(group, "run_batch_etl")
        run_batch_etl(_etl_inputs(spark), out_dir=out, expected_qa=_ETL_EXPECTED_QA)
        after = _marker_job(sc, f"{group}-after")
    finally:
        sc.setJobGroup(None, None)
    in_group = sc.statusTracker().getJobIdsForGroup(group)
    assert len(in_group) > 0
    assert len(in_group) == after - before - 1

    declared = ["duplicated_sites", "sites_missing_coords", "orphan_crawls", "na_species_crawls"]
    with open(f"{out}/qa_run_report.json") as f:
        detail = json.load(f)
    assert list(detail["checks"]) == declared
    assert list(detail["counts"]) == declared


def test_etl_graph_failing_write_raises(spark, tmp_path, monkeypatch):
    """A product write that fails among the concurrent writes fails the run."""
    from ningaloo_turtle_etl_spark.plans import etl_graph

    real_write_csv = etl_graph.write_csv

    def write_csv(df, path, **options):
        if path.endswith("crawls_csv"):
            raise OSError(f"no space left writing {path}")
        real_write_csv(df, path, **options)

    monkeypatch.setattr(etl_graph, "write_csv", write_csv)
    with pytest.raises(OSError, match="no space left writing .*crawls_csv"):
        etl_graph.run_batch_etl(_etl_inputs(spark), out_dir=str(tmp_path / "products"))


@pytest.mark.parametrize(
    "master, env, want",
    [
        ("local[4]", None, "4"),
        ("local[*]", None, str(len(os.sched_getaffinity(0)))),
        ("local[4]", "7", "7"),
        ("spark://head:7077", None, "32"),
    ],
    ids=["local_n", "local_star", "env_override", "cluster_master"],
)
def test_shuffle_partitions_follow_master(monkeypatch, master, env, want):
    """One shuffle partition per local core; $SPARK_GRAFT_SHUFFLE overrides."""
    from ningaloo_turtle_etl_spark.session import shuffle_partitions

    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", env)
    assert shuffle_partitions(master) == want


def test_key_skew_profile_hand_distribution(spark):
    import math

    from ningaloo_turtle_etl_spark.operators.scale import key_skew_profile

    rows = [("hot",)] * 80 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_profile(df, "k").collect()[0]
    assert (r["total_rows"], r["n_keys"], r["max_key_rows"]) == (100, 21, 80)
    assert r["skew_factor"] == round(80 * 21 / 100, 4)
    # top10 = hot(80) + 9 singletons
    assert r["top10_share"] == round(89 / 100, 6)
    ref = -(0.8 * math.log(0.8) + 20 * 0.01 * math.log(0.01))
    assert abs(r["entropy"] - ref) < 1e-6
    # uniform key: entropy = ln(n_keys), skew factor 1
    u = key_skew_profile(
        spark.createDataFrame([(f"k{i % 8}",) for i in range(64)], "k string"),
        "k",
    ).collect()[0]
    assert u["skew_factor"] == 1.0
    assert abs(u["entropy"] - math.log(8)) < 1e-6


def test_zorder_key_interleave_and_locality(spark):
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.scale import (
        quantize_minmax,
        zorder_key,
    )

    # bit-interleave replica: z(x, y) with bit i of col j at i*k+j
    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key(["x", "y"], bits=4).alias("z")
        ).collect()
    }

    def z_ref(x, y):
        z = 0
        for i in range(4):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert all(got[(x, y)] == z_ref(x, y) for x in range(16) for y in range(16))
    # locality: consecutive z-key quartiles cover bounded x AND y spans —
    # a lexicographic (x, y) sort leaves y's span at the full domain
    zs = sorted(got.items(), key=lambda kv: kv[1])
    quart = len(zs) // 4
    for qi in range(4):
        chunk = [xy for xy, _ in zs[qi * quart : (qi + 1) * quart]]
        xs = [x for x, _ in chunk]
        ys = [y for _, y in chunk]
        assert max(xs) - min(xs) <= 8 and max(ys) - min(ys) <= 8
    # quantizer clamps and lands on the integer grid
    qdf = spark.createDataFrame(
        [(-5.0,), (0.0,), (50.0,), (99.9,), (200.0,)], "v double"
    )
    vals = [
        r["q"]
        for r in qdf.select(
            quantize_minmax("v", 0.0, 100.0, bits=4).alias("q")
        ).collect()
    ]
    assert vals[0] == 0 and vals[-1] == 15  # clamped both ends
    assert vals[2] == 8  # 50/100 * 16
    import pytest as _pt

    with _pt.raises(ValueError):
        zorder_key(["x"], bits=4)
    with _pt.raises(ValueError):
        zorder_key(["x", "y"], bits=32)
    with _pt.raises(ValueError):
        quantize_minmax("v", 5.0, 5.0)


def test_compaction_bins_hand_inventory(spark):
    """Sequential cumulative-size split: equal files pack to the target;
    an oversized file takes its own bin; order keys ride along."""
    import pytest

    from ningaloo_turtle_etl_spark.operators.scale import compaction_bins

    files = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 5), ("b", 1, 5), ("b", 2, 5)],
        "k string, sub int, bytes long",
    )
    out = {r["bin"]: r for r in compaction_bins(
        files, "bytes", ["k", "sub"], target_size=10).collect()}
    assert out[0]["n_files"] == 2 and out[0]["total_bytes"] == 10
    assert out[0]["first_key"] == "a" and out[0]["last_key"] == "a"
    assert out[1]["n_files"] == 2 and out[1]["first_key"] == "b"
    big = spark.createDataFrame(
        [("a", 1, 25), ("b", 1, 5)], "k string, sub int, bytes long"
    )
    out2 = {r["bin"]: r for r in compaction_bins(
        big, "bytes", ["k", "sub"], target_size=10).collect()}
    # the 25-byte file occupies bin 0 alone; the next starts at bin 2
    assert out2[0]["n_files"] == 1 and out2[0]["total_bytes"] == 25
    assert out2[2]["n_files"] == 1 and out2[2]["total_bytes"] == 5
    with pytest.raises(ValueError):
        compaction_bins(files, "bytes", ["k"], target_size=0)


def _hilbert_ref(bits, x, y):
    """Pure-Python xy2d replica — independent of BOTH engines."""
    d = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        x &= s - 1
        y &= s - 1
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
    return d


def test_hilbert_key_bijective_adjacent_and_engine_agreement(spark):
    """The Hilbert recipe must (a) be a bijection onto [0, 4^bits), (b)
    take a UNIT Manhattan step between consecutive keys — the locality
    property Z-order lacks and the whole point of the operator — and (c)
    the Catalyst implementations (column form and the materialized
    DataFrame form) must agree with the pure-Python replica on every
    grid cell."""
    import pytest

    from ningaloo_turtle_etl_spark.operators.scale import (
        hilbert_key,
        with_hilbert_key,
    )

    bits = 3
    n = 1 << bits
    ref = {}
    for x in range(n):
        for y in range(n):
            ref[(x, y)] = _hilbert_ref(bits, x, y)
    inv = {d: xy for xy, d in ref.items()}
    assert sorted(inv) == list(range(n * n))
    for d in range(1, n * n):
        (x1, y1), (x2, y2) = inv[d - 1], inv[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1

    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    col_form = {
        (r["x"], r["y"]): r["d"]
        for r in grid.select(
            "x", "y", hilbert_key("x", "y", bits=bits).alias("d")
        ).collect()
    }
    assert col_form == ref
    df_form = {
        (r["x"], r["y"]): r["hkey"]
        for r in with_hilbert_key(grid, "x", "y", bits=bits).collect()
    }
    assert df_form == ref

    with pytest.raises(ValueError):
        hilbert_key("x", "y", bits=0)
    with pytest.raises(ValueError):
        with_hilbert_key(grid, "x", "y", bits=32)


def test_hilbert_buckets_tighter_than_zorder_worst_span(spark):
    """Locality claim, measured: bucketing 64x64 grid cells into 64
    curve segments, the WORST per-bucket bounding-box span (max of the
    two dimension spans) of the Hilbert layout must not exceed Z-order's
    — Morton's Z-jumps produce long skinny buckets, Hilbert segments
    stay connected."""
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.scale import (
        with_hilbert_key,
        zorder_key,
    )

    n = 64
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )

    def worst_span(df, key):
        spans = df.groupBy(F.shiftright(key, 6).alias("b")).agg(
            F.greatest(
                F.max("x") - F.min("x"), F.max("y") - F.min("y")
            ).alias("span")
        )
        return spans.agg(F.max("span")).collect()[0][0]

    h = worst_span(
        with_hilbert_key(grid, "x", "y", bits=6, name="k"), F.col("k")
    )
    z = worst_span(
        grid.select("x", "y", zorder_key(["x", "y"], bits=6).alias("k")),
        F.col("k"),
    )
    assert h <= z, (h, z)
    assert h <= 15  # a 64-cell hilbert segment stays in a small box


def test_inequality_profile_replica_and_orderings(spark):
    """inequality_profile vs an exact Python replica (same quantized
    terms), plus the index semantics: an all-equal group scores 0 on
    all three; a skewed group scores strictly higher on each; zeros
    contribute the documented limits."""
    import decimal
    import math

    from ningaloo_turtle_etl_spark.operators.scale import (
        inequality_profile,
    )

    rows = (
        [("flat", 100)] * 8
        + [("skew", 10)] * 7 + [("skew", 930)]
        + [("zeros", 0), ("zeros", 0), ("zeros", 100), ("zeros", 100)]
        + [("single", 42)]
    )
    df = spark.createDataFrame(rows, "g string, x long")
    got = {
        r["g"]: r for r in inequality_profile(df, "g", "x").collect()
    }

    def rhu(v):
        return int(decimal.Decimal(v).quantize(0, rounding=decimal.ROUND_HALF_UP))

    import collections

    groups = collections.defaultdict(list)
    for g, x in rows:
        groups[g].append(x)
    for g, xs in groups.items():
        n, sx = len(xs), sum(xs)
        mu = sx / n
        s_theil = sum(
            rhu((x * n / sx) * math.log(x * n / sx) * 1e9)
            for x in xs
            if x > 0
        )
        s_sqrt = sum(rhu(math.sqrt(x) * 1e6) for x in xs)
        var = sum(x * x for x in xs) / n - mu * mu
        cv = math.sqrt(var) / mu if var > 0 and sx > 0 else 0.0
        r = got[g]
        assert r["n"] == n
        assert abs(r["mean"] - round(mu, 6)) < 1e-9
        assert abs(r["cv"] - round(cv, 6)) < 1e-9
        assert abs(r["theil_t"] - round(s_theil / 1e9 / n, 6)) < 1e-9
        atk = 1.0 - (s_sqrt / 1e6 / n) ** 2 / mu
        assert abs(r["atkinson_05"] - round(atk, 6)) < 1e-9

    for k in ("cv", "theil_t", "atkinson_05"):
        assert got["flat"][k] == 0.0 and got["single"][k] == 0.0
        assert got["skew"][k] > got["zeros"][k] > 0.0


def test_rendezvous_shard_plan_minimal_disruption(spark):
    """HRW pins: assignments are deterministic and balanced-ish; adding
    one shard moves keys ONLY into the new shard (moved_in = 0 on every
    surviving shard) at roughly 1/(n+1) of the keys; every key is
    assigned under both n and n+1 (counts sum to the key count)."""
    from ningaloo_turtle_etl_spark.operators.scale import (
        rendezvous_shard_plan,
    )

    df = spark.createDataFrame(
        [(str(i),) for i in range(600)], "k string"
    )
    rows = rendezvous_shard_plan(df, "k", n_shards=5, seed=7).collect()
    by = {r["shard"]: r for r in rows}
    assert set(by) == set(range(6))
    assert sum(r["n_keys"] for r in rows) == 600
    assert sum(r["n_keys_plus1"] for r in rows) == 600
    # minimal disruption: survivors never receive moved keys
    for s in range(5):
        assert by[s]["moved_in"] == 0
    moved = by[5]["moved_in"]
    assert moved == by[5]["n_keys_plus1"]
    # expected 1/6 of keys = 100; allow generous binomial slack
    assert 60 <= moved <= 140
    # balance: no shard holds more than 2.2x its fair share
    for s in range(5):
        assert by[s]["n_keys"] <= 2.2 * 600 / 5
    # determinism
    again = rendezvous_shard_plan(df, "k", n_shards=5, seed=7).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_zonemap_prune_audit_layouts(spark):
    """Zone-map audit pins: a layout sorted on the predicate column
    prunes all but the matching file; an uncorrelated layout prunes
    nothing; rows_matching is layout-invariant."""
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.scale import (
        zonemap_prune_audit,
    )

    rows = [(i % 16, i) for i in range(64)]
    df = spark.createDataFrame(rows, "z long, ok long")
    out = {
        r["layout"]: r
        for r in zonemap_prune_audit(
            df,
            "z",
            {
                "insertion_order": [F.col("ok")],
                "z_sorted": [F.col("z"), F.col("ok")],
            },
            4,
            8,
            n_files=4,
        ).collect()
    }
    ins, srt = out["insertion_order"], out["z_sorted"]
    assert ins["n_files"] == srt["n_files"] == 4
    assert ins["files_pruned"] == 0 and ins["rows_scanned"] == 64
    assert srt["files_pruned"] == 3 and srt["files_hit"] == 1
    assert srt["rows_scanned"] == 16
    assert ins["rows_matching"] == srt["rows_matching"] == 16
    assert srt["prune_frac"] == 0.75


def test_zonemap_prune_audit_null_contract(spark):
    """r11 ADVICE: a layout that prunes EVERY file reports rows_scanned
    = 0 (not NULL), and a file whose zone stats are all-NULL counts as
    PRUNED (the range predicate is null-rejecting — the null-count
    metadata rule real readers apply), never as neither-hit-nor-pruned.
    Also pins the audit's aggregate grain: n_files rows per layout feed
    one layout-grain reduce — files_hit + files_pruned == n_files
    always (the simulation's ntile sort stands in for file metadata;
    real zone maps arrive at (file x layout) grain from the manifest)."""
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.scale import (
        zonemap_prune_audit,
    )

    # 48 rows: ids 0..15 have NULL z (one all-NULL file under the
    # z-sorted layout, NULLS FIRST), the rest z = 100 + i (all far
    # above the [4, 8) predicate, so every file with stats prunes too)
    rows = [(None if i < 16 else 100 + i, i) for i in range(48)]
    df = spark.createDataFrame(rows, "z long, ok long")
    out = {
        r["layout"]: r
        for r in zonemap_prune_audit(
            df,
            "z",
            {"z_sorted": [F.col("z"), F.col("ok")]},
            4,
            8,
            n_files=3,
        ).collect()
    }
    srt = out["z_sorted"]
    assert srt["files_hit"] == 0
    assert srt["files_pruned"] == 3  # the all-NULL file counts as pruned
    assert srt["files_hit"] + srt["files_pruned"] == srt["n_files"]
    assert srt["rows_scanned"] == 0  # coalesced, not NULL
    assert srt["rows_matching"] == 0
