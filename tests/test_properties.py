"""Property tests (SURVEY.md §5.2) — hypothesis-generated inputs, few
examples with many rows each (one Spark job per example, not per case)."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ningaloo_turtle_etl_spark.functions.scalars import (
    parse_date_time,
    patch_where,
    season,
)

TS = st.datetimes(
    min_value=datetime.datetime(1990, 1, 1), max_value=datetime.datetime(2035, 12, 31)
)


@settings(max_examples=5, deadline=None)
@given(st.lists(TS, min_size=1, max_size=50))
def test_season_total_and_correct(spark, dts):
    df = spark.createDataFrame([(d,) for d in dts], "d timestamp")
    got = df.select("d", season("d").alias("s")).collect()
    for r in got:
        d = r["d"]
        assert r["s"] == (d.year if d.month > 7 else d.year - 1)  # total, exact


@settings(max_examples=5, deadline=None)
@given(st.lists(TS, min_size=1, max_size=50))
def test_parse_roundtrip_agrees_with_python(spark, dts):
    # Format with one of three layouts, reparse through the engine chain,
    # compare against Python's own strptime of the same string.
    dts = [d.replace(microsecond=0) for d in dts]
    fmts_py = ["%Y-%m-%d %H:%M:%S", "%m/%d/%Y %H:%M:%S", "%Y%m%d"]
    fmts_j = ["yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss", "yyyyMMdd"]
    rows = [(i, d.strftime(fmts_py[i % 3])) for i, d in enumerate(dts)]
    df = spark.createDataFrame(rows, "i long, raw string")
    got = {
        r["i"]: r["ts"]
        for r in df.select("i", parse_date_time("raw", fmts_j).alias("ts")).collect()
    }
    for i, d in enumerate(dts):
        expect = datetime.datetime.strptime(rows[i][1], fmts_py[i % 3])
        assert got[i] == expect, (rows[i][1], got[i], expect)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=100,
    )
)
def test_pivot_rowsum_preservation(spark, rows):
    from ningaloo_turtle_etl_spark.operators.relational import count_pivot

    df = spark.createDataFrame(rows, "k int, cat string")
    wide = count_pivot(df, ["k"], "cat", values=("a", "b", "c"))
    total = wide.select(
        (F.sum("a") + F.sum("b") + F.sum("c")).alias("s")
    ).collect()[0]["s"]
    assert total == len(rows)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.integers(-100, 100), st.floats(-1e6, 1e6)), min_size=1, max_size=100)
)
def test_patch_where_is_identity_off_predicate(spark, rows):
    df = spark.createDataFrame(rows, "k int, v double")
    patched = patch_where(df, F.col("k") > 1000, v=F.lit(0.0))  # matches nothing
    assert sorted(map(tuple, patched.collect())) == sorted(map(tuple, df.collect()))


# --- temporal operators vs independent references ---------------------------

_KT = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.datetimes(
        min_value=datetime.datetime(2020, 1, 1),
        max_value=datetime.datetime(2020, 1, 10),
    ),
)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_KT, min_size=1, max_size=40),
    st.lists(_KT, min_size=1, max_size=20),
)
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows):
    import pandas as pd

    from ningaloo_turtle_etl_spark.operators.temporal import asof_join

    lrows = [(k, t.replace(microsecond=0)) for k, t in lrows]
    # pandas merge_asof is undefined on duplicate (key, ts) right rows the
    # same way our window tie is — dedup the right side (documented contract).
    rrows = {(k, t.replace(microsecond=0)) for k, t in rrows}
    rrows = [(k, t, float(k * 100 + t.day)) for k, t in rrows]

    left = spark.createDataFrame(lrows, "k long, ts timestamp")
    right = spark.createDataFrame(rrows, "k long, ts timestamp, rate double")
    got = {
        (r["k"], r["ts"]): r["rate"]
        for r in asof_join(left, right, on="k").collect()
    }

    lp = pd.DataFrame(lrows, columns=["k", "ts"]).sort_values("ts", kind="stable")
    rp = pd.DataFrame(rrows, columns=["k", "ts", "rate"]).sort_values("ts", kind="stable")
    expected = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    for _, row in expected.iterrows():
        want = None if pd.isna(row["rate"]) else row["rate"]
        assert got[(row["k"], row["ts"].to_pydatetime())] == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_KT, min_size=1, max_size=40),
    st.lists(_KT, min_size=1, max_size=10),
    st.integers(min_value=1, max_value=72),
)
def test_range_join_matches_naive_filter(spark, lrows, ivals, dur_hours):
    from ningaloo_turtle_etl_spark.operators.temporal import range_join

    lrows = [(k, t.replace(microsecond=0)) for k, t in lrows]
    ivals = [
        (k, t.replace(microsecond=0), t.replace(microsecond=0) + datetime.timedelta(hours=dur_hours))
        for k, t in ivals
    ]
    left = spark.createDataFrame(lrows, "k long, ts timestamp")
    right = spark.createDataFrame(ivals, "k long, start timestamp, end timestamp")

    got = sorted(
        (r["k"], r["ts"], r["start"])
        for r in range_join(left, right, on="k", bucket_seconds=3600 * 5).collect()
    )
    naive = sorted(
        (k, t, s)
        for (k, t) in lrows
        for (ik, s, e) in ivals
        if ik == k and s <= t < e
    )
    assert got == naive


WORD = st.text(alphabet="abcdefg", min_size=1, max_size=4)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(WORD, min_size=0, max_size=30), min_size=1, max_size=40))
def test_word_ngrams_and_repetition_match_python(spark, docs):
    """word_ngrams and duplicate-n-gram ratios agree with a direct python
    reference over arbitrary token soups (empty docs, short docs, heavy
    repeats)."""
    from ningaloo_turtle_etl_spark.operators.curation import (
        with_repetition_metrics,
        word_ngrams,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_grams = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", word_ngrams("text", 2).alias("g")).collect()
    }
    got_rep = {
        r["doc_id"]: (r["n_2grams"], r["dup_2gram_ratio"])
        for r in with_repetition_metrics(df).collect()
    }
    for i, toks in enumerate(docs):
        ref = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        assert got_grams[i] == ref
        n, dup = got_rep[i]
        assert n == len(ref)
        ref_dup = 1.0 - len(set(ref)) / len(ref) if ref else 0.0
        assert abs(dup - ref_dup) < 1e-12


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200, unique=True),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_deterministic_sample_matches_md5_rule(spark, ids, rate):
    """The sampling rule is exactly 'md5 32-bit prefix < rate * 2^32' for
    every id and any rate, including the 0.0 and 1.0 edges."""
    import hashlib

    from ningaloo_turtle_etl_spark.operators.curation import (
        deterministic_stratified_sample,
    )

    df = spark.createDataFrame([(i, "x") for i in ids], "doc_id long, lang string")
    kept = {
        r["doc_id"]
        for r in deterministic_stratified_sample(df, {"x": rate}).collect()
    }
    expect = {
        i
        for i in ids
        if rate >= 1.0
        or int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        < int(rate * 4294967296.0)
    }
    assert kept == expect


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=8),
    st.integers(min_value=0, max_value=120),
)
def test_hamilton_quotas_exact_and_bounded(spark, counts, n):
    """Largest-remainder quotas: each stratum gets ≥ its floor share,
    ≤ its row count, and the total is exactly min(n, corpus)."""
    import math

    from ningaloo_turtle_etl_spark.operators.selection import stratum_quotas

    rows = [(f"s{i}_{j}", f"s{i}") for i, c in enumerate(counts) for j in range(c)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {r["source"]: r["quota"] for r in stratum_quotas(df, n, "source").collect()}
    total = sum(counts)
    assert sum(got.values()) == min(n, total)
    for i, c in enumerate(counts):
        q = got[f"s{i}"]
        # floor share is the lower bound until the stratum-size cap bites
        # (n > corpus makes the floor share exceed the stratum).
        assert min(math.floor(n * c / total), c) <= q <= c


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=30), min_size=5, max_size=40),
    st.integers(min_value=1, max_value=10),
)
def test_weighted_sample_is_partition_invariant_and_nested(spark, weights, n):
    """Efraimidis–Spirakis top-n: identical result under repartitioning
    (the determinism a retry needs), and top-n is a prefix of top-(n+k)."""
    from ningaloo_turtle_etl_spark.operators.selection import weighted_sample_topn

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    a = [r["doc_id"] for r in weighted_sample_topn(df, n, "n_chars").collect()]
    b = [
        r["doc_id"]
        for r in weighted_sample_topn(df.repartition(7), n, "n_chars").collect()
    ]
    big = [
        r["doc_id"] for r in weighted_sample_topn(df, n + 5, "n_chars").collect()
    ]
    assert a == b
    assert big[: len(a)] == a  # ranked by the same keys → nested prefixes


_WORDS = st.sampled_from(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
)
_DOC = st.lists(_WORDS, min_size=1, max_size=40).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(_DOC, min_size=2, max_size=12))
def test_minhash_md5_verify_stage_is_exact_on_random_docs(spark, texts):
    # Property: every pair the md5-family pipeline REPORTS carries the
    # exact 3-gram-shingle Jaccard (verification is exact, not estimated),
    # and identical docs always pair at 1.0 (identical signatures can
    # never be split across buckets).
    from ningaloo_turtle_etl_spark.operators.cache import release_tracked_caches
    from ningaloo_turtle_etl_spark.operators.dedup import minhash_near_dup_pairs

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t, n=3):
        toks = t.split()
        return set(" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1)))

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            df, threshold=0.0, hash_family="md5"
        ).collect()
    }
    release_tracked_caches()
    for (a, b), j in got.items():
        exact = len(sh(texts[a]) & sh(texts[b])) / len(sh(texts[a]) | sh(texts[b]))
        assert abs(j - exact) < 1e-6, (a, b)
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            if texts[a] == texts[b]:
                assert got.get((a, b)) == 1.0, (a, b)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.floats(1e-3, 1e12)),
        min_size=5,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_weighted_sample_matches_numpy_reference_at_any_weight_scale(spark, rows):
    # Property: the A-Res log-key selection equals the python reference for
    # arbitrary positive weights spanning nine orders of magnitude — the
    # regime where the old rounded raw key degenerated to id order.
    import hashlib
    import math

    from ningaloo_turtle_etl_spark.operators.selection import weighted_sample_topn

    df = spark.createDataFrame(rows, "doc_id long, n_chars double")
    n = min(10, len(rows))
    got = [
        r["doc_id"] for r in weighted_sample_topn(df, n, weight_col="n_chars").collect()
    ]

    def logkey(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return round(math.log((h + 1.0) / 4294967297.0), 12) / w

    expect = [
        t[0] for t in sorted(rows, key=lambda t: (-logkey(t[0], t[1]), t[0]))[:n]
    ]
    assert got == expect


# --- snapshot diff vs a dict reference --------------------------------------

_VAL = st.one_of(st.none(), st.text(max_size=5), st.integers(-5, 5).map(str))


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(st.integers(0, 30), st.tuples(_VAL, _VAL), max_size=25),
    st.dictionaries(st.integers(0, 30), st.tuples(_VAL, _VAL), max_size=25),
)
def test_snapshot_diff_matches_dict_reference(spark, old_d, new_d):
    from ningaloo_turtle_etl_spark.operators.delta import snapshot_diff

    schema = "k int, a string, b string"
    old = spark.createDataFrame([(k, v[0], v[1]) for k, v in old_d.items()], schema)
    new = spark.createDataFrame([(k, v[0], v[1]) for k, v in new_d.items()], schema)
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    expected = {}
    for k in set(old_d) | set(new_d):
        if k not in old_d:
            expected[k] = "added"
        elif k not in new_d:
            expected[k] = "removed"
        elif old_d[k] != new_d[k]:
            expected[k] = "changed"
        else:
            expected[k] = "unchanged"
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),            # key
            st.integers(min_value=0, max_value=50_000),       # offset seconds
        ),
        min_size=1,
        max_size=80,
    ),
    st.integers(min_value=1, max_value=3600),                 # gap
)
def test_sessionize_matches_python_reference(spark, rows, gap):
    from ningaloo_turtle_etl_spark.operators.temporal import sessionize

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, k, base + datetime.timedelta(seconds=off))
        for i, (k, off) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, "user_id", "ts", gap, "event_id").collect()
    }
    # reference: sort per key by (ts, event_id), split when gap exceeded
    by_key: dict[int, list] = {}
    for i, k, ts in data:
        by_key.setdefault(k, []).append((ts, i))
    expect = {}
    for k, evs in by_key.items():
        evs.sort()
        seq, prev = 0, None
        for ts, i in evs:
            secs = int(ts.timestamp())
            if prev is None or secs - prev > gap:
                seq += 1
            expect[i] = seq
            prev = secs
    assert got == expect


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       width=32)),
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),           # key
            st.integers(min_value=0, max_value=100),          # ts offset
            st.booleans(),                                    # delete?
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ),
        max_size=30,
    ),
)
def test_cdc_apply_matches_dict_reference(spark, snap_d, feed):
    from ningaloo_turtle_etl_spark.operators.delta import cdc_apply

    base = datetime.datetime(2024, 1, 1)
    snap_rows = [(k, v) for k, v in snap_d.items()]
    feed_rows = [
        (k, base + datetime.timedelta(seconds=off), i,
         "delete" if is_del else "upsert", v)
        for i, (k, off, is_del, v) in enumerate(feed)
    ]
    snap = spark.createDataFrame(
        snap_rows, "key long, state_value double"
    ) if snap_rows else spark.createDataFrame([], "key long, state_value double")
    chg = spark.createDataFrame(
        feed_rows, "key long, ts timestamp, event_id long, op string, state_value double"
    ) if feed_rows else spark.createDataFrame(
        [], "key long, ts timestamp, event_id long, op string, state_value double"
    )
    got = {
        r["key"]: r["state_value"]
        for r in cdc_apply(snap, chg, ["key"], "ts", tiebreak_col="event_id").collect()
    }
    # reference: latest change per key by (ts, event_id)
    state = dict(snap_d)
    latest: dict[int, tuple] = {}
    for k, ts, eid, op, v in feed_rows:
        if k not in latest or (ts, eid) > latest[k][:2]:
            latest[k] = (ts, eid, op, v)
    for k, (_, _, op, v) in latest.items():
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = v
    expect = {
        k: (None if v is None else pytest.approx(v)) for k, v in state.items()
    }
    assert got == expect
