"""Curation-operator tests: planted contamination, repetition, sampling
determinism/calibration, and PII redaction."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.operators.curation import (
    contamination_flags,
    deterministic_stratified_sample,
    mix_rebalance_rates,
    training_mix_sample,
    with_pii_redaction,
    with_repetition_metrics,
    word_ngrams,
)
from ningaloo_turtle_etl_spark.operators.text import with_token_counts, with_tokens


def test_word_ngrams_shapes(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",), ("",)], "text string")
    rows = df.select(word_ngrams("text", 3).alias("g")).collect()
    assert rows[0]["g"] == ["a b c", "b c d"]
    assert rows[1]["g"] == []  # shorter than n
    assert rows[2]["g"] == []


def test_contamination_planted(spark):
    bench = spark.createDataFrame([("the quick brown fox jumps",)], "text string")
    docs = spark.createDataFrame(
        [
            (1, "here is the quick brown fox again"),  # contains bench 3-grams
            (2, "completely different words entirely here now"),
            (3, "xy"),  # too short for any 3-gram
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in contamination_flags(docs, bench, n=3, threshold=0.3).collect()
    }
    # doc 1's 5 distinct 3-grams include 'the quick brown' + 'quick brown fox'
    assert out[1]["n_contaminated"] == 2
    assert abs(out[1]["contam_ratio"] - 0.4) < 1e-12
    assert out[1]["contaminated"]
    assert out[2]["n_contaminated"] == 0 and not out[2]["contaminated"]
    assert out[3]["n_grams"] == 0 and out[3]["contam_ratio"] == 0.0


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b a b"), (2, "one two three four five"), (3, "x")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_repetition_metrics(df).collect()}
    # "a b a b..." has 7 2-grams, only 2 distinct ('a b','b a') → ratio 5/7.
    assert rows[1]["n_2grams"] == 7
    assert abs(rows[1]["dup_2gram_ratio"] - 5 / 7) < 1e-12
    assert rows[2]["dup_2gram_ratio"] == 0.0 and rows[2]["dup_3gram_ratio"] == 0.0
    assert rows[3]["n_2grams"] == 0 and rows[3]["dup_2gram_ratio"] == 0.0


def test_stratified_sample_deterministic_and_calibrated(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string",
    )
    a = deterministic_stratified_sample(docs, {"en": 0.25, "de": 1.0})
    b = deterministic_stratified_sample(docs, {"en": 0.25, "de": 1.0})
    got_a = sorted(r["doc_id"] for r in a.collect())
    got_b = sorted(r["doc_id"] for r in b.collect())
    assert got_a == got_b  # bit-for-bit reproducible
    n_en = sum(1 for i in got_a if i % 2 == 0)
    n_de = sum(1 for i in got_a if i % 2 == 1)
    assert n_de == 1000  # rate 1.0 keeps everything (9-hex threshold edge)
    assert 150 <= n_en <= 350  # ~250 expected; md5 is uniform
    # matches an independent python reference of the same rule
    expect_en = {
        i
        for i in range(0, 2000, 2)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) < 0.25 * 2**32
    }
    assert {i for i in got_a if i % 2 == 0} == expect_en


def test_stratified_sample_drops_unlisted_strata(spark):
    docs = spark.createDataFrame(
        [(1, "en"), (2, "zz")], "doc_id long, lang string"
    )
    kept = deterministic_stratified_sample(docs, {"en": 1.0}).collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_mix_rebalance_rates_hit_budget(spark):
    # en weight 800, de weight 200; budget 0.5*1000=500; shares en .5 de .5
    # → rate_en = min(1, 250/800)=0.3125, rate_de = min(1, 250/200)=1.0
    docs = spark.createDataFrame(
        [(i, "en" if i < 80 else "de", 10) for i in range(100)],
        "doc_id long, lang string, n_chars long",
    )
    rates = {
        r["lang"]: r["rate"]
        for r in mix_rebalance_rates(docs, {"en": 0.5, "de": 0.5}).collect()
    }
    assert abs(rates["en"] - 0.3125) < 1e-12
    assert rates["de"] == 1.0
    sampled = training_mix_sample(docs, {"en": 0.5, "de": 0.5})
    langs = {r["lang"] for r in sampled.collect()}
    assert "de" in langs  # rate-1.0 stratum fully present


def test_mix_rebalance_rates_window_matches_cross_join(spark):
    # The total weight is a window over the per-stratum frame; the former
    # cross join with the frame's own total gives the same rates. Unlisted
    # strata (zh, NULL) count toward the total and are then dropped.
    docs = spark.createDataFrame(
        [(i, ["en", "de", "fr", "zh", None][i % 5], 7 + i % 13) for i in range(200)],
        "doc_id long, lang string, n_chars long",
    )
    shares = {"en": 0.4, "de": 0.3, "fr": 0.3}
    got = {r["lang"]: r["rate"] for r in mix_rebalance_rates(docs, shares).collect()}

    per = docs.groupBy("lang").agg(F.sum("n_chars").alias("w"))
    total = per.agg(F.sum("w").alias("tw"))
    share = F.lit(None).cast("double")
    for k, v in shares.items():
        share = F.when(F.col("lang") == k, F.lit(v)).otherwise(share)
    cross = (
        per.crossJoin(total)
        .filter(F.col("lang").isin(list(shares)))
        .select(
            "lang",
            F.least(
                F.lit(1.0),
                (F.lit(0.5) * share) * (F.col("tw").cast("double") / F.col("w").cast("double")),
            ).alias("rate"),
        )
    )
    want = {r["lang"]: r["rate"] for r in cross.collect()}
    assert got == want
    assert set(got) == {"en", "de", "fr"}


def test_contamination_carry_equals_join_back(spark):
    # carry= keeps per-doc columns through the aggregate; the result equals
    # scoring id+text alone and joining the columns back, with the tokens
    # taken from text or from a with_tokens column.
    bench = spark.createDataFrame([("the quick brown fox jumps",)], "text string")
    docs = spark.createDataFrame(
        [
            (1, "en", 33, "here is the quick brown fox again"),
            (2, "de", 22, "ganz andere worte hier jetzt"),
            (3, "en", 2, "xy"),
            (4, None, 15, "the quick brown"),
        ],
        "doc_id long, lang string, n_chars long, text string",
    )
    carry = ("lang", "n_chars")
    cols = ["doc_id", *carry, "n_grams", "n_contaminated", "contam_ratio", "contaminated"]

    def rows(df):
        return sorted(df.select(cols).collect(), key=lambda r: r["doc_id"])

    joined = docs.select("doc_id", *carry).join(
        contamination_flags(docs.select("doc_id", "text"), bench, n=3, threshold=0.3),
        on="doc_id",
    )
    want = rows(joined)
    assert len(want) == 4
    assert rows(contamination_flags(docs, bench, n=3, threshold=0.3, carry=carry)) == want
    tokenized = contamination_flags(
        with_tokens(docs), bench, n=3, threshold=0.3, carry=carry, toks_col="toks"
    )
    assert rows(tokenized) == want


def test_repetition_gate_does_not_retokenize(spark):
    # A gate on token-derived columns is pushed below their projection; the
    # Generate barrier keeps it reading attributes, so each operator's
    # tokenizer appears once and never inside a Filter.
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "one two three four five six"), (3, "x")],
        "doc_id long, text string",
    )
    gated = (
        with_repetition_metrics(with_token_counts(df))
        .filter((F.col("n_words") >= 2) & (F.col("dup_2gram_ratio") < 0.5))
        .select("doc_id")
    )
    plan = gated._jdf.queryExecution().optimizedPlan().toString()
    assert not [line for line in plan.splitlines() if "Filter" in line and "split(" in line]
    assert plan.count("split(") == 2
    assert [r["doc_id"] for r in gated.collect()] == [2]
    shared = with_repetition_metrics(
        with_token_counts(with_tokens(df), toks_col="toks"), toks_col="toks"
    ).filter((F.col("n_words") >= 2) & (F.col("dup_2gram_ratio") < 0.5)).select("doc_id")
    assert shared._jdf.queryExecution().optimizedPlan().toString().count("split(") == 1
    assert [r["doc_id"] for r in shared.collect()] == [2]


def test_pii_redaction_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or call 555-867-5309 now"),
            (2, "server at 10.0.0.1 and 192.168.1.255 up"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_pii_redaction(df).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert "[EMAIL]" in rows[1]["redacted_text"]
    assert "[PHONE]" in rows[1]["redacted_text"]
    assert "jo.doe" not in rows[1]["redacted_text"]
    assert rows[2]["n_ipv4"] == 2 and "[IPV4]" in rows[2]["redacted_text"]
    assert rows[3]["redacted_text"] == "nothing sensitive here"
    assert rows[3]["n_email"] == rows[3]["n_phone"] == rows[3]["n_ipv4"] == 0


def test_budget_select_matches_python_reference(spark):
    import random

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 50), round(rng.random(), 3)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, w long, q double")
    from ningaloo_turtle_etl_spark.operators.curation import budget_select

    got = sorted(
        r["doc_id"]
        for r in budget_select(
            df, budget=2000, weight_col="w", order_col="q", num_partitions=7
        ).collect()
    )
    # python reference: sort by (q desc, id), prefix while cum <= budget
    expect, cum = [], 0
    for i, w, q in sorted(rows, key=lambda r: (-r[2], r[0])):
        cum += w
        if cum > 2000:
            break
        expect.append(i)
    assert got == sorted(expect)
    assert 0 < len(got) < 400


def test_budget_select_boundary_and_ascending(spark):
    df = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 4.0), (3, 10, 3.0)], "doc_id long, w long, q double"
    )
    from ningaloo_turtle_etl_spark.operators.curation import budget_select

    # budget exactly covers two rows; third row crosses and is cut
    got = {r["doc_id"] for r in budget_select(df, 20, "w", "q").collect()}
    assert got == {1, 2}
    # ascending order flips the kept prefix
    got_asc = {
        r["doc_id"] for r in budget_select(df, 20, "w", "q", descending=False).collect()
    }
    assert got_asc == {3, 2}


def test_chunk_documents_shapes_and_roundtrip(spark):
    from ningaloo_turtle_etl_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, max_tokens=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["n_chunk_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])] == [4, 4, 2]
    # chunks reassemble to the original token stream
    joined = " ".join(
        r["chunk_text"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])
    )
    assert joined == " ".join(f"t{i}" for i in range(10))
    assert [r["n_chunk_tokens"] for r in by_doc[2]] == [2]
    assert 3 not in by_doc  # empty doc yields no chunks


def test_pack_chunks_bins_and_determinism(spark):
    from ningaloo_turtle_etl_spark.operators.curation import pack_chunks

    df = spark.createDataFrame(
        [(i, 10) for i in range(1, 5)], "doc_id long, w long"
    )
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_pos"])
        for r in pack_chunks(df, "w", bin_capacity=25, num_buckets=1).collect()
    }
    # cumsum-exclusive 0,10,20,30 → bins 0,0,0,1 (overflow-at-boundary rule)
    assert got == {1: (0, 0), 2: (0, 10), 3: (0, 20), 4: (1, 30)}
    again = {
        r["doc_id"]: (r["bin_id"], r["bin_pos"])
        for r in pack_chunks(df, "w", bin_capacity=25, num_buckets=1).collect()
    }
    assert got == again


def test_contamination_empty_benchmark(spark):
    from ningaloo_turtle_etl_spark.operators.curation import contamination_flags

    bench = spark.createDataFrame([], "text string")
    docs = spark.createDataFrame([(1, "some words here")], "doc_id long, text string")
    rows = contamination_flags(docs, bench, n=2).collect()
    assert rows[0]["n_contaminated"] == 0 and not rows[0]["contaminated"]


def test_chunk_documents_sliding_windows(spark):
    import pytest as _pytest

    from ningaloo_turtle_etl_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(df, max_tokens=4, stride=2).collect(),
        key=lambda r: r["chunk_id"],
    )
    # starts 0,2,4,6,8 → windows of 4 (last ones truncated)
    assert [r["chunk_text"] for r in rows] == [
        "t0 t1 t2 t3",
        "t2 t3 t4 t5",
        "t4 t5 t6 t7",
        "t6 t7 t8 t9",
        "t8 t9",
    ]
    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, max_tokens=4, stride=5)


def test_temperature_mix_flattens_toward_low_resource(spark):
    from ningaloo_turtle_etl_spark.operators.curation import temperature_mix_sample

    rows = [(i, "big" if i < 900 else "small", 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")

    # T=1 is natural sampling: every stratum's rate collapses to exactly the
    # budget fraction (q_s·W/w_s = 1), so kept fractions are ~equal.
    t1 = temperature_mix_sample(df, temperature=1.0, budget_fraction=0.5)
    kept1 = t1.groupBy("lang").count().collect()
    frac1 = {r["lang"]: r["count"] for r in kept1}
    assert 0.4 < frac1["big"] / 900 < 0.6
    assert 0.4 < frac1["small"] / 100 < 0.6

    # T=4 flattens hard: the small stratum must keep a strictly larger
    # fraction of itself than the big one (upsampled relative share).
    t4 = temperature_mix_sample(df, temperature=4.0, budget_fraction=0.5)
    frac4 = {r["lang"]: r["count"] for r in t4.groupBy("lang").count().collect()}
    assert frac4["small"] / 100 > frac4["big"] / 900
    # Determinism: same call → identical kept id set (md5 rule, no RNG).
    a = sorted(r["doc_id"] for r in t4.collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_mix_sample(df, temperature=4.0, budget_fraction=0.5).collect()
    )
    assert a == b


def test_budget_select_exact_with_fractional_weights(spark):
    # Regression (r04 review): int() truncation of per-partition totals
    # understated prefix offsets for double weight columns, overshooting
    # the budget. With weight 0.6 each and budget 6.0 exactly 10 rows fit.
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.curation import budget_select

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit(0.6).alias("w"),
        (F.col("id") % 7).cast("double").alias("score"),
    )
    out = budget_select(
        df, budget=6.0, weight_col="w", order_col="score", id_col="doc_id",
        num_partitions=8,
    ).collect()
    assert len(out) == 10
    assert abs(sum(r["w"] for r in out) - 6.0) < 1e-9


def test_pii_counts_match_redaction_markers(spark):
    # Regression (r04 review): counting on the original text double-counted
    # spans an earlier pattern consumed (a phone-shaped email localpart
    # recounted as a phone). Counts must equal the markers in the output.
    from ningaloo_turtle_etl_spark.operators.curation import with_pii_redaction

    df = spark.createDataFrame(
        [(1, "mail 555-123-4567@example.com or 9.9.9.9"), (2, "call 555-123-4567 now")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_pii_redaction(df).collect()}
    r1 = rows[1]
    assert r1["n_email"] == 1 and r1["n_ipv4"] == 1 and r1["n_phone"] == 0
    assert r1["redacted_text"] == "mail [EMAIL] or [IPV4]"
    assert r1["redacted_text"].count("[EMAIL]") == r1["n_email"]
    assert r1["redacted_text"].count("[IPV4]") == r1["n_ipv4"]
    r2 = rows[2]
    assert r2["n_phone"] == 1 and r2["redacted_text"] == "call [PHONE] now"


def test_boilerplate_line_mode(spark):
    from ningaloo_turtle_etl_spark.operators.curation import (
        boilerplate_segment_removal,
    )

    docs = spark.createDataFrame(
        [
            (1, "s1", "BANNER\nunique one\nfoot"),
            (2, "s1", "BANNER\nunique two\nfoot"),
            (3, "s1", "BANNER\nunique three"),
            # group-scoped: the same banner once in s2 is body text there
            (4, "s2", "BANNER\nonly here"),
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_segment_removal(
            docs, "text", "doc_id", "source", min_docs=3
        ).collect()
    }
    # BANNER appears in 3 s1 docs -> stripped; foot only in 2 -> kept
    assert got[1]["n_segments"] == 3 and got[1]["n_removed"] == 1
    expect = "unique one\nfoot"
    assert got[1]["cleaned_len"] == len(expect)
    assert got[1]["cleaned_md5"] == hashlib.md5(expect.encode()).hexdigest()
    assert got[3]["n_removed"] == 1 and got[3]["removed_ratio"] == 0.5
    assert got[4]["n_removed"] == 0  # different source: banner count = 1


def test_boilerplate_word_mode_and_empty_doc(spark):
    from ningaloo_turtle_etl_spark.operators.curation import (
        boilerplate_segment_removal,
    )

    docs = spark.createDataFrame(
        [
            (1, "s", "x y q r"),
            (2, "s", "x y q r"),
            (3, "s", "x y q r"),
            (4, "s", "p d x y"),
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_segment_removal(
            docs, "text", "doc_id", "source", seg_words=2, min_docs=3
        ).collect()
    }
    # "x y" hits 4 docs, "q r" hits 3 -> docs 1-3 fully stripped
    assert got[1]["n_removed"] == 2
    assert got[1]["cleaned_md5"] == hashlib.md5(b"").hexdigest()
    assert got[1]["cleaned_len"] == 0
    # doc 4 keeps its unique "p d" opener
    assert got[4]["n_removed"] == 1
    assert got[4]["cleaned_md5"] == hashlib.md5(b"p d").hexdigest()
