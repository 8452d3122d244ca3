"""LLM-pipeline operator tests: planted near-duplicates for MinHash,
exact cosine top-k against numpy, reference-implementation parity for the
pieces no SQL oracle can check, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from ningaloo_turtle_etl_spark.operators.dedup import (
    exact_dedup_semi,
    minhash_near_dup_pairs,
)
from ningaloo_turtle_etl_spark.operators.multimodal import (
    documents_as_media,
    extract_image_features,
)
from ningaloo_turtle_etl_spark.operators.similarity import cosine_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden under a bright sky"
)


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("bright sky", "cloudy sky")  # 1-word edit → near-dup
    unrelated = "completely different text about spark query engines and shuffles " * 3
    rows = [
        (1, BASE),
        (2, BASE),            # exact dup of 1
        (3, near),            # near dup of 1
        (4, unrelated),
        (5, "short one"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark, docs):
    kept = sorted(r["doc_id"] for r in exact_dedup_semi(docs).collect())
    assert kept == [1, 3, 4, 5]  # 2 collapsed into 1


def test_minhash_finds_planted_near_dup(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup
    assert not any({a, b} & {4, 5} for a, b in pairs)  # no false positives


def test_minhash_jaccard_is_exact_on_candidates(spark, docs):
    # The verify stage computes EXACT Jaccard over 3-gram shingle sets —
    # check against an independent Python implementation.
    def py_shingles(t, n=3):
        toks = t.split()
        return set(" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1)))

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in minhash_near_dup_pairs(docs, threshold=0.0).collect():
        a, b = py_shingles(rows[r["id_a"]]), py_shingles(rows[r["id_b"]])
        expect = len(a & b) / len(a | b)
        assert abs(r["jaccard"] - expect) < 1e-6


def test_minhash_md5_signature_slots_are_distinct_hash_functions(spark, docs):
    # The 2-universal (a·h+b) mod p slots must behave as independent hash
    # functions, not collapse into one.
    from ningaloo_turtle_etl_spark.operators.dedup import (
        md5_hash60,
        minhash_slots_from_hashes,
        shingles,
    )

    sig = (
        docs.filter(F.col("doc_id") == 1)
        .select(
            F.array_distinct(
                F.transform(shingles("text", 3), lambda s: md5_hash60(s))
            ).alias("sh")
        )
        .select(minhash_slots_from_hashes(F.col("sh")).alias("sig"))
        .collect()[0]["sig"]
    )
    assert len(sig) == 32
    assert len(set(sig)) >= 24


def test_cosine_topk_matches_numpy(spark):
    from ningaloo_turtle_etl_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, "embeddings", SF_DIR)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    got = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()

    q = vecs[0]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != 0
    }
    expect = sorted(sims.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:3]
    assert [(r["vec_id"], r["cosine"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (vid, round(s, 6)) for vid, s in expect
    ]


def test_multimodal_stub_and_fake_paths(spark, docs):
    media = documents_as_media(
        docs.withColumns({"source": F.lit("test"), "lang": F.lit("en"), "n_chars": F.length("text")})
    )
    with pytest.raises(NotImplementedError):
        extract_image_features(media)  # decoder='stub' is the honest default

    feats = extract_image_features(media, decoder="fake").collect()
    assert len(feats) == 5
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len(BASE.encode())
    assert len(by_id[1]["feature"]) == 8
    assert abs(sum(by_id[1]["feature"]) - 1.0) < 1e-9  # normalized histogram
    # Determinism: same bytes → same features (1 and 2 have identical text).
    assert by_id[1]["feature"] == by_id[2]["feature"]


def test_dedup_cache_scope_releases_storage(spark, docs):
    """Repeated dedup calls inside tracked_cache_scope leave NO cached RDDs
    behind — long-lived sessions don't accumulate signature caches."""
    from ningaloo_turtle_etl_spark.operators.cache import (
        release_tracked_caches,
        tracked_cache_scope,
    )

    release_tracked_caches()  # clean slate from earlier tests in the session
    sc = spark.sparkContext

    # Assert on the RDD ids THIS test creates, not global cache counts: the
    # ContextCleaner asynchronously unpersists GC'd frames from earlier tests
    # (localCheckpoint debris especially), so a global baseline can shrink
    # mid-test.
    def cached_ids():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    for _ in range(3):
        before = cached_ids()
        with tracked_cache_scope():
            minhash_near_dup_pairs(docs, threshold=0.5).collect()
            ours = cached_ids() - before
            assert ours  # caches live while results are consumed
        assert not (cached_ids() & ours)  # and released at scope exit

    # The explicit-release path behaves the same.
    before = cached_ids()
    minhash_near_dup_pairs(docs, threshold=0.5).collect()
    ours = cached_ids() - before
    assert ours
    assert release_tracked_caches() >= 1
    assert not (cached_ids() & ours)


def test_minhash_oracle_survives_mixed_case(spark, tmp_path):
    # Regression (r04 review): the oracle once tokenized lower(text) while
    # the Spark pipeline hashes original-case text — the parity gate passed
    # only because the synthetic corpus is all-lowercase. Re-run the full
    # oracle comparison on a deterministically case-mangled corpus.
    import duckdb

    from ningaloo_turtle_etl_spark import registry

    src = "/root/testdata/sf0.001/documents.parquet"
    dst = str(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.sql(f"""
        COPY (
          SELECT doc_id,
                 array_to_string(
                   list_transform(string_split(text, ' '),
                     x -> CASE WHEN length(x) = 0 THEN x
                               WHEN hash(x) % 9 = 0 THEN upper(x)
                               WHEN hash(x) % 3 = 0 THEN upper(x[1]) || x[2:]
                               ELSE x END),
                   ' ') AS text,
                 lang, source, n_chars
          FROM read_parquet('{src}')
        ) TO '{dst}' (FORMAT PARQUET)
    """)
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{dst}')")
    name = "minhash_near_dups"
    sdf = (
        registry.queries()[name](spark, str(tmp_path))
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    odf = (
        con.sql(registry.oracle_sql()[name])
        .df()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert sdf.shape == odf.shape
    for c in sdf.columns:
        a, o = sdf[c], odf[c].astype(sdf[c].dtype)
        same = a.round(6).equals(o.round(6)) if a.dtype.kind == "f" else a.equals(o)
        assert same, c


def test_gopher_repetition_stats_matches_reference(spark):
    """Char-weighted Gopher fractions equal a from-scratch Python reference
    on planted docs: a heavy repeater (fails the thresholds), a clean doc,
    and sub-n-gram edge cases."""
    from collections import Counter

    from ningaloo_turtle_etl_spark.operators.curation import (
        gopher_repetition_stats,
    )

    texts = {
        1: "spam spam spam spam spam ham",          # top-2gram dominates
        2: (  # no repeats, long enough that one gram is a small fraction
            "the quick brown fox jumps over lazy dogs while seventeen "
            "purple elephants quietly discuss ancient philosophy under "
            "winter moonlight near frozen rivers carrying wooden boats"
        ),
        3: "one",                                   # too short for any gram
        4: "tic tac tic tac toe tic tac",           # overlapping repeats
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_repetition_stats(df).collect()}

    def ref(text):
        toks = text.lower().split()
        chars = len(" ".join(toks))
        out = {}
        for n in (2, 3):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            cnt = Counter(grams)
            if cnt:
                top = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
                tf = top[1] * len(top[0]) / chars
            else:
                tf = 0.0
            dupf = sum(c * len(g) for g, c in cnt.items() if c > 1) / chars if chars else 0.0
            out[f"top_{n}gram_char_frac"] = round(tf, 6)
            out[f"dup_{n}gram_char_frac"] = round(dupf, 6)
        out["repeated_word_frac"] = (
            round(1 - len(set(toks)) / len(toks), 6) if toks else 0.0
        )
        out["repetition_ok"] = int(
            out["top_2gram_char_frac"] <= 0.20
            and out["top_3gram_char_frac"] <= 0.18
            and out["dup_3gram_char_frac"] <= 0.60
        )
        return out

    for doc_id, text in texts.items():
        expected = ref(text)
        for k, v in expected.items():
            assert got[doc_id][k] == v, (doc_id, k, got[doc_id][k], v)
    assert got[1]["repetition_ok"] == 0  # spam-run fails the top-2gram rule
    assert got[2]["repetition_ok"] == 1
    assert got[3]["repetition_ok"] == 1  # no grams → all fracs 0.0


def test_edit_similarity_join_complete_vs_bruteforce(spark):
    """Prefix filtering must lose NOTHING versus brute-force levenshtein —
    the theorem says one edit disturbs at most q grams, so strings within
    k edits share a gram among each one's q*k+1 rarest. Verified for
    k=1 and k=2 on strings with edits at every position class."""
    import itertools

    from ningaloo_turtle_etl_spark.operators.relational import (
        edit_similarity_self_join,
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    rows = [
        (1, "gradient descent"),
        (2, "gradient descent"),   # exact dup
        (3, "gradient descend"),   # 1 sub at tail
        (4, "Xradient descent"),   # 1 sub at head
        (5, "gradient desent"),    # 1 deletion mid
        (6, "gradientt descent"),  # 1 insertion mid
        (7, "stochastic descent"), # far
        (8, "gradiant descend"),   # 2 edits from 1
        (9, "abc"),                # shorter than q+1
        (10, "abd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (1, 2):
        got = {
            (r["id_a"], r["id_b"]): r["edit_distance"]
            for r in edit_similarity_self_join(
                df, "text", "doc_id", max_edit=k
            ).collect()
        }
        exp = {
            (a, b): lev(ta, tb)
            for (a, ta), (b, tb) in itertools.combinations(rows, 2)
            if lev(ta, tb) <= k
        }
        assert got == exp, (k, got.keys() ^ exp.keys())


def test_readability_flesch_hand_check(spark):
    from ningaloo_turtle_etl_spark.operators.text import readability_scores

    text = "The cat sat. The dog ran!"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = readability_scores(df).collect()[0]
    assert r["n_words"] == 6
    assert r["n_sentences"] == 2
    # vowel groups: e,a,a,e,o,a  (the/cat/sat/the/dog/ran)
    assert r["n_syllables"] == 6
    expected = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(r["flesch"] - round(expected, 4)) < 1e-9
    # empty doc: null score, no division error
    empty = readability_scores(
        spark.createDataFrame([(2, "")], "doc_id long, text string")
    ).collect()[0]
    assert empty["flesch"] is None


def test_length_bucket_batches_policy(spark):
    from ningaloo_turtle_etl_spark.operators.curation import (
        length_bucket,
        length_bucket_batches,
    )

    # 20 docs of 10 tokens (bucket 16) + 3 docs of 40 tokens (bucket 64)
    rows = [(i, "w " * 10) for i in range(20)] + [
        (100 + i, "w " * 40) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["bucket"], r["batch_id"]): r
        for r in length_bucket_batches(df, batch_size=8).collect()
    }
    # bucket 16: 20 docs -> batches of 8, 8, 4; bucket 64: one batch of 3
    assert out[(16, 0)]["n_docs"] == 8 and out[(16, 2)]["n_docs"] == 4
    assert out[(64, 0)]["n_docs"] == 3
    # uniform lengths within a batch -> zero padding waste
    assert out[(16, 0)]["pad_frac"] == 0.0
    assert out[(16, 0)]["max_len"] == 10 and out[(16, 0)]["sum_len"] == 80
    # ladder edges: exact powers stay in their own bucket, overflow tops out
    edge = spark.range(1).select(
        length_bucket(F.lit(16)).alias("a"),
        length_bucket(F.lit(17)).alias("b"),
        length_bucket(F.lit(5000)).alias("c"),
        length_bucket(F.lit(0)).alias("d"),
    ).collect()[0]
    assert (edge["a"], edge["b"], edge["c"], edge["d"]) == (16, 32, 1024, 16)


def test_length_bucket_batches_salted_shards(spark):
    """salt>1 is the corpus-scale skew path: the slot window partitions
    by (bucket, shard) instead of the ~7-value bucket alone. Guarantees
    preserved: every batch single-bucket, <= batch_size docs, doc count
    conserved, padding accounting identical in form; only GLOBAL batch
    numbering is traded (ids become (shard, seq)). The plan must show
    the sharded exchange and NO second exchange for the aggregate."""
    import pytest

    from ningaloo_turtle_etl_spark.operators.curation import (
        length_bucket_batches,
    )

    rows = [(i, "w " * 10) for i in range(40)] + [
        (100 + i, "w " * 40) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_bucket_batches(df, batch_size=8, salt=4)
    got = out.collect()
    assert "shard" in out.columns
    assert sum(r["n_docs"] for r in got) == 46  # conservation
    assert all(r["n_docs"] <= 8 for r in got)
    assert all(r["shard"] in range(4) for r in got)
    # uniform lengths within a bucket -> zero padding waste regardless
    # of how the shards split the docs
    assert all(r["pad_frac"] == 0.0 for r in got)
    # within each (bucket, shard), batch ids are dense from 0
    from collections import defaultdict

    per = defaultdict(list)
    for r in got:
        per[(r["bucket"], r["shard"])].append(r["batch_id"])
    for ids in per.values():
        assert sorted(ids) == list(range(len(ids)))
    # plan: ONE exchange, keyed by bucket AND shard (the agg reuses the
    # window's partitioning — no second shuffle). AQE's toString prints
    # the final plan followed by "== Initial Plan ==" — cut the echo off
    # before counting.
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    import re

    m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert m and "bucket" in m.group(1) and "shard" in m.group(1), plan
    with pytest.raises(ValueError):
        length_bucket_batches(df, salt=0)


def test_curriculum_order_exact_and_approx_agree(spark):
    from ningaloo_turtle_etl_spark.operators.curation import curriculum_order

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 7 % 101).cast("double").alias("score"),
    )
    exact = {
        r["doc_id"]: r["stage"]
        for r in curriculum_order(df, "score", n_stages=4).collect()
    }
    # equal-count stages, easiest (highest score) first
    from collections import Counter

    assert Counter(exact.values()) == {1: 50, 2: 50, 3: 50, 4: 50}
    top = max(exact, key=lambda d: (d * 7 % 101, -d))
    assert exact[top] == 1
    # approx path (the 100 TB shape): same stages up to boundary ties
    approx = {
        r["doc_id"]: r["stage"]
        for r in curriculum_order(df, "score", n_stages=4, exact=False).collect()
    }
    diff = sum(1 for d in exact if exact[d] != approx[d])
    assert diff <= 10  # only boundary docs may move one stage
    assert all(abs(exact[d] - approx[d]) <= 1 for d in exact)
    # shuffle_key deterministic
    k1 = curriculum_order(df, "score").select("doc_id", "shuffle_key").collect()
    k2 = curriculum_order(df, "score").select("doc_id", "shuffle_key").collect()
    assert sorted(map(tuple, k1)) == sorted(map(tuple, k2))


def test_oov_rate_hand_computed(spark):
    from ningaloo_turtle_etl_spark.operators.text import oov_rate

    rows = [
        (1, "a a a b"),    # a:4 total below, b:2
        (2, "a b c"),      # c:1 -> out of top-2 vocab
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in oov_rate(df, vocab_size=2).collect()}
    # counts: a=4, b=2, c=1 -> vocab {a, b}
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 0
    assert out[2]["n_tokens"] == 3 and out[2]["n_oov"] == 1
    assert out[2]["oov_frac"] == round(1 / 3, 6)
    assert out[3]["n_tokens"] == 0 and out[3]["oov_frac"] == 0.0
    # vocabulary ties break lexicographically: with k=1 only 'a' survives
    k1 = {r["doc_id"]: r["n_oov"] for r in oov_rate(df, vocab_size=1).collect()}
    assert k1[1] == 1 and k1[2] == 2


def test_label_centroid_cosine_known_geometry(spark):
    from ningaloo_turtle_etl_spark.operators.similarity import (
        label_centroid_cosine,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),   # centroid(0) = [1, 0]
        (3, [0.0, 2.0], 1),   # centroid(1) = [0, 2]
        (4, [3.0, 3.0], 2),
        (5, [1.0, 1.0], 2),   # centroid(2) = [2, 2]
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        (r["label_a"], r["label_b"]): r["cosine"]
        for r in label_centroid_cosine(df).collect()
    }
    assert out[(0, 1)] == 0.0
    assert abs(out[(0, 2)] - round(1 / 2**0.5, 6)) < 1e-9
    assert abs(out[(1, 2)] - round(1 / 2**0.5, 6)) < 1e-9
    assert len(out) == 3  # unordered pairs only


def test_hard_negatives_excludes_same_label(spark):
    from ningaloo_turtle_etl_spark.operators.similarity import hard_negatives

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.1], 0),    # same label: never a negative for 1
        (3, [0.9, 0.2], 1),     # closest cross-label to 1
        (4, [0.0, 1.0], 1),
        (5, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = [
        (r["query_id"], r["vec_id"], r["rank"])
        for r in hard_negatives(df, k=2).collect()
        if r["query_id"] == 1
    ]
    assert (1, 2, 1) not in [(q, v, k) for q, v, k in out]
    assert sorted(out) == [(1, 3, 1), (1, 4, 2)]
    # anchors subset: only requested queries appear
    anch = df.filter(F.col("vec_id") == 5)
    got = {r["query_id"] for r in hard_negatives(df, k=2, anchors=anch).collect()}
    assert got == {5}


def test_source_scorecard_hand_computed(spark):
    from ningaloo_turtle_etl_spark.operators.text import source_scorecard

    docs = spark.createDataFrame(
        [
            (1, "s1", "en", "a b"),
            (2, "s1", "en", "a  B"),   # exact dup after normalization
            (3, "s1", "de", "c d e"),
            (4, "s2", "fr", "x"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    got = {r["source"]: r for r in source_scorecard(docs).collect()}
    s1 = got["s1"]
    assert s1["n_docs"] == 3
    assert s1["dup_rate"] == round(1 - 2 / 3, 6)
    assert s1["top_lang"] == "en" and s1["top_lang_share"] == round(2 / 3, 6)
    assert s1["mean_tokens"] == round((2 + 2 + 3) / 3, 6)
    assert got["s2"]["dup_rate"] == 0.0 and got["s2"]["top_lang"] == "fr"


def test_embedding_drift_identical_halves(spark):
    from ningaloo_turtle_etl_spark.operators.similarity import (
        embedding_drift,
    )

    # ids hashing to both halves, all vectors identical -> cosine 1, shift 0
    rows = [(i, "g", [1.0, 2.0, 2.0]) for i in range(20)]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    r = embedding_drift(df, "label").collect()[0]
    assert r["n_a"] + r["n_b"] == 20 and r["n_a"] > 0 and r["n_b"] > 0
    assert r["centroid_cosine"] == 1.0 and r["centroid_shift"] == 0.0
    # orthogonal halves: force via distinct vectors per parity
    import hashlib as _h

    def half(i):
        return int(_h.md5(str(i).encode()).hexdigest()[:8], 16) % 2

    rows2 = [
        (i, "g", [1.0, 0.0] if half(i) == 0 else [0.0, 1.0])
        for i in range(40)
    ]
    df2 = spark.createDataFrame(
        rows2, "vec_id long, label string, embedding array<double>"
    )
    r2 = embedding_drift(df2, "label").collect()[0]
    assert r2["centroid_cosine"] == 0.0
    assert r2["centroid_shift"] == round(2 ** 0.5, 6)


def test_domain_reweight_directions(spark):
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.curation import domain_reweight

    rows = [("hard", 2.0)] * 5 + [("easy", 1.0)] * 5 + [("mid", 1.5)] * 5
    df = spark.createDataFrame(rows, "src string, loss double")
    got = {r["src"]: r for r in
           domain_reweight(df, "src", F.col("loss"), eta=1.0).collect()}
    # weights form a distribution and order by excess loss
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 2e-6
    assert got["hard"]["weight"] > got["mid"]["weight"] > got["easy"]["weight"]
    assert got["mid"]["excess_loss"] == 0.0
    # eta = 0 collapses to the uniform prior
    flat = {r["src"]: r["weight"] for r in
            domain_reweight(df, "src", F.col("loss"), eta=0.0).collect()}
    assert set(flat.values()) == {round(1 / 3, 6)}


def test_image_ahash_lanes_and_near_dup_pairs(spark):
    from ningaloo_turtle_etl_spark.operators.multimodal import (
        _fake_decode,
        ahash_near_dup_pairs,
        image_ahash,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "until the corpus is long enough to fill the hash window")
    edited = base[:10] + "X" + base[11:]  # 1-char flip inside the window
    rows = [
        (1, base.encode()),
        (2, base.encode()),        # exact dup -> hamming 0
        (3, edited.encode()),      # near dup -> small hamming
        (4, ("z" * 120).encode()),  # constant bytes -> all-zero hash
        (5, b""),                   # empty blob -> n_cells 0
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    with pytest.raises(NotImplementedError):
        image_ahash(media)  # stub default, same honesty tier as decode
    hashes = {r["media_id"]: r for r in image_ahash(media, decoder="fake").collect()}
    # numpy reference replay of the integer-exact above-mean bits
    _, _, px = _fake_decode(base.encode())
    cells = px.ravel().astype(np.int64)[:64]
    n, tot = len(cells), int(cells.sum())
    h0 = sum(1 << j for j in range(min(n, 32)) if int(cells[j]) * n > tot)
    h1 = sum(1 << (j - 32) for j in range(32, n) if int(cells[j]) * n > tot)
    assert (hashes[1]["h0"], hashes[1]["h1"]) == (h0, h1)
    assert hashes[1]["n_cells"] == 64
    assert hashes[2]["h0"] == h0 and hashes[2]["h1"] == h1
    assert (hashes[4]["h0"], hashes[4]["h1"]) == (0, 0)  # no cell above mean
    assert hashes[5]["n_cells"] == 0
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(
            image_ahash(media, decoder="fake"), max_hamming=8
        ).collect()
    }
    assert pairs[(1, 2)] == 0  # exact duplicate caught at distance 0
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 8
    assert pairs[(1, 3)] == pairs[(2, 3)]
    # the constant-byte and empty blobs never pair with the text blobs
    # (different n_cells or far hamming)
    assert not any(4 in p or 5 in p for p in pairs)
    with pytest.raises(ValueError, match="unknown decoder"):
        image_ahash(media, decoder="webp")


def test_image_ahash_on_real_ppm_pixels(spark):
    """The aHash pipeline proven on ACTUAL image bytes (r7 verdict item
    7): stdlib-decoded binary Netpbm rasters, not the fake codec. An 8x8
    gradient PGM, a one-pixel-edited twin (small hamming), and its exact
    P6 RGB re-encoding (identical luma -> identical hash)."""
    from ningaloo_turtle_etl_spark.operators.multimodal import (
        _ppm_decode,
        ahash_near_dup_pairs,
        image_ahash,
    )

    # 8x8 grayscale gradient: pixel = row*32 + col*4 (all < 256)
    px = bytes(r * 32 + c * 4 for r in range(8) for c in range(8))
    pgm = b"P5\n# comment line\n8 8\n255\n" + px
    edited = bytearray(px)
    edited[27] = 255  # one bright pixel inside the 64-cell window
    pgm_edited = b"P5\n8 8\n255\n" + bytes(edited)
    # P6 twin of the original: gray triples -> BT.601 luma == the gray
    # value exactly ((299+587+114)v // 1000 = v)
    ppm_rgb = b"P6\n8 8\n255\n" + bytes(v for v in px for _ in range(3))

    w, h, pix = _ppm_decode(pgm)
    assert (w, h) == (8, 8) and pix.shape == (8, 8)
    assert pix[3, 5] == 3 * 32 + 5 * 4
    wr, hr, pixr = _ppm_decode(ppm_rgb)
    assert (pixr == pix).all()
    for bad in (b"P3\n8 8\n255\n" + px, b"P5\n8 8\n255\n" + px[:10], b"X"):
        with pytest.raises(ValueError):
            _ppm_decode(bad)

    media = spark.createDataFrame(
        [(1, pgm), (2, pgm_edited), (3, ppm_rgb)],
        "media_id long, content binary",
    )
    hashes = {
        r["media_id"]: r
        for r in image_ahash(media, decoder="ppm").collect()
    }
    assert all(r["n_cells"] == 64 for r in hashes.values())
    # RGB re-encoding hashes identically to its grayscale twin
    assert (hashes[3]["h0"], hashes[3]["h1"]) == (
        hashes[1]["h0"],
        hashes[1]["h1"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(
            image_ahash(media, decoder="ppm"), max_hamming=8
        ).collect()
    }
    assert pairs[(1, 3)] == 0
    assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 8
    assert pairs[(1, 2)] == pairs[(2, 3)]


def _make_png(pixels, color_type, filters):
    """Hand-assemble a real PNG (signature + IHDR + one zlib IDAT + IEND)
    from a row-major pixel list-of-lists — an ENCODER written in the test,
    independent of the decoder under test. ``filters[r]`` picks the scanline
    filter for row r (0=None 1=Sub 2=Up 3=Average 4=Paeth), exercising the
    unfilter paths on bytes a real libpng writer could emit."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    h = len(pixels)
    w = len(pixels[0]) // ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    prev = [0] * (w * ch)
    for r, ftype in zip(range(h), filters):
        line = list(pixels[r])
        enc = bytearray([ftype])
        for i in range(w * ch):
            left = line[i - ch] if i >= ch else 0
            ul = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                v = line[i]
            elif ftype == 1:
                v = line[i] - left
            elif ftype == 2:
                v = line[i] - prev[i]
            elif ftype == 3:
                v = line[i] - ((left + prev[i]) >> 1)
            else:
                v = line[i] - paeth(left, prev[i], ul)
            enc.append(v & 0xFF)
        raw += enc
        prev = line

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_image_ahash_on_real_png_pixels(spark):
    """The aHash pipeline on REAL compressed PNG bytes (r8 verdict item
    8): the stdlib zlib decoder must invert all five scanline filters
    exactly, collapse RGB(A) to the same BT.601 luma as the PPM path, and
    feed the same near-dup pairs."""
    import numpy as np

    from ningaloo_turtle_etl_spark.operators.multimodal import (
        _png_decode,
        ahash_near_dup_pairs,
        image_ahash,
    )

    # 8x8 gradient, same pixel law as the PPM test
    gray = [[r * 32 + c * 4 for c in range(8)] for r in range(8)]
    png_gray = _make_png(gray, 0, filters=[0, 1, 2, 3, 4, 1, 2, 4])
    w, h, pix = _png_decode(png_gray)
    assert (w, h) == (8, 8)
    assert (pix == np.array(gray, dtype=np.uint8)).all()

    # RGB twin: gray triples -> BT.601 luma == the gray value exactly
    rgb = [[v for v in row for _ in range(3)] for row in gray]
    png_rgb = _make_png(rgb, 2, filters=[4, 3, 2, 1, 0, 4, 3, 2])
    _, _, pix_rgb = _png_decode(png_rgb)
    assert (pix_rgb == pix).all()

    # RGBA twin with varying alpha (ignored): same luma again
    rgba = [
        [b for c, v in enumerate(row) for b in (v, v, v, (c * 17) % 256)]
        for row in gray
    ]
    png_rgba = _make_png(rgba, 6, filters=[2] * 8)
    _, _, pix_rgba = _png_decode(png_rgba)
    assert (pix_rgba == pix).all()

    # one-pixel edit -> small positive hamming
    edited = [row[:] for row in gray]
    edited[3][3] = 255
    png_edit = _make_png(edited, 0, filters=[1] * 8)

    import pytest as _pt

    for bad in (
        b"NOTAPNG" + png_gray,
        png_gray[:20],
        _make_png(gray, 0, filters=[0] * 8)[:8]  # signature only
        + b"\x00\x00\x00\x00IEND\xae B`\x82",
    ):
        with _pt.raises(ValueError):
            _png_decode(bad)

    media = spark.createDataFrame(
        [(1, png_gray), (2, png_rgb), (3, png_rgba), (4, png_edit)],
        "media_id long, content binary",
    )
    hashes = {
        r["media_id"]: r
        for r in image_ahash(media, decoder="png").collect()
    }
    assert all(r["n_cells"] == 64 for r in hashes.values())
    assert (hashes[2]["h0"], hashes[2]["h1"]) == (
        hashes[1]["h0"], hashes[1]["h1"],
    )
    assert (hashes[3]["h0"], hashes[3]["h1"]) == (
        hashes[1]["h0"], hashes[1]["h1"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(
            image_ahash(media, decoder="png"), max_hamming=8
        ).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0
    assert (1, 4) in pairs and 0 < pairs[(1, 4)] <= 8


def test_ahash_pairs_skip_structurally_zero_bands(spark):
    """Small images (n_cells <= 48) have upper bands that are zero for
    EVERY image — emitting them would put all same-size small images in
    one bucket, a quadratic clique at corpus scale. Only bands covering
    real cells (band*16 < n_cells) may generate candidates."""
    from ningaloo_turtle_etl_spark.operators.multimodal import (
        ahash_near_dup_pairs,
    )

    rows = [
        # n_cells=8: only band 0 is real; 1 vs 2 differ there -> no pair
        (1, 8, 0b0011, 0),
        (2, 8, 0b0101, 0),
        # 3 matches 1 exactly -> pairs at hamming 0 via band 0
        (3, 8, 0b0011, 0),
        # n_cells=0 empties: no real bands at all -> never pair
        (4, 0, 0, 0),
        (5, 0, 0, 0),
        # n_cells=20: bands 0-1 real; 6 vs 7 share band 1, differ in band
        # 0 by 4 bits -> caught via band 1 at hamming 4
        (6, 20, (0b1010 << 16) | 0b1111, 0),
        (7, 20, (0b1010 << 16) | 0b0000, 0),
    ]
    hashes = spark.createDataFrame(
        rows, "media_id long, n_cells int, h0 long, h1 long"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(hashes, max_hamming=8).collect()
    }
    assert pairs == {(1, 3): 0, (6, 7): 4}


def _make_jpeg(planes, quant=None, restart_interval=0, prec16=False):
    """Hand-assemble a real baseline JPEG — an ENCODER written in the
    test, independent of the decoder under test (forward DCT vs inverse,
    Huffman BUILD vs decode, bit writer vs reader). ``planes`` is a list
    of (component_id, h, v, 2D-numpy-plane) at each component's own
    subsampled resolution; one entry encodes grayscale, three encode
    interleaved YCbCr (4:4:4 / 4:2:2 / 4:2:0 by the h/v factors). All
    components share one quant table (64 ints, natural order; default all
    ones = near-lossless) and one Huffman table pair built canonically
    from the symbols the image actually emits."""
    import struct

    import numpy as np

    zigzag = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    dct = np.array(
        [
            [
                (np.sqrt(0.125) if u == 0 else 0.5)
                * np.cos((2 * x + 1) * u * np.pi / 16.0)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    q_nat = np.array(quant if quant is not None else [1] * 64, dtype=np.int64)
    hmax = max(h for _, h, _, _ in planes)
    vmax = max(v for _, _, v, _ in planes)
    y_plane = planes[0][3]
    height, width = y_plane.shape  # luma carries the image dims
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    def blocks_for(cid, ch, cv, plane):
        """Pad the plane to its MCU grid (edge replication) and cut the
        8x8 quantized-coefficient blocks in interleave order."""
        ph, pw = mcuy * cv * 8, mcux * ch * 8
        padded = np.zeros((ph, pw), dtype=np.float64)
        h0, w0 = plane.shape
        padded[:h0, :w0] = plane
        padded[h0:, :w0] = plane[-1:, :]
        padded[:, w0:] = padded[:, w0 - 1 : w0]
        out = []
        for my in range(mcuy):
            for mx in range(mcux):
                for bv in range(cv):
                    for bh in range(ch):
                        y0 = (my * cv + bv) * 8
                        x0 = (mx * ch + bh) * 8
                        block = padded[y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coef = dct @ block @ dct.T
                        out.append(
                            np.rint(coef / q_nat.reshape(8, 8)).astype(int)
                        )
        return out

    per_mcu = sum(ch * cv for _, ch, cv, _ in planes)
    all_blocks = {
        cid: blocks_for(cid, ch, cv, pl) for cid, ch, cv, pl in planes
    }

    def entropy_symbols(block, pred):
        """(dc_size, dc_bits), [(ac_symbol, ac_bits), ...] for one block."""
        dc = int(block.flat[0]) - pred
        size = dc.bit_length() if dc else 0
        dcb = dc if dc > 0 else (dc + (1 << size) - 1 if size else 0)
        zz = [int(block.flat[zigzag[k]]) for k in range(64)]
        acs, run = [], 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                acs.append((0xF0, 0, 0))  # ZRL
                run -= 16
            s = abs(zz[k]).bit_length()
            bits = zz[k] if zz[k] > 0 else zz[k] + (1 << s) - 1
            acs.append(((run << 4) | s, bits, s))
            run = 0
        if run:
            acs.append((0x00, 0, 0))  # EOB
        return (size, dcb), acs, int(block.flat[0])

    # Pass 1: walk MCUs once to collect every symbol (restart resets preds
    # exactly as pass 2 will) and build one canonical fixed-length table
    # per class.
    dc_syms, ac_syms = set(), set()
    preds = {cid: 0 for cid, *_ in planes}
    n_mcu = mcux * mcuy
    seq = []  # (cid, block) in stream order
    idx = {cid: 0 for cid, *_ in planes}
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            preds = {cid: 0 for cid, *_ in planes}
        for cid, ch, cv, _ in planes:
            for _ in range(ch * cv):
                blk = all_blocks[cid][idx[cid]]
                idx[cid] += 1
                (size, _), acs, dcval = entropy_symbols(blk, preds[cid])
                preds[cid] = dcval
                dc_syms.add(size)
                ac_syms.update(sym for sym, _, _ in acs)
                seq.append((cid, blk))

    def canonical(symbols):
        """All-same-length canonical code over the used symbols (length L
        with 2**L > nsym keeps the all-ones code unused, as T.81 requires);
        returns (counts16, ordered_symbols, {sym: (L, code)})."""
        ordered = sorted(symbols)
        L = max(2, (len(ordered)).bit_length())
        assert len(ordered) <= (1 << L) - 1
        counts = [0] * 16
        counts[L - 1] = len(ordered)
        return counts, ordered, {s: (L, c) for c, s in enumerate(ordered)}

    dc_counts, dc_ordered, dc_code = canonical(dc_syms)
    ac_counts, ac_ordered, ac_code = canonical(ac_syms)

    out = bytearray()
    acc = [0, 0]  # bit accumulator, bit count

    def put(value, nbits):
        for i in range(nbits - 1, -1, -1):
            acc[0] = (acc[0] << 1) | ((value >> i) & 1)
            acc[1] += 1
            if acc[1] == 8:
                out.append(acc[0])
                if acc[0] == 0xFF:
                    out.append(0x00)  # byte stuffing
                acc[0] = acc[1] = 0

    def flush():
        if acc[1]:
            put((1 << (8 - acc[1])) - 1, 8 - acc[1])  # pad with 1s

    # Pass 2: emit bits.
    preds = {cid: 0 for cid, *_ in planes}
    rst_phase = 0
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            flush()
            out += bytes([0xFF, 0xD0 + rst_phase])
            rst_phase = (rst_phase + 1) & 7
            preds = {cid: 0 for cid, *_ in planes}
        for cid, blk in seq[m * per_mcu : (m + 1) * per_mcu]:
            (size, dcb), acs, dcval = entropy_symbols(blk, preds[cid])
            preds[cid] = dcval
            ln, code = dc_code[size]
            put(code, ln)
            put(dcb, size)
            for sym, bits, s in acs:
                ln, code = ac_code[sym]
                put(code, ln)
                put(bits, s)
    flush()

    zz_q = bytes(int(q_nat[zigzag[k]]) for k in range(64))
    if prec16:
        dqt = bytes([0x10]) + b"".join(
            struct.pack(">H", int(q_nat[zigzag[k]])) for k in range(64)
        )
    else:
        dqt = bytes([0x00]) + zz_q
    sof = struct.pack(">BHHB", 8, height, width, len(planes)) + b"".join(
        bytes([cid, (ch << 4) | cv, 0]) for cid, ch, cv, _ in planes
    )
    dht = (
        bytes([0x00]) + bytes(dc_counts) + bytes(dc_ordered)
        + bytes([0x10]) + bytes(ac_counts) + bytes(ac_ordered)
    )
    sos = bytes([len(planes)]) + b"".join(
        bytes([cid, 0x00]) for cid, *_ in planes
    ) + bytes([0, 63, 0])

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpg = bytearray(b"\xff\xd8")
    jpg += seg(0xDB, dqt) + seg(0xC0, sof) + seg(0xC4, dht)
    if restart_interval:
        jpg += seg(0xDD, struct.pack(">H", restart_interval))
    jpg += seg(0xDA, sos) + out + b"\xff\xd9"
    return bytes(jpg)


def test_jpeg_decode_gray_roundtrip_and_rejections():
    """Baseline JPEG decode of grayscale bytes produced by the
    test-local encoder (independent DCT/Huffman/bit-IO implementations):
    with an all-ones quant table the only loss is coefficient rounding,
    so pixels must come back within a small uniform bound; restart
    markers and 16-bit DQT must parse; malformed/unsupported streams must
    raise, not decode garbage."""
    import numpy as np
    import pytest as _pt

    from ningaloo_turtle_etl_spark.operators.multimodal import _jpeg_decode

    rng = np.random.RandomState(7)
    img = np.clip(
        np.add.outer(np.arange(24) * 6, np.arange(16) * 3)
        + rng.randint(0, 40, size=(24, 16)),
        0,
        255,
    ).astype(np.float64)

    jpg = _make_jpeg([(1, 1, 1, img)])
    w, h, pix = _jpeg_decode(jpg)
    assert (w, h) == (16, 24)
    assert pix.shape == (24, 16)
    err = np.abs(pix.astype(int) - img.astype(int))
    assert err.max() <= 3, f"max q=1 roundtrip error {err.max()}"

    # restart markers every 1 MCU (2x3 MCUs -> 5 RSTs) decode identically
    jpg_rst = _make_jpeg([(1, 1, 1, img)], restart_interval=1)
    assert b"\xff\xd0" in jpg_rst
    _, _, pix_rst = _jpeg_decode(jpg_rst)
    assert (pix_rst == pix).all()

    # 16-bit-precision DQT path
    _, _, pix16 = _jpeg_decode(_make_jpeg([(1, 1, 1, img)], prec16=True))
    assert (pix16 == pix).all()

    # coarse quantization still decodes, with bounded blur
    coarse = _make_jpeg([(1, 1, 1, img)], quant=[16] * 64)
    _, _, pix_c = _jpeg_decode(coarse)
    assert np.abs(pix_c.astype(int) - img.astype(int)).max() <= 48

    for bad in (
        b"\x00\x00" + jpg,            # no SOI
        jpg[:40],                      # truncated mid-segment
        jpg[:-30],                     # truncated entropy data
        jpg.replace(b"\xff\xc0", b"\xff\xc2", 1),  # progressive SOF2
    ):
        with _pt.raises(ValueError):
            _jpeg_decode(bad)


def test_jpeg_decode_ycbcr_subsampling_and_auto_dispatch(spark):
    """Interleaved YCbCr scans at 4:4:4, 4:2:2 and 4:2:0: the decoder
    must walk the chroma blocks to keep the bitstream aligned but return
    the Y plane; then the aHash pipeline runs on real JPEG bytes end to
    end, and decoder='auto' dispatches PNG/JPEG/PPM by magic bytes to
    identical hashes (r9 verdict item 7)."""
    import numpy as np
    import pytest as _pt

    from ningaloo_turtle_etl_spark.operators.multimodal import (
        _auto_decode,
        _jpeg_decode,
        ahash_near_dup_pairs,
        image_ahash,
    )

    y = np.clip(
        np.add.outer(np.arange(16) * 9, np.arange(16) * 5), 0, 255
    ).astype(np.float64)
    flat = np.full((16, 16), 128.0)
    half = np.full((8, 8), 128.0)
    wide = np.full((16, 8), 128.0)

    j444 = _make_jpeg([(1, 1, 1, y), (2, 1, 1, flat), (3, 1, 1, flat)])
    j422 = _make_jpeg([(1, 2, 1, y), (2, 1, 1, wide), (3, 1, 1, wide)])
    j420 = _make_jpeg([(1, 2, 2, y), (2, 1, 1, half), (3, 1, 1, half)])
    for jpg in (j444, j422, j420):
        w, h, pix = _jpeg_decode(jpg)
        assert (w, h) == (16, 16)
        err = np.abs(pix.astype(int) - y.astype(int))
        assert err.max() <= 3, f"Y-plane error {err.max()}"

    # a mean-preserving swap inside the ahash window (first 64 pixels
    # row-major = rows 0-3 at width 16): cells 0 and 15 trade values, so
    # exactly two band-0 bits flip while bands 1-3 stay shared -> the LSH
    # still buckets the pair and hamming comes back small but positive
    y_edit = y.copy()
    y_edit[0, 0], y_edit[0, 15] = y[0, 15], y[0, 0]
    j_edit = _make_jpeg([(1, 2, 2, y_edit), (2, 1, 1, half), (3, 1, 1, half)])

    media = spark.createDataFrame(
        [(1, j444), (2, j422), (3, j420), (4, j_edit)],
        "media_id long, content binary",
    )
    hashes = {
        r["media_id"]: r
        for r in image_ahash(media, decoder="jpeg").collect()
    }
    assert all(r["n_cells"] == 64 for r in hashes.values())
    # same Y content through three subsampling layouts -> identical hash
    assert (hashes[2]["h0"], hashes[2]["h1"]) == (
        hashes[1]["h0"], hashes[1]["h1"],
    )
    assert (hashes[3]["h0"], hashes[3]["h1"]) == (
        hashes[1]["h0"], hashes[1]["h1"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_near_dup_pairs(
            image_ahash(media, decoder="jpeg"), max_hamming=16
        ).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    assert (1, 4) in pairs and pairs[(1, 4)] > 0

    # auto tier: mixed-format corpus, one decoder string
    gray_rows = [[int(v) for v in row] for row in y.astype(int)]
    png = _make_png(gray_rows, 0, filters=[0] * 16)
    pgm = (b"P5\n16 16\n255\n" + bytes(b for row in gray_rows for b in row))
    mixed = spark.createDataFrame(
        [(10, png), (11, j444), (12, pgm)],
        "media_id long, content binary",
    )
    auto = {
        r["media_id"]: r
        for r in image_ahash(mixed, decoder="auto").collect()
    }
    assert (auto[10]["h0"], auto[10]["h1"]) == (auto[12]["h0"], auto[12]["h1"])
    # JPEG is lossy (±3 at q=1), so bits whose cell sits at the mean can
    # flip vs the exact PNG/PGM decode — near-dup, not byte-dup
    ham = bin(auto[11]["h0"] ^ auto[10]["h0"]).count("1") + bin(
        auto[11]["h1"] ^ auto[10]["h1"]
    ).count("1")
    assert ham <= 6, f"jpeg-vs-png ahash hamming {ham}"
    with _pt.raises(ValueError):
        _auto_decode(b"GIF89a notsupported")


def test_corpus_bleu_rouge_matches_python_replica(spark):
    import math
    from collections import Counter

    from ningaloo_turtle_etl_spark.operators.text import corpus_bleu_rouge

    pairs = [
        (1, "the cat sat on the mat", "the cat sat on the mat"),
        (2, "the cat the cat on mat", "the cat is on the mat"),
        (3, "completely different words here", "the quick brown fox jumps"),
        (4, "a b", "a b c d e f g h"),  # short candidate -> BP bites
    ]
    df = spark.createDataFrame(pairs, "id long, cand string, ref string")
    row = corpus_bleu_rouge(df, "cand", "ref", "id", max_n=4).collect()[0]

    def grams(toks, n):
        return Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )

    clip, cand_n, ref_n = {}, {}, {}
    c_len = r_len = 0
    for _, c, r in pairs:
        tc, tr = c.split(), r.split()
        c_len += len(tc)
        r_len += len(tr)
        for n in range(1, 5):
            gc, gr = grams(tc, n), grams(tr, n)
            clip[n] = clip.get(n, 0) + sum(
                min(v, gr[g]) for g, v in gc.items()
            )
            cand_n[n] = cand_n.get(n, 0) + sum(gc.values())
            ref_n[n] = ref_n.get(n, 0) + sum(gr.values())
    p = {n: clip[n] / cand_n[n] for n in range(1, 5)}
    bp = 1.0 if c_len >= r_len else math.exp(1 - r_len / c_len)
    bleu = (
        bp * math.exp(sum(math.log(p[n]) for n in range(1, 5)) / 4)
        if all(p[n] > 0 for n in range(1, 5))
        else 0.0
    )
    assert row["n_pairs"] == 4
    assert row["cand_tokens"] == c_len and row["ref_tokens"] == r_len
    assert row["brevity_penalty"] == round(bp, 6)
    for n in range(1, 5):
        assert row[f"p{n}"] == round(p[n], 6)
    assert row["rouge1_recall"] == round(clip[1] / ref_n[1], 6)
    assert row["rouge2_recall"] == round(clip[2] / ref_n[2], 6)
    assert abs(row["bleu"] - bleu) < 1e-6
    # perfect candidates -> BLEU exactly 1 everywhere
    perfect = spark.createDataFrame(
        [(1, "x y z w v u t s", "x y z w v u t s")],
        "id long, cand string, ref string",
    )
    prow = corpus_bleu_rouge(perfect, "cand", "ref", "id").collect()[0]
    assert prow["bleu"] == 1.0 and prow["rouge2_recall"] == 1.0
    # a zero p4 (no shared 4-gram) zeroes BLEU but not ROUGE
    nosh = spark.createDataFrame(
        [(1, "a b c q e f", "a b c d e f")],
        "id long, cand string, ref string",
    )
    nrow = corpus_bleu_rouge(nosh, "cand", "ref", "id").collect()[0]
    assert nrow["bleu"] == 0.0 and nrow["rouge1_recall"] > 0
    with pytest.raises(ValueError):
        corpus_bleu_rouge(df, "cand", "ref", "id", max_n=1)


def test_margin_bitext_pairs_matches_numpy_and_suppresses_hubs(spark):
    from ningaloo_turtle_etl_spark.operators.similarity import (
        margin_bitext_pairs,
    )

    rng = np.random.RandomState(9)
    va = rng.randn(12, 16)
    vb = rng.randn(12, 16)
    vb[0] = va[0] + 0.05 * rng.randn(16)  # true pair for a0
    dfa = spark.createDataFrame(
        [(i, [float(x) for x in va[i]]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    dfb = spark.createDataFrame(
        [(100 + i, [float(x) for x in vb[i]]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["id_a"]: r
        for r in margin_bitext_pairs(dfa, dfb, k=4, threshold=0.0).collect()
    }
    # numpy replica of the forward margin for a0
    def cos(x, y):
        return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))

    sims = np.array([[cos(va[i], vb[j]) for j in range(12)] for i in range(12)])
    j_star = int(np.argmax(sims[0]))
    assert out[0]["id_b"] == 100 + j_star == 100  # planted pair found
    dx = float(np.sort(sims[0])[::-1][:4].mean())
    dy = float(np.sort(sims[:, j_star])[::-1][:4].mean())
    expect = sims[0, j_star] / ((dx + dy) / 2)
    assert abs(out[0]["margin"] - round(expect, 6)) < 1e-6
    assert abs(out[0]["cosine"] - round(sims[0, j_star], 6)) < 1e-6
    # every A vector emits exactly one best-candidate row at threshold 0
    assert len(out) == 12
    # the planted pair's cosine is near 1 and its margin clears 1 (random
    # 16-dim pairs can fluke high RATIOS when their top-k denominators are
    # near zero, so the discriminating signal here is cosine, not margin)
    assert out[0]["cosine"] > 0.9 and out[0]["margin"] > 1.0
    others = [r["cosine"] for i, r in out.items() if i != 0]
    assert out[0]["cosine"] > max(others)
    with pytest.raises(ValueError):
        margin_bitext_pairs(dfa, dfb, k=0)


def test_dataset_digest_order_invariant_and_change_sensitive(spark):
    from ningaloo_turtle_etl_spark.operators.delta import dataset_digest

    rows = [(i, "g%d" % (i % 2), "v%d" % i) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, g string, v string")
    base = {
        r["g"]: r
        for r in dataset_digest(df, ["id", "v"], by=["g"]).collect()
    }
    # invariant under row order AND partitioning
    shuffled = df.orderBy(F.desc("id")).repartition(7)
    re = {
        r["g"]: r
        for r in dataset_digest(shuffled, ["id", "v"], by=["g"]).collect()
    }
    for g in ("g0", "g1"):
        assert (base[g]["xor_digest"], base[g]["sum_digest"]) == (
            re[g]["xor_digest"],
            re[g]["sum_digest"],
        )
    # a single value change flips both digests of exactly that group
    changed = df.withColumn(
        "v", F.when(F.col("id") == 42, F.lit("CHANGED")).otherwise(F.col("v"))
    )
    ch = {
        r["g"]: r
        for r in dataset_digest(changed, ["id", "v"], by=["g"]).collect()
    }
    assert ch["g0"]["xor_digest"] != base["g0"]["xor_digest"]
    assert ch["g0"]["sum_digest"] != base["g0"]["sum_digest"]
    assert ch["g1"]["xor_digest"] == base["g1"]["xor_digest"]
    # duplicating every row cancels xor to 0... but the modular sum and
    # n_rows both move — the reason BOTH folds ship
    doubled = dataset_digest(df.union(df), ["id", "v"]).collect()[0]
    single = dataset_digest(df, ["id", "v"]).collect()[0]
    assert doubled["xor_digest"] == 0
    assert doubled["n_rows"] == 2 * single["n_rows"]
    assert doubled["sum_digest"] != single["sum_digest"]
    # NULL is distinct from empty string
    a = spark.createDataFrame([(1, None)], "id long, v string")
    b = spark.createDataFrame([(1, "")], "id long, v string")
    assert (
        dataset_digest(a, ["id", "v"]).collect()[0]["xor_digest"]
        != dataset_digest(b, ["id", "v"]).collect()[0]["xor_digest"]
    )
    with pytest.raises(ValueError):
        dataset_digest(df, [])


def test_ppjoin_completeness_vs_bruteforce(spark):
    """PPJoin prefix filtering must be EXACT: identical pair set and
    jaccard values to the all-pairs brute force, at any threshold."""
    from ningaloo_turtle_etl_spark.operators.dedup import ppjoin_pairs

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),      # jac 3/5 with 1
        (3, "alpha beta gamma delta"),        # exact dup of 1
        (4, "zeta eta theta iota kappa"),
        (5, "zeta eta theta iota kappa mu"),  # jac 5/6 with 4
        (6, "completely different words here entirely"),
        (7, "alpha zeta"),                    # small set, rare overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def brute(th):
        sets = {i: set(t.split()) for i, t in rows}
        out = {}
        ids = sorted(sets)
        for x in ids:
            for y in ids:
                if x < y:
                    j = len(sets[x] & sets[y]) / len(sets[x] | sets[y])
                    if j >= th:
                        out[(x, y)] = round(j, 6)
        return out

    for th in (0.3, 0.5, 0.8, 1.0):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ppjoin_pairs(df, threshold=th).collect()
        }
        assert got == brute(th), th
    import pytest as _pt

    with _pt.raises(ValueError):
        ppjoin_pairs(df, threshold=0.0)


def test_ppjoin_exact_threshold_boundary_pairs(spark):
    """Regression for the float-ceil boundary bug: a pair at EXACTLY
    Jaccard = threshold must survive. Under float math, t=0.9 with a
    9-token subset of a 10-token set computed the overlap floor as
    ceil(0.9*19/1.9) = ceil(9.000000000000002) = 10 (true floor: 9) and
    the positional filter silently pruned the true pair. The gates now
    rationalize t (0.9 → 9/10) and compare in exact integers."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        _rationalize_threshold,
        ppjoin_pairs,
    )

    assert _rationalize_threshold(0.9) == (9, 10)
    assert _rationalize_threshold(0.8) == (4, 5)
    assert _rationalize_threshold(0.5) == (1, 2)
    assert _rationalize_threshold(1.0) == (1, 1)

    w9 = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    rows = [
        (1, w9),                    # 9 tokens
        (2, w9 + " t10"),           # 10 tokens; jac(1,2) = 9/10 = t
        (3, "a1 a2 a3 a4 a5 a6 a7 a8"),             # 8 tokens
        (4, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),      # jac(3,4) = 8/10
        (5, "b1 b2 b3 b4"),
        (6, "b1 b2 b3 b4 b5"),      # jac(5,6) = 4/5 = 0.8 exactly
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got09 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(df, threshold=0.9).collect()
    }
    assert got09 == {(1, 2): 0.9}

    got08 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(df, threshold=0.8).collect()
    }
    assert got08 == {(1, 2): 0.9, (3, 4): 0.8, (5, 6): 0.8}


def test_ppjoin_positional_filter_prunes_candidates(spark):
    """The Xiao et al. positional filter must (a) strictly shrink the
    candidate set on a corpus where docs share only LATE-prefix tokens,
    and (b) never drop a true pair (exactness): positional candidates
    are a subset of length-gate-only candidates and a superset of the
    brute-force answer."""
    from ningaloo_turtle_etl_spark.operators.dedup import (
        _ppjoin_candidates,
        ppjoin_pairs,
    )

    # Docs 1/2 share ONLY 'common', which ranks LAST (position 3) in
    # both prefixes (two unique tokens are rarer, f1/f2 are filler-
    # boosted to rank after it): ubound = 1 + min(5-3, 5-3) = 3 <
    # alpha = ceil(0.5*10/1.5) = 4 -> positionally prunable (their true
    # jaccard 3/7 < t anyway). Docs 3/4 are a true pair whose shared
    # tokens sit early -> must survive.
    rows = [
        (1, "r1 r2 common f1 f2"),
        (2, "t1 t2 common f1 f2"),
        (3, "x1 x2 x3 x4 x5 x6"),
        (4, "x1 x2 x3 x4 x5 x7"),
        (5, "f1 f2 z1 z2 z3 z4"),
        (6, "f1 f2 z5 z6 z7 z8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = df.select(
        F.col("doc_id").alias("id"),
        F.split(F.lower("text"), r"\s+").alias("s"),
    ).withColumn("n", F.size("s"))
    t = 0.5
    with_pos = {
        (r["id_a"], r["id_b"])
        for r in _ppjoin_candidates(sets, t, positional=True).collect()
    }
    without = {
        (r["id_a"], r["id_b"])
        for r in _ppjoin_candidates(sets, t, positional=False).collect()
    }
    assert with_pos < without  # strictly fewer candidates
    assert (1, 2) in without and (1, 2) not in with_pos
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in ppjoin_pairs(df, threshold=t).collect()
    }
    assert true_pairs == {(3, 4)}
    assert true_pairs <= with_pos  # no true pair pruned


def test_ppjoin_max_token_docs_cap(spark):
    """max_token_docs hard-bounds per-token candidate fanout: a prefix
    token carried by more than the cap's documents stops generating
    candidates (the documented exactness caveat — pairs carried ONLY by
    capped tokens are lost), while pairs carried by rarer prefix tokens
    survive; invalid caps raise."""
    import pytest as _pt

    from ningaloo_turtle_etl_spark.operators.dedup import ppjoin_pairs

    # Frequencies: rr=2 < hub=4 < c1=c2=6, so every doc 1-4 prefix
    # (length 3 of 4 at t=0.5) is (rarest-first) {rr|s_i, hub, c1}.
    # Capping at 3 drops hub (4 prefix docs) and c1 (6): only the
    # rr-carried pair (1,2) keeps a candidate; (3,4) et al. are lost
    # despite true jaccard >= t — the documented recall trade.
    rows = [
        (1, "hub c1 c2 rr"),
        (2, "hub c1 c2 rr"),
        (3, "hub c1 c2 s3"),
        (4, "hub c1 c2 s4"),
        (5, "c1 c2 u1 u2"),
        (6, "c1 c2 u3 u4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ppjoin_pairs(df, threshold=0.5).collect()
    }
    assert uncapped == {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in ppjoin_pairs(df, threshold=0.5, max_token_docs=3).collect()
    }
    assert capped == {(1, 2)}
    with _pt.raises(ValueError):
        ppjoin_pairs(df, threshold=0.5, max_token_docs=0)


def test_pca_power_component_replica_and_planted_direction(spark):
    """The single top component (``pca_power_components`` at p=1). Two
    pins: (a) the 3-round trajectory matches an exact numpy replica of
    the integer-micro arithmetic; (b) on data with a planted dominant
    direction the learned component aligns with numpy's true top
    eigenvector (|cos| > 0.99) and the eigenvalue estimate is close —
    the semantic check, independent of the quantization."""
    import math

    import numpy as np

    from ningaloo_turtle_etl_spark.operators.similarity import (
        pca_power_components,
    )

    rng = np.random.RandomState(5)
    direction = rng.randn(8)
    direction /= np.linalg.norm(direction)
    data = (
        np.outer(rng.randn(60) * 5.0, direction)
        + rng.randn(60, 8) * 0.3
    )
    df = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in data[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = pca_power_components(df, 1, 3).collect()
    assert {r["component"] for r in got} == {1}
    loadings = np.array([r["loading"] for r in sorted(got, key=lambda r: r["dim_idx"])])
    eig = got[0]["eigenvalue"]

    def rnd(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    # exact replica (micro quantization; covariance 1/n inside wd)
    xm = np.array([[rnd(float(np.float32(x)) * 1e6) for x in row] for row in data])
    n = 60
    mu = np.array([math.floor(int(xm[:, j].sum()) / n + 0.5) for j in range(8)])
    c = (xm - mu) / 1e6
    v = np.zeros(8)
    v[0] = 1.0
    for _ in range(3):
        s = np.array([sum(rnd(c[i, j] * v[j] * 1e6) for j in range(8)) for i in range(n)]) / 1e6
        w = np.array([sum(rnd(s[i] * c[i, j] * 1e6) for i in range(n)) for j in range(8)]) / 1e6 / n
        nsq = sum(math.floor(w[j] * w[j] * 1e6 + 0.5) for j in range(8))
        norm = math.sqrt(nsq / 1e6)
        v = w / norm
    assert np.allclose(loadings, np.round(v, 6), atol=1e-9)
    assert abs(eig - round(norm, 6)) < 1e-9

    # semantic: aligns with the true top eigenvector of the centered data
    centered = data - data.mean(axis=0)
    cov = centered.T @ centered / n
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    assert abs(float(loadings @ top)) > 0.99
    assert abs(eig - evals[-1]) / evals[-1] < 0.1


def test_pca_power_components_deflation_replica_and_orthogonality(spark):
    """Top-2 deflated power iteration: (a) the full two-component
    trajectory — including the micro-quantized deflation dot — matches
    an exact numpy replica; (b) the two loadings are near-orthogonal;
    (c) on data with TWO planted directions both recovered components
    align with numpy's top-2 eigenvectors."""
    import math

    import numpy as np

    from ningaloo_turtle_etl_spark.operators.similarity import (
        pca_power_components,
    )

    rng = np.random.RandomState(11)
    d1 = rng.randn(8)
    d1 /= np.linalg.norm(d1)
    d2 = rng.randn(8)
    d2 -= (d2 @ d1) * d1
    d2 /= np.linalg.norm(d2)
    data = (
        np.outer(rng.randn(60) * 6.0, d1)
        + np.outer(rng.randn(60) * 2.5, d2)
        + rng.randn(60, 8) * 0.2
    )
    df = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in data[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = pca_power_components(df, n_components=2, iterations=3).collect()
    by_comp = {}
    eig = {}
    for r in got:
        by_comp.setdefault(r["component"], {})[r["dim_idx"]] = r["loading"]
        eig[r["component"]] = r["eigenvalue"]
    v1 = np.array([by_comp[1][j] for j in range(1, 9)])
    v2 = np.array([by_comp[2][j] for j in range(1, 9)])

    # (a) exact replica of the deflated trajectory
    def rnd(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    xm = np.array(
        [[rnd(float(np.float32(x)) * 1e6) for x in row] for row in data]
    )
    n = 60
    mu = np.array(
        [math.floor(int(xm[:, j].sum()) / n + 0.5) for j in range(8)]
    )
    c = (xm - mu) / 1e6
    comps = []
    for k in range(2):
        v = np.zeros(8)
        v[k] = 1.0
        for _ in range(3):
            s = np.array(
                [
                    sum(rnd(c[i, j] * v[j] * 1e6) for j in range(8))
                    for i in range(n)
                ]
            ) / 1e6
            w = np.array(
                [
                    sum(rnd(s[i] * c[i, j] * 1e6) for i in range(n))
                    for j in range(8)
                ]
            ) / 1e6 / n
            w = list(w)
            for vm, lam in comps:
                dot_i = sum(rnd(vm[j] * v[j] * 1e6) for j in range(8))
                coef = lam * (dot_i / 1e6)
                for j in range(8):
                    w[j] = w[j] - coef * vm[j]
            nsq = sum(math.floor(w[j] * w[j] * 1e6 + 0.5) for j in range(8))
            norm = math.sqrt(nsq / 1e6)
            v = np.array(w) / norm
        comps.append((v, norm))
    assert np.allclose(v1, np.round(comps[0][0], 6), atol=1e-9)
    assert np.allclose(v2, np.round(comps[1][0], 6), atol=1e-9)
    assert abs(eig[1] - round(comps[0][1], 6)) < 1e-9
    assert abs(eig[2] - round(comps[1][1], 6)) < 1e-9

    # (b) near-orthogonality of successive components
    assert abs(float(v1 @ v2)) < 0.02

    # (c) both align with numpy's top-2 eigenvectors; λ1 > λ2
    centered = data - data.mean(axis=0)
    cov = centered.T @ centered / n
    evals, evecs = np.linalg.eigh(cov)
    assert abs(float(v1 @ evecs[:, -1])) > 0.99
    assert abs(float(v2 @ evecs[:, -2])) > 0.98
    assert eig[1] > eig[2]


def test_jpeg_decoder_tolerates_fill_bytes():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker; real encoders emit them for alignment. Decode must be
    identical with fill bytes injected between segments."""
    import numpy as np

    from ningaloo_turtle_etl_spark.operators.multimodal import _jpeg_decode

    img = np.add.outer(np.arange(8) * 20.0, np.arange(8) * 10.0)
    jpg = _make_jpeg([(1, 1, 1, img)])
    _, _, base = _jpeg_decode(jpg)
    padded = jpg[:2] + b"\xff\xff" + jpg[2:]
    _, _, pix = _jpeg_decode(padded)
    assert (pix == base).all()


def test_pca_round_half_up_matches_spark(spark):
    """r14: the Arrow pca grid reproduces Spark's F.round(double, 0)
    .cast("long") — BigDecimal HALF_UP — bit-exactly, including the
    0.49999999999999994 class where floor(x + 0.5) is WRONG (x + 0.5
    rounds to 1.0 in double) and the negative mirror where a naive
    x - floor(x) fraction loses its low bit across the binade."""
    import numpy as np
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.similarity import (
        _np_round_half_up_i64,
    )

    vals = [
        0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 1.5, -1.5,
        2.5, -2.5, 0.4999999999999999, 1.4999999999999998,
        -1.4999999999999998, 2.675, -2.675, 0.0, -0.0, 1e-300, -1e-300,
        123456789.49999999, 123456789.5, -123456789.5,
        4503599627370495.5, -4503599627370495.5,
    ]
    rng = np.random.default_rng(7)
    for _ in range(400):
        k = int(rng.integers(-10**9, 10**9))
        x = k + 0.5
        for _ in range(int(rng.integers(0, 3))):
            x = np.nextafter(x, np.inf if rng.integers(2) else -np.inf)
        vals.append(float(x))
    vals += [float(v) for v in rng.uniform(-1e12, 1e12, 300)]
    vals += [float(v) for v in rng.uniform(-50, 50, 300)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [
        int(r["y"])
        for r in df.select(
            F.round(F.col("x"), 0).cast("long").alias("y")
        ).collect()
    ]
    got = [int(v) for v in _np_round_half_up_i64(np.array(vals))]
    assert got == want


def test_pca_arrow_grid_matches_catalyst_reference(spark):
    """r14 pins the Arrow pca power-iteration grid against the Catalyst
    expression chain it replaced (zip_with round fold -> aggregate ->
    posexplode round sum), on a fixture whose c_j*v_j*1e6 products land
    EXACTLY on .5 boundaries of both signs (v components of +/-0.5 over
    odd micro offsets) so the HALF_UP tie rule itself is exercised; also
    pins the coordinate-sum grid (mean pass) and its fused row count, and
    that both grids reject NULL and ragged vectors with ValueError."""
    import pyspark.sql.functions as F

    from ningaloo_turtle_etl_spark.operators.similarity import (
        _as_double,
        _pca_coord_sum_grid,
        _pca_cov_apply_grid,
    )
    from ningaloo_turtle_etl_spark.operators.text import barrier_col

    d = 4
    rows = []
    for i in range(37):
        rows.append(
            (
                i,
                [
                    ((i * 13) % 11 - 5) + ((i % 3) * 1e-6),
                    ((i * 7) % 9 - 4) + (((i + 1) % 2) * 3e-6),
                    float(i % 5 - 2),
                    ((i * 29) % 17 - 8) * 0.25,
                ],
            )
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.select(
        F.col("vec_id").alias("vid"),
        F.transform(
            _as_double(F.col("embedding")),
            lambda x: F.round(x * F.lit(1e6), 0).cast("long"),
        ).alias("xm"),
    ).persist()
    base.count()
    try:
        # --- mean grid vs the posexplode reference ---
        sums, n_row = _pca_coord_sum_grid(base, d)
        ref_mu = {
            int(r["j0"]): int(r["s"])
            for r in base.select(F.posexplode("xm").alias("j0", "xv"))
            .groupBy("j0")
            .agg(F.sum("xv").alias("s"))
            .collect()
        }
        assert n_row == base.count()
        assert sums == [ref_mu[j] for j in range(d)]
        mu_m = [0, 3, -2500000, 1]  # deliberately off-center micros

        # --- covariance-apply grid vs the Catalyst reference, tie-heavy v ---
        for v in (
            [0.5, -0.5, 0.25, 1.0],
            [1.0, 0.0, -0.5, 0.5],
            [0.3333333333333333, -0.7, 0.5, -0.25],
        ):
            got = _pca_cov_apply_grid(base, mu_m, v, d)
            mu_arr = F.array([F.lit(int(m)).cast("long") for m in mu_m])
            cent = barrier_col(
                base,
                "c",
                F.zip_with(
                    F.col("xm"), mu_arr, lambda a, b: (a - b) / F.lit(1e6)
                ),
            ).select("vid", "c")
            v_arr = F.array([F.lit(float(x)) for x in v])
            s_terms = F.zip_with(
                F.col("c"),
                v_arr,
                lambda cj, vj: F.round(cj * vj * F.lit(1e6), 0).cast(
                    "long"
                ),
            )
            step = barrier_col(
                cent,
                "sv",
                F.aggregate(
                    s_terms, F.lit(0).cast("long"), lambda acc, t: acc + t
                )
                / F.lit(1e6),
            )
            ref = {
                int(r["j0"]): int(r["gw"])
                for r in step.select(
                    "sv", F.posexplode("c").alias("j0", "cj")
                )
                .groupBy("j0")
                .agg(
                    F.sum(
                        F.round(
                            F.col("sv") * F.col("cj") * F.lit(1e6), 0
                        ).cast("long")
                    ).alias("gw")
                )
                .collect()
            }
            assert got == [ref.get(j, 0) for j in range(d)], f"v={v}"
    finally:
        base.unpersist()

    # --- NULL or ragged vectors raise instead of folding into garbage ---
    # A NULL element would read as an arbitrary int64 once flattened, a
    # NULL vector would drop out of the row count, and rows of lengths 3
    # and 5 would reshape into two misaligned length-4 rows. One
    # partition keeps each case inside a single Arrow batch.
    for bad in (
        [(0, [1, 2, 3, 4]), (1, [5, None, 7, 8])],
        [(0, [1, 2, 3, 4]), (1, None)],
        [(0, [1, 2, 3]), (1, [4, 5, 6, 7, 8])],
    ):
        bad_base = spark.createDataFrame(
            bad, "vid long, xm array<long>"
        ).coalesce(1)
        with pytest.raises(Exception, match="pca: "):
            _pca_coord_sum_grid(bad_base, d)
        with pytest.raises(Exception, match="pca: "):
            _pca_cov_apply_grid(bad_base, [0] * d, [1.0] * d, d)


def test_recenter_micro_exact_past_double_cliff():
    """The exact integer half-up recentering (2s + n) // (2n) that the
    PCA mean and the Lloyd update share has no 2^53 cliff — pinned at a
    constructed boundary point where the float form floor(s/n + 0.5)
    ROUNDS THE WRONG WAY (true quotient just below k - 1/2, float
    division lands exactly ON k - 1/2, +0.5 then floors to k), plus
    sign/tie parity below the cliff and agreement with the DuckDB
    oracles' explicit floor-div idiom at the same boundary point."""
    import math

    import duckdb

    from ningaloo_turtle_etl_spark.operators import quantize
    from ningaloo_turtle_etl_spark.operators.similarity import (
        _recenter_micro,
    )

    # one helper: the Lloyd update recenters through the same function
    assert quantize._recenter_micro is _recenter_micro
    k = 2_000_000_000_000_000
    s, n = 5 * k - 3, 5  # true s/n = k - 0.5 - 0.1 -> half-up floor = k-1
    assert s > 2**53
    assert _recenter_micro(s, n) == k - 1
    assert math.floor(s / n + 0.5) == k  # the float form diverges HERE
    # parity with the float form everywhere below the cliff, both signs
    for s2 in (-7, -6, -5, -4, -3, -1, 0, 1, 3, 4, 5, 6, 7, 10**15 + 1):
        for n2 in (1, 2, 3, 5, 7):
            assert _recenter_micro(s2, n2) == math.floor(s2 / n2 + 0.5), (
                s2,
                n2,
            )
    # the oracles' floor-div CTE idiom agrees at the boundary
    got = duckdb.sql(
        f"SELECT (2*{s} + {n} - (((2*{s} + {n}) % (2*{n})) + 2*{n})"
        f" % (2*{n})) // (2*{n})"
    ).fetchone()[0]
    assert int(got) == k - 1


def test_pca_mean_exact_past_double_cliff(spark):
    """The PCA mean is the exact half-up (2s + n) // (2n). On these seven
    1-D vectors the coordinate sum passes 2^53, where the float form
    floor(s/n + 0.5) lands one micro high, and that shift moves the
    eigenvalue's sixth decimal: 4.448163 exact against 4.448162. The
    engine and its DuckDB oracle both give the exact value."""
    import duckdb

    from ningaloo_turtle_etl_spark.operators.similarity import (
        pca_power_components,
    )
    from ningaloo_turtle_etl_spark.queries.llm_ops import (
        _pca_power_components_oracle_sql,
    )

    # x = j/64 makes x*1e6 = j*15625 an exact integer micro coordinate
    js = [120_000_000_000 + e for e in (170, -19, -88, 125, -196, -193, 50)]
    rows = [(i, [j / 64]) for i, j in enumerate(js)]
    s, n = sum(j * 15625 for j in js), len(js)
    assert s > 2**53 and (2 * s + n) // (2 * n) != int(np.floor(s / n + 0.5))

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = pca_power_components(df, n_components=1, iterations=3).collect()
    assert [(r["loading"], r["eigenvalue"]) for r in got] == [(1.0, 4.448163)]

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    oracle = con.sql(_pca_power_components_oracle_sql(1, 3, 1)).fetchall()
    assert [(r[-2], r[-1]) for r in oracle] == [(1.0, 4.448163)]
