"""Deduplication operators for training-data pipelines: exact by content
fingerprint, MinHash+LSH, PPJoin exact token-set Jaccard and
embedding-cosine near-duplicate pairs.

Scale design notes:
- Exact dedup is a hash-groupBy on a fingerprint — one shuffle of (hash, id),
  never of document bodies.
- MinHash signatures and LSH band keys are pure Catalyst expressions (one md5
  per shingle, then integer arithmetic), so signature computation is a
  map-only codegen'd pass; the only shuffle is the band-key self-join, whose
  candidate sets are tiny compared to all-pairs.
- Verification (exact Jaccard) runs only on LSH candidates — the classic
  filter-verify pattern; all-pairs O(n²) never materializes. PPJoin is the
  exact counterpart: prefix filtering elects candidates with no recall loss.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ningaloo_turtle_etl_spark.operators.cache import track_cache
from ningaloo_turtle_etl_spark.operators.text import tokens

# --- cache lifecycle --------------------------------------------------------
# MinHash persists per-doc signature state (four self-join branches
# reference it; without materialization the signature recomputes per branch).
# The RESULT frames are lazy, so the operator cannot unpersist before the
# caller consumes them — the shared tracker in operators.cache registers
# every persist for explicit release (operators.cache.release_tracked_caches
# / tracked_cache_scope), so long-lived sessions issuing many dedup calls
# don't accumulate storage.


# --- exact ------------------------------------------------------------------
def exact_dedup_semi(df: DataFrame) -> DataFrame:
    """Keep the lowest-id representative of each exact-content group (after
    whitespace/case normalization via the fingerprint) without shuffling
    document bodies: shuffle only (fingerprint, doc_id) to elect keepers,
    then semi-join ids back. On a high-duplication corpus the keeper set is
    much smaller than the input and broadcasts, making the body side
    map-only."""
    from ningaloo_turtle_etl_spark.operators.text import with_fingerprint

    fp = with_fingerprint(df)
    keepers = (
        fp.select("fingerprint", "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # No forced broadcast: on a low-duplication corpus the keeper set is
    # nearly the full id set and a broadcast hint would OOM; AQE broadcasts
    # it automatically exactly when it is small enough.
    return df.join(keepers, on="doc_id", how="left_semi")


# --- MinHash over the cross-engine md5 hash family --------------------------
# MinHash hashes with md5 because DuckDB reproduces it bit for bit (xxhash64
# is quicker on the JVM but has no DuckDB equivalent): ONE md5 per shingle
# (60-bit prefix as int64), then 2-universal integer hashing (a·h + b) mod p
# for the per-slot MinHash values — integer ops, not 32 more digests — and
# integer mod-folds for band buckets. Same constants, same arithmetic, same
# answer in DuckDB, which gives the registered query its full oracle row.

#: Signature length, LSH bands (of NUM_HASHES // BANDS rows each) and the
#: band-bucket size cap; the DuckDB oracle reads the same constants.
NUM_HASHES = 32
BANDS = 8
MAX_BUCKET_SIZE = 500
#: Mersenne prime 2^61-1: the universal-hash modulus (a·h31 + b < 2^62 < 2^63).
MERSENNE61 = (1 << 61) - 1
#: 31-bit fold modulus for band buckets (prev·mult + 32-bit term < 2^52).
FOLD_P = (1 << 31) - 1
FOLD_MULT = 1_000_003
FOLD_MULT2 = 69_069


def md5_hash60(col: Column) -> Column:
    """First 60 bits (15 hex chars) of md5 as a non-negative int64 —
    deterministic and identical in DuckDB:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs for the universal-hash MinHash slots, derived from
    md5 of the slot index — deterministic constants, no RNG state, shared by
    the Spark expressions and the oracle SQL. ``a`` is odd and 31-bit."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-coeff-{i}".encode()).hexdigest()
        a = (int(d[:8], 16) | 1) & 0x7FFFFFFF
        b = int(d[8:16], 16) & 0x7FFFFFFF
        out.append((a, b))
    return out


def fold_bucket(terms: list[Column], init: Column) -> Column:
    """Order-dependent integer fold of 32-bit-masked terms into a 62-bit
    bucket id: two independent 31-bit Horner folds
    acc = (acc·mult + (t & 0xFFFFFFFF)) % (2^31-1), combined as
    fold₁·2³¹ + fold₂. 62 bits keeps merge-collisions negligible at
    billion-row band tables (a 31-bit space would merge real buckets there,
    and a merged bucket crossing ``MAX_BUCKET_SIZE`` silently drops pairs).
    Remaining collisions only ADD candidates (verified afterwards) — a
    deterministic map can never split equal keys, so recall is unaffected.
    Identical arithmetic runs in the DuckDB oracle."""

    def fold(mult: int) -> Column:
        acc = init.cast("long") % F.lit(FOLD_P)
        for t in terms:
            acc = (acc * mult + t.bitwiseAND(F.lit(0xFFFFFFFF))) % F.lit(FOLD_P)
        return acc

    return fold(FOLD_MULT) * F.lit(1 << 31) + fold(FOLD_MULT2)


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array column (distinct). Pure columns:
    shifted-array zip_with over the token array (`text.sliding_ngrams`,
    the r11 constant-factor form — identical gram strings)."""
    from ningaloo_turtle_etl_spark.operators.text import sliding_ngrams

    toks = tokens(col)
    return F.array_distinct(
        F.when(F.size(toks) >= n, sliding_ngrams(toks, n)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def minhash_slots_from_hashes(hashed_shingle_col: Column) -> Column:
    """MinHash signature over PRE-HASHED shingle values: slot i is the min
    over shingles of (aᵢ·(h & 2³¹-1) + bᵢ) mod (2⁶¹-1). One md5 digest per
    shingle total (paid once in the shared ``sh`` column), then pure
    integer min-folds per slot — reproducible verbatim in DuckDB."""

    def slot(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(
                hashed_shingle_col,
                lambda h: (F.lit(a) * h.bitwiseAND(F.lit(0x7FFFFFFF)) + F.lit(b))
                % F.lit(MERSENNE61),
            )
        )

    return F.array(*[slot(a, b) for a, b in minhash_coeffs(NUM_HASHES)])


def minhash_near_dup_pairs(
    df: DataFrame, shingle_n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs of ``doc_id``s by ``text``, with
    exact-Jaccard verification.

    shingle → md5 → minhash → band bucket → bucket self-join (candidates) →
    verify(J(a,b) ≥ threshold). Returns (id_a, id_b, jaccard), id_a < id_b.
    With b bands of r rows the candidate curve is 1-(1-s^r)^b.

    Buckets larger than ``MAX_BUCKET_SIZE`` are dropped before the
    self-join — the standard guard against low-information signatures (tiny
    vocabularies, boilerplate) whose hot buckets grow the candidate set
    quadratically. Pairs inside a dropped bucket can still surface through
    their other bands.
    """
    from pyspark import StorageLevel

    rows = NUM_HASHES // BANDS
    # Verification operates on HASHED shingle sets: array_intersect over
    # longs is far cheaper than over 3-gram strings, and |A∪B| comes from
    # set sizes (|A|+|B|-|A∩B|) instead of materializing the union.
    # Exactness is preserved up to hash collisions (~n²/2⁶⁰).
    # NB on the barrier_col pattern (operators/text.py): an A/B at 20k
    # docs measured the barrier ~17% SLOWER here (17.4 s → 20.3 s) —
    # unlike the bigram chains, this stage's cost is dominated by the
    # banded join + verification, not lambda re-evaluation, and the extra
    # Generate layers only add overhead. Kept barrier-free.
    sh = df.select(
        F.col("doc_id").alias("id"), shingles("text", shingle_n).alias("sh_str")
    ).select(
        "id",
        F.array_distinct(F.transform("sh_str", lambda s: md5_hash60(s))).alias("sh"),
    )
    # Persist the per-doc state: the plan references it from four self-join
    # branches (two banded sides, two verification sides), and without a
    # materialization Spark replays shingling + the hash passes per branch
    # (measured 200s vs 40s at 50k docs). Hashed shingles + signature are
    # ~1-2% of corpus size; MEMORY_AND_DISK spills cleanly. The cache cannot
    # be unpersisted here (the returned frame is lazy) — it is tracked;
    # release with release_tracked_caches() / tracked_cache_scope() after
    # consuming the result. The signature derives from the already-hashed
    # shingle set, so the string shingles never ride the cache — only
    # (id, sh, sig) persists.
    sig = track_cache(
        sh.select(
            "id", "sh", minhash_slots_from_hashes(F.col("sh")).alias("sig")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Candidate generation carries ONLY (id, band-bucket): shingle arrays
    # must not ride through the banded self-join and the pair-dedup shuffle
    # (measured 2-3x slower at 50k docs when they do).
    band_bucket = [
        fold_bucket([F.col("sig")[b * rows + r] for r in range(rows)], F.lit(b))
        for b in range(BANDS)
    ]
    banded = sig.select(
        "id",
        F.explode(F.array(*band_bucket)).alias("bucket"),
    )
    counts = banded.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
    banded = (
        banded.join(counts, on="bucket")
        .filter(F.col("_bn") <= MAX_BUCKET_SIZE)
        .drop("_bn")
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[F.col("a.bucket") == F.col("b.bucket"), F.col("a.id") < F.col("b.id")],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification: attach each side's hashed shingle set once, then exact
    # Jaccard via intersect size + size arithmetic. Derived from the PERSISTED
    # frame: Spark's cache matches whole analyzed sub-plans, so building this
    # from the pre-persist `sh` would re-run tokenize+shingle+hash on both
    # verification branches and only the banded branches would hit the cache.
    sets = sig.select("id", "sh", F.size("sh").alias("n_sh"))
    cand = cand.join(
        sets.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
        ),
        on="id_a",
    ).join(
        sets.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
        ),
        on="id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --- embedding-cosine near-dup ---------------------------------------------
def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Near-duplicate ``vec_id`` pairs by ``embedding`` cosine ≥ threshold:
    a plain ``id_a < id_b`` self-join verified by exact cosine, so the
    input must be oracle-sized (the all-pairs product materializes)."""
    from ningaloo_turtle_etl_spark.operators.similarity import (
        _as_double,
        _dot,
        _norm,
    )

    base = df.select(
        F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v")
    ).withColumn("v_norm", _norm(F.col("v")))
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(b, on=[F.col("a.id") < F.col("b.id")]).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"),
        F.col("a.v_norm").alias("na"),
        F.col("b.v_norm").alias("nb"),
    )

    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # Threshold the RAW cosine (matching the oracles and minhash); round
    # only for display. Filtering the rounded value admits boundary rows
    # the raw filter excludes.
    return (
        pairs.withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 6).alias("cosine"))
    )


def _rationalize_threshold(t: float) -> tuple[int, int]:
    """Recover the intended exact rational num/den from a float
    threshold (0.9 → (9, 10)). Any decimal threshold with ≤6 fractional
    digits round-trips exactly: the float is within 2⁻⁵³ of the intended
    rational and distinct rationals with den ≤ 10⁶ are ≥ 10⁻¹² apart,
    so ``limit_denominator`` lands on the intended one. Keeping den
    bounded also keeps every integer gate (num·n, den·(na+nb), …)
    far inside long range at corpus-scale set sizes."""
    from fractions import Fraction

    fr = Fraction(t).limit_denominator(1_000_000)
    return fr.numerator, fr.denominator


def _ppjoin_candidates(
    sets: DataFrame,
    t: float,
    max_token_docs: int | None = None,
    positional: bool = True,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for ``ppjoin_pairs`` from a
    (id, s: array, n: int) frame: rarity-ranked prefix rows, length
    gate, and (by default) the positional filter. Exposed separately so
    tests can assert the positional filter's candidate-count win without
    touching the verified output; ``positional=False`` is the test-only
    A/B switch.

    All threshold gates use EXACT integer arithmetic: ``t`` is
    rationalized to num/den (recovering the intended decimal from the
    float, e.g. 0.9 → 9/10) and every ceil-of-float bound is rewritten
    as an integer inequality via ``ceil(a/b) <= c ⇔ a <= b*c``. The
    former float path pruned true boundary pairs — e.g. t=0.9 with a
    9-token subset of a 10-token set: ceil(0.9*(9+10)/1.9) evaluated as
    ceil(9.000000000000002)=10 while the true overlap floor is 9 —
    silently violating the EXACT completeness contract."""
    from pyspark.sql.window import Window

    num, den = _rationalize_threshold(t)

    tok = sets.select("id", "n", F.explode("s").alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy("id").orderBy(F.asc("_f"), F.asc("tk"))
    ranked = tok.join(freq, on="tk").withColumn(
        "_rn", F.row_number().over(w)
    )
    # _rn <= n - ceil(t*n) + 1  ⇔  ceil(num*n/den) <= n - _rn + 1
    #                           ⇔  num*n <= den*(n - _rn + 1)
    prefix = ranked.filter(
        F.lit(num) * F.col("n")
        <= F.lit(den) * (F.col("n") - F.col("_rn") + F.lit(1))
    ).select("id", "n", "tk", "_rn")
    if max_token_docs is not None:
        if max_token_docs < 1:
            raise ValueError("max_token_docs must be >= 1")
        pfreq = prefix.groupBy("tk").agg(F.count(F.lit(1)).alias("_pf"))
        prefix = prefix.join(
            pfreq.filter(F.col("_pf") <= F.lit(int(max_token_docs))).select(
                "tk"
            ),
            on="tk",
        )
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("n").alias("na"),
        F.col("_rn").alias("pa"),
        "tk",
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        F.col("n").alias("nb"),
        F.col("_rn").alias("pb"),
        "tk",
    )
    # Overlap floor α = ceil(t*(na+nb)/(1+t)) with t = num/den:
    # t/(1+t) = num/(den+num), so α = ceil(num*(na+nb)/(den+num)) and
    # ubound >= α  ⇔  num*(na+nb) <= (den+num)*ubound — exact integers.
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    cand = (
        a.join(b, on="tk")
        .filter(F.col("id_a") < F.col("id_b"))
        # nb >= t*na ⇔ den*nb >= num*na; nb <= na/t ⇔ num*nb <= den*na
        .filter(
            (F.lit(den) * F.col("nb") >= F.lit(num) * F.col("na"))
            & (F.lit(num) * F.col("nb") <= F.lit(den) * F.col("na"))
        )
    )
    if positional:
        cand = cand.filter(
            F.lit(num) * (F.col("na") + F.col("nb"))
            <= F.lit(den + num) * ubound
        )
    return cand.select("id_a", "id_b").distinct()


def ppjoin_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_token_docs: int | None = None,
) -> DataFrame:
    """EXACT token-set Jaccard self-join of ``doc_id``s by ``text`` via
    prefix filtering (the PPJoin family, Xiao et al. 2008) — every pair with
    |A∩B|/|A∪B| ≥ ``threshold``, found without the all-pairs product and
    without MinHash's probabilistic recall: two sets can only reach
    Jaccard t if each contributes a token from its PREFIX — the
    ⌈|s|−t·|s|⌉+1... precisely ℓ(s) = |s| − ⌈t·|s|⌉ + 1 — RAREST tokens
    (global-frequency order, ties by token: any fixed total order works;
    rarest-first keeps candidate buckets smallest). Candidates share a
    prefix token on BOTH sides, pass the length gate
    t·|a| ≤ |b| ≤ |a|/t AND the POSITIONAL filter (Xiao et al. 2008
    §3.2): a shared prefix token at 1-indexed rarity-rank positions
    (pa, pb) bounds the overlap by 1 + min(|a|−pa, |b|−pb), which must
    reach the Jaccard-equivalent overlap floor α = ⌈t·(|a|+|b|)/(1+t)⌉.
    The bound holds exactly for the pair's FIRST shared token in the
    global rarity order (every other shared token ranks later on both
    sides), so filter-then-distinct loses no true pair — it only prunes
    candidate rows before the distinct, the join's cost driver.
    Survivors verify exact Jaccard on the full sets.

    ``max_token_docs`` (default None = off, exact) is the degenerate-
    corpus escape hatch matching the cap discipline of the sibling
    families (MinHash bucket caps, linkage block caps): prefix tokens carried by more than this many documents
    are dropped from candidate generation, hard-bounding per-token join
    fanout at cap². CAVEAT — unlike the positional filter this trades
    exactness for the bound: a true pair whose EVERY shared prefix
    token is capped is missed (plausible only on near-uniform
    token-frequency corpora, where the uncapped join degrades toward
    quadratic anyway).

    The deterministic-completeness counterpart of MinHash LSH (which
    trades recall for a band-tunable cost) and the set-similarity twin
    of the edit-distance Ed-Join (`operators/relational.py
    edit_similarity_self_join`). Returns (id_a, id_b, jaccard) 6dp; the
    threshold gates the unrounded value.

    Scale shape: the frequency dim aggregates map-side at token grain;
    prefixes are a per-doc window over the token-rank frame; the
    candidate join moves only (id, token) prefix rows — rare tokens by
    construction, so buckets stay small — and verification joins the
    per-doc distinct-token arrays (1-2% of corpus size) by id
    equality."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    t = float(threshold)
    sets = df.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("s"),
    ).withColumn("n", F.size("s"))
    sets = sets.filter(F.col("n") > 0)
    cand = _ppjoin_candidates(sets, t, max_token_docs=max_token_docs)
    sa = sets.select(F.col("id").alias("id_a"), F.col("s").alias("sa"),
                     F.col("n").alias("na"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("s").alias("sb"),
                     F.col("n").alias("nb"))
    num, den = _rationalize_threshold(t)
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.col("na") + F.col("nb") - inter
    jac = inter / union
    # jac >= t exactly: inter/union >= num/den ⇔ den*inter >= num*union
    return (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .filter(F.lit(den) * inter >= F.lit(num) * union)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )
