"""curation: LLM-data curation over a generated corpus.

The corpus (6,000 documents with planted exact copies and near-duplicate
edits, plus 4,000 embeddings) is written as a generated table
directory, so four registry queries run on it unchanged:
``corpus_curation_pipeline``, ``dedup_exact``, ``minhash_near_dups`` and
``embedding_cosine_topk``. One operation is one pass over the four
(plan + execute + collect). Closed loop, one caller, passes back to back.
There is no warm-up: a curation job runs its queries once in a fresh
session, so the timed first pass pays the Python workers' start and the
plans' code generation as that job does.

Checks per pass: each query's rows equal ``registry.oracle_sql()`` run on
DuckDB over the same directory, compared with ``scripts.driver_sim``'s
``norm_frame``."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import PassWorkload, median

QUERIES = (
    "corpus_curation_pipeline",
    "dedup_exact",
    "minhash_near_dups",
    "embedding_cosine_topk",
)
N_BASE = 4_000
N_EXACT = 1_200
N_NEAR = 800
N_EMB = 4_000
DIM = 64
VOCAB = (
    "turtle nest crawl beach survey track green loggerhead hawksbill flatback "
    "tide dune sand night dawn ranger season count false fresh old body pit "
    "egg hatch light fox dog reef bay point north south the a of and"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)


def _text(rng) -> str:
    n = int(rng.integers(2, 80)) if rng.random() < 0.03 else int(rng.integers(8, 80))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _variant(rng, text: str) -> str:
    """An exact copy after normalisation: case and whitespace changes."""
    words = text.split(" ")
    k = int(rng.integers(0, len(words)))
    words[k] = words[k].upper()
    return "  " + "   ".join(words) + " "


def _near(rng, text: str) -> str:
    """A near-duplicate: one to three words replaced."""
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 4))):
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def generate(seed: int, work_dir: str) -> dict:
    """Write the corpus as a table directory; return it with each query's
    oracle result."""
    rng = np.random.default_rng(seed)
    os.makedirs(work_dir, exist_ok=True)
    texts: list[str] = []
    kinds = ["base"] * N_BASE + ["exact"] * N_EXACT + ["near"] * N_NEAR
    rng.shuffle(kinds)
    kinds[0] = "base"
    for kind in kinds:
        if kind == "base" or not texts:
            texts.append(_text(rng))
        else:
            # Copies favour recent documents, so pairs also fall among the
            # low ids the minhash query scans.
            src = texts[max(0, len(texts) - 1 - int(rng.geometric(0.05)))]
            texts.append(_variant(rng, src) if kind == "exact" else _near(rng, src))
    n = len(texts)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_EMB)
    vecs = (centers[labels] + 0.6 * rng.normal(size=(N_EMB, DIM))).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    sf_dir = os.path.join(work_dir, "corpus")
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
    return {"sf_dir": sf_dir, "expected": oracle_frames(sf_dir)}


def _norm(df):
    from scripts.driver_sim import norm_frame

    df.columns = [c.lower() for c in df.columns]
    cols = sorted(df.columns)
    return cols, norm_frame(df, cols)


def oracle_frames(sf_dir: str) -> dict:
    """Each query's DuckDB oracle result, normalised for comparison."""
    import duckdb

    from ningaloo_turtle_etl_spark import registry

    sql = registry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {name: _norm(con.sql(sql[name]).df()) for name in QUERIES}
    con.close()
    return out


def run_query(spark, name: str, sf_dir: str, tracer):
    """Plan then execute one registry query; returns (rows, columns)."""
    from ningaloo_turtle_etl_spark import registry

    fn = registry.queries()[name]
    with tracer.span(f"queries.{name}.plan"):
        df = fn(spark, sf_dir)
    with tracer.span(f"queries.{name}.exec"):
        rows = df.collect()
    return rows, df.columns


def one_pass(spark, inputs: dict, tracer) -> tuple[dict, int]:
    """Run the four queries; return their results and the number of tracked
    operator caches still live at the end of the pass (then released)."""
    from ningaloo_turtle_etl_spark.operators.cache import release_tracked_caches

    results = {name: run_query(spark, name, inputs["sf_dir"], tracer) for name in QUERIES}
    return results, release_tracked_caches()


def check_pass(inputs: dict, results: dict) -> list[str]:
    import pandas as pd

    errors = []
    for name, (rows, columns) in results.items():
        got = _norm(pd.DataFrame([tuple(r) for r in rows], columns=columns))
        want = inputs["expected"][name]
        if got[0] != want[0]:
            errors.append(f"{name}: columns {got[0]} != oracle {want[0]}")
        elif got[1] != want[1]:
            errors.append(f"{name}: {len(got[1])} rows differ from oracle ({len(want[1])})")
    return errors


class Curation(PassWorkload):
    label = "curation_pass"

    def __init__(self, seed: int, work_dir: str, seconds: float):
        super().__init__()
        self.inputs = generate(seed, work_dir)
        self.live_caches: list[int] = []

    def run_pass(self, spark, tracer) -> dict:
        results, live = one_pass(spark, self.inputs, tracer)
        self.live_caches.append(live)
        return results

    def check(self, results: dict) -> list[str]:
        return check_pass(self.inputs, results)

    def layer_metrics(self, tracer) -> dict:
        out = {}
        for name in QUERIES:
            for part in ("plan", "exec"):
                span = f"queries.{name}.{part}"
                out[f"{span}_s"] = (median(tracer.per_op_sum(span)), "s")
        out["operators.cache.live_caches_end"] = (max(self.live_caches), "count")
        return out
