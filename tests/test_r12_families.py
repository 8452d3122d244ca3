"""r12 family pins: scipy-free Python replays of the new operators at
sf0.001 — query-likelihood retrieval, MRR/MAP and the HMM Viterbi
decode."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_query_likelihood_replay(spark):
    from ningaloo_turtle_etl_spark.operators.search import (
        build_inverted_index,
        query_likelihood_topk,
        top_bigram,
    )
    from ningaloo_turtle_etl_spark.operators.text import tokens  # noqa: F401

    docs = load_table(spark, "documents", SF_DIR)
    a, b = top_bigram(docs)
    idx = build_inverted_index(docs)
    got = query_likelihood_topk(idx, [a, b], k=10, mu=50.0).collect()
    # python replay from the raw docs
    import re

    corpus = {
        r["doc_id"]: [
            t for t in re.split(r"\s+", r["text"].lower()) if t != ""
        ]
        for r in docs.select("doc_id", "text").collect()
    }
    q = sorted({a, b})
    ctot = sum(len(t) for t in corpus.values())
    ctf = {
        t: sum(doc.count(t) for doc in corpus.values()) for t in q
    }
    scores = {}
    matched = {}
    for d, toks in corpus.items():
        if not any(t in toks for t in q):
            continue
        s = 0
        m = 0
        for t in q:
            tf = toks.count(t)
            m += 1 if tf else 0
            s += round(
                math.log(
                    (tf + 50.0 * (ctf[t] / ctot)) / (len(toks) + 50.0)
                )
                * 1e6
            )
        scores[d] = s
        matched[d] = m
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["doc_id"], r["ql_score"], r["n_query_terms_matched"])
            for r in got] == [
        (d, round(s / 1e6, 6), matched[d]) for d, s in top
    ]


def test_retrieval_mrr_map_replay(spark):
    from ningaloo_turtle_etl_spark.queries.llm_ops import retrieval_mrr_map

    got = {r["query_id"]: r for r in retrieval_mrr_map(spark, SF_DIR).collect()}
    emb = load_table(spark, "embeddings", SF_DIR).collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}
    labs = {r["vec_id"]: r["label"] for r in emb}
    for qid in range(5):
        qv = vecs[qid]
        qn = math.sqrt(float((qv * qv).sum()))
        scored = sorted(
            (
                -round(
                    float(np.dot(vecs[c], qv))
                    / (math.sqrt(float((vecs[c] * vecs[c]).sum())) * qn),
                    6,
                ),
                c,
            )
            for c in vecs
            if c != qid
        )
        top = [c for _, c in scored[:10]]
        rels = [1 if labs[c] == labs[qid] else 0 for c in top]
        n_rel_total = sum(1 for c in vecs if c != qid and labs[c] == labs[qid])
        frr = next((i + 1 for i, r in enumerate(rels) if r), 0)
        cum = 0
        ap_micro = 0
        for i, r in enumerate(rels):
            if r:
                cum += 1
                ap_micro += round(cum / (i + 1) * 1e6)
        rr = round(1.0 / frr, 6) if frr else 0.0
        ap = (
            round(ap_micro / 1e6 / min(n_rel_total, 10), 6)
            if n_rel_total
            else 0.0
        )
        g = got[qid]
        assert g["n_rel_total"] == n_rel_total
        assert g["first_rel_rank"] == frr
        assert abs(g["reciprocal_rank"] - rr) < 1e-9
        assert abs(g["ap_at_k"] - ap) < 1e-9


def test_hmm_viterbi_replay(spark):
    import itertools

    from ningaloo_turtle_etl_spark.operators.temporal import (
        HMM_E,
        HMM_PI,
        HMM_T,
        hmm_viterbi_paths,
    )

    ev = load_table(spark, "events", SF_DIR).where(F.col("ts").isNotNull())
    got = {
        (r["first_type"], r["path"]): r
        for r in hmm_viterbi_paths(
            ev, "user_id", "event_type", ["ts", "event_id"], steps=4
        ).collect()
    }
    rows = ev.select("user_id", "event_type", "ts", "event_id").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    census: dict = {}
    paths = list(itertools.product((0, 1), repeat=4))
    for u, evs in by_user.items():
        evs.sort()
        obs = [t for _, _, t in evs[:4]]
        if len(obs) < 4:
            continue
        best_p, best_path = None, None
        for pth in paths:
            p = HMM_PI[pth[0]] * HMM_E[obs[0]][pth[0]]
            for i in range(1, 4):
                p = p * HMM_T[pth[i - 1]][pth[i]] * HMM_E[obs[i]][pth[i]]
            if best_p is None or p > best_p:
                best_p, best_path = p, "".join(map(str, pth))
        key = (obs[0], best_path)
        n, s = census.get(key, (0, 0))
        # Spark ROUND is HALF_UP (away from zero); python round() banks
        ll = math.log(best_p) * 1e6
        llu = int(math.copysign(math.floor(abs(ll) + 0.5), ll))
        census[key] = (n + 1, s + llu)
    assert set(census) == set(got)

    def r6(x: float) -> float:  # Spark ROUND: HALF_UP, away from zero
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    for key, (n, s) in census.items():
        assert got[key]["n_users"] == n
        assert abs(
            got[key]["avg_best_loglik"] - r6(s / 1e6 / n)
        ) < 1e-9
