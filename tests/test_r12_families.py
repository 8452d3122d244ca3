"""The HMM Viterbi decode pinned by a scipy-free Python replay at
sf0.001."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from ningaloo_turtle_etl_spark.sources.tables import load_table
from tests.conftest import SF_DIR


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
