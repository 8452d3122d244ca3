"""Fit the frozen embedding fixtures once and write them as JSON under
ningaloo_turtle_etl_spark/fixtures/: the semantic-dedup centroids and the
IVF centroids, scalar-quantizer ranges and PQ codebooks the ANN queries serve.

Why frozen fixtures: the registered queries' job is to prove the SERVING
path against the DuckDB oracle, and an oracle needs fixed parameters. Every
fixture is fitted with the deterministic md5-hash sample rule.

Usage: python scripts/fit_fixtures.py [sf_dir]
Default sf_dir is /root/testdata/sf0.01 — the driver's t2 comparison scale.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ningaloo_turtle_etl_spark.operators.quantize import (  # noqa: E402
    fit_pq_codebooks,
    fit_quantizer,
)
from ningaloo_turtle_etl_spark.operators.similarity import (  # noqa: E402
    fit_centroids,
)
from ningaloo_turtle_etl_spark.session import get_spark  # noqa: E402

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ningaloo_turtle_etl_spark",
    "fixtures",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    spark = get_spark(master="local[8]")

    # Semantic-dedup centroids: deterministic (md5-hash-ordered sample)
    # k-means over the embeddings table, frozen so the registered
    # semantic_dedup query's cell blocking replays bit-identically in the
    # DuckDB oracle (argmin over FIXED literal centroids is plain SQL).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = fit_centroids(emb, 16, method="hash")
    with open(os.path.join(FIXTURE_DIR, "semantic_centroids.json"), "w") as f:
        json.dump(
            {
                "n_centroids": len(cents),
                "dim": int(cents.shape[1]),
                "trained_on": sf_dir,
                "centroids": [[float(x) for x in c] for c in cents],
            },
            f,
        )
    print(f"semantic_centroids: {cents.shape} from {sf_dir}")

    # ANN fixtures: frozen IVF centroids, scalar-quantizer ranges, and PQ
    # codebooks — all fitted with the deterministic md5-hash sample rule so
    # the registered ANN queries' full pipelines replay in DuckDB.
    ivf = fit_centroids(emb, 8, method="hash")
    with open(os.path.join(FIXTURE_DIR, "ivf_centroids.json"), "w") as f:
        json.dump(
            {
                "n_centroids": len(ivf),
                "dim": int(ivf.shape[1]),
                "trained_on": sf_dir,
                "centroids": [[float(x) for x in c] for c in ivf],
            },
            f,
        )
    print(f"ivf_centroids: {ivf.shape}")

    lo, hi = fit_quantizer(emb, method="hash")
    with open(os.path.join(FIXTURE_DIR, "quantizer.json"), "w") as f:
        json.dump(
            {
                "trained_on": sf_dir,
                "lo": [float(x) for x in lo],
                "hi": [float(x) for x in hi],
            },
            f,
        )
    print(f"quantizer: dim {len(lo)}")

    books = fit_pq_codebooks(emb, m_subvectors=16, k_codes=16, method="hash")
    with open(os.path.join(FIXTURE_DIR, "pq_codebooks.json"), "w") as f:
        json.dump(
            {
                "m": int(books.shape[0]),
                "k": int(books.shape[1]),
                "d_sub": int(books.shape[2]),
                "trained_on": sf_dir,
                "codebooks": [
                    [[float(x) for x in code] for code in sub] for sub in books
                ],
            },
            f,
        )
    print(f"pq_codebooks: {books.shape}")
    spark.stop()


if __name__ == "__main__":
    main()
