"""Hallucination-risk quickstart (reference
examples/quickstart/hallucination_demo.py replicated Spark-first).

The scenario: a classifier stays CONFIDENT on out-of-distribution inputs
it has never seen — the hallucination signature.  We synthesize a
reference split of in-distribution samples, a test split whose last third
is shifted far out of distribution, and an "overconfident model" proba
column (deterministic column math — no sklearn in this environment,
mirroring the reference's RandomForest probabilities only in shape).
All four density methods run (mahalanobis / knn / isolation_forest /
kde); the deep-dive shows the four-quadrant breakdown and the per-row
scores — which live in a Spark DataFrame (``result.rows``), not
driver-side numpy arrays, because at production scale they cannot be
collected.

Run:  python examples/quickstart/hallucination_demo.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from driftspark import SparkDataset  # noqa: E402
from driftspark.detectors.hallucination import HallucinationRiskDetector  # noqa: E402
from driftspark.session import get_spark  # noqa: E402

N_REF, N_IN, N_OOD = 400, 200, 100
N_FEATURES = 5


def _make_frames():
    """Deterministic in-distribution reference + (in + OOD) test pandas
    frames with an overconfident proba column (reference demo steps 1-2)."""
    rng = np.random.RandomState(0)
    X_ref = rng.normal(0.0, 1.0, size=(N_REF, N_FEATURES))
    X_in = rng.normal(0.0, 1.0, size=(N_IN, N_FEATURES))
    X_ood = rng.normal(6.0, 0.5, size=(N_OOD, N_FEATURES))  # far shifted
    X_test = np.vstack([X_in, X_ood])

    def proba(X):
        # "model": confident sigmoid of the first feature — and just as
        # confident on OOD rows (exactly the failure hallucination
        # detection exists to catch)
        z = 3.0 * X[:, 0] + 1.5
        return 1.0 / (1.0 + np.exp(-z))

    cols = [f"feature_{i}" for i in range(N_FEATURES)]
    ref = pd.DataFrame(X_ref, columns=cols)
    ref["proba"] = proba(X_ref)
    ref["row_id"] = np.arange(len(ref))
    test = pd.DataFrame(X_test, columns=cols)
    test["proba"] = proba(X_test)
    test["row_id"] = np.arange(len(test))
    return ref, test, cols


def main(spark: SparkSession | None = None) -> dict:
    own_session = spark is None
    if own_session:
        spark = get_spark(
            app_name="hallucination-quickstart", master="local[4]", shuffle_partitions=8
        )
        spark.sparkContext.setLogLevel("ERROR")

    print("1. Synthesizing data...")
    ref_pdf, test_pdf, cols = _make_frames()
    reference_dataset = SparkDataset(
        spark.createDataFrame(ref_pdf),
        feature_cols=cols,
        proba_col="proba",
        metadata_cols=["row_id"],
    )
    test_dataset = SparkDataset(
        spark.createDataFrame(test_pdf),
        feature_cols=cols,
        proba_col="proba",
        metadata_cols=["row_id"],
    )
    print(f"   Reference : {N_REF} samples x {N_FEATURES} features")
    print(f"   Test      : {N_IN + N_OOD} samples "
          f"({N_IN} in-distribution + {N_OOD} out-of-distribution)")

    print("\n2. Running hallucination risk detection...\n")
    methods = ["mahalanobis", "knn", "isolation_forest", "kde"]
    results = {}
    for method in methods:
        # distance_threshold is on the NORMALIZED distance (raw / ref p95,
        # capped at 1): for 5-dim Gaussian data the in-dist median lands
        # near 0.63, so 0.80 cleanly separates the far-OOD block (norm 1.0)
        # from in-distribution rows
        detector = HallucinationRiskDetector(
            density_method=method,
            confidence_threshold=0.80,
            distance_threshold=0.80,
            random_state=0,
        )
        detector.fit(reference_dataset)
        result = detector.detect(test_dataset)
        results[method] = result
        print(f"  [{method}]")
        print(f"    Hallucination rate : {result.hallucination_rate:.1%}")
        print(f"    Severity           : {result.severity.value.upper()}")
        print(f"    Samples flagged    : {result.n_hallucination_risk}"
              f" / {N_IN + N_OOD}")
        print()

    print("3. Deep-dive: Mahalanobis method")
    print("-" * 40)
    result = results["mahalanobis"]
    print(f"\n  hallucination_rate  : {result.hallucination_rate:.3f}")
    print(f"  severity            : {result.severity.value}")
    q = result.quadrant_counts
    print(f"\n  Interpretability quadrants (n={N_IN + N_OOD})")
    print(f"    Safe (low dist, high conf)          : {q['safe']:>4}")
    print(f"    Uncertain safe (low dist, low conf) : {q['uncertain_safe']:>4}")
    print(f"    Honest UQ (high dist, low conf)     : {q['uncertain_honest']:>4}")
    print(f"    Hallucination risk (high dist+conf) : {q['hallucination_risk']:>4}")

    # per-row scores are a DataFrame — flagged ids and score means come
    # from distributed aggregation, never a driver-side array
    rows = result.rows
    flagged = [
        r["row_id"]
        for r in rows.where("flagged").orderBy("row_id").limit(10).collect()
    ]
    print(f"\n  flagged row_ids (first 10): {flagged}")
    print(f"  (expected: mostly {N_IN}..{N_IN + N_OOD - 1}, the OOD block)")
    score_means = (
        rows.withColumn("block", F.when(F.col("row_id") < N_IN, "in").otherwise("out"))
        .groupBy("block")
        .agg(F.mean("hallucination_score").alias("mean_score"))
        .collect()
    )
    means = {r["block"]: r["mean_score"] for r in score_means}
    print(f"\n  Mean hallucination score — in-dist  : {means['in']:.3f}")
    print(f"  Mean hallucination score — out-dist : {means['out']:.3f}")
    print("  (out-of-distribution should score much higher)")

    print("\n4. to_dict() export:")
    print(f"  {result.to_dict()}")

    if own_session:
        spark.stop()
    return results


if __name__ == "__main__":
    main()
