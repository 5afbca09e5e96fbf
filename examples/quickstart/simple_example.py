"""Simple drift-detection quickstart (reference
examples/quickstart/simple_example.py replicated Spark-first).

The reference demo builds two numpy matrices — a standard-normal
reference and a mean-shifted test — wraps them in ``Dataset.from_numpy``,
and runs ``DriftPipeline(KSTest, localizer="univariate")``.  Here the
same data lives in Spark DataFrames from the start (at production scale
it arrives as parquet, not numpy), the KS statistics are computed by the
distributed per-feature ECDF-window plan, and only the verdict comes back
to the driver.

Run:  python examples/quickstart/simple_example.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from driftspark import DriftPipeline, SparkDataset  # noqa: E402
from driftspark.detectors.ks import KSTest  # noqa: E402
from driftspark.session import get_spark  # noqa: E402

N_ROWS, N_FEATURES = 1000, 5
MEAN_SHIFT = 0.5  # applied to every test feature (reference demo line 24)


def _frame(spark: SparkSession, arr: np.ndarray) -> SparkDataset:
    cols = [f"feature_{i}" for i in range(arr.shape[1])]
    return SparkDataset(spark.createDataFrame(pd.DataFrame(arr, columns=cols)))


def main(spark: SparkSession | None = None):
    own_session = spark is None
    if own_session:
        spark = get_spark(
            app_name="driftspark-simple-example", master="local[4]", shuffle_partitions=8
        )
    try:
        print("Simple Drift Detection Example")
        print("=" * 50)

        print("\n1. Generating synthetic data...")
        rng = np.random.RandomState(42)
        reference = _frame(spark, rng.randn(N_ROWS, N_FEATURES))
        test = _frame(spark, rng.randn(N_ROWS, N_FEATURES) + MEAN_SHIFT)
        print(f"   Reference: ({reference.n_samples}, {reference.n_features})")
        print(f"   Test: ({test.n_samples}, {test.n_features})")

        print("\n2. Running drift detection...")
        pipeline = DriftPipeline(
            detector=KSTest(threshold=0.05),
            localizer="univariate",
            enable_localization=True,
        )
        result = pipeline.run(reference, test)

        print("\n3. Results:")
        print(f"   Drift Detected: {result.detection.drift_detected}")
        print(f"   Severity: {result.detection.severity.value}")
        print(f"   P-value: {result.detection.p_value:.6f}")
        if result.localization:
            feats = result.localization.drifted_features
            print(f"\n   Drifted Features: {len(feats)}")
            for i, feature in enumerate(feats[:3], 1):
                score = result.localization.drift_scores[feature]
                print(f"     {i}. {feature}: score={score:.4f}")
        print(f"\n   Execution Time: {result.execution_time_seconds:.3f}s")
        print("\nDone!")
        return result
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main()
