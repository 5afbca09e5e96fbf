"""Window-formulation per-partition KS D, kept as the test oracle for the
broadcast-ECDF KS (``verdicts.ks_d_by_partition_broadcast``).

It cross-joins the global reference value counts into every partition and
runs one cumulative window per (part, feature) — O(distinct x parts) sort
work, which is why the engine scores partitions against a broadcast ECDF
instead; as an independent formulation it still cross-checks that path.
"""

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from driftspark.stats import _melt


def ks_d_by_partition(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    part_col: str = "part",
) -> DataFrame:
    """(part, feature, d, n, m) — KS D of each test partition's sample vs
    the GLOBAL reference sample, distributed.

    The reference ECDF is global, so its per-value counts are computed once
    and re-ranked inside every (feature, part) window by cross-joining the
    reference value counts with the partition ids — the window input stays
    at (distinct values x parts), far below row count."""
    ref_vals = _melt(ref_df, cols).groupBy("feature", "value").agg(
        F.count(F.lit(1)).alias("r")
    )
    # NULL partition ids belong to no partition: excluded here (the
    # verdict-suite psi/chi2 paths count and warn about the same rows)
    parts = (
        test_df.where(F.col(part_col).isNotNull())
        .select(F.col(part_col).alias("part"))
        .distinct()
    )
    ref_per_part = ref_vals.crossJoin(F.broadcast(parts)).withColumn("t", F.lit(0))
    test_vals = (
        _melt(test_df, cols, part_col)
        .groupBy("part", "feature", "value")
        .agg(F.count(F.lit(1)).alias("t"))
        .withColumn("r", F.lit(0))
    )
    u = ref_per_part.select("part", "feature", "value", "r", "t").unionByName(
        test_vals.select("part", "feature", "value", "r", "t")
    )
    g = u.groupBy("part", "feature", "value").agg(
        F.sum("r").alias("r"), F.sum("t").alias("t")
    )
    w_cum = (
        Window.partitionBy("part", "feature")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("part", "feature")
    # try_divide: the ref cross-join manufactures a (part, feature) group
    # for EVERY partition, so a partition with no in-range test values for
    # a feature has sum(t) = 0 — ANSI division would abort the job; the
    # m = 0 groups are dropped below instead (no data, no verdict)
    scored = g.select(
        "part",
        "feature",
        F.abs(
            F.try_divide(F.sum("r").over(w_cum), F.sum("r").over(w_all))
            - F.try_divide(F.sum("t").over(w_cum), F.sum("t").over(w_all))
        ).alias("diff"),
        F.sum("r").over(w_all).alias("n"),
        F.sum("t").over(w_all).alias("m"),
    )
    return (
        scored.groupBy("part", "feature")
        .agg(
            F.max("diff").alias("d"),
            F.first("n").alias("n"),
            F.first("m").alias("m"),
        )
        .where((F.col("m") > 0) & (F.col("n") > 0))
    )
