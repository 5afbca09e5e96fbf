"""Per-partition drift verdicts — the north-rule flagship query.

Reproduces the reference's pass/fail semantics (KS p-value vs threshold,
ks_test.py:151; PSI vs threshold, psi.py:216; chi-square p vs threshold,
univariate.py:231) at the per-partition grain (BASELINE.json:6): every
partition of the test split is compared against the GLOBAL reference split
(edges and expectations fitted once on reference, broadcast into the plan),
yielding one verdict row per (partition, feature, check).

Scale design:
* PSI is computed ENTIRELY in Spark SQL: one melt+groupBy produces
  (part, feature, bin, side) counts; a dense (part, feature, bin) grid
  left-join restores empty bins (pandas value_counts-over-Categorical
  parity); clamp → renormalize → sum((a-e)*ln(a/e)) runs as window +
  aggregate expressions.  Nothing about it collects row data; verdict
  output is O(parts x features).
* KS D is the distributed per-value-pre-agg + cumulative-window plan of
  driftspark.stats, windowed by (feature, part) — each partition's ECDF
  merge parallelizes across the cluster; p-values for the O(parts x
  features) D statistics are driver math.
* chi-square categorical counts are one groupBy at (part, category, side)
  cardinality.
"""

from __future__ import annotations

import logging
from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from driftspark.numerics import (
    chi2_sf,
    ks_2samp_pvalue,
    severity_from_psi,
    severity_from_pvalue,
)
from driftspark.stats import bucket_expr, quantile_edges

logger = logging.getLogger(__name__)

VERDICT_SCHEMA = (
    "part int, feature string, check string, statistic double, p_value double, "
    "severity string, passed boolean, n_ref long, n_test long"
)


def _melt_binned(
    df: DataFrame,
    edges_map: Dict[str, np.ndarray],
    part_expr,
    is_ref: bool,
    keep_out_of_range: bool = False,
):
    """(is_ref, part, feature, bin) long form; out-of-range/NULL values
    carry a NULL bin and are dropped by default.  ``keep_out_of_range``
    retains ONE NULL-bin row per (row, feature) so a single aggregation
    can also observe the partition/row universe (psi_by_partition uses it
    to avoid a second scan for the partition ids; NULL-bin rows never
    join the dense bin grid, so histogram math is unchanged)."""
    structs = [
        F.struct(F.lit(c).alias("feature"), bucket_expr(c, e).alias("bin"))
        for c, e in edges_map.items()
    ]
    out = (
        df.select(
            F.lit(is_ref).alias("is_ref"),
            part_expr.alias("part"),
            F.explode(F.array(*structs)).alias("fb"),
        )
        .select("is_ref", "part", "fb.feature", "fb.bin")
    )
    return out if keep_out_of_range else out.where(F.col("bin").isNotNull())


def psi_by_partition(
    ref_df: DataFrame,
    test_df: DataFrame,
    edges_map: Dict[str, np.ndarray],
    part_col: str = "part",
    min_bin_size: float = 0.001,
) -> DataFrame:
    """(part, feature, psi) — PSI of each test partition vs the GLOBAL
    reference histogram, computed fully in Spark SQL (no driver loops).

    Reference-parity details: proportions are over in-range values only;
    every fitted bin participates (empty → 0 → clamped to min_bin_size);
    both sides clamped then renormalized before the PSI sum
    (psi.py:102-110)."""
    if not edges_map:
        raise ValueError("edges_map is empty")
    spark = ref_df.sparkSession

    # BOTH sides histogram in ONE scan: an explicit is_ref tag marks the
    # reference rows (NULL part is no longer overloaded as the marker, so
    # null-part test rows stay observable instead of silently vanishing);
    # the aggregated counts are O(parts x features x bins) —
    # localCheckpoint materializes them once so the branches below don't
    # re-scan.  The part travels through the union as its ORIGINAL type
    # (string, date, int, ...) — casting to a fixed type would NULL out
    # non-castable partition values and silently merge those test rows
    # into the reference histogram.
    part_type = test_df.schema[part_col].dataType
    # the test side keeps out-of-range values as NULL-bin rows so this ONE
    # aggregation also yields the full partition universe (previously a
    # second scan of test_df computed the distinct partition ids); NULL-bin
    # rows never match the dense bin grid, so the histogram math is
    # untouched and a fully-out-of-range partition still gets its
    # n_test = 0 verdict rows from the grid
    u = _melt_binned(
        ref_df, edges_map, F.lit(None).cast(part_type), True
    ).unionByName(
        _melt_binned(
            test_df, edges_map, F.col(part_col), False, keep_out_of_range=True
        )
    )
    counts = (
        u.groupBy("is_ref", "part", "feature", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        # lazy: the null-part probe below is the first action and
        # materializes the checkpoint in the SAME job (an eager
        # checkpoint here ran one extra job per call)
        .localCheckpoint(eager=False)
    )
    dropped = (
        counts.where(
            ~F.col("is_ref") & F.col("part").isNull() & F.col("bin").isNotNull()
        )
        .agg(F.sum("c"))
        .first()[0]
    )
    if dropped:
        logger.warning(
            "psi_by_partition: %d test value(s) have NULL %s and are "
            "excluded from partition verdicts",
            dropped,
            part_col,
        )
    # reference histogram is global: one row per (feature, bin)
    ref_cnt = counts.where(F.col("is_ref") & F.col("bin").isNotNull()).select(
        "feature", "bin", F.col("c").alias("r")
    )
    test_cnt = counts.where(
        ~F.col("is_ref") & F.col("part").isNotNull() & F.col("bin").isNotNull()
    ).select("part", "feature", "bin", F.col("c").alias("t"))

    # dense (part, feature, bin) grid so empty bins participate in the
    # clamp+renormalize exactly like pandas' all-categories value_counts
    bins_rows = [
        (c, b) for c, e in edges_map.items() for b in range(len(e) - 1)
    ]
    grid_fb = spark.createDataFrame(pd.DataFrame(bins_rows, columns=["feature", "bin"]))
    # the partition universe comes from the already-aggregated counts —
    # NOT a second scan of test_df.  It is COMPLETE: the test melt keeps
    # out-of-range values as NULL-bin rows, so every partition with any
    # row at all appears here (incl. fully-out-of-range partitions, which
    # then get their n_test = 0 verdict rows from the grid below).
    parts = (
        counts.where(~F.col("is_ref") & F.col("part").isNotNull())
        .select("part")
        .distinct()
    )
    grid = parts.crossJoin(F.broadcast(grid_fb))

    j = (
        grid.join(F.broadcast(ref_cnt), ["feature", "bin"], "left")
        .join(test_cnt, ["part", "feature", "bin"], "left")
        .na.fill({"r": 0, "t": 0})
    )
    # every double sum below runs in bin order: an unordered window or a
    # hash aggregate adds in shuffle-arrival order, which moves the last
    # bits of the PSI from run to run and from one input layout to another
    w = (
        Window.partitionBy("part", "feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rsum = F.sum("r").over(w)
    tsum = F.sum("t").over(w)
    # try_divide: a partition whose values are ALL out-of-range/NULL for a
    # feature has tsum = 0 — under Spark's default ANSI mode a plain
    # division would abort the whole job exactly on the fully-shifted
    # partition it exists to flag.  NULL proportions clamp to
    # min_bin_size (greatest skips NULLs): the no-in-range-data side
    # renormalizes to uniform, and n_test = 0 in the verdict row marks the
    # case.  PSI is an in-range-SHAPE statistic — the mass exodus itself
    # is the KS check's job (it scores all values, D -> 1 here); locked by
    # test_fully_shifted_partition_does_not_abort.
    e = F.greatest(F.try_divide(F.col("r"), rsum), F.lit(min_bin_size))
    a = F.greatest(F.try_divide(F.col("t"), tsum), F.lit(min_bin_size))
    scored = j.select(
        "part",
        "feature",
        "bin",
        e.alias("e"),
        a.alias("a"),
        F.sum(e).over(w).alias("esum"),
        F.sum(a).over(w).alias("asum"),
        rsum.alias("n_ref"),
        tsum.alias("n_test"),
    )
    en = F.col("e") / F.col("esum")
    an = F.col("a") / F.col("asum")
    # the dense grid gives every (part, feature) a bin 0: keep that row
    return (
        scored.withColumn("psi", F.sum((an - en) * F.log(an / en)).over(w))
        .where(F.col("bin") == 0)
        .select("part", "feature", "psi", "n_ref", "n_test")
    )


def rolling_psi(
    df: DataFrame,
    ts_col: str,
    edges_map: Dict[str, np.ndarray],
    bucket: str = "day",
    trailing: int = 7,
    min_history: int = 3,
    min_bin_size: float = 0.001,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """PSI of each time bucket vs its own TRAILING window — temporal
    self-drift ("is today shaped like the last week"), distinct from the
    global-reference partition verdicts (part_col=date_trunc answers "is
    today shaped like the FITTED reference").

    One melt+bin scan → (feature, bucket, bin) counts → a DENSE
    (feature, bucket, bin) grid (lazy sequence-explode buckets × fitted
    bins, so empty bins AND empty buckets participate in the clamp —
    the pandas all-categories semantic) → the trailing reference is a
    per-(feature, bin) window sum over the preceding ``trailing``
    buckets.  PSI math is verbatim psi_by_partition (clamp to
    min_bin_size via greatest-over-try_divide, renormalize, sum) — an
    all-out-of-range or EMPTY bucket scores a ~0 shape drift with
    n_test = 0 marking it (volume is volume_report's job).

    Buckets with fewer than ``min_history`` preceding buckets verdict
    ``insufficient_history``.  Returns (feature, bucket_ts string,
    psi double, n_test, n_trailing, history, severity, passed).
    """
    from driftspark.volume import _BUCKETS, VERDICT_INSUFFICIENT

    if bucket not in _BUCKETS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKETS)}, got {bucket!r}")
    if trailing < 1:
        raise ValueError(f"trailing must be >= 1, got {trailing}")
    if not edges_map:
        raise ValueError("edges_map is empty")
    spark = df.sparkSession

    pts = df.where(F.col(ts_col).isNotNull())
    binned = _melt_binned(
        pts, edges_map, F.date_trunc(bucket, F.col(ts_col)), False
    ).select(F.col("part").alias("__b"), "feature", "bin")
    counts = binned.groupBy("__b", "feature", "bin").agg(
        F.count(F.lit(1)).alias("t")
    )

    # dense grids: lazy global [min,max] bucket span (volume_report
    # pattern; indexed so history needs no second window) × fitted bins
    span = pts.select(
        F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.min("__b").alias("mn"), F.max("__b").alias("mx"))
    grid_b = span.select(
        F.posexplode(F.expr(f"sequence(mn, mx, interval 1 {bucket})")).alias(
            "idx", "__b"
        )
    )
    bins_rows = [
        (c, b) for c, e in edges_map.items() for b in range(len(e) - 1)
    ]
    grid_fb = spark.createDataFrame(
        pd.DataFrame(bins_rows, columns=["feature", "bin"])
    )
    dense = (
        grid_fb.crossJoin(F.broadcast(grid_b))
        .join(counts, ["__b", "feature", "bin"], "left")
        .na.fill({"t": 0})
    )

    w_trail = (
        Window.partitionBy("feature", "bin")
        .orderBy("idx")
        .rowsBetween(-trailing, -1)
    )
    dense = dense.withColumn("r", F.coalesce(F.sum("t").over(w_trail), F.lit(0)))

    w = Window.partitionBy("feature", "__b")
    rsum = F.sum("r").over(w)
    tsum = F.sum("t").over(w)
    e = F.greatest(F.try_divide(F.col("r"), rsum), F.lit(min_bin_size))
    a = F.greatest(F.try_divide(F.col("t"), tsum), F.lit(min_bin_size))
    scored = dense.select(
        "feature", "__b", "idx",
        e.alias("e"), a.alias("a"),
        F.sum(e).over(w).alias("esum"),
        F.sum(a).over(w).alias("asum"),
        rsum.alias("n_trailing"),
        tsum.alias("n_test"),
    )
    en = F.col("e") / F.col("esum")
    an = F.col("a") / F.col("asum")
    agg = scored.groupBy("feature", "__b").agg(
        F.sum((an - en) * F.log(an / en)).alias("psi"),
        F.first("idx").alias("idx"),
        F.first("n_trailing").alias("n_trailing"),
        F.first("n_test").alias("n_test"),
    )
    hist = F.least(F.col("idx"), F.lit(trailing))
    sev = F.when(
        hist < F.lit(min_history), F.lit(VERDICT_INSUFFICIENT)
    ).otherwise(_severity_from_psi_col(F.col("psi")))
    return agg.select(
        "feature",
        F.date_format("__b", "yyyy-MM-dd HH:mm:ss").alias("bucket_ts"),
        "psi",
        F.col("n_test").cast("long").alias("n_test"),
        F.col("n_trailing").cast("long").alias("n_trailing"),
        hist.cast("long").alias("history"),
        sev.alias("severity"),
        F.when(hist < F.lit(min_history), F.lit(None).cast("boolean"))
        .otherwise(F.col("psi") < F.lit(psi_threshold))
        .alias("passed"),
    )


def _severity_from_psi_col(psi):
    """The reference PSI severity ladder (numerics.severity_from_psi) as
    a column expression — strict < boundaries, identical cutoffs."""
    return (
        F.when(psi < 0.1, F.lit("none"))
        .when(psi < 0.2, F.lit("low"))
        .when(psi < 0.3, F.lit("medium"))
        .when(psi < 0.5, F.lit("high"))
        .otherwise(F.lit("critical"))
    )


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
    spark = ref_df.sparkSession
    structs = lambda df: [  # noqa: E731
        F.struct(F.lit(c).alias("feature"), F.col(c).cast("double").alias("value"))
        for c in cols
    ]

    def melt(df, with_part):
        sel = [F.col(part_col).alias("part")] if with_part else []
        return (
            df.select(*sel, F.explode(F.array(*structs(df))).alias("fv"))
            .select(*(["part"] if with_part else []), "fv.feature", "fv.value")
            .where(F.col("value").isNotNull() & ~F.isnan("value"))
        )

    ref_vals = melt(ref_df, False).groupBy("feature", "value").agg(
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
        melt(test_df, True)
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


def w1_by_partition(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    part_col: str = "part",
    quantize: int = 9,
) -> DataFrame:
    """(part, feature, w1, n, m) — exact Wasserstein-1 of each test
    partition's sample vs the GLOBAL reference sample, distributed.

    Same shape and scale contract as :func:`ks_d_by_partition` (global
    reference value counts cross-joined with the partition ids, so the
    per-(part, feature) window input stays at distinct values x parts),
    plus the W1 value-gap term: |CDF_r - CDF_t| * (next value - value)
    summed as quantized decimal — order-independent, engine-portable,
    bit-identical under any layout (the wasserstein_all contract).

    Partition ids keep their ORIGINAL type; NULL-part rows belong to no
    partition and are excluded (the psi/chi2 paths count + warn the same
    rows); (part, feature) groups with no test values are dropped, never
    divided by zero (try_divide under ANSI).
    """
    from driftspark.stats import _w1_term_quantized

    structs = lambda df: [  # noqa: E731
        F.struct(F.lit(c).alias("feature"), F.col(c).cast("double").alias("value"))
        for c in cols
    ]

    def melt(df, with_part):
        sel = [F.col(part_col).alias("part")] if with_part else []
        return (
            df.select(*sel, F.explode(F.array(*structs(df))).alias("fv"))
            .select(*(["part"] if with_part else []), "fv.feature", "fv.value")
            .where(F.col("value").isNotNull() & ~F.isnan("value"))
        )

    ref_vals = melt(ref_df, False).groupBy("feature", "value").agg(
        F.count(F.lit(1)).alias("r")
    )
    parts = (
        test_df.where(F.col(part_col).isNotNull())
        .select(F.col(part_col).alias("part"))
        .distinct()
    )
    ref_per_part = ref_vals.crossJoin(F.broadcast(parts)).withColumn("t", F.lit(0))
    test_vals = (
        melt(test_df, True)
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
    w_lead = Window.partitionBy("part", "feature").orderBy("value")
    gap = F.lead("value").over(w_lead) - F.col("value")
    diff = F.abs(
        F.try_divide(F.sum("r").over(w_cum), F.sum("r").over(w_all))
        - F.try_divide(F.sum("t").over(w_cum), F.sum("t").over(w_all))
    )
    term = _w1_term_quantized(
        F.coalesce(diff * gap, F.lit(0.0)), quantize
    )
    scored = g.select(
        "part", "feature", term.alias("term"),
        F.sum("r").over(w_all).alias("n"),
        F.sum("t").over(w_all).alias("m"),
    )
    return (
        scored.groupBy("part", "feature")
        .agg(
            F.sum("term").cast("double").alias("w1"),
            F.first("n").alias("n"),
            F.first("m").alias("m"),
        )
        .where((F.col("m") > 0) & (F.col("n") > 0))
    )


def _ref_ecdf_points(
    ref_g: DataFrame,
    max_points: int,
    n_buckets: int = 64,
) -> Dict[str, tuple]:
    """{feature: (sorted values, exact cumulative counts, n)} from a
    (feature, value, c) distinct-count frame, with DISTRIBUTED thinning.

    Features whose distinct count fits ``max_points`` collect exactly.
    Larger features never reach the driver unthinned: values are coarsely
    bucketed by approx-quantile edges (so each feature's cumulative window
    runs over ``n_buckets`` independent groups — no single-task
    feature-wide sort), exact within-bucket cumulative counts get their
    bucket-prefix offsets added via a broadcast join, and a MASS-quantum
    filter keeps every point whose cumulative count crosses a multiple of
    ceil(n / max_points) (plus the last point, so n stays exact).
    Retention is therefore uniform in probability mass, not rank: heavy
    values (zero-inflation, mode spikes) are always retained wherever
    they sit, and the ECDF gap between consecutive retained points is
    strictly below one quantum — the KS-D error from thinning is bounded
    by 1/max_points regardless of frequency skew.  Retained points carry
    EXACT cumulative counts."""
    # the distinct set feeds 2-4 jobs below (totals, small collect, big
    # bucketing/offsets/window) — persist so the raw data is scanned once
    ref_g = ref_g.persist()
    totals = ref_g.groupBy("feature").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("c").alias("n")
    ).collect()
    nd_by_feat = {r["feature"]: int(r["nd"]) for r in totals}
    small = [f for f, nd in nd_by_feat.items() if nd <= max_points]
    big = [f for f, nd in nd_by_feat.items() if nd > max_points]

    ecdf: Dict[str, tuple] = {}
    if small:
        pdf = ref_g.where(F.col("feature").isin(small)).toPandas()
        for feat, g in pdf.groupby("feature"):
            g = g.sort_values("value")
            vals = g["value"].values.astype(np.float64)
            cums = np.cumsum(g["c"].values.astype(np.int64))
            ecdf[feat] = (vals, cums, int(cums[-1]))
    if not big:
        ref_g.unpersist()
        return ecdf

    spark = ref_g.sparkSession
    bg = ref_g.where(F.col("feature").isin(big))
    try:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        edge_rows = bg.groupBy("feature").agg(
            F.percentile_approx(
                "value", F.array(*[F.lit(p) for p in probs]), 10_000
            ).alias("edges")
        ).collect()
        bucket = F.lit(0)
        for r in edge_rows:
            b = F.lit(0)
            for e in r["edges"]:
                b = b + (F.col("value") > F.lit(float(e))).cast("int")
            bucket = F.when(F.col("feature") == r["feature"], b).otherwise(bucket)
        bucketed = bg.withColumn("bkt", bucket)

        # bucket prefix offsets (counts + distinct ranks), tiny driver state
        offs_rows = bucketed.groupBy("feature", "bkt").agg(
            F.sum("c").alias("cnt"), F.count(F.lit(1)).alias("ndb")
        ).collect()
        offs: List[tuple] = []
        per_feat: Dict[str, list] = {}
        for r in offs_rows:
            per_feat.setdefault(r["feature"], []).append(r)
        for feat, rows in per_feat.items():
            coff = roff = 0
            for r in sorted(rows, key=lambda x: x["bkt"]):
                offs.append((feat, int(r["bkt"]), coff, roff))
                coff += int(r["cnt"])
                roff += int(r["ndb"])
        offs_df = spark.createDataFrame(
            pd.DataFrame(offs, columns=["feature", "bkt", "coff", "roff"])
        )

        w_cum = (
            Window.partitionBy("feature", "bkt")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_rk = Window.partitionBy("feature", "bkt").orderBy("value")
        scored = (
            bucketed.select(
                "feature", "bkt", "value", "c",
                F.sum("c").over(w_cum).alias("lcum"),
                F.row_number().over(w_rk).alias("lrk"),
            )
            .join(F.broadcast(offs_df), ["feature", "bkt"])
            .select(
                "feature", "value", "c",
                (F.col("lcum") + F.col("coff")).alias("cum"),
                (F.col("lrk") + F.col("roff")).alias("rk"),
            )
        )
        n_by_feat = {r["feature"]: int(r["n"]) for r in totals}
        nd_df = spark.createDataFrame(
            pd.DataFrame(
                [
                    (f, nd_by_feat[f],
                     max(-(-n_by_feat[f] // max_points), 1))  # ceil(n/max)
                    for f in big
                ],
                columns=["feature", "nd", "mass_stride"],
            )
        )
        # keep a point iff its cumulative count crosses a mass quantum —
        # floor(cum/ms) > floor((cum - c)/ms) — plus the exact last point
        ms = F.col("mass_stride")
        kept = scored.join(F.broadcast(nd_df), "feature").where(
            (F.floor(F.col("cum") / ms) > F.floor((F.col("cum") - F.col("c")) / ms))
            | (F.col("rk") == F.col("nd"))
        )
        pdf = kept.select("feature", "value", "cum").toPandas()
        for feat, g in pdf.groupby("feature"):
            g = g.sort_values("value")
            ecdf[feat] = (
                g["value"].values.astype(np.float64),
                g["cum"].values.astype(np.int64),
                int(g["cum"].values[-1]),
            )
    finally:
        ref_g.unpersist()
    return ecdf


def ks_d_by_partition_broadcast(
    ref_df: DataFrame,
    test_df: DataFrame,
    cols: Sequence[str],
    part_col: str = "part",
    max_ref_ecdf_points: int = 4_000_000,
    preaggregate: bool = False,
) -> DataFrame:
    """(part, feature, d, n, m) — exact KS D per partition via a BROADCAST
    reference ECDF.

    The window formulation (ks_d_by_partition) replicates the reference's
    distinct values into every partition's window — O(distinct x parts)
    sort work, which dominated the validation job when a high-cardinality
    column (phash) met many partitions.  Here the global reference ECDF is
    aggregated once, collected ({feature: sorted values + cumulative
    counts}), broadcast, and each (part, feature) group's test sample
    evaluates

        D = max_i max(|R(t_i) - T(t_i)|, |R(t_i^-) - T(t_{i-1})|)

    with numpy searchsorted inside applyInPandas — mathematically equal to
    the max over all pooled points (between consecutive test points the
    test ECDF is constant and R is monotone, so interval suprema are
    attained at the R(t_i^-) endpoints; negative-side interval extrema are
    dominated by the test-point terms).  Per-group work is O(m_part log
    distinct_ref).

    Thinning happens DISTRIBUTED, before anything reaches the driver: when
    a feature's distinct-value count exceeds ``max_ref_ecdf_points``, a
    per-feature cumulative window computes exact (value, cum_count) pairs
    and an ntile-style rank filter keeps ~max points per feature (always
    including the last = exact n).  The driver only ever collects
    O(features x max_points) rows — at 10^12 rows the unthinned distinct
    set would not fit on any driver.  Retained points keep their EXACT
    cumulative counts, so the only error is R's value-resolution between
    retained points (<= 1/max_points of mass)."""
    ecdf = fit_ks_reference_ecdf(ref_df, cols, max_ref_ecdf_points)
    return ks_d_against_ecdf(test_df, cols, ecdf, part_col, preaggregate)


def _melt_feature_values(df: DataFrame, cols: Sequence[str], part_col=None):
    structs = [
        F.struct(F.lit(c).alias("feature"), F.col(c).cast("double").alias("value"))
        for c in cols
    ]
    sel = [F.col(part_col).alias("part")] if part_col else []
    return (
        df.select(*sel, F.explode(F.array(*structs)).alias("fv"))
        .select(*(["part"] if part_col else []), "fv.feature", "fv.value")
        .where(F.col("value").isNotNull() & ~F.isnan("value"))
    )


def fit_ks_reference_ecdf(
    ref_df: DataFrame,
    cols: Sequence[str],
    max_ref_ecdf_points: int = 4_000_000,
) -> Dict[str, tuple]:
    """Fit the broadcast-ready thinned reference ECDF state ({feature:
    (sorted values, exact cumulative counts, n)}) ONCE, for reuse across
    ``ks_d_against_ecdf`` calls — per-partition verdicts or streaming
    micro-batches — without rescanning the reference.

    ``max_ref_ecdf_points`` is a TOTAL driver/broadcast budget: it is
    split evenly across the fitted features (floor 10k per feature, so
    the KS-D thinning error stays <= 1e-4 even for wide feature sets) —
    driver memory is bounded regardless of how many columns are
    monitored."""
    ref_g = (
        _melt_feature_values(ref_df, cols)
        .groupBy("feature", "value")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_feature = max(
        max_ref_ecdf_points // max(len(cols), 1),
        min(max_ref_ecdf_points, 10_000),  # floor can't exceed the budget
    )
    return _ref_ecdf_points(ref_g, per_feature)


def ks_d_against_ecdf(
    test_df: DataFrame,
    cols: Sequence[str],
    ecdf,
    part_col: str = "part",
    preaggregate: bool = False,
) -> DataFrame:
    """(part, feature, d, n, m) — exact KS D of each test group's sample
    vs a PRE-FITTED broadcast reference ECDF (see fit_ks_reference_ecdf).

    ``ecdf`` is the fitted dict OR an existing ``pyspark.Broadcast`` of it
    (repeat callers — the streaming monitor — broadcast once and pass the
    handle).  Columns absent from the fitted state are skipped with a
    warning; test rows with a NULL ``part_col`` are excluded (the verdict
    suite's psi/chi2 paths count and warn about the same rows).

    ``preaggregate=True`` reduces the test side to (part, feature, value,
    count) before anything reaches the pandas groups, so the per-group
    shuffle and the single-task sort inside each (part, feature) group
    become O(distinct values), not O(rows) — for QUANTIZED columns (image
    sizes, enum-ish ints; the north-rule w/h columns have a handful of
    distinct values) a hot partition's group shrinks by orders of
    magnitude, and the map-side partial combine absorbs the extra
    aggregation; the validate job turns it on.  The weighted-unique math
    is bit-identical to sorting the raw sample (the raw path reduces
    through np.unique).  The default ships raw values in ONE shuffle —
    right for continuous columns (distinct ≈ rows), where pre-aggregation
    would double the shuffled volume for no shrink."""
    spark = test_df.sparkSession
    # accept a pre-made Broadcast so a long-running caller (the streaming
    # monitor scores every micro-batch against the same fitted state) does
    # not re-serialize and re-ship up to max_ref_ecdf_points pairs per call
    from pyspark.broadcast import Broadcast

    if isinstance(ecdf, Broadcast):
        b_ecdf, ecdf_keys = ecdf, set(ecdf.value)
    else:
        b_ecdf, ecdf_keys = spark.sparkContext.broadcast(ecdf), set(ecdf)
    # a column absent from the fitted state (all-NULL/NaN reference
    # column — fit_ks_reference_ecdf's melt drops it) cannot be scored:
    # skip it loudly instead of a KeyError inside applyInPandas (the
    # streaming monitor applies the same filter, streaming.py)
    missing = [c for c in cols if c not in ecdf_keys]
    if missing:
        logger.warning(
            "ks_d_against_ecdf: no fitted reference ECDF for %s "
            "(all-NULL/NaN reference column?) — skipped",
            missing,
        )
        cols = [c for c in cols if c in ecdf_keys]
    # output schema preserves the partition column's original type
    part_sql_type = test_df.schema[part_col].dataType.simpleString()
    out_schema = f"part {part_sql_type}, feature string, d double, n long, m long"
    if not cols:
        return spark.createDataFrame([], out_schema)

    def compute(key, pdf):
        part, feat = key
        vals, cums, n = b_ecdf.value[feat]
        if "c" in pdf.columns:
            order = np.argsort(pdf["value"].values, kind="stable")
            tv = pdf["value"].values.astype(np.float64)[order]
            tc = pdf["c"].values.astype(np.int64)[order]
        else:
            tv, tc = np.unique(pdf["value"].values.astype(np.float64), return_counts=True)
        m = int(tc.sum())
        T = np.cumsum(tc) / m
        T_prev = np.concatenate([[0.0], T[:-1]])
        hi = np.searchsorted(vals, tv, side="right")
        lo = np.searchsorted(vals, tv, side="left")
        R_at = np.where(hi > 0, cums[np.maximum(hi - 1, 0)], 0) / n
        R_before = np.where(lo > 0, cums[np.maximum(lo - 1, 0)], 0) / n
        d = float(
            np.max(np.maximum(np.abs(R_at - T), np.abs(R_before - T_prev)))
        )
        return pd.DataFrame(
            {"part": [part], "feature": [feat], "d": [d], "n": [n], "m": [m]}
        )

    # NULL-part rows are excluded like psi/chi2 (which count + warn about
    # them in the verdict suite) — a part=NULL verdict row belongs to no
    # partition; the filter is free (streaming's literal group never is)
    melted = _melt_feature_values(test_df, cols, part_col).where(
        F.col("part").isNotNull()
    )
    if preaggregate:
        melted = melted.groupBy("part", "feature", "value").agg(
            F.count(F.lit(1)).alias("c")
        )
    return melted.groupBy("part", "feature").applyInPandas(
        compute, schema=out_schema
    )


#: merged-tail bucket name used when a categorical feature exceeds
#: ``max_categories`` (unlikely to collide with real category strings)
CHI2_OTHER_BUCKET = "__chi2_other__"


def chi2_by_partition(
    ref_df: DataFrame,
    test_df: DataFrame,
    cat_cols: Sequence[str],
    part_col: str = "part",
    min_samples: int = 5,
    max_categories: int = 1000,
) -> List[dict]:
    """Per-(part, feature) chi-square of test category counts vs global
    reference proportions (univariate.py:71-122 semantics, per-partition).

    ALL categorical columns melt into one (part, feature, value)
    aggregation — ONE Spark job regardless of column count.  The
    chi-square over O(parts x features x categories) count rows runs on
    the driver.

    Scale guard: that driver loop assumes bounded category cardinality —
    a high-cardinality string column (ids, captions) would collect
    unbounded rows.  Any feature whose observed (ref ∪ test) category
    count exceeds ``max_categories`` is remapped DISTRIBUTED to its
    ``max_categories - 1`` globally most-frequent categories plus one
    merged ``__chi2_other__`` tail bucket before anything reaches the
    driver, with a logged warning naming the truncated features.
    Features at or under the cap are bit-identical to the unguarded
    path.  Test rows with a NULL partition id are excluded from verdicts
    (they belong to no partition) but are now COUNTED in the same
    aggregation and logged, so drift concentrated in null-part rows
    can't vanish silently."""
    if not cat_cols:
        return []

    def melted(df: DataFrame, part_expr, is_ref: bool) -> DataFrame:
        structs = [
            F.struct(F.lit(c).alias("feature"), F.col(c).cast("string").alias("v"))
            for c in cat_cols
        ]
        return (
            df.select(
                F.lit(is_ref).alias("is_ref"),
                part_expr.alias("part"),
                F.explode(F.array(*structs)).alias("fv"),
            )
            .select("is_ref", "part", "fv.feature", "fv.v")
            .where(F.col("v").isNotNull())
        )

    # explicit is_ref tag (NULL part no longer doubles as the ref marker,
    # so null-part test rows stay observable); part keeps its ORIGINAL type
    part_type = test_df.schema[part_col].dataType
    u = melted(ref_df, F.lit(None).cast(part_type), True).unionByName(
        melted(test_df, F.col(part_col), False)
    )
    counts_df = (
        u.groupBy("is_ref", "part", "feature", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        # lazy: the cardinality-guard meta job materializes it (one
        # fewer job than an eager checkpoint)
        .localCheckpoint(eager=False)
    )

    # ONE tiny job over the checkpointed aggregates fetches both guard
    # inputs: per-feature distinct-category counts (cardinality guard) and
    # the null-part test mass (silent-drop warning)
    in_scope = F.col("is_ref") | F.col("part").isNotNull()
    meta = (
        counts_df.groupBy("feature")
        .agg(
            F.count_distinct(F.when(in_scope, F.col("v"))).alias("n"),
            F.sum(
                F.when(~F.col("is_ref") & F.col("part").isNull(), F.col("c"))
                .otherwise(F.lit(0))
            ).alias("dropped"),
        )
        .collect()
    )
    dropped = sum(int(r["dropped"]) for r in meta)
    if dropped:
        logger.warning(
            "chi2_by_partition: %d test value(s) have NULL %s and are "
            "excluded from partition verdicts",
            dropped,
            part_col,
        )
    counts_df = counts_df.where(in_scope)

    over = sorted(r["feature"] for r in meta if r["n"] > max_categories)
    if over:
        logger.warning(
            "chi2_by_partition: feature(s) %s exceed max_categories=%d; "
            "tail categories merged into %r before collection",
            over,
            max_categories,
            CHI2_OTHER_BUCKET,
        )
        w_top = Window.partitionBy("feature").orderBy(F.col("tot").desc(), "v")
        keep = (
            counts_df.where(F.col("feature").isin(over))
            .groupBy("feature", "v")
            .agg(F.sum("c").alias("tot"))
            .withColumn("rn", F.row_number().over(w_top))
            .where(F.col("rn") < max_categories)
            .select("feature", "v", F.lit(True).alias("keep"))
        )
        cols5 = ["is_ref", "part", "feature", "v", "c"]
        remapped = (
            counts_df.where(F.col("feature").isin(over))
            .join(F.broadcast(keep), ["feature", "v"], "left")
            .withColumn(
                "v",
                F.when(F.col("keep"), F.col("v")).otherwise(
                    F.lit(CHI2_OTHER_BUCKET)
                ),
            )
            .groupBy("is_ref", "part", "feature", "v")
            .agg(F.sum("c").alias("c"))
        )
        counts_df = (
            counts_df.where(~F.col("feature").isin(over))
            .select(*cols5)
            .unionByName(remapped.select(*cols5))
        )

    counts = counts_df.collect()
    ref_map: Dict[str, Dict] = {c: {} for c in cat_cols}
    by_part: Dict[tuple, Dict] = {}
    for r in counts:
        if r["is_ref"]:
            ref_map[r["feature"]][r["v"]] = r["c"]
        else:
            by_part.setdefault((r["part"], r["feature"]), {})[r["v"]] = r["c"]

    out: List[dict] = []
    for (part, col), tmap in sorted(by_part.items()):
        stat, p, n_ref, n_test = chi2_from_count_maps(ref_map[col], tmap, min_samples)
        out.append(
            {
                "part": part,
                "feature": col,
                "stat": stat,
                "p": p,
                "n_ref": n_ref,
                "n_test": n_test,
            }
        )
    return out


def fit_ref_category_counts(
    ref_df: DataFrame,
    cat_cols: Sequence[str],
    max_categories: int = 1000,
) -> tuple:
    """({feature: {category: count}}, capped_features) — global reference
    category counts for reuse across many chi-square scorings (streaming
    micro-batches).  Same cardinality guard as chi2_by_partition: a
    feature exceeding ``max_categories`` keeps its top max_categories-1
    categories and merges the tail into CHI2_OTHER_BUCKET (distributed,
    before the collect); callers must remap unseen/tail test categories
    into the same bucket for capped features."""
    if not cat_cols:
        return {}, set()
    structs = [
        F.struct(F.lit(c).alias("feature"), F.col(c).cast("string").alias("v"))
        for c in cat_cols
    ]
    counts_df = (
        ref_df.select(F.explode(F.array(*structs)).alias("fv"))
        .select("fv.feature", "fv.v")
        .where(F.col("v").isNotNull())
        .groupBy("feature", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    ncats = counts_df.groupBy("feature").agg(F.count(F.lit(1)).alias("n")).collect()
    capped = {r["feature"] for r in ncats if r["n"] > max_categories}
    if capped:
        logger.warning(
            "fit_ref_category_counts: feature(s) %s exceed max_categories=%d; "
            "tail categories merged into %r",
            sorted(capped), max_categories, CHI2_OTHER_BUCKET,
        )
        w_top = Window.partitionBy("feature").orderBy(F.col("c").desc(), "v")
        counts_df = (
            counts_df.withColumn(
                "rn",
                F.when(
                    F.col("feature").isin(list(capped)),
                    F.row_number().over(w_top),
                ).otherwise(F.lit(1)),
            )
            .withColumn(
                "v",
                F.when(F.col("rn") < max_categories, F.col("v")).otherwise(
                    F.lit(CHI2_OTHER_BUCKET)
                ),
            )
            .groupBy("feature", "v")
            .agg(F.sum("c").alias("c"))
        )
    out: Dict[str, Dict] = {c: {} for c in cat_cols}
    for r in counts_df.collect():
        out[r["feature"]][r["v"]] = int(r["c"])
    return out, capped


def chi2_from_count_maps(
    rmap: Dict, tmap: Dict, min_samples: int = 5
) -> tuple:
    """(stat, p, n_ref, n_test) — chi-square of test category counts vs
    reference proportions from two {category: count} maps (the reference's
    univariate.py:71-122 math: union-aligned categories, >=min_samples
    validity filter on either side, df = n_valid - 1).  Pure driver math,
    shared by the batch per-partition path and the streaming monitor."""
    cats = sorted(set(rmap) | set(tmap))
    rc = np.array([rmap.get(c, 0) for c in cats], dtype=np.float64)
    tc = np.array([tmap.get(c, 0) for c in cats], dtype=np.float64)
    valid = (rc >= min_samples) | (tc >= min_samples)
    if valid.sum() < 2:
        stat, p = 0.0, 1.0
    else:
        rv, tv = rc[valid], tc[valid]
        expected = rv / rv.sum() * tv.sum()
        with np.errstate(divide="ignore", invalid="ignore"):
            stat = float(np.sum((tv - expected) ** 2 / expected))
        p = chi2_sf(stat, int(valid.sum()) - 1)
    return stat, p, int(rc.sum()), int(tc.sum())


def partition_verdicts(
    df: DataFrame,
    numeric_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    part_col: str = "part",
    split_col: str = "split",
    ref_value: str = "ref",
    test_value: str = "test",
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.05,
    chi2_threshold: float = 0.05,
    n_bins: int = 10,
    parts: Optional[Sequence] = None,
    approx_quantile_error: Optional[float] = None,
    ks_cols: Optional[Sequence[str]] = None,
    max_categories: int = 1000,
    ks_preaggregate: bool = False,
    w1_cols: Optional[Sequence[str]] = None,
    w1_threshold: float = 0.1,
) -> DataFrame:
    """Run the per-partition drift suite over one split-tagged table.

    Returns a verdict DataFrame (VERDICT_SCHEMA with the part column typed
    as the input's partition column — int, string, date, ...): one row per
    (partition, feature, check) with statistic, p-value (where defined),
    reference severity ladder, and pass/fail.  ``parts`` restricts the run
    to a subset of partitions (the checkpoint/resume hook).
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = df.sparkSession
    part_sql_type = df.schema[part_col].dataType.simpleString()
    out_schema = VERDICT_SCHEMA.replace("part int", f"part {part_sql_type}", 1)
    ref_df = df.where(F.col(split_col) == ref_value)
    test_df = df.where(F.col(split_col) == test_value)
    if parts is not None:
        test_df = test_df.where(F.col(part_col).isin(list(parts)))

    rows: List[tuple] = []

    def run_psi():
        if not numeric_cols:
            return []
        if approx_quantile_error is not None:
            # scale path: Greenwald-Khanna approximate edges (at 10^12 rows
            # an exact percentile sort is not realistic; pd.qcut parity
            # paths keep the exact default).  The shared helper applies the
            # SAME post-processing as the exact path — duplicate edges
            # dropped, constant columns fall back to uniform edges — so a
            # constant-in-reference column keeps its PSI verdict here too.
            from driftspark.stats import approx_quantile_edges

            edges_map = approx_quantile_edges(
                ref_df, list(numeric_cols), n_bins, approx_quantile_error
            )
        else:
            edges_map = quantile_edges(ref_df, numeric_cols, n_bins)
        if not edges_map:
            # every numeric column all-NULL in the reference: no fitted
            # bins means no PSI verdicts, not a failed verdict suite
            logger.warning(
                "partition_verdicts: no PSI edges could be fitted for %s "
                "(all-NULL reference columns?) — PSI checks skipped",
                list(numeric_cols),
            )
            return []
        return psi_by_partition(ref_df, test_df, edges_map, part_col).collect()

    def run_ks():
        ks_columns = list(numeric_cols if ks_cols is None else ks_cols)
        if not ks_columns:
            return []
        return ks_d_by_partition_broadcast(
            ref_df, test_df, ks_columns, part_col,
            preaggregate=ks_preaggregate,
        ).collect()

    def run_chi2():
        return chi2_by_partition(
            ref_df, test_df, cat_cols, part_col, max_categories=max_categories
        )

    def run_w1():
        # opt-in scale-bearing check: normalized W1 (w1 / global ref std)
        # per partition; the ratio severity ladder matches the
        # WassersteinDistance detector.  Degenerate ref std (constant
        # feature) scores raw w1 against 0 — any movement fails.
        if not w1_cols:
            return [], {}
        from driftspark.stats import moment_stats

        stds = {c: s for c, (mu, s) in moment_stats(ref_df, list(w1_cols)).items()}
        return w1_by_partition(ref_df, test_df, list(w1_cols), part_col).collect(), stds

    # the check families are independent — submit their Spark jobs
    # concurrently so per-job scheduling latency overlaps (the scheduler
    # interleaves stages; at scale this also overlaps shuffle waits)
    with ThreadPoolExecutor(max_workers=4) as pool:
        psi_fut = pool.submit(run_psi)
        ks_fut = pool.submit(run_ks)
        chi2_fut = pool.submit(run_chi2)
        w1_fut = pool.submit(run_w1)
        psi_rows, ks_rows, chi2_rows = psi_fut.result(), ks_fut.result(), chi2_fut.result()
        w1_rows, w1_stds = w1_fut.result()

    for r in psi_rows:
        psi = float(r["psi"])
        rows.append(
            (
                r["part"],
                r["feature"],
                "psi",
                psi,
                None,
                severity_from_psi(psi),
                psi < psi_threshold,
                int(r["n_ref"]),
                int(r["n_test"]),
            )
        )
    for r in ks_rows:
        d, n, m = float(r["d"]), int(r["n"]), int(r["m"])
        p = ks_2samp_pvalue(d, n, m)
        rows.append(
            (
                r["part"],
                r["feature"],
                "ks",
                d,
                p,
                severity_from_pvalue(p, ks_threshold),
                not (p < ks_threshold),
                n,
                m,
            )
        )
    for rec in chi2_rows:
        p = rec["p"]
        rows.append(
            (
                rec["part"],
                rec["feature"],
                "chi2",
                rec["stat"],
                p,
                severity_from_pvalue(p, chi2_threshold),
                not (p < chi2_threshold),
                rec["n_ref"],
                rec["n_test"],
            )
        )
    if w1_rows:
        from driftspark.detectors.wasserstein import severity_from_ratio

        for r in w1_rows:
            w1, std = float(r["w1"]), w1_stds.get(r["feature"], 0.0)
            norm = w1 / std if std > 0 else (0.0 if w1 == 0.0 else float("inf"))
            rows.append(
                (
                    r["part"],
                    r["feature"],
                    "w1",
                    norm,
                    None,
                    severity_from_ratio(norm / w1_threshold),
                    norm < w1_threshold,
                    int(r["n"]),
                    int(r["m"]),
                )
            )

    if not rows:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(rows, out_schema)
