"""The benchmark's workloads: seeded inputs, one unit of work, and its checks.

Every expected count is derived in plain Python from the generator's
parameters, never from the engine.  Each workload also returns a digest of
its verdict rows; the digest must be the same for every unit in a run and
between the untraced and traced halves of a traced run.

Sizes are far below the ~1M-row tables the validation job targets: a run
must fit its set-up, warm-up and measurement into well under a minute on a
4-core host, and on these inputs the per-job fixed cost of Spark already
dominates the time of a unit.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List

import numpy as np

from spans import Tracer

# Layers reported by a traced run, as (metric prefix, is_spark_heavy).  A
# Spark-heavy span also reports spans.SPARK_STATS from the event log.
LAYERS = [
    ("schema.check_schema", False),
    ("schema.run_expectations", False),
    ("profile.profile_columns", True),
    ("constraints.uniqueness_check", True),
    ("constraints.referential_violations", False),
    ("stats.quantile_edges", False),
    ("verdicts.psi_by_partition", True),
    ("verdicts.ks_d_by_partition_broadcast", True),
    ("verdicts.chi2_by_partition", True),
    ("verdicts.partition_verdicts", True),
    ("verdicts.w1_by_partition", True),
    ("imageops.validate_image_payloads_paired", True),
    ("runner.run_validation", True),
    ("checkpoint.CheckpointManager.pending_parts", False),
    ("checkpoint.resumable_partition_drift", True),
    ("checkpoint.CheckpointManager.mark_done", False),
    ("sinks.write_table", False),
    ("detectors.KSTest.fit_detect", True),
    ("detectors.PSI.fit_detect", False),
    ("detectors.CvMAndersonDarling.fit_detect", True),
    ("streaming.StreamingDriftMonitor.__init__", False),
    ("streaming.StreamingDriftMonitor.score_batch", True),
    ("streaming.StreamingDriftMonitor.start", False),
]
# per-layer figures that are not span timings
EXTRA_LAYER_METRICS = [
    ("runner.run_validation.overlap", "ratio"),
    ("checkpoint.resumable_partition_drift.parts_skipped_frac", "ratio"),
    ("streaming.progress.trigger_execution_s", "s"),
    ("streaming.progress.add_batch_s", "s"),
    ("streaming.progress.query_planning_s", "s"),
    ("streaming.progress.wal_commit_s", "s"),
    ("streaming.progress.commit_offsets_s", "s"),
    ("streaming.progress.latest_offset_s", "s"),
    ("session.get_spark.wall_s", "s"),
    ("session.jvm_hwm_mb", "MB"),
    ("trace.unattributed_run_s", "s"),
    ("trace.overhead_s", "s"),
]
PROGRESS_KEYS = {
    "triggerExecution": "trigger_execution_s",
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
    "latestOffset": "latest_offset_s",
}


@dataclass
class Unit:
    """Outcome of one unit of work: its wall time, the input rows it
    covered, the digest of its verdict rows, and failed checks."""

    wall: float
    rows: int
    digest: str
    errors: List[str] = field(default_factory=list)


def _rounded(v):
    """``v`` as plain JSON values, every float rounded to 9 places."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, dict):
        return {str(k): _rounded(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_rounded(x) for x in v]
    if isinstance(v, float):
        return round(v, 9)
    return v


def digest(rows) -> str:
    """Order-free digest of verdict tuples."""
    norm = sorted(json.dumps(_rounded(r), sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()[:16]


def _expect(errors: List[str], what: str, got, want) -> None:
    if got != want:
        errors.append(f"{what}: got {got}, expected {want}")


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


# ---------------------------------------------------------------- images


class ValidateImages:
    """runner.run_validation over an F1 image table plus payload pairs."""

    name = "validate_images"
    n_images = 100_000
    n_pairs = 5_000
    n_parts = 64
    # synth defaults, restated because the oracle depends on them
    dup_every, dangling_every = 1000, 2000
    corrupt_every, caption_edit_every = 500, 700
    numeric_cols, cat_cols, ks_cols = ["w", "h", "phash"], ["fmt"], ["w", "h"]
    resume_batch_parts = 16
    # the first unit after a single warm-up still ran ~40% slow
    warmup_units = 2
    # the traced run also drains test rows through a StreamingDriftMonitor,
    # one parquet file per micro-batch
    stream_files, stream_file_rows = 3, 1000
    stream_cols = ["image_id", "w", "h", "fmt", "phash"]

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, spark, out: str) -> None:
        from driftspark.synth import synth_dataset_dim, synth_image_pairs_wide, synth_image_table

        synth_image_table(
            spark, self.n_images, n_parts=self.n_parts, seed=self.seed, drift=True,
            with_bytes=False, dup_every=self.dup_every, dangling_every=self.dangling_every,
        ).write.parquet(f"{out}/images")
        synth_image_pairs_wide(
            spark, self.n_pairs, n_parts=self.n_parts, seed=self.seed,
            corrupt_every=self.corrupt_every, caption_edit_every=self.caption_edit_every,
        ).write.parquet(f"{out}/pairs")
        synth_dataset_dim(spark).write.parquet(f"{out}/parent")

    def open(self, spark, inputs: str) -> None:
        from driftspark.schema import expect_in, expect_not_null, expect_range, expect_regex

        self.spark = spark
        self.work = inputs
        self.images = spark.read.parquet(f"{inputs}/images")
        self.pairs = spark.read.parquet(f"{inputs}/pairs")
        self.parent = spark.read.parquet(f"{inputs}/parent")
        # the five expectations of the spark-submit validation job
        self.expectations = [
            expect_not_null("image_id"),
            expect_regex("image_id", r"^img_[0-9]+$"),
            expect_in("fmt", ["png", "jpeg"]),
            expect_range("w", 1, 65536),
            expect_range("h", 1, 65536),
        ]

    # -- oracle: expected counts from the generator's parameters ----------
    def expected(self) -> Dict[str, int]:
        half = self.n_images // 2
        # a duplicate id reuses id-1's key; the pair collides only within a split
        dups = sum(
            1 for i in range(self.dup_every - 1, self.n_images, self.dup_every) if i != half
        )
        bad_pairs = sum(
            1 for p in range(self.n_pairs)
            if p % self.corrupt_every == self.corrupt_every - 1
            or p % self.caption_edit_every == self.caption_edit_every - 1
        )
        checks = len(self.numeric_cols) + len(self.ks_cols) + len(self.cat_cols)
        return {
            "uniqueness_violation_rows": 2 * dups,
            "referential_violations": self.n_images // self.dangling_every,
            "failing_payload_pairs": bad_pairs,
            "verdict_rows": self.n_parts * checks,
        }

    def _run_validation(self, **kw):
        from driftspark.runner import run_validation
        from driftspark.schema import IMAGE_TABLE_DDL

        return run_validation(
            self.images, pairs=self.pairs, parent=self.parent,
            numeric_cols=self.numeric_cols, cat_cols=self.cat_cols, ks_cols=self.ks_cols,
            expected_schema=IMAGE_TABLE_DDL, expectations=self.expectations, **kw,
        )

    def unit(self) -> Unit:
        return self._check(*_timed(self._run_validation))

    def traced_unit(self, tr: Tracer) -> Unit:
        with tr.span("runner.run_validation"):
            res, wall = _timed(self._run_validation)
        return self._check(res, wall)

    def _check(self, res, wall: float) -> Unit:
        from pyspark.sql import functions as F

        verdicts = res.verdicts.collect()
        exp = self.expected()
        errors: List[str] = []
        _expect(errors, "n_images", res.n_images, self.n_images)
        _expect(errors, "n_pairs", res.n_pairs, self.n_pairs)
        _expect(errors, "schema ok", res.schema_check.ok, True)
        _expect(errors, "failed expectations",
                res.expectations.where(~F.col("passed")).count(), 0)
        _expect(errors, "uniqueness violation rows",
                res.uniqueness_violations.count(), exp["uniqueness_violation_rows"])
        _expect(errors, "referential violations",
                res.referential_violations.count(), exp["referential_violations"])
        _expect(errors, "failing payload pairs",
                res.payload_checks.where(~(F.col("pixels_ok") & F.col("caption_ok"))).count(),
                exp["failing_payload_pairs"])
        _expect(errors, "verdict rows", len(verdicts), exp["verdict_rows"])
        return Unit(wall, res.n_images + res.n_pairs, _verdict_digest(verdicts), errors)

    def layers(self, tr: Tracer) -> List[str]:
        """Serial calls into each layer with the arguments run_validation
        passes; returns check failures."""
        from pyspark.sql import functions as F

        from driftspark.checkpoint import CheckpointManager, resumable_partition_drift
        from driftspark.constraints import referential_violations, uniqueness_check
        from driftspark.imageops import validate_image_payloads_paired
        from driftspark.profile import profile_columns
        from driftspark.schema import IMAGE_TABLE_DDL, check_schema, run_expectations
        from driftspark.sinks import write_table
        from driftspark.stats import quantile_edges
        from driftspark.verdicts import (
            chi2_by_partition, ks_d_by_partition_broadcast, partition_verdicts, psi_by_partition,
        )

        img = self.images
        ref = img.where(F.col("split") == "ref")
        test = img.where(F.col("split") == "test")
        errors: List[str] = []
        with tr.span("schema.check_schema"):
            check_schema(img, IMAGE_TABLE_DDL)
        with tr.span("schema.run_expectations"):
            run_expectations(img, self.expectations, group_col="part").count()
        with tr.span("profile.profile_columns"):
            profile_columns(img, columns=self.numeric_cols + self.cat_cols,
                            group_cols=["part"]).count()
        with tr.span("constraints.uniqueness_check"):
            uniqueness_check(img, ["image_id", "split"])[0].count()
        with tr.span("constraints.referential_violations"):
            referential_violations(img, "fk_dataset_id", self.parent, "dataset_id").count()
        with tr.span("stats.quantile_edges"):
            edges = quantile_edges(ref, self.numeric_cols, 10)
        with tr.span("verdicts.psi_by_partition"):
            psi_by_partition(ref, test, edges, "part").collect()
        with tr.span("verdicts.ks_d_by_partition_broadcast"):
            ks_d_by_partition_broadcast(ref, test, self.ks_cols, "part", preaggregate=True).collect()
        with tr.span("verdicts.chi2_by_partition"):
            chi2_by_partition(ref, test, self.cat_cols, "part")
        with tr.span("verdicts.partition_verdicts"):
            full = partition_verdicts(
                img, numeric_cols=self.numeric_cols, cat_cols=self.cat_cols,
                ks_cols=self.ks_cols, ks_preaggregate=True,
            ).collect()
        with tr.span("imageops.validate_image_payloads_paired"):
            validate_image_payloads_paired(self.pairs).count()

        # resume: a ledger that already holds the even parts, copied fresh
        ledger = f"{self.work}/ledger"
        shutil.copytree(self.ledger_seed, ledger)
        ck = CheckpointManager(self.spark, ledger)
        all_parts = list(range(self.n_parts))
        with tr.span("checkpoint.CheckpointManager.pending_parts"):
            pending = ck.pending_parts("resume", all_parts)
        with tr.span("checkpoint.resumable_partition_drift"):
            resumed = resumable_partition_drift(
                img, ck, "resume", numeric_cols=self.numeric_cols, cat_cols=self.cat_cols,
                ks_cols=self.ks_cols, ks_preaggregate=True, batch_parts=self.resume_batch_parts,
            )
            resumed_rows = resumed.collect()
        with tr.span("checkpoint.CheckpointManager.mark_done"):
            ck.mark_done("again", resumed)
        with tr.span("sinks.write_table"):
            write_table(resumed, f"{self.work}/sink")
        self.parts_skipped_frac = (len(all_parts) - len(pending)) / len(all_parts)
        _expect(errors, "pending parts", pending, [p for p in all_parts if p % 2])
        _expect(errors, "resumed verdict digest", _verdict_digest(resumed_rows),
                _verdict_digest([r for r in full if r["part"] % 2]))
        shutil.rmtree(ledger)
        shutil.rmtree(f"{self.work}/sink")
        errors += self._stream_layers(tr, ref)
        return errors

    def _stream_layers(self, tr: Tracer, ref) -> List[str]:
        from driftspark.streaming import StreamingDriftMonitor

        errors: List[str] = []
        incoming = f"{self.work}/incoming"
        with tr.span("streaming.StreamingDriftMonitor.__init__"):
            monitor = StreamingDriftMonitor(
                ref, numeric_cols=self.numeric_cols, ks_cols=self.ks_cols, cat_cols=self.cat_cols,
            )
        batch = self.spark.read.parquet(f"{incoming}/batch-000.parquet")
        checks = len(self.numeric_cols) + len(self.ks_cols) + len(self.cat_cols)
        with tr.span("streaming.StreamingDriftMonitor.score_batch"):
            _expect(errors, "score_batch rows", len(monitor.score_batch(batch)), checks)
        stream = (
            self.spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1)
            .parquet(incoming)
        )
        sink, ckpt = f"{self.work}/stream_sink", f"{self.work}/stream_ckpt"
        with tr.span("streaming.StreamingDriftMonitor.start"):
            query = monitor.start(stream, sink, ckpt)
            query.awaitTermination()
        self.stream_progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        rows = self.spark.read.parquet(sink).collect()
        _expect(errors, "micro-batches", len(self.stream_progress), self.stream_files)
        _expect(errors, "stream verdict rows", len(rows), self.stream_files * checks)
        _expect(errors, "rows per micro-batch", sorted({r["n_test"] for r in rows}),
                [self.stream_file_rows])
        shutil.rmtree(sink)
        shutil.rmtree(ckpt)
        return errors

    def prepare_trace(self) -> None:
        """Build the half-done resume ledger and the stream's input files
        before tracing starts."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from driftspark.checkpoint import CheckpointManager

        n = self.stream_files * self.stream_file_rows
        test = (
            self.images.where(F.col("split") == "test").select(*self.stream_cols)
            .orderBy("image_id", "phash").limit(n).toPandas()
        )
        os.makedirs(f"{self.work}/incoming")
        base = int(time.time()) - 10 * self.stream_files
        for k in range(self.stream_files):
            path = f"{self.work}/incoming/batch-{k:03d}.parquet"
            chunk = test.iloc[k * self.stream_file_rows:(k + 1) * self.stream_file_rows]
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
            # the file source takes the oldest file first: pin the order
            os.utime(path, (base + 10 * k, base + 10 * k))

        self.ledger_seed = f"{self.work}/ledger_seed"
        done = self.spark.createDataFrame(
            [(p, True) for p in range(0, self.n_parts, 2)], "part int, passed boolean"
        )
        CheckpointManager(self.spark, self.ledger_seed).mark_done("resume", done)

    def layer_metrics(self, tr: Tracer) -> Dict[str, float]:
        import statistics

        out = {
            f"streaming.progress.{short}": statistics.median(
                p["durationMs"].get(key, 0) / 1000.0 for p in self.stream_progress)
            for key, short in PROGRESS_KEYS.items()
        }
        serial = [
            "schema.check_schema", "schema.run_expectations", "profile.profile_columns",
            "constraints.uniqueness_check", "constraints.referential_violations",
            "verdicts.partition_verdicts", "imageops.validate_image_payloads_paired",
        ]
        out["runner.run_validation.overlap"] = (
            sum(tr.wall_s(n) for n in serial) / tr.wall_s("runner.run_validation"))
        out["checkpoint.resumable_partition_drift.parts_skipped_frac"] = self.parts_skipped_frac
        return out


def _verdict_digest(rows) -> str:
    return digest(
        (r["part"], r["feature"], r["check"], r["statistic"], r["passed"]) for r in rows
    )


# ---------------------------------------------------------------- tabular


def _mix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer (counter-based, so rows do not depend on order)."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _uniform(seed: int, stream: int, i: np.ndarray) -> np.ndarray:
    key = _mix64(np.array([(seed * 1_000_003 + stream) % (1 << 64)], dtype=np.uint64))[0]
    return (_mix64(i.astype(np.uint64) ^ key) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


class DriftTabular:
    """KS, PSI and CvM/AD detectors plus the per-partition suite with W1
    over a seeded TPC-H-lineitem-shaped table."""

    name = "drift_tabular"
    n_orders = 4_000
    lines_per_order = 7  # parts come from l_linenumber 1..7
    n_outliers = 5
    outlier_value = 1e12
    tax_shift = 0.01  # added to l_tax on the test side: the one injected drift
    numeric_cols = ["l_extendedprice", "l_tax", "x_outlier"]
    cat_cols = ["l_returnflag"]
    w1_cols = ["l_extendedprice", "x_outlier"]
    # the unit after a single warm-up runs up to 10% slow, the next about as
    # fast again: every run times units from the same point of that curve
    warmup_units = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.n_rows = self.n_orders * self.lines_per_order

    def _table(self):
        import pandas as pd

        i = np.arange(self.n_rows, dtype=np.int64)
        orderkey = i // self.lines_per_order
        u = lambda s: _uniform(self.seed, s, i)  # noqa: E731
        is_test = (_mix64(orderkey.astype(np.uint64) ^ np.uint64(self.seed % (1 << 64)))
                   & np.uint64(1)) == 1
        quantity = np.floor(u(1) * 50) + 1
        price = np.round(quantity * (900 + u(2) * 1100), 2)
        discount = np.floor(u(3) * 11) / 100
        tax = np.floor(u(4) * 9) / 100 + np.where(is_test, self.tax_shift, 0.0)
        outlier = price * (1 - discount)
        picked = np.random.Generator(np.random.PCG64(self.seed)).choice(
            self.n_rows, self.n_outliers, replace=False)
        outlier[picked] = self.outlier_value
        return pd.DataFrame({
            "l_orderkey": orderkey,
            "l_linenumber": (i % self.lines_per_order + 1).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": discount,
            "l_tax": tax,
            "x_outlier": outlier,
            "l_returnflag": np.array(["A", "N", "R"])[(u(5) * 3).astype(np.int64)],
            "split": np.where(is_test, "test", "ref"),
        })

    def generate(self, spark, out: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(f"{out}/lineitem")
        table = pa.Table.from_pandas(self._table(), preserve_index=False)
        step = -(-self.n_rows // 4)
        for k in range(4):
            pq.write_table(table.slice(k * step, step), f"{out}/lineitem/part-{k}.parquet")

    def open(self, spark, inputs: str) -> None:
        from pyspark.sql import functions as F

        from driftspark.dataset import SparkDataset

        self.tagged = spark.read.parquet(f"{inputs}/lineitem")
        feats = self.numeric_cols + self.cat_cols
        self.ref = self.tagged.where(F.col("split") == "ref")
        self.test = self.tagged.where(F.col("split") == "test")
        self.ref_ds = SparkDataset(self.ref.select(*feats))
        self.test_ds = SparkDataset(self.test.select(*feats))
        # expected side sizes come from the generator, not from Spark
        t = self._table()
        self.n_ref = int((t["split"] == "ref").sum())
        self.n_test_by_part = t[t["split"] == "test"].groupby("l_linenumber").size().to_dict()

    def _suite(self, span):
        from driftspark.detectors import PSI, CvMAndersonDarling, KSTest
        from driftspark.verdicts import partition_verdicts

        out = {}
        for name, det in (("KSTest", KSTest), ("PSI", PSI), ("CvMAndersonDarling", CvMAndersonDarling)):
            with span(f"detectors.{name}.fit_detect"):
                out[name] = det().fit_detect(self.ref_ds, self.test_ds)
        with span("verdicts.partition_verdicts"):
            out["verdicts"] = partition_verdicts(
                self.tagged, numeric_cols=self.numeric_cols, cat_cols=self.cat_cols,
                part_col="l_linenumber", w1_cols=self.w1_cols,
            ).collect()
        return out

    def _check(self, out, wall) -> Unit:
        errors: List[str] = []
        for name in ("KSTest", "PSI", "CvMAndersonDarling"):
            _expect(errors, f"{name} flags the shifted l_tax", out[name].drift_detected, True)
        verdicts = out["verdicts"]
        checks = len(self.numeric_cols) * 2 + len(self.cat_cols) + len(self.w1_cols)
        _expect(errors, "verdict rows", len(verdicts), self.lines_per_order * checks)
        for r in verdicts:
            part = r["part"]
            if r["check"] in ("ks", "w1", "chi2"):
                _expect(errors, f"n_ref {r['feature']}/{r['check']}", r["n_ref"], self.n_ref)
                _expect(errors, f"n_test {part}/{r['feature']}/{r['check']}",
                        r["n_test"], self.n_test_by_part[part])
            if r["feature"] == "l_tax" and r["check"] == "ks":
                _expect(errors, f"ks flags l_tax in part {part}", r["passed"], False)
        rows = [(r["part"], r["feature"], r["check"], r["statistic"], r["passed"]) for r in verdicts]
        for name in ("KSTest", "PSI", "CvMAndersonDarling"):
            res = out[name]
            rows.append((name, res.score, res.statistic, res.drift_detected,
                         res.metadata.get("feature_results")))
        return Unit(wall, self.n_rows, digest(rows), errors)

    def unit(self) -> Unit:
        from contextlib import nullcontext

        out, wall = _timed(lambda: self._suite(lambda _name: nullcontext()))
        return self._check(out, wall)

    def traced_unit(self, tr: Tracer) -> Unit:
        out, wall = _timed(lambda: self._suite(tr.span))
        return self._check(out, wall)

    def layers(self, tr: Tracer) -> List[str]:
        from driftspark.verdicts import w1_by_partition

        with tr.span("verdicts.w1_by_partition"):
            w1_by_partition(self.ref, self.test, self.w1_cols, "l_linenumber").collect()
        return []

    def prepare_trace(self) -> None:
        pass

    def layer_metrics(self, tr: Tracer) -> Dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (ValidateImages, DriftTabular)}
