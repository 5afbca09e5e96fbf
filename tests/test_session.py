"""Session defaults: a warm second pass reuses every generated class.

Spark's code-generation cache defaults to 100 entries; one validation or
drift-suite pass plans more distinct classes than that, so with the default
each pass evicts its own classes and the next pass Janino-compiles them
again.  ``get_spark`` sizes the cache so a repeated pass compiles nothing.
"""

from pyspark.sql import functions as F

from driftspark.runner import run_validation
from driftspark.synth import synth_dataset_dim, synth_image_pairs_wide, synth_image_table
from driftspark.verdicts import partition_verdicts


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiles_per_call(spark, fn) -> int:
    before = _compiled(spark)
    fn()
    return _compiled(spark) - before


def _images(spark):
    # the literal in the filter is inlined into every generated stage that
    # reads the table, so the first call below compiles fresh classes even
    # when earlier tests planned the same operators
    img = synth_image_table(
        spark, 3000, n_parts=3, drift=True, with_bytes=False, num_partitions=2
    )
    return img.where(F.col("w") != -20_260_417)


def test_codegen_cache_sized_for_repeated_passes(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2000


def test_second_run_validation_compiles_nothing(spark):
    img = _images(spark)
    pairs = synth_image_pairs_wide(spark, 100, corrupt_every=50, num_partitions=2)
    dim = synth_dataset_dim(spark)

    def call():
        res = run_validation(img, pairs=pairs, parent=dim)
        assert res.n_images == 3000 and res.n_pairs == 100

    assert _compiles_per_call(spark, call) > 0
    assert _compiles_per_call(spark, call) == 0


def test_second_partition_verdicts_compiles_nothing(spark):
    # a second literal: run_validation above already ran partition_verdicts
    # over _images, so without it the first call here could compile nothing
    img = _images(spark).where(F.col("h") != -20_260_418)

    def call():
        rows = partition_verdicts(
            img, numeric_cols=["w", "h", "phash"], cat_cols=["fmt"], ks_cols=["w"]
        ).collect()
        assert len(rows) == 3 * (3 + 1 + 1)  # psi x3 + ks x1 + chi2 x1

    assert _compiles_per_call(spark, call) > 0
    assert _compiles_per_call(spark, call) == 0
