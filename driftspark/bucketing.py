"""Bucketed-storage co-location — the shuffle-free join layer.

At 10^12 rows the dominant cost of pairwise payload validation is shuffling
image bytes to co-locate the ref/test copies of each image_id.  Writing
both tables BUCKETED BY the join key removes that shuffle entirely: Spark's
sort-merge join on two tables bucketed identically needs NO Exchange (the
test suite asserts this on a real plan).  With Iceberg the same effect
comes from storage-partitioned joins on bucket-partitioned tables; this
module uses the built-in Hive-catalog bucketing so it runs anywhere a
metastore-capable Spark runs.

Usage:
    spark = hive_enabled_session(warehouse_dir)
    write_bucketed(ref_df, "ref_images", "image_id", 64)
    write_bucketed(test_df, "test_images", "image_id", 64)
    checks = validate_image_payloads_bucketed(spark, "ref_images", "test_images")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from driftspark.session import get_spark


def hive_enabled_session(
    warehouse_dir: str,
    master: str = "local[8]",
    shuffle_partitions: int = 32,
    app_name: str = "driftspark-bucketed",
) -> SparkSession:
    """Session with a Hive catalog (required for bucketed saveAsTable),
    built by ``session.get_spark`` so it carries the same defaults.

    Must be the FIRST session in the JVM — catalogImplementation is fixed
    at context creation."""
    return get_spark(
        app_name=app_name,
        master=master,
        shuffle_partitions=shuffle_partitions,
        extra_conf={
            "spark.sql.catalogImplementation": "hive",
            "spark.sql.warehouse.dir": f"{warehouse_dir}/warehouse",
            "javax.jdo.option.ConnectionURL": (
                f"jdbc:derby:;databaseName={warehouse_dir}/metastore_db;create=true"
            ),
        },
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed+sorted by ``bucket_col`` so equi-joins on
    that key between identically-bucketed tables are shuffle-free."""
    (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two identically-bucketed tables on their bucket key — plans as
    SortMergeJoin with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key)


def validate_image_payloads_bucketed(
    spark: SparkSession,
    ref_table: str,
    test_table: str,
    min_psnr: float = 40.0,
    max_parallelism: int | None = None,
) -> DataFrame:
    """Payload validation over two bucketed image tables — the zero-shuffle
    variant of imageops.validate_image_payloads: bytes never leave the
    node that read them.  The bucketed join feeds the SAME paired decode
    path the streaming/bench runners use (imageops.
    validate_image_payloads_paired), so the storage layout helper and the
    scale decode path are one route; ``max_parallelism`` caps concurrent
    Python/Arrow decode streams per host (see that function's docstring)."""
    from driftspark.imageops import validate_image_payloads_paired

    ref = spark.table(ref_table).select(
        "image_id",
        F.col("bytes").alias("ref_bytes"),
        F.col("caption").alias("ref_caption"),
        "fmt",
    )
    test = spark.table(test_table).select(
        "image_id",
        F.col("bytes").alias("test_bytes"),
        F.col("caption").alias("test_caption"),
    )
    joined = ref.join(test, "image_id")
    return validate_image_payloads_paired(joined, min_psnr, max_parallelism)
