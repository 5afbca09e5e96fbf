"""SparkSession construction with scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "driftspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults chosen for the validation workload:
    - AQE on (runtime coalescing + skew-join splitting for the constraint
      joins, SURVEY.md §2.3 J4/J5);
    - Arrow on for every pandas-UDF boundary (no per-row Python anywhere);
    - codegen cache sized for repeated passes: one ``run_validation`` pass
      plans about 190 distinct generated classes and one drift-suite pass
      about 220, so Spark's default of 100 entries evicts each pass's
      classes before the next pass asks for them and every pass
      Janino-compiles (and JIT-warms) identical plans again; 2000 entries
      keep them all and a warm pass compiles nothing;
    - shuffle partitions sized to the local core count in the sandbox; on a
      real cluster pass ``shuffle_partitions`` ~ 2-3x total executor cores.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
