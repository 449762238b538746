"""SparkSession builder with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB target and merely *verified* on
local[32]:

* AQE on — runtime coalescing of post-shuffle partitions and skew-join
  splitting (compute skew from pathological hosts is additionally handled by
  the explicit salted repartition in ``extract.py``).
* Arrow on, bounded batch size — the extraction UDF is an iterator-of-batches
  ``mapInPandas``; maxRecordsPerBatch bounds executor memory to
  ~batch×avg_doc_size regardless of input partition size.
* shuffle partitions sized to cores by default (tiny local runs) — a real
  cluster deployment overrides via ``spark-submit --conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Docs per Arrow batch entering the extraction UDF. On 4 vCPUs (5,000-page
# crawl passes, seeds 5 and 9, 8 alternating reps per size in one session)
# 1024, 512 and 256 are within noise: medians 2.98 / 3.14 / 3.11 s and
# 2.93 / 2.99 / 2.94 s per pass. 4096 was not re-timed; on an earlier host
# it regressed (worse tail balance). The size bounds memory: the worst-case
# batch at 1024 is ~64 MB (1024 x ~60 KB long-doc html).
ARROW_BATCH = 1024


def get_spark(
    app: str = "pii-webtext-extractor",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None and cores is not None:
        master = f"local[{cores}]"
        if shuffle_partitions is None:
            shuffle_partitions = cores
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.TOKENIZERS_PARALLELISM", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
