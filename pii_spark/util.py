"""Small shared helpers for the engine and the query registry."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver-provided parquet table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def documents_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Registry SQL text that reads ``documents``, run by Spark over the
    driver-provided documents table — so a corpus both engines derive from
    ``documents`` is written once, as the text the DuckDB oracle embeds."""
    return spark.sql("WITH documents AS (SELECT * FROM {d}) " + sql,
                     d=read_table(spark, sf_dir, "documents"))


def write_bucketed_table(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on a join key.

    The co-located-join tool for repeated fact-fact joins at 100 TB: two
    tables bucketed the same way join with ZERO Exchange — the bucket id IS
    the partition assignment, so a join that would shuffle terabytes runs
    map-side (pinned by tests/test_plans.py::test_bucketed_join_no_exchange).
    Use for the corpora this engine re-joins every run: results keyed by
    url, shingle/signature tables keyed by doc_id, ANN cells keyed by
    bucket id. Bucket count is a fixed layout property — pick it for the
    TARGET scale (e.g. 2^12-2^14 at 100 TB) since changing it rewrites the
    table."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def checksum_udf(batch_fn):
    """Vectorized boolean pandas UDF over a string column — the Arrow-batched
    wrapper for the pii_core BATCH checksum validators
    (``cpf_checksum_ok_batch`` / ``cnpj_checksum_ok_batch``), which run the
    digit-matrix mod-11 algebra in NumPy over the whole batch (north rule:
    checksum validation over Arrow batches, never per-row — or per-element —
    Python at the DataFrame level)."""
    import numpy as np  # noqa: PLC0415

    @F.pandas_udf("boolean")
    def ok(s: pd.Series) -> pd.Series:
        return pd.Series(np.asarray(batch_fn(s), dtype=bool), index=s.index)

    return ok
