"""Spark-vs-DuckDB parity for the registry queries whose oracles embed the
shared fixture SQL (pii_spark/sqlfrag.py), and a pin on the oracle text.

The Spark side of these queries renders each fixture through
``sqlfrag.staged`` and the oracle through ``sqlfrag.inline``; equal result
frames on the same data are the check that both renderings of one stage
list produce the same values (the same compare as scripts/check_oracle.py).
"""

from __future__ import annotations

import hashlib
import json

import pytest

from pii_spark.queries import ORACLES, QUERIES
from scripts.check_oracle import mismatch, query_line

FIXTURE_QUERIES = [
    "detector_counts", "checksum_validate", "should_be_public",
    "span_filter_hof", "sanitize_values", "validate_formats",
    "company_id_migration", "redact", "review_semi_join",
    "review_add_missing", "distinct_values_report", "array_set_ops",
]


def test_oracle_text_unchanged():
    """The DuckDB oracles are the reference: re-expressing the fixtures
    must not change one byte of their SQL."""
    digest = hashlib.sha256(
        json.dumps(sorted(ORACLES.items())).encode()).hexdigest()
    assert digest == (
        "dde7912ed470ed5dd96a9d123ecfeefd332cddc7ee62f82c1215efcf05511f8e")


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", FIXTURE_QUERIES)
def test_fixture_query_matches_oracle(spark, sf_dir, duck, name):
    got = QUERIES[name](spark, sf_dir).toPandas()
    assert len(got) > 0
    assert mismatch(got, duck.execute(ORACLES[name]).df()) is None


def test_query_line_times_spark_and_oracle_apart():
    assert query_line(True, "curation_dag", "306 rows match", 12.44, 87.6) \
        == "ok   curation_dag [spark 12.4s, oracle 87.6s]: 306 rows match"
    assert query_line(True, "knn", "rows-only, 5 rows", 0.31) \
        == "ok   knn [spark 0.3s]: rows-only, 5 rows"
    assert query_line(False, "q", "2 differing rows\n  spark: []", 1.0, 0.0) \
        == "FAIL q [spark 1.0s, oracle 0.0s]: 2 differing rows\n  spark: []"
