"""Exact all-pairs n-gram Jaccard: the small-scale spec that the
production composition ``dedup_lsh_jaccard`` (LSH candidates, then exact
Jaccard on candidate pairs only) must agree with on verification slices.
It is no registry slot; ``tests/test_spark_ops_semantics.py`` pins the
operator, its size guard and its DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_spark.ops.dedup import _NEAR_UNION, _SHINGLES_SQL, _shingles_with_card
from pii_spark.util import documents_sql

# Hard ceiling for the exact all-pairs variant: above this the
# shared-shingle self-join is a scale footgun (quadratic on hot shingles)
# and callers must use dedup_lsh_jaccard instead.
JACCARD_EXACT_MAX_DOCS = 200_000

JACCARD_EXACT_SMALLSCALE_ORACLE = f"""
        WITH sh AS ({_SHINGLES_SQL.format(union=_NEAR_UNION)}),
        card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               CAST(floor(i * 1000.0 / (ca.n + cb.n - i)) AS BIGINT) AS jac_pm
        FROM inter
        JOIN card ca ON ca.doc_id = id_a
        JOIN card cb ON cb.doc_id = id_b
        WHERE i * 1000.0 / (ca.n + cb.n - i) >= 500
        ORDER BY id_a, id_b
        """


def dedup_jaccard_exact_smallscale(
        spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup, EXACT ALL-PAIRS variant: shared-shingle
    self-join → intersection counts → |A∩B| / (|A|+|B|-|A∩B|) ≥ 0.5,
    emitted as floored per-mille.

    Deliberately small-scale: the shared-shingle self-join is quadratic
    on hot shingles, so this plan dies if run corpus-wide at web scale.
    The ``JACCARD_EXACT_MAX_DOCS`` guard below refuses such input."""
    docs = documents_sql(spark, sf_dir, _NEAR_UNION)
    # Bounded probe: limit(N+1).count() answers over/under without
    # materializing the whole corpus — at exactly the sizes this gate
    # refuses, a full count() would itself be an extra corpus pass.
    probed = docs.limit(JACCARD_EXACT_MAX_DOCS + 1).count()
    if probed > JACCARD_EXACT_MAX_DOCS:
        raise ValueError(
            f"dedup_jaccard_exact_smallscale: corpus exceeds "
            f"{JACCARD_EXACT_MAX_DOCS} docs; the all-pairs shared-shingle "
            "join is quadratic on hot shingles and must not run at this "
            "scale — use dedup_lsh_jaccard (LSH-pruned exact Jaccard) "
            "or raise oracles.dedup.JACCARD_EXACT_MAX_DOCS if you "
            "really mean it")
    shc = _shingles_with_card(docs)
    a, b = shc.alias("a"), shc.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"),
                 F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("i"),
             F.first("a.n").alias("na"), F.first("b.n").alias("nb"))
    )
    jac = F.col("i") * 1000.0 / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.where(jac >= 500)
        .select("id_a", "id_b",
                F.floor(jac).cast("long").alias("jac_pm"))
        .orderBy("id_a", "id_b")
    )
