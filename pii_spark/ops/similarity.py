"""Similarity search over the ``embeddings`` table (vec_id, embedding
float[64], label).

Float discipline: similarities are computed on integer-quantized vectors
(round(x*1000) as bigint) so dot products are EXACT integers — identical on
any engine, any summation order, any partitioning. Cosine thresholds compare
qdot² against qnorm products in double with wide margins (never emitted).

Scale path: brute-force top-k broadcasts the (tiny) query set and scans the
corpus once — the right plan when queries ≪ corpus. The LSH variant buckets
by deterministic hyperplane sign bits so each query probes its own bucket
and its Hamming-1 neighbours per table — the 100 TB shape (bucketed
storage, partition-pruned probes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_K = 5
_N_QUERIES = 10
_N_PLANES = 8    # sign bits (planes) per hash table
_N_TABLES = 4    # independent hash tables (candidates = union over tables)
_DIM = 64


from pii_spark.util import read_table as _t  # noqa: E402


def _quant(col):
    return F.transform(col, lambda x: F.round(x * 1000).cast("long"))


_QUANT_SQL = "list_transform({col}, x -> CAST(round(x * 1000) AS BIGINT))"
_QDOT_SQL = ("list_sum(list_transform(generate_series(1, {dim}), "
             "i -> {a}[i] * {b}[i]))")


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(f"rk <= {k}")
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "qdot", "rk")
        .orderBy("query_id", "rk")
    )


def _no_neighbors(eq: DataFrame, k: int) -> DataFrame:
    """The typed empty top-k frame (no query or no centroid to score
    against): the columns and types of a scored ``_rank_topk`` result."""
    return _rank_topk(
        eq.select(F.lit(0).cast("long").alias("query_id"),
                  "vec_id", F.lit(0).cast("long").alias("qdot"))
        .where(F.lit(False)), k)


def _small_side(eq: DataFrame, cond: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, mat) of the tiny side of a (vec_id, e) frame — the queries,
    probes or centroids matching ``cond``, in vec_id order: ids as int64,
    the quantized vectors as a (dim, n) int64 matrix, (0, 0) when empty.

    The fetch is an explicit collect: the same driver round-trip
    F.broadcast performed implicitly, now feeding a closure that every
    Arrow batch multiplies against (the small side ≪ corpus is each
    caller's contract). Quantization stays JVM-side, so rounding
    semantics stay Spark's. ids are int64 so a ``F.lit(ids)`` column is
    bigint, like vec_id."""
    rows = eq.where(cond).orderBy("vec_id").collect()
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    mat = (np.asarray([r["e"] for r in rows], dtype=np.int64).T
           if rows else np.zeros((0, 0), dtype=np.int64))
    return ids, mat


def _batch_mat(ev: pd.Series) -> np.ndarray:
    """One Arrow batch of quantized vectors as a (B, dim) int64 matrix."""
    return np.vstack(ev.to_numpy()).astype(np.int64, copy=False)


def knn_bruteforce_frame(e: DataFrame, n_queries: int = _N_QUERIES,
                         k: int = _K) -> DataFrame:
    """Exact top-k over any (vec_id, embedding) frame: ship the (tiny)
    query set to every task (``_small_side``), one corpus scan, exact
    integer dot products, rank per query.

    The scorer is ONE vectorized Arrow matmul instead of the earlier
    crossJoin + per-element higher-order-function dot: HOF lambdas
    evaluate interpreted per array element, so the 64-term dot paid
    ~queries x corpus x dim interpreter dispatches and the crossJoin
    materialized both quantized vectors onto every scored row (measured
    3x slower at sf1.0). Here the corpus is quantized ONCE, each Arrow
    batch computes all query dots as a single int64 (B,dim)@(dim,nq)
    matmul — exact, same integers — and only the skinny (query_id,
    vec_id, qdot) rows reach the rank window.

    NULL-embedding rows are un-scoreable and excluded on BOTH sides: as a
    candidate the NULL dot would merely rank last (desc puts NULLs last),
    but as a QUERY every dot is NULL and the window would emit k
    arbitrary ids as "neighbors" — silent garbage. Encode or drop such
    rows upstream."""
    eq = e.where(F.col("embedding").isNotNull()) \
        .select("vec_id", _quant("embedding").alias("e"))
    qids, qmat = _small_side(eq, f"vec_id < {n_queries}")
    if not qids.size:
        return _no_neighbors(eq, k)

    @F.pandas_udf("array<long>")
    def _dots(ev: pd.Series) -> pd.Series:
        return pd.Series(list(_exact_matmul(_batch_mat(ev), qmat)))

    scored = (
        eq.select("vec_id", F.posexplode(_dots("e")).alias("qi", "qdot"))
        .select(
            F.element_at(F.lit(qids), F.col("qi") + 1).alias("query_id"),
            "vec_id", "qdot")
        .where(F.col("query_id") != F.col("vec_id"))
    )
    return _rank_topk(scored, k)


def _exact_matmul(m: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Integer matrix product, through float64 BLAS when PROVABLY exact:
    if dim · max|m| · max|w| < 2^53 every elementary product and partial
    sum is an integer below 2^53, all exactly representable, so the BLAS
    result equals the int64 product bit-for-bit (order-independent —
    exact integers), at several times the speed of NumPy's non-BLAS
    int64 path. Anything bigger falls back to int64."""
    if m.size and w.size:
        bound = (int(np.abs(m).max()) * int(np.abs(w).max())
                 * int(m.shape[1]))
        if bound < (1 << 53):
            return np.rint(
                m.astype(np.float64) @ w.astype(np.float64)
            ).astype(np.int64)
    return m @ w


def _pair_dot_scorer(eq: DataFrame, n_queries: int):
    """``dot_q(e, query_id)`` for candidate-pair scoring: the exact int64
    dot of a row's quantized vector with THAT query's vector, via one
    Arrow (B,dim)@(dim,nq) matmul plus a row gather per batch — the HOF
    per-element form paid ~dim interpreted dispatches per scored pair."""
    qids, qmat = _small_side(eq, f"vec_id < {n_queries}")

    @F.pandas_udf("long")
    def dot_q(e: pd.Series, qid: pd.Series) -> pd.Series:
        prod = _exact_matmul(_batch_mat(e), qmat)
        cols = np.searchsorted(qids, qid.to_numpy().astype(np.int64))
        return pd.Series(prod[np.arange(len(cols)), cols])

    return dot_q


def _plane_weights(table: int) -> np.ndarray:
    """(dim, _N_PLANES) int64 weight matrix — the same global-sequence
    formula the per-element spec ``bucket_expr`` (tests/oracles/
    spark_ops.py) evaluates: plane g = table*_N_PLANES + j, dim i
    (1-based) -> ((g*64 + i) * 2654435761) % 19 - 9."""
    g = (np.int64(table) * _N_PLANES
         + np.arange(_N_PLANES, dtype=np.int64))[None, :]
    i = np.arange(1, _DIM + 1, dtype=np.int64)[:, None]
    return (g * 64 + i) * np.int64(2654435761) % 19 - 9


def knn_lsh_frame(e: DataFrame, n_queries: int = _N_QUERIES,
                  k: int = _K) -> DataFrame:
    """Multi-TABLE multi-probe LSH ANN over any (vec_id, embedding) frame.

    ``_N_TABLES`` (4) independent hash tables of ``_N_PLANES`` (8)
    hyperplane sign bits each; a query's candidates are the UNION over
    tables of its own bucket plus every bucket one bit-flip away
    (Hamming-1 probes: Indyk-Motwani LSH + multi-probe). Measured
    recall@5 vs exact top-k is ≥ 0.90 on clustered embeddings
    (same-cluster cosine ≈ 0.9 — the realistic text-embedding regime)
    scanning ~22% of the corpus; on the adversarial near-uniform
    synthetic corpus there is no structure to exploit and recall tracks
    the ~14% probe fraction (IVF, which adapts its probe set, is the
    uniform-regime recommendation at 0.84). Gates:
    tests/test_spark_ops_semantics.py::test_ann_recall_vs_bruteforce.

    Scale shape: the keyed corpus is rows×tables — exactly the MinHash-LSH
    banding trade — and the bucket join shuffles (tbl, bucket, vec). At
    100 TB the corpus would be *written* bucketed per table
    (util.write_bucketed_table) so probes are partition-pruned scans with
    zero shuffle; candidate dedup across tables happens on (query_id,
    vec_id) pairs only, never vectors."""
    # NULL-embedding rows are un-scoreable — see knn_bruteforce_frame
    # (here they would additionally land in one degenerate NULL-bit
    # bucket per table before the NULL dots rank)
    eq = e.where(F.col("embedding").isNotNull()) \
        .select("vec_id", _quant("embedding").alias("e"))
    # all tables' sign-bit buckets in ONE Arrow matmul per batch (the
    # per-element HOF form paid tables x planes x dim interpreted
    # dispatches per row); weights and comparisons are exact int64, so
    # the bucket strings are byte-identical to the HOF spec's
    wmats = np.concatenate(
        [_plane_weights(t) for t in range(_N_TABLES)], axis=1)

    @F.pandas_udf("array<string>")
    def _buckets(ev: pd.Series) -> pd.Series:
        bits = np.where(_exact_matmul(_batch_mat(ev), wmats) > 0, "1", "0")
        return pd.Series([
            ["".join(row[t * _N_PLANES:(t + 1) * _N_PLANES])
             for t in range(_N_TABLES)]
            for row in bits
        ])

    keyed = eq.select(
        "vec_id", "e",
        F.posexplode(_buckets("e")).alias("tbl", "bucket"))

    def flip(j: int) -> F.Column:  # the bucket with sign bit j flipped
        b = F.col("bucket")
        return F.concat(
            F.substring(b, 1, j - 1),
            F.when(F.substring(b, j, 1) == "1", "0").otherwise("1"),
            F.substring(b, j + 1, _N_PLANES),
        )

    q = keyed.where(f"vec_id < {n_queries}").select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket")
    probes = q.select("query_id", "tbl", F.explode(F.array(
        F.col("bucket"), *[flip(j) for j in range(1, _N_PLANES + 1)]
    )).alias("bucket"))
    # candidate generation and cross-table dedup on SKINNY rows: the probe
    # join and dropDuplicates shuffle (tbl, bucket, ids) / (query_id,
    # vec_id) pairs only — never the 64-long quantized vectors, which
    # re-attach afterwards (one corpus-bounded join for the candidate side,
    # a broadcast for the query side)
    cand = (
        keyed.select("vec_id", "tbl", "bucket")
        .join(F.broadcast(probes), ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        # a pair found by several tables/probes must score ONCE
        .dropDuplicates(["query_id", "vec_id"])
    )
    dot_q = _pair_dot_scorer(eq, n_queries)
    scored = (
        cand.join(eq, "vec_id")
        .select("query_id", "vec_id",
                dot_q("e", "query_id").alias("qdot"))
    )
    return _rank_topk(scored, k)


def register_queries(register) -> None:
    @register(
        "knn_bruteforce",
        oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, {_QUANT_SQL.format(col='embedding')} AS qe
                   FROM embeddings WHERE vec_id < {_N_QUERIES}),
        c AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS ce FROM embeddings),
        scored AS (
          SELECT query_id, vec_id,
                 CAST({_QDOT_SQL.format(dim=_DIM, a='qe', b='ce')} AS BIGINT) AS qdot
          FROM q CROSS JOIN c WHERE q.query_id <> c.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id, qdot, rk FROM (
          SELECT query_id, vec_id, qdot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qdot DESC, vec_id) AS rk
          FROM scored
        ) r WHERE rk <= {_K} ORDER BY query_id, rk
        """,
    )
    def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Brute-force top-k: broadcast the query set, one corpus scan,
        exact integer dot products, rank window per query."""
        return knn_bruteforce_frame(_t(spark, sf_dir, "embeddings"))

    # oracle generation shares the plane-weight formula with _plane_weights:
    # global plane g = table*planes + j, dim i -> ((g*64+i)*2654435761 % 19)-9
    def sign_bits(t: int) -> str:
        return " || ".join(
            "(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
            f"i -> e[i] * (CAST(({t * _N_PLANES + j} * 64 + i) * 2654435761 "
            "% 19 AS BIGINT) - 9))) > 0 THEN '1' ELSE '0' END)"
            for j in range(_N_PLANES)
        )

    keyed_sql = " UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS tbl, {sign_bits(t)} AS bucket FROM qv"
        for t in range(_N_TABLES)
    )
    flip_sql = " UNION ALL ".join(
        f"SELECT query_id, tbl, substr(bucket, 1, {j - 1}) || "
        f"(CASE WHEN substr(bucket, {j}, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr(bucket, {j + 1}) AS probe FROM q"
        for j in range(1, _N_PLANES + 1)
    )

    @register(
        "knn_lsh",
        oracle=f"""
        WITH qv AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS e
                    FROM embeddings),
        keyed AS ({keyed_sql}),
        q AS (SELECT vec_id AS query_id, tbl, bucket FROM keyed
              WHERE vec_id < {_N_QUERIES}),
        probes AS (
          SELECT query_id, tbl, bucket AS probe FROM q
          UNION ALL
          {flip_sql}
        ),
        cand AS (
          SELECT DISTINCT p.query_id, kk.vec_id
          FROM probes p JOIN keyed kk
            ON p.tbl = kk.tbl AND p.probe = kk.bucket
           AND p.query_id <> kk.vec_id
        ),
        scored AS (
          SELECT c.query_id, c.vec_id,
                 CAST({_QDOT_SQL.format(dim=_DIM, a='qq.e', b='vv.e')} AS BIGINT) AS qdot
          FROM cand c
          JOIN qv qq ON qq.vec_id = c.query_id
          JOIN qv vv ON vv.vec_id = c.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id, qdot, rk FROM (
          SELECT query_id, vec_id, qdot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qdot DESC, vec_id) AS rk
          FROM scored
        ) r WHERE rk <= {_K} ORDER BY query_id, rk
        """,
    )
    def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Multi-table multi-probe LSH ANN (see ``knn_lsh_frame``) over the
        embeddings table, oracle-checked against an independent DuckDB
        derivation of the same tables/probes/candidate-dedup plan."""
        return knn_lsh_frame(_t(spark, sf_dir, "embeddings"))

    @register(
        "embedding_near_dup",
        oracle=f"""
        WITH base AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS e
                      FROM embeddings),
        aug AS (
          SELECT vec_id, e FROM base
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, e FROM base WHERE vec_id % 25 = 0
        ),
        probes AS (SELECT vec_id AS id_a, e AS ea FROM aug WHERE vec_id >= 10000),
        scored AS (
          SELECT id_a, b.vec_id AS id_b,
                 CAST({_QDOT_SQL.format(dim=_DIM, a='ea', b='b.e')} AS BIGINT) AS ab,
                 CAST({_QDOT_SQL.format(dim=_DIM, a='ea', b='ea')} AS BIGINT) AS aa,
                 CAST({_QDOT_SQL.format(dim=_DIM, a='b.e', b='b.e')} AS BIGINT) AS bb
          FROM probes CROSS JOIN aug b WHERE id_a <> b.vec_id
        )
        SELECT id_a, id_b FROM scored
        WHERE ab > 0 AND CAST(ab AS DOUBLE) * ab >= 0.9999 * aa * bb
        ORDER BY id_a, id_b
        """,
    )
    def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Embedding-cosine near-dup detection: injected copies (vec_id %
        25 = 0 → +10000) must pair with their originals at cosine ≈ 1.
        Threshold compares qdot² ≥ 0.9999·‖a‖²‖b‖² in double — no float
        similarity is ever emitted.

        Scoring is one Arrow (B,dim)@(dim,P) int64 matmul per batch over
        the (tiny, collected) probe matrix, with the threshold applied
        vectorized — the same float64 ops (double·long, (0.9999·aa)·bb)
        the former per-pair expression evaluated, on the same exact
        integers. The crossJoin + 3 interpreted HOF dots per pair form
        ran ~corpus × probes × 3 × dim lambda dispatches (it stopped
        finishing at sf1.0; this finishes in ~1 s). Every aug row with
        vec_id ≥ 10000 is a probe, originals included: 80 of 2,080 rows
        at sf0.1 (2,000 embeddings), but about 10,800 of 20,800 at a
        20,000-row table, whose originals from 10,000 up count too — so
        the collected probe matrix is not small at that scale.
        Corpus-scale all-pairs similarity belongs to knn_lsh / knn_ivf,
        as SCALE.md documents."""
        e = _t(spark, sf_dir, "embeddings").select(
            "vec_id", _quant("embedding").alias("e"))
        aug = e.unionByName(
            e.where("vec_id % 25 = 0")
            .select((F.col("vec_id") + 10000).alias("vec_id"), "e"))
        pids, pmat = _small_side(aug, "vec_id >= 10000")
        if not pids.size:
            return aug.select(
                F.col("vec_id").alias("id_a"),
                F.col("vec_id").alias("id_b")).where(F.lit(False))
        anorm = np.einsum("dp,dp->p", pmat, pmat)  # exact ‖a‖² per probe

        @F.pandas_udf("array<int>")
        def _hits(ev: pd.Series) -> pd.Series:
            m = _batch_mat(ev)
            ab = _exact_matmul(m, pmat)        # (B, P) exact integers
            bb = np.einsum("bd,bd->b", m, m)   # exact ‖b‖² per row
            keep = (ab > 0) & (
                ab.astype(np.float64) * ab
                >= (np.float64(0.9999) * anorm) * bb[:, None])
            return pd.Series([np.flatnonzero(row).tolist() for row in keep])

        # the parquet scan yields a handful of partitions while the scorer
        # is pure per-row compute: spread it over the cluster (a ~10 MB
        # shuffle of quantized vectors buys corpus/cores-way parallelism
        # for the B x P matmul)
        par = spark.sparkContext.defaultParallelism
        return (
            aug.repartition(par)
            .select("vec_id", F.explode(_hits("e")).alias("pi"))
            .select(F.element_at(F.lit(pids), F.col("pi") + 1).alias("id_a"),
                    F.col("vec_id").alias("id_b"))
            .where(F.col("id_a") != F.col("id_b"))
            .orderBy("id_a", "id_b")
        )

    _register_ivf(register)


def _register_ivf(register) -> None:
    n_cent = 8

    oracle = f"""
    WITH v AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS e
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {n_cent}),
    assign AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, cent.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_QDOT_SQL.format(dim=_DIM, a='v.e', b='cent.ce')} DESC,
                          cent.cid) AS rn
        FROM v CROSS JOIN cent
      ) x WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, e AS qe, cid AS qcell FROM assign
          WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT query_id, a.vec_id,
             CAST({_QDOT_SQL.format(dim=_DIM, a='qe', b='a.e')} AS BIGINT) AS qdot
      FROM q JOIN assign a ON a.cid = q.qcell AND a.vec_id <> q.query_id
    )
    SELECT query_id, vec_id AS neighbor_id, qdot, rk FROM (
      SELECT query_id, vec_id, qdot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qdot DESC, vec_id) AS rk
      FROM scored
    ) r WHERE rk <= {_K} ORDER BY query_id, rk
    """

    @register("knn_ivf", oracle=oracle)
    def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF-style ANN: a deterministic coarse quantizer (the first 8
        vectors as centroids) partitions the corpus into cells; each query
        probes only its own cell. At 100 TB the corpus is *written*
        partitioned by cell id, so probes are partition-pruned scans — the
        assignment cross-join is corpus x 8 tiny broadcast rows, one pass.

        NULL-embedding rows are un-scoreable and excluded everywhere, as in
        knn_bruteforce_frame: a NULL row is never a centroid, a query or a
        candidate (as a query every dot would be NULL and the window would
        emit k arbitrary "neighbors"). The oracle SQL above still assigns
        NULL rows to a cell, so the two agree only on corpora without NULL
        embeddings; encode or drop such rows upstream."""
        from pyspark.sql import Window

        v = _t(spark, sf_dir, "embeddings") \
            .where(F.col("embedding").isNotNull()) \
            .select("vec_id", _quant("embedding").alias("e"))
        # centroid assignment in ONE Arrow matmul per batch: argmax over
        # the (B,8) dot matrix picks the FIRST maximum, i.e. the lowest
        # cid among ties — exactly the old row_number(qd desc, cid asc)
        # tie-break; dots are exact int64 either way
        cids, cmat = _small_side(v, f"vec_id < {n_cent}")
        if not cids.size:
            return _no_neighbors(v, _K)

        @F.pandas_udf("long")
        def _cell(ev: pd.Series) -> pd.Series:
            return pd.Series(cids[np.argmax(
                _exact_matmul(_batch_mat(ev), cmat), axis=1)])

        assign = v.select("vec_id", "e", _cell("e").alias("cid"))
        q = assign.where(f"vec_id < {_N_QUERIES}").select(
            F.col("vec_id").alias("query_id"),
            F.col("cid").alias("qcell"))
        dot_q = _pair_dot_scorer(v, _N_QUERIES)
        scored = (
            assign.join(F.broadcast(q),
                        (assign.cid == q.qcell)
                        & (assign.vec_id != q.query_id))
            .select("query_id", "vec_id",
                    dot_q("e", "query_id").alias("qdot"))
        )
        return _rank_topk(scored, _K)
