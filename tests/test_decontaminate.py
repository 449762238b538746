"""Benchmark decontamination (ops/decontaminate.py): GPT-3-style n-gram
collision against an eval set. DuckDB-oracle verified (same rigor as the
registry oracles; the 50-slot registry is full), plus plan gates for the
broadcast shape and policy/edge properties."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pii_spark.ops.decontaminate import (
    benchmark_gram_keys, contamination, decontaminate)


def _mk_corpus():
    rows = []
    for i in range(40):
        words = [f"palavra{i}w{j * 7 % 29}" for j in range(60)]
        rows.append((i, " ".join(words)))
    rows.append((100, "curto demais para treze grams"))   # < n tokens
    rows.append((101, ""))                                # empty
    rows.append((102, None))                              # NULL text
    # repetition spam: the SAME contaminated window repeated 10x must
    # count once (distinct grams per doc)
    return rows


def _mk_benchmarks(corpus_rows):
    # benchmark docs = 13-token windows sliced out of corpus docs 3 and 7
    # (guaranteed collisions), plus unrelated clean text
    w3 = corpus_rows[3][1].split()[10:23]
    w7 = corpus_rows[7][1].split()[0:13]
    return [
        (0, "Qual a capital do estado? " + " ".join(w3)),
        (1, " ".join(w7)),
        (2, "texto de benchmark totalmente independente sem colisao"),
    ]


@pytest.fixture(scope="module")
def frames(spark):
    corpus_rows = _mk_corpus()
    spam_window = " ".join(corpus_rows[3][1].split()[10:23])
    corpus_rows.append((103, (spam_window + " ") * 10))
    bench_rows = _mk_benchmarks(corpus_rows)
    cpdf = pd.DataFrame(corpus_rows, columns=["doc_id", "text"])
    bpdf = pd.DataFrame(bench_rows, columns=["doc_id", "text"])
    return (
        spark.createDataFrame(cpdf, "doc_id long, text string"),
        spark.createDataFrame(bpdf, "doc_id long, text string"),
        cpdf, bpdf,
    )


def test_contamination_vs_duckdb_oracle(frames):
    import duckdb

    corpus, bench, cpdf, bpdf = frames
    got = [(r["doc_id"], r["n_ngrams"], r["contam_hits"])
           for r in contamination(corpus, bench, n=13)
           .orderBy("doc_id").collect()]

    con = duckdb.connect()
    con.register("corpus", cpdf)
    con.register("bench", bpdf)
    want = con.sql(r"""
        WITH ctoks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS toks
          FROM corpus),
        cg AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 12, 0)),
                   i -> array_to_string(list_slice(toks, i, i + 12), ' ')))
                   AS grams
          FROM ctoks),
        cgrams AS (SELECT doc_id, unnest(grams) AS gram FROM cg),
        btoks AS (
          SELECT list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS toks
          FROM bench),
        bgrams AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 12, 0)),
                   i -> array_to_string(list_slice(toks, i, i + 12), ' '))))
                   AS gram
          FROM btoks),
        hits AS (
          SELECT doc_id, count(*) AS c
          FROM cgrams JOIN bgrams USING (gram) GROUP BY doc_id)
        SELECT cg.doc_id,
               coalesce(len(cg.grams), 0) AS n_ngrams,
               coalesce(h.c, 0) AS c
        FROM cg LEFT JOIN hits h USING (doc_id)
        ORDER BY cg.doc_id
    """).fetchall()
    assert got == want
    by_id = dict((d, (g, h)) for d, g, h in got)
    # the sliced windows really collided, clean prose really did not
    assert by_id[3][1] >= 1 and by_id[7][1] >= 1
    assert by_id[0][1] == 0
    # short/empty/NULL docs carry no grams and are clean
    for d in (100, 101, 102):
        assert by_id[d] == (0, 0)
    # repetition spam counts each distinct gram once: doc 103 repeats ONE
    # 13-token window 10x; its distinct grams are the window's rotations,
    # far fewer than the ~118 raw positions
    assert by_id[103][0] < 30


def test_decontaminate_split_policy(frames):
    corpus, bench, _, _ = frames
    clean, dirty = decontaminate(corpus, bench, n=13, min_hits=1)
    clean_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    dirty_rows = {r["doc_id"]: r for r in dirty.collect()}
    # exactly-one-side partition of the input
    all_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert clean_ids | set(dirty_rows) == all_ids
    assert clean_ids & set(dirty_rows) == set()
    assert {3, 7, 103} <= set(dirty_rows)
    assert {0, 100, 101, 102} <= clean_ids
    # audit columns ride on the dirty side; clean keeps the input columns
    assert dirty_rows[3]["contam_hits"] >= 1
    assert set(clean.columns) == {"doc_id", "text"}
    # a stricter min_hits keeps borderline docs
    hits3 = dirty_rows[3]["contam_hits"]
    clean2, dirty2 = decontaminate(corpus, bench, n=13,
                                   min_hits=hits3 + 1)
    ids2 = {r["doc_id"] for r in dirty2.select("doc_id").collect()}
    assert 3 not in ids2


def test_decontaminate_plan_gates(frames):
    corpus, bench, _, _ = frames
    counts = contamination(corpus, bench, n=13)
    plan = counts._jdf.queryExecution().executedPlan().toString()
    # benchmark keys broadcast to the corpus-side probe; the corpus is
    # never cartesian-joined or broadcast itself
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the (doc_id, hits) aggregation combines map-side before its exchange
    assert "partial_count" in plan or "partial" in plan.lower()


def test_decontaminate_validation(frames):
    corpus, bench, _, _ = frames
    with pytest.raises(ValueError):
        contamination(corpus, bench, n=0)
    with pytest.raises(ValueError):
        decontaminate(corpus, bench, min_hits=0)


def test_bench_keys_artifact_parity(frames, tmp_path):
    """The incremental path — a persisted benchmark_gram_keys artifact —
    must produce row-identical contamination counters and the identical
    clean/dirty split as gramming the benchmark text inline."""
    corpus, bench, _, _ = frames
    spark = corpus.sparkSession

    keys = benchmark_gram_keys(bench, n=13)
    assert keys.columns == ["gh", "n"]
    # round-trip through parquet: the artifact is what production persists
    path = str(tmp_path / "bench_keys")
    keys.write.parquet(path)
    keys_rt = spark.read.parquet(path)

    inline = contamination(corpus, bench, n=13).orderBy("doc_id").collect()
    via_keys = (contamination(corpus, bench_keys=keys_rt, n=13)
                .orderBy("doc_id").collect())
    assert inline == via_keys

    c1, d1 = decontaminate(corpus, bench, n=13, min_hits=1)
    c2, d2 = decontaminate(corpus, bench_keys=keys_rt, n=13, min_hits=1)
    ids = lambda df: sorted(r["doc_id"] for r in df.select("doc_id").collect())
    assert ids(c1) == ids(c2) and ids(d1) == ids(d2)

    # appending a second suite's keys (with overlap) is the incremental
    # update story: duplicates across suites must not double-count hits
    keys_rt.write.mode("append").parquet(path)
    doubled = spark.read.parquet(path)
    via_doubled = (contamination(corpus, bench_keys=doubled, n=13)
                   .orderBy("doc_id").collect())
    assert inline == via_doubled


def test_bench_keys_xor_benchmarks(frames):
    corpus, bench, _, _ = frames
    keys = benchmark_gram_keys(bench, n=13)
    with pytest.raises(ValueError, match="exactly one"):
        contamination(corpus, bench, bench_keys=keys)
    with pytest.raises(ValueError, match="exactly one"):
        contamination(corpus)
    with pytest.raises(ValueError, match="exactly one"):
        decontaminate(corpus, bench, bench_keys=keys)


def test_gram_array_fast_path_matches_hof_reference(spark):
    """The production regex gram derivation (`_gram_array`) must be
    element-identical (as a set — both distinct) to the interpreted-HOF
    reference (`grams(tokens(c), n)`) on adversarial and fuzz corpora;
    the HOF form is the executable spec of the frozen normalization."""
    import random

    from oracles.spark_ops import grams, tokens

    from pii_spark.ops.decontaminate import _gram_array

    def hof(df, n):
        return (df.select("doc_id", tokens("text").alias("toks"))
                  .select("doc_id", grams(F.col("toks"), n).alias("grams")))

    def fast(df, n):
        return df.select("doc_id", _gram_array("text", n).alias("grams"))

    adversarial = [
        (0, "a b c d e f g h i j k l m n o p"),
        (1, "  leading   and \t tabbed\nnewline words here to make "
            "thirteen tokens total pad pad"),
        (2, "short doc"),
        (3, None),
        (4, ""),
        (5, "   \t\n  "),
        (6, "rep rep rep rep rep rep rep rep rep rep rep rep rep rep"),
        (7, "MiXeD CaSe TOKENS lower UPPER case mix pad pad pad pad "
            "pad pad pad"),
        (8, "já très éfé não ção word word word word word word word word"),
        (9, "a " * 200),
    ]
    rng = random.Random(7)
    alpha = [f"tok{i}" for i in range(30)] + ["été", "não", "x"]
    ws = [" ", "  ", "\t", "\n", "", "\r"]
    fuzz = []
    for i in range(300):
        parts = []
        for _ in range(rng.randint(0, 40)):
            parts.append(rng.choice(alpha))
            parts.append(rng.choice(ws))
        fuzz.append((100 + i, "".join(parts)))

    df = spark.createDataFrame(adversarial + fuzz,
                               "doc_id long, text string")
    for n in (1, 2, 13):
        a = {r["doc_id"]: sorted(r["grams"]) for r in hof(df, n).collect()}
        b = {r["doc_id"]: sorted(r["grams"]) for r in fast(df, n).collect()}
        assert a == b, f"n={n}: mismatch on " \
            f"{ [k for k in a if a[k] != b[k]][:3] }"


def test_null_id_rows_fail_closed(spark):
    """NULL-id corpus rows are un-assessable (per-doc counters key on
    the id; a NULL key matches no join) — contamination reports NULL
    counters and decontaminate routes them to dirty, never clean."""
    corpus = spark.createDataFrame(
        [(None, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "unrelated words entirely here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id long, text string")

    counts = {r["doc_id"]: (r["n_ngrams"], r["contam_hits"])
              for r in contamination(corpus, bench, n=4).collect()}
    assert counts[None] == (None, None)
    assert counts[1] == (1, 1)
    assert counts[2] == (1, 0)

    clean, dirty = decontaminate(corpus, bench, n=4)
    assert {r["doc_id"] for r in clean.collect()} == {2}
    drows = {r["doc_id"]: (r["n_ngrams"], r["contam_hits"])
             for r in dirty.collect()}
    assert set(drows) == {None, 1}
    assert drows[None] == (None, None)


def test_bench_keys_wrong_n_fails_loudly(frames, tmp_path):
    """Probing a persisted artifact with a different n than it was built
    with would match zero grams and report everything clean — the probe
    must fail the job loudly instead of failing open."""
    from py4j.protocol import Py4JJavaError

    corpus, bench, _, _ = frames
    spark = corpus.sparkSession
    path = str(tmp_path / "k13")
    benchmark_gram_keys(bench, n=13).write.parquet(path)
    keys = spark.read.parquet(path)
    with pytest.raises(Exception, match="different n|ASSERT"):
        contamination(corpus, bench_keys=keys, n=12).collect()
    # matching n still flows
    assert contamination(corpus, bench_keys=keys, n=13).count() > 0
    # a pre-"n"-column artifact (legacy) skips the guard
    legacy = keys.select("gh")
    assert contamination(corpus, bench_keys=legacy, n=12).count() > 0

def test_bench_keys_wrong_n_preflights_before_corpus_scan(frames, tmp_path):
    """The wrong-n failure must fire in the DRIVER pre-flight (one artifact
    row), before any corpus work runs: probe with a corpus whose evaluation
    would itself raise — if the corpus were scanned first (or at all), the
    error would be the corpus poison, not the artifact ValueError."""
    corpus, bench, _, _ = frames
    spark = corpus.sparkSession
    path = str(tmp_path / "k13pf")
    benchmark_gram_keys(bench, n=13).write.parquet(path)
    keys = spark.read.parquet(path)
    poisoned = corpus.withColumn(
        "text", F.assert_true(F.lit(False), "corpus was scanned").cast(
            "string"))
    with pytest.raises(ValueError, match="different n"):
        contamination(poisoned, bench_keys=keys, n=12)
