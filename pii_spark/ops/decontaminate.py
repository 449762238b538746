"""Benchmark decontamination — the training-corpus hygiene pass that keeps
evaluation honest: drop (or flag) corpus documents sharing long word
n-grams with an evaluation/benchmark set, so test questions never leak
into training data. The GPT-3-family recipe: a document is contaminated
when it collides with the benchmark set on at least ``min_hits`` distinct
``n``-gram(s) (n=13 default — long enough that natural re-use is rare,
short enough to catch paraphrase-free copies).

The reference engine has no training-mix tooling at all; this implements
the standard published semantics Spark-first (the reference repo's scope
ends at PII extraction — infer_pii.py — so there is no file:line analogue;
the operator belongs to the LLM-data-pipeline family the engine adds, next
to dedup/ANN/curation).

Normalization (frozen, mirrored verbatim by the DuckDB oracle in
tests/test_decontaminate.py): lowercase, whitespace-tokenized, n-grams
joined by single spaces, DISTINCT per document — repetition spam cannot
inflate or dilute counts.

100 TB shape:

* The benchmark side is small by nature (eval suites: 10^3-10^5 docs).
  Its distinct n-gram set reduces to 32-hex md5 keys (~3x smaller than the
  raw 13-grams) and broadcasts — the corpus is NEVER shuffled for the
  probe. md5 keys are also what the committed artifact would store.
* The corpus side explodes n-grams doc-locally in ONE pass, LEFT-joins
  the broadcast key set, and partially aggregates — map-side combine
  reduces the gram rows to one (doc_id, n_ngrams, contam_hits) row per
  doc before the only exchanges, which carry those skinny triples and
  the id-only corpus projection; gram text never shuffles.
* Collisions: md5 over ~10^7 benchmark grams is birthday-safe by ~10^18;
  and a collision could only FLAG an innocent document (over-removal),
  never keep a contaminated one — the fail-safe direction for this gate.
* Documents with fewer than ``n`` tokens carry no n-grams and are always
  clean; catching short-form contamination needs a smaller ``n`` pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_spark.ops.textstats import _all_grams, _ws_norm


def _gram_array(text_col: str, n: int) -> Column:
    """The distinct lowercase word ``n``-grams of ``text_col``: the shared
    regex gram extractor (``textstats._all_grams``) over the shared
    normalizer, same frozen semantics as the HOF spec ``grams(tokens(c),
    n)`` in tests/oracles/spark_ops.py — exact parity is
    differential-pinned (adversarial + fuzz corpora,
    ``tests/test_decontaminate.py``). NULL text carries no grams."""
    return F.array_distinct(_all_grams(_ws_norm(F.lower(text_col)), n))


def benchmark_gram_keys(
    benchmarks: DataFrame,
    *,
    n: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """The persistable decontamination artifact: distinct md5 n-gram keys
    (``gh``) over the benchmark set, self-described by an ``n`` column.
    Eval suites change rarely while crawl increments arrive continuously —
    write this once per benchmark release (plain parquet; it broadcasts,
    so no bucketing needed) and pass it to
    ``contamination(..., bench_keys=...)`` to skip re-gramming the
    benchmarks on every increment. Append new suites' keys as they adopt
    (same ``n`` only — one artifact per gram size); duplicate keys across
    suites are harmless (the probe re-distincts).

    The ``n`` column exists because an artifact probed with the WRONG
    ``n`` would match zero grams and report every document clean — a
    silent fail-open for the hygiene gate. ``contamination`` asserts the
    recorded ``n`` row-by-row and fails the job loudly on mismatch."""
    return (
        benchmarks
        .select(F.explode(_gram_array(text_col, n)).alias("gram"))
        .select(F.md5("gram").alias("gh"))
        .distinct()
        .withColumn("n", F.lit(n))
    )


def contamination(
    corpus: DataFrame,
    benchmarks: DataFrame | None = None,
    *,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    bench_keys: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination counters: every ``corpus`` row as
    (``id_col``, n_ngrams, contam_hits) — distinct n-grams in the doc and
    how many of them occur anywhere in ``benchmarks``. Zero-gram documents
    (shorter than ``n`` tokens, empty, NULL) report (0, 0). Nothing is
    dropped here; ``decontaminate`` applies the keep/flag policy, and
    fraction-based policies (hits/n_ngrams) compose on top of this frame.

    Pass EITHER ``benchmarks`` (text; grammed here) or ``bench_keys`` (a
    persisted ``benchmark_gram_keys`` artifact — the incremental path;
    ``n`` must then match the value the artifact was built with, which
    the caller owns because a key frame carries no gram text to
    re-derive it from).

    Rows with a NULL ``id_col`` report NULL counters: per-doc counting
    keys on the id, so NULL-keyed rows would all merge into one
    meaningless aggregate (and a join back on NULL matches nothing) —
    NULL counters say "un-assessable" instead of a silently-wrong
    (0, 0). ``decontaminate`` routes such rows to ``dirty`` (fail-closed
    for a hygiene gate).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if (benchmarks is None) == (bench_keys is None):
        raise ValueError(
            "pass exactly one of benchmarks (text) or bench_keys "
            "(persisted benchmark_gram_keys artifact)")
    if bench_keys is None:
        bench_keys = benchmark_gram_keys(
            benchmarks, n=n, text_col=bench_text_col or text_col)
    else:
        if "n" in bench_keys.columns:
            # PRE-FLIGHT (VERDICT r5 #5): read ONE artifact row now, on
            # the driver, and refuse a mismatched n in seconds — before
            # any corpus work is even scheduled. The artifact is a plain
            # parquet scan, so first() costs one row of one file.
            first = bench_keys.select("n").first()
            if first is not None and first["n"] != n:
                raise ValueError(
                    f"benchmark_gram_keys artifact records a different n "
                    f"(n={first['n']}) than contamination(n={n}) — "
                    f"probing with a mismatched n would match zero grams "
                    f"and pass every contaminated doc as clean "
                    f"(fail-open); rebuild the artifact or pass the n it "
                    f"records")
            # ... and keep the row-by-row guard: the pre-flight samples
            # one row, but a corrupt artifact MIXING n values must still
            # die loudly at probe time, not silently fail open.
            bench_keys = bench_keys.where(F.assert_true(
                F.col("n") == F.lit(n),
                f"benchmark_gram_keys artifact was built with a "
                f"different n than contamination(n={n}) — rebuild the "
                f"artifact or pass the n it records").isNull())
        bench_keys = bench_keys.select("gh").distinct()
    # ONE gram pass: the exploded gram rows carry both counters — count(*)
    # per doc is n_ngrams and the broadcast LEFT join marks hits — instead
    # of evaluating the gram array twice (once for size, once for the hit
    # join). Zero-gram docs vanish in the explode and are restored by the
    # final left join from the id-only corpus projection.
    counts = (
        corpus
        .where(F.col(id_col).isNotNull())
        .select(F.col(id_col), _gram_array(text_col, n).alias("grams"))
        .select(id_col, F.explode("grams").alias("gram"))
        .select(id_col, F.md5("gram").alias("gh"))
        .join(F.broadcast(bench_keys.withColumnRenamed("gh", "__bench_gh")),
              F.col("gh") == F.col("__bench_gh"), "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.count("__bench_gh").alias("contam_hits"),
        )
    )
    null_counter = F.lit(None).cast("long")
    return (
        corpus.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.when(F.col(id_col).isNull(), null_counter)
            .otherwise(F.coalesce("n_ngrams", F.lit(0)))
            .alias("n_ngrams"),
            F.when(F.col(id_col).isNull(), null_counter)
            .otherwise(F.coalesce("contam_hits", F.lit(0)))
            .alias("contam_hits"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmarks: DataFrame | None = None,
    *,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    bench_keys: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(clean, dirty) split of ``corpus``: dirty rows share at least
    ``min_hits`` distinct ``n``-grams with the benchmark set and carry
    their (contam_hits, n_ngrams) counters for the audit trail; clean rows
    keep the input column set unchanged. Every input row lands in exactly
    one side. Rows with a NULL ``id_col`` are un-assessable (see
    ``contamination``) and land in ``dirty`` with NULL counters — the
    fail-closed direction for a hygiene gate (before this rule they
    silently passed as clean: a NULL key matches no dirty-id join)."""
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    counts = contamination(
        corpus, benchmarks, n=n, id_col=id_col, text_col=text_col,
        bench_text_col=bench_text_col, bench_keys=bench_keys)
    dirty_ids = counts.where(F.col("contam_hits") >= min_hits)
    null_counter = F.lit(None).cast("long")
    dirty = corpus.join(dirty_ids, id_col).unionByName(
        corpus.where(F.col(id_col).isNull())
        .withColumn("n_ngrams", null_counter)
        .withColumn("contam_hits", null_counter))
    clean = corpus.where(F.col(id_col).isNotNull()).join(
        dirty_ids.select(id_col), id_col, "left_anti")
    return clean, dirty
