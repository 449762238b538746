"""Higher-order-function forms of the Spark operators' doc-local
derivations: the readable sequence/transform/explode specs that the
production regex, sorted-run and Arrow-matmul forms replaced. Each is the
executable spec its differential test checks production against, row for
row. Do not call them on large inputs: their lambdas run interpreted per
element, and several embed the tokenization expression, which then re-runs
at every gram position."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_spark.ops.similarity import _DIM


def shingles_hof(df: DataFrame) -> DataFrame:
    """Spec of ``pii_spark.ops.dedup._shingles``: (doc_id, sh) per distinct
    word 3-gram of a split-on-' ' tokenization. Docs with fewer than 3
    tokens yield no shingles — guarded explicitly: Spark's sequence(1, 0)
    counts DOWN to [1, 0] (unlike DuckDB's empty generate_series), which
    would index element_at out of bounds."""
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    idx = F.when(
        F.size(toks) >= 3, F.sequence(F.lit(1), F.size(toks) - 2)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    return df.select("doc_id", F.explode(F.array_distinct(sh)).alias("sh"))


def dup_line_stats_hof(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Spec of ``pii_spark.ops.textstats.with_dup_line_stats``: the
    explode → groupBy(id, line) derivation of ``dup_line_pm`` /
    ``dup_line_char_pm``. Docs with no non-blank lines are ABSENT (the
    production projection reads 0 for them)."""
    lines = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("l")
    ).select(
        id_col, F.regexp_replace("l", r"^\s+|\s+$", "").alias("l"),
    ).where(F.col("l") != "")
    per_line = lines.groupBy(id_col, "l").agg(F.count("*").alias("c"))
    return per_line.groupBy(id_col).agg(
        F.floor(F.sum(F.col("c") - 1) * 1000.0 / F.sum("c"))
        .cast("long").alias("dup_line_pm"),
        F.floor(F.sum(F.when(F.col("c") > 1,
                             F.col("c") * F.length("l")).otherwise(0))
                * 1000.0 / F.sum(F.col("c") * F.length("l")))
        .cast("long").alias("dup_line_char_pm"),
    )


def ngram_repetition_stats_hof(
    docs: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Spec of ``pii_spark.ops.textstats.ngram_repetition_stats``: the
    sequence+transform gram build, exploded and counted by
    groupBy(id, n, gram)."""
    ns = sorted(set(top_ns) | set(dup_ns))
    if not ns or min(ns) < 2:
        raise ValueError(f"n-gram sizes must be >= 2, got {ns}")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")

    def gram_array(n):
        def mk(i):
            return F.concat_ws(" ", *[
                F.element_at(toks, i + j) for j in range(n)])
        return F.when(
            F.size(toks) >= n,
            F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                        lambda i: F.struct(F.lit(n).alias("n"),
                                           mk(i).alias("g")))
        ).otherwise(F.array().cast(
            "array<struct<n:int,g:string>>"))

    exploded = docs.select(
        F.col(id_col),
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
        .alias("tok_chars"),
        F.explode(F.concat(*[gram_array(n) for n in ns])).alias("x"),
    ).select(id_col, "tok_chars", "x.n", "x.g")
    counts = exploded.groupBy(id_col, "tok_chars", "n", "g").agg(
        F.count("*").alias("c"))
    glen = F.length("g") - (F.col("n") - 1)
    per_n = counts.groupBy(id_col, "n").agg(
        F.max(F.struct(F.col("c"), glen.alias("gl"), F.col("g"))).alias("m"),
        F.sum(F.when(F.col("c") >= 2, F.col("c") * glen).otherwise(0))
        .alias("dup_chars"),
        F.first("tok_chars").alias("tc"),
    ).select(
        id_col, "n",
        F.least(F.lit(1000), F.floor(
            F.col("m.c") * F.col("m.gl") * 1000.0 / F.col("tc"))
            .cast("long")).alias("top_pm"),
        F.least(F.lit(1000), F.floor(
            F.col("dup_chars") * 1000.0 / F.col("tc")).cast("long"))
        .alias("dup_pm"),
    )
    agg_cols = (
        [F.max(F.when(F.col("n") == n, F.col("top_pm")))
         .alias(f"top_{n}gram_char_pm") for n in sorted(set(top_ns))]
        + [F.max(F.when(F.col("n") == n, F.col("dup_pm")))
           .alias(f"dup_{n}gram_char_pm") for n in sorted(set(dup_ns))]
    )
    stats = per_n.groupBy(id_col).agg(*agg_cols)
    out_cols = [c for c in stats.columns if c != id_col]
    return docs.select(id_col).join(stats, id_col, "left").select(
        id_col, *[F.coalesce(c, F.lit(0)).alias(c) for c in out_cols])


def bucket_expr(col: Column, table: int, planes: int) -> Column:
    """Spec of the LSH bucket keys ``pii_spark.ops.similarity`` derives
    with one matmul per batch: the sign-bit key for hash table ``table``,
    per element. Planes come from one deterministic global sequence
    (global plane g = table*planes+j, dim i -> integer weight
    ((g*64+i)*2654435761 % 19) - 9), so tables are independent."""
    def weight(g):
        # NB: capture g via factory — a 3-arg lambda would be misread
        return lambda x, i: x * (
            ((F.lit(g) * 64 + i) * 2654435761 % 19).cast("long") - 9)

    bits = []
    for j in range(planes):
        s = F.aggregate(
            F.zip_with(col, F.sequence(F.lit(1), F.lit(_DIM)),
                       weight(table * planes + j)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        bits.append(F.when(s > 0, "1").otherwise("0"))
    return F.concat(*bits)


def tokens(text_col: str) -> Column:
    """Lowercase whitespace tokens of ``text_col`` — the frozen
    normalization of ``pii_spark.ops.decontaminate._gram_array``."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")


def grams(toks: Column, n: int) -> Column:
    """Spec of ``pii_spark.ops.decontaminate._gram_array`` over a
    ``tokens`` column: DISTINCT single-space-joined word ``n``-grams.

    ``toks`` MUST be a materialized column (an attribute from a prior
    projection), never the tokenization expression itself: in interpreted
    mode the lambda body re-evaluates per element, so an embedded split()
    would re-run the tokenizer regex once per gram position."""
    # guard the short-doc case explicitly: Spark's sequence(1, 0) counts
    # DOWN to [1, 0] (unlike DuckDB's empty generate_series) and would
    # slice out of bounds
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")))
