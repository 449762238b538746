"""Domain-mixing operators — keeping any single host from dominating the
training mix. Web crawls are power-law distributed: a handful of hosts
(forums, wikis, link farms) can contribute an outsized share of tokens,
and corpora built from them over-weight those domains (the C4/Gopher
family caps per-domain contribution for exactly this reason).

``cap_host_tokens`` enforces a per-host token budget with a DETERMINISTIC,
partition-invariant preference order (content-hash of the doc key, the
``train_val_split`` idiom — never ``rand()``), so the same corpus capped
on any cluster size keeps exactly the same documents.

``sample_mixture`` is the mixture assembly step itself: given per-source
token budgets (the published LLM recipe — N tokens of web, M of books,
...), deterministically downsample each source to its budget.

The reference engine has no training-mix tooling; this belongs to the
LLM-data-pipeline family the engine adds (dedup / decontamination /
sampling), not to a reference file.

100 TB shape (skew is the whole point of these operators, so they must
not recreate it):

* ``cap_host_tokens`` phase 1 reduces the corpus to skinny
  (host, doc_id, n_tok) rows and finds hosts whose TOTAL exceeds the
  cap — a partial-agg groupBy; text never moves. Phase 2 ranks only
  OFFENDING hosts' rows (left_semi prune) with a running-sum window. The
  window shuffles skinny triples of the few over-cap hosts, not the
  corpus; a mega-host with 10^8 docs windows ~3 GB of triples, not its
  terabytes of text. The final assembly is an id-only anti-join against
  the loser set.
* ``sample_mixture`` cannot use the host-cap prune (EVERY source is
  expected to exceed its budget — downsampling is the point, and a
  source can be 90% of the corpus, so one window partition per source
  would put the whole web slice through one task). It decomposes by
  rank-key prefix instead: 4096 hash buckets per source, a cumulative
  sum over the TINY per-(source, bucket) token totals locates the one
  boundary bucket per source, whole buckets before it keep without
  ranking, whole buckets after it drop without ranking, and only the
  ~1/4096 slice inside the boundary bucket is ever windowed. Exactness
  is free: the bucket is a PREFIX of the doc rank key, so bucket order
  refines into the same global hash order the naive window would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pii_spark.ops.textstats import _word_count


def _check_budgets(budgets: dict[str | None, int]) -> None:
    if not budgets:
        raise ValueError(
            "budgets must be a non-empty {source: token_budget} dict")
    for s, b in budgets.items():
        if isinstance(b, bool) or not isinstance(b, int) or b < 0:
            raise ValueError(
                f"budget for source {s!r} must be an int >= 0, got {b!r}")


def cap_host_tokens(
    docs: DataFrame,
    max_tokens_per_host: int,
    *,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """(kept, dropped) split of ``docs``: per host, keep documents in
    content-hash order while the running token total stays within
    ``max_tokens_per_host``; the rest land in ``dropped`` with their
    (n_tok, host_cum_tok) counters for the audit trail.

    Semantics (frozen, mirrored by the DuckDB oracle in
    tests/test_mixing.py):

    * tokens = ``textstats._word_count``: whitespace-separated words,
      NULL text counts as zero tokens;
    * order within a host = ascending ``md5(id:seed)`` — deterministic
      for any partitioning/cluster size, uncorrelated with crawl order;
      ties (same id twice) broken by the id itself so the cumsum is
      well-defined;
    * a document is kept iff its INCLUSIVE running total ``<=`` the cap —
      a doc alone bigger than the cap is dropped (pre-filter such docs if
      you want them regardless);
    * hosts with total tokens within the cap never enter the window —
      their docs are all kept (and the plan never ranks them);
    * NULL host is a host like any other (the cap applies to the
      unparseable-url bucket too — without this, every scheme-less url
      would bypass the cap);
    * a NULL ``id_col`` row is UN-ADDRESSABLE by this operator's id
      anti-join (a NULL key matches nothing), so it can never be
      dropped; it is therefore kept AND excluded from the running totals
      — silently counting un-droppable tokens against the cap would
      push out droppable documents nondeterministically. Assign real
      ids upstream if NULL-key rows must be capped.
    """
    if max_tokens_per_host < 0:
        raise ValueError(
            f"max_tokens_per_host must be >= 0, got {max_tokens_per_host}")
    skinny = docs.where(F.col(id_col).isNotNull()).select(
        F.col(host_col).alias("__h"), F.col(id_col),
        _word_count(text_col).alias("n_tok"))

    over = (
        skinny.groupBy("__h")
        .agg(F.sum("n_tok").alias("__tot"))
        .where(F.col("__tot") > max_tokens_per_host)
        .select("__h")
    )
    # eqNullSafe: a NULL host must match its own group in the semi-join,
    # or every unparseable-url doc would silently bypass the cap. The
    # rename is load-bearing: both sides derive from one lineage, and a
    # same-name condition resolves to the trivially-true '__h == __h'
    # (Spark warns, the prune silently matches EVERYTHING, and the window
    # ranks the whole corpus — the exact skew this operator exists to
    # avoid; the plan gate pins the semi-join stays real).
    over_r = over.withColumnRenamed("__h", "__h_over")
    contested = skinny.join(
        over_r, skinny["__h"].eqNullSafe(over_r["__h_over"]), "left_semi")
    rank_key = F.md5(F.concat(F.col(id_col).cast("string"),
                              F.lit(f":{seed}")))
    w = (
        Window.partitionBy("__h")
        .orderBy(rank_key.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    losers = (
        contested
        .withColumn("host_cum_tok", F.sum("n_tok").over(w))
        .where(F.col("host_cum_tok") > max_tokens_per_host)
        .select(id_col, "n_tok", "host_cum_tok")
    )
    kept = docs.join(losers.select(id_col), id_col, "left_anti")
    dropped = docs.join(losers, id_col)
    return kept, dropped


def _mixture_buckets(skinny: DataFrame, budget_df: DataFrame) -> DataFrame:
    """Per-(source, bucket) token totals with running cumulative sums and
    the source budget attached — the tiny frame (≤ 4096 rows per listed
    source) that locates each source's boundary bucket. Split out so the
    tests can pin the ≤-one-boundary-bucket-per-source invariant."""
    w_b = (
        Window.partitionBy("__s").orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        skinny.groupBy("__s", "__bkt").agg(F.sum("n_tok").alias("__btok"))
        .withColumn("__bcum", F.sum("__btok").over(w_b))
        .withColumn("__bprev", F.col("__bcum") - F.col("__btok"))
        .join(budget_df, F.col("__s").eqNullSafe(F.col("__s_b")))
    )


def sample_mixture(
    docs: DataFrame,
    budgets: dict[str | None, int],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """(sampled, dropped) split of ``docs``: per source, keep documents
    in content-hash order until the source's token budget is met — the
    mixture-assembly step of a training run (N tokens of web, M of books,
    ...). ``dropped`` carries (n_tok, src_cum_tok, drop_reason) for the
    audit trail.

    Semantics (frozen, mirrored by the DuckDB oracle in
    tests/test_mixing.py):

    * tokens = ``textstats._word_count`` (NULL text counts as zero);
    * order within a source = ascending ``md5(id:seed)``, ties broken by
      the id — deterministic for any partitioning/cluster size (the
      ``cap_host_tokens`` idiom, never ``rand()``);
    * a document is kept iff its INCLUSIVE running token total ``<=`` the
      source's budget — so zero-token docs are kept even at budget 0, and
      a single doc larger than the whole budget is dropped;
    * sources ABSENT from ``budgets`` are dropped entirely
      (``drop_reason = 'unlisted_source'``) — the budgets dict IS the
      mix, and a source leaking through unlisted would silently corrupt
      the recipe. Pass ``None`` as a dict key to budget the NULL-source
      bucket;
    * a source whose total is under its budget keeps everything — no
      upsampling here (derive epoch factors from the kept totals);
    * ``src_cum_tok`` is exact for documents dropped inside the boundary
      bucket and NULL for documents in buckets wholly past the budget —
      materializing exact ranks for the tail would mean windowing the
      very slice the bucket decomposition exists to skip;
    * a NULL ``id_col`` row is UN-ADDRESSABLE by the id anti-join (a
      NULL key matches nothing), so it can never be dropped; it is kept
      AND excluded from the budget math (the ``cap_host_tokens`` rule —
      un-droppable tokens must not displace droppable documents).
      Assign real ids upstream if NULL-key rows must be budgeted.

    Scale shape: see the module docstring — only ~1/4096 of each source
    (its boundary bucket) is ever ranked by the doc-level window; whole
    buckets before/after the boundary keep/drop via a broadcast join of
    the tiny bucket frame.
    """
    _check_budgets(budgets)
    rank_key = F.md5(F.concat(F.col(id_col).cast("string"),
                              F.lit(f":{seed}")))
    skinny = docs.where(F.col(id_col).isNotNull()).select(
        F.col(source_col).cast("string").alias("__s"),
        F.col(id_col),
        _word_count(text_col).alias("n_tok"),
        rank_key.alias("__rk"),
        # the bucket is a PREFIX of the rank key, so bucket order refines
        # into exactly the global hash order the naive window would use
        F.conv(F.substring(rank_key, 1, 3), 16, 10)
        .cast("int").alias("__bkt"),
    )
    budget_df = docs.sparkSession.createDataFrame(
        list(budgets.items()), "__s_b string, __budget long")

    unlisted = skinny.join(
        budget_df, skinny["__s"].eqNullSafe(budget_df["__s_b"]), "left_anti")

    buckets = _mixture_buckets(skinny, budget_df)
    boundary = (
        buckets.where((F.col("__bprev") <= F.col("__budget"))
                      & (F.col("__bcum") > F.col("__budget")))
        .select(F.col("__s").alias("__s_y"), F.col("__bkt").alias("__bkt_y"),
                (F.col("__budget") - F.col("__bprev")).alias("__rem"),
                "__bprev")
    )
    tail = (
        buckets.where(F.col("__bprev") > F.col("__budget"))
        .select(F.col("__s").alias("__s_t"), F.col("__bkt").alias("__bkt_t"))
    )

    w_d = (
        Window.partitionBy("__s", "__bkt")
        .orderBy(F.col("__rk").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boundary_losers = (
        skinny.join(
            F.broadcast(boundary),
            skinny["__s"].eqNullSafe(F.col("__s_y"))
            & (skinny["__bkt"] == F.col("__bkt_y")))
        .withColumn("__c", F.sum("n_tok").over(w_d))
        .where(F.col("__c") > F.col("__rem"))
        .select(id_col, "n_tok",
                (F.col("__bprev") + F.col("__c")).alias("src_cum_tok"),
                F.lit("over_budget").alias("drop_reason"))
    )
    tail_losers = (
        skinny.join(
            F.broadcast(tail),
            skinny["__s"].eqNullSafe(F.col("__s_t"))
            & (skinny["__bkt"] == F.col("__bkt_t")), "left_semi")
        .select(id_col, "n_tok",
                F.lit(None).cast("long").alias("src_cum_tok"),
                F.lit("over_budget").alias("drop_reason"))
    )
    losers = boundary_losers.unionByName(tail_losers).unionByName(
        unlisted.select(
            id_col, "n_tok",
            F.lit(None).cast("long").alias("src_cum_tok"),
            F.lit("unlisted_source").alias("drop_reason")))
    kept = docs.join(losers.select(id_col), id_col, "left_anti")
    dropped = docs.join(losers, id_col)
    return kept, dropped


# driver-oracle registry slot: budgets are literal so the DuckDB oracle
# can re-derive the frozen semantics (global per-source hash order,
# inclusive running total <= budget) without knowing corpus totals.
# src0-5/7-11 bite (~600 of ~1000-1300 tok each under doc_id < 400),
# src6 exercises budget 0 (every nonzero-token doc drops), src12-15 are
# under-budget (keep everything), src16-19 are unlisted (drop labeled).
_REG_BUDGETS = {f"src{i}": (0 if i == 6 else 600 if i < 12 else 5000)
                for i in range(16)}


def register_queries(register) -> None:
    from pyspark.sql import SparkSession  # noqa: PLC0415

    from pii_spark.util import read_table as _t  # noqa: PLC0415

    budget_rows = ", ".join(
        f"('{s}', {b})" for s, b in _REG_BUDGETS.items())

    @register(
        "mixture_sample",
        oracle=rf"""
        WITH b(src, budget) AS (VALUES {budget_rows}),
        d AS (SELECT doc_id, source, text FROM documents
              WHERE doc_id < 400),
        toks AS (
          SELECT doc_id, source,
                 CASE WHEN text IS NULL THEN 0
                      ELSE len(list_filter(string_split_regex(text, '\s+'),
                                           t -> t <> '')) END AS n_tok
          FROM d),
        cum AS (
          SELECT doc_id, source, n_tok,
                 sum(n_tok) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id
                   ROWS UNBOUNDED PRECEDING) AS c
          FROM toks)
        SELECT cum.doc_id, cum.source, CAST(cum.n_tok AS BIGINT) AS n_tok,
               CASE WHEN b.src IS NULL THEN 'unlisted_source'
                    WHEN cum.c > b.budget THEN 'over_budget' END
                 AS drop_reason
        FROM cum LEFT JOIN b ON cum.source = b.src
        ORDER BY doc_id
        """,
    )
    def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-document outcome of the source-mixture sampler (the
        LLaMA/Pile per-source token-budget step, ``sample_mixture``): every
        doc_id < 400 row labeled kept (NULL), ``over_budget`` or
        ``unlisted_source``. The Spark side runs the production
        bucket-decomposed operator; the oracle re-derives the frozen
        semantics with the naive global window the decomposition refines
        into — so a bucket-boundary bug anywhere shows up as a
        drop_reason mismatch. Budget spread exercises the biting,
        zero-budget, under-budget and unlisted paths in one result."""
        d = _t(spark, sf_dir, "documents").where("doc_id < 400").select(
            "doc_id", "source", "text")
        kept, dropped = sample_mixture(d, dict(_REG_BUDGETS), seed=42)
        outcome = kept.select(
            "doc_id", "source",
            F.lit(None).cast("string").alias("drop_reason"),
        ).unionByName(dropped.select("doc_id", "source", "drop_reason"))
        n_tok = d.select(
            "doc_id", _word_count("text").cast("long").alias("n_tok"))
        return (
            outcome.join(n_tok, "doc_id")
            .select("doc_id", "source", "n_tok", "drop_reason")
            .orderBy("doc_id")
        )


def mixture_report(
    docs: DataFrame,
    sampled: DataFrame,
    budgets: dict[str | None, int],
    *,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source accounting of a ``sample_mixture`` run: one row per
    LISTED source with

    * ``budget_tok`` — the requested budget;
    * ``available_tok`` / ``total_docs`` — what ``docs`` held;
    * ``achieved_tok`` / ``kept_docs`` — what ``sampled`` kept (less than
      the budget by at most one document's tokens when the budget bit,
      equal to ``available_tok`` when it did not);
    * ``epochs_to_budget`` — ``budget_tok / available_tok``: how many
      passes over the FULL source the budget represents (the
      published-recipe idiom — a scarce books/wiki source repeats with
      epochs > 1 while abundant web stays < 1 pass); NULL when the
      source holds no tokens.

    A listed source absent from ``docs`` still reports (0 available, 0
    achieved) — a typo'd source name in the recipe surfaces as a zero
    row, not a silently missing one.

    Scale shape: two partial-agg groupBys over (source, n_tok) pairs —
    text never shuffles — joined onto the tiny budget frame.
    """
    _check_budgets(budgets)

    def _tots(df: DataFrame, tok_name: str, doc_name: str) -> DataFrame:
        return (
            df.select(F.col(source_col).cast("string").alias("__s"),
                      _word_count(text_col).alias("n_tok"))
            .groupBy("__s")
            .agg(F.sum("n_tok").alias(tok_name),
                 F.count("*").alias(doc_name))
        )

    budget_df = docs.sparkSession.createDataFrame(
        list(budgets.items()), "source string, budget_tok long")
    avail = _tots(docs, "available_tok", "total_docs")
    ach = _tots(sampled, "achieved_tok", "kept_docs")
    avail_r = avail.withColumnRenamed("__s", "__s_a")
    ach_r = ach.withColumnRenamed("__s", "__s_k")
    return (
        budget_df
        .join(avail_r, F.col("source").eqNullSafe(F.col("__s_a")), "left")
        .join(ach_r, F.col("source").eqNullSafe(F.col("__s_k")), "left")
        .select(
            "source", "budget_tok",
            F.coalesce("available_tok", F.lit(0)).alias("available_tok"),
            F.coalesce("total_docs", F.lit(0)).alias("total_docs"),
            F.coalesce("achieved_tok", F.lit(0)).alias("achieved_tok"),
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.when(F.coalesce(F.col("available_tok"), F.lit(0)) > 0,
                   F.col("budget_tok")
                   / F.coalesce("available_tok", F.lit(0)))
            .alias("epochs_to_budget"),
        )
    )
