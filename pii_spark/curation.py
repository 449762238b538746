"""End-to-end corpus curation: the production DAG a training-data team
runs over a crawl, composed from this engine's operators with an explicit
drop-reason audit trail.

Stage order (each stage sees only survivors of the previous ones, the
order real pipelines use):

1. **line-level boilerplate removal** (optional, ``ops.dedup.line_dedup``)
   — transforms text, drops nothing.
2. **quality gates** — token count + Gopher repetition signals
   (``ops.textstats.with_dup_line_stats`` /
   ``with_ngram_repetition_stats``);
   cheap doc-local filters run BEFORE any corpus-wide dedup work.
3. **exact dedup** — whitespace-normalized md5 fingerprint, keep the
   minimum doc id per group.
4. **near dedup** — MinHash+LSH candidates → exact-Jaccard verify →
   connected components → keep each cluster's minimum id
   (``ops.dedup._jaccard_on_candidates`` / ``connected_components``: the
   dedup_lsh_jaccard + dedup_clusters composition).

``curate`` returns ONE frame: every input doc id with its (possibly
line-deduped) text and a ``drop_reason`` — null for survivors, else the
FIRST stage that killed it (``too_short`` / ``repetitive`` /
``exact_dup`` / ``near_dup``), or ``null_id`` for rows with no id at all
(un-addressable by any id join: the stage machinery could neither score
nor dedup them — quarantined, not silently lost or passed through).
Nothing silently disappears: the audit is
``groupBy(drop_reason).count()`` away, and the kept corpus is
``where drop_reason is null``. Every stage is shuffle-disciplined by its
underlying operator (hashes and ids move, text moves only doc-locally);
see each operator's own docstring for its 100 TB story.

Eagerness: ``curate`` always runs ONE eager action, even with every dedup
stage off — it pins (``_pin``: ``localCheckpoint(eager=True)``) the
skinny (id, gate reason, fingerprint) decision frame, so line dedup and
the gate stats run once however many later jobs read the decisions.
With near-dedup on, ``connected_components`` adds its own pins: the
verified pairs, the start labels, and one label frame per round (one
convergence count each). No text frame is pinned or persisted: the
returned frame re-attaches the text from the input by one id join, so
each action over it re-reads (and, if enabled, re-line-dedups) the
corpus once. Trade: a checkpointed id frame cannot be rebuilt from
lineage if an executor's blocks are lost. Cache the returned frame if
you will run several actions over it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_spark.ops.decontaminate import contamination
from pii_spark.ops.dedup import (
    _jaccard_on_candidates,
    connected_components,
    line_dedup,
    normalized_fp,
)
from pii_spark.ops.mixing import (
    _check_budgets,
    cap_host_tokens,
    sample_mixture,
)
from pii_spark.ops.textstats import (
    _word_count,
    with_dup_line_stats,
    with_ngram_repetition_stats,
)


@dataclass(frozen=True)
class CurationConfig:
    # Gopher-family thresholds (per-mille); None disables a gate
    min_tokens: int | None = 30
    max_dup_line_pm: int | None = 300
    max_top_2gram_char_pm: int | None = 200
    max_dup_5gram_char_pm: int | None = 300
    # line-level boilerplate: drop lines in > this many docs; None = off
    line_dedup_max_doc_freq: int | None = None
    # normalized-fingerprint exact dedup (stage 3)
    exact_dedup: bool = True
    # near-dup verification threshold (Jaccard x1000); None disables stage 4
    near_dup_jaccard_pm: int | None = 500

    def __post_init__(self) -> None:
        for name in ("min_tokens", "max_dup_line_pm",
                     "max_top_2gram_char_pm", "max_dup_5gram_char_pm",
                     "near_dup_jaccard_pm"):
            v = getattr(self, name)
            if v is not None and v < 0:
                raise ValueError(f"{name} must be >= 0, got {v}")
        # matches line_dedup's own bound so a bad value fails at CONFIG
        # time with the same contract, not later inside curate()
        if (self.line_dedup_max_doc_freq is not None
                and self.line_dedup_max_doc_freq < 1):
            raise ValueError(
                f"line_dedup_max_doc_freq must be >= 1, got "
                f"{self.line_dedup_max_doc_freq}")
        # the repetition metrics are per-mille values CAPPED at 1000, so a
        # gate threshold >= 1000 can never fire — reject the dead config
        # instead of silently keeping everything
        for name in ("max_dup_line_pm", "max_top_2gram_char_pm",
                     "max_dup_5gram_char_pm"):
            v = getattr(self, name)
            if v is not None and v >= 1000:
                raise ValueError(
                    f"{name} >= 1000 can never fire (metric is per-mille, "
                    f"capped at 1000); got {v} — use None to disable the "
                    "gate")


def _pin(ids: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` of a SKINNY id-keyed frame (ids,
    reasons, fingerprints — never text): every later job and the final
    stitch read it as a materialized ``Scan ExistingRDD`` instead of
    re-running the stages and ancestors that derived it. Trade: a
    checkpointed frame is self-contained, so if an executor's blocks
    are lost it cannot be rebuilt from lineage — acceptable for id
    frames, rejected for corpora (text is never pinned)."""
    return ids.localCheckpoint(eager=True)


def curate(docs: DataFrame, cfg: CurationConfig | None = None,
           id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, text, drop_reason) for every input doc — see module docstring."""
    cfg = cfg or CurationConfig()
    # NULL-id rows are quarantined up front with drop_reason='null_id'
    # (unioned back into the result below): they are un-addressable by
    # every id join in the stage machinery — the ngram-stats INNER join
    # silently dropped them from the OUTPUT (violating the every-input-doc
    # contract), and the dedup stages' loser anti-joins could never drop
    # them (a NULL-id duplicate would always survive).
    null_rows = docs.where(F.col(id_col).isNull()).select(
        F.col(id_col), F.col(text_col).alias("text"),
        F.lit("null_id").alias("drop_reason"))
    docs = docs.where(F.col(id_col).isNotNull())
    d = docs.select(F.col(id_col), F.col(text_col).alias("text"))
    if cfg.line_dedup_max_doc_freq is not None:
        d = line_dedup(d, cfg.line_dedup_max_doc_freq, id_col=id_col,
                       text_col="text")

    # --- stage 2: doc-local quality gates -------------------------------
    # NULL text counts as ZERO tokens (a NULL normalized_fp never matches a
    # join key, so a row with no text must hit the min_tokens gate like
    # any other empty text, not sail through every stage as a survivor)
    sig = d.withColumn("n_tok", _word_count("text"))
    if cfg.max_dup_line_pm is not None:
        # inline narrow projection (docs with no non-blank lines read 0);
        # curate never reads the bigram half of repetition_stats
        sig = with_dup_line_stats(sig, text_col="text") \
            .drop("dup_line_char_pm")
    if (cfg.max_top_2gram_char_pm is not None
            or cfg.max_dup_5gram_char_pm is not None):
        # inline narrow projection, NOT a join back to a stats frame: the
        # old id-join shuffled the corpus TEXT on both sides just to
        # re-attach per-doc arithmetic (measured 206 s of a 227 s pass at
        # sf0.1 before _run_stats made the stats doc-local)
        sig = with_ngram_repetition_stats(sig, top_ns=(2,), dup_ns=(5,),
                                          text_col="text")
    gates = []
    if cfg.min_tokens is not None:
        gates.append((F.col("n_tok") < cfg.min_tokens, "too_short"))
    if cfg.max_dup_line_pm is not None:
        gates.append((F.col("dup_line_pm") > cfg.max_dup_line_pm,
                      "repetitive"))
    if cfg.max_top_2gram_char_pm is not None:
        gates.append((F.col("top_2gram_char_pm")
                      > cfg.max_top_2gram_char_pm, "repetitive"))
    if cfg.max_dup_5gram_char_pm is not None:
        gates.append((F.col("dup_5gram_char_pm")
                      > cfg.max_dup_5gram_char_pm, "repetitive"))
    reason = F.lit(None).cast("string")
    for cond, r in reversed(gates):  # first listed gate wins
        reason = F.when(cond, r).otherwise(reason)

    # ONE pinned decision frame: line dedup, the gate stats and the
    # fingerprint run once, and every dedup job below plus the final
    # stitch reads (id, gate, fp) from memory. One frame, not one per
    # stage: a pin per loser frame would re-run line dedup for each.
    scored = _pin(sig.select(id_col, reason.alias("gate"),
                             normalized_fp("text").alias("fp")))
    live = scored.where(F.col("gate").isNull())
    audit = scored.select(id_col, "gate")
    reasons = ["gate"]

    # --- stage 3: exact dedup -------------------------------------------
    if cfg.exact_dedup:
        keeper = live.groupBy("fp").agg(F.min(id_col).alias("keep_id"))
        exact_losers = live.join(keeper, "fp") \
            .where(F.col(id_col) != F.col("keep_id")).select(id_col)
        live = live.join(exact_losers, id_col, "left_anti")
        audit = audit.join(exact_losers.select(
            id_col, F.lit("exact_dup").alias("_r3")), id_col, "left")
        reasons.append("_r3")

    # --- stage 4: near dedup --------------------------------------------
    if cfg.near_dup_jaccard_pm is not None:
        # text re-attaches from d for the survivors only; the verified
        # pairs and the labels are pinned inside connected_components,
        # so the LSH + Jaccard verify runs once
        named = d.join(live.select(id_col), id_col, "left_semi") \
            .select(F.col(id_col).alias("doc_id"), "text")
        pairs = _jaccard_on_candidates(named) \
            .where(F.col("jac") >= cfg.near_dup_jaccard_pm)
        comp = connected_components(
            live.select(F.col(id_col).alias("id")), pairs)
        audit = audit.join(
            comp.where("rep != id").select(
                F.col("id").alias(id_col), F.lit("near_dup").alias("_r4")),
            id_col, "left")
        reasons.append("_r4")

    # --- stitch the audit trail back onto the text ------------------------
    return (
        d.join(audit, id_col)
        .select(id_col, "text",
                F.coalesce(*reasons).alias("drop_reason"))
        .unionByName(null_rows)
    )


@dataclass(frozen=True)
class MixConfig:
    """Knobs for ``assemble_mix`` — the post-curation training-mix plane.

    ``budgets`` is the recipe itself ({source: token budget}; a ``None``
    key budgets the NULL-source bucket). ``decontaminate_n = None``
    disables the decontamination stage (then pass neither benchmarks nor
    bench_keys); ``max_tokens_per_host = None`` disables the host cap.
    """
    budgets: dict[str | None, int]
    decontaminate_n: int | None = 13
    decontaminate_min_hits: int = 1
    max_tokens_per_host: int | None = None
    seed: int = 42

    def __post_init__(self) -> None:
        _check_budgets(self.budgets)
        if self.decontaminate_n is not None and self.decontaminate_n < 1:
            raise ValueError(
                f"decontaminate_n must be >= 1, got {self.decontaminate_n}")
        if self.decontaminate_min_hits < 1:
            raise ValueError(
                f"decontaminate_min_hits must be >= 1, got "
                f"{self.decontaminate_min_hits}")
        if (self.max_tokens_per_host is not None
                and self.max_tokens_per_host < 0):
            raise ValueError(
                f"max_tokens_per_host must be >= 0, got "
                f"{self.max_tokens_per_host}")


def assemble_mix(
    docs: DataFrame,
    cfg: MixConfig,
    *,
    benchmarks: DataFrame | None = None,
    bench_keys: DataFrame | None = None,
    source_col: str = "source",
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The training-mix DAG that runs AFTER ``curate``: benchmark
    decontamination → per-host token cap → per-source token budgets,
    composed from the ``ops.decontaminate`` / ``ops.mixing`` operators
    with the same single-frame audit contract as ``curate``: every input
    doc id with its text and a ``drop_reason`` — NULL for docs in the
    final mix, else the FIRST stage that killed it (``contaminated`` /
    ``host_capped`` / ``over_budget`` / ``unlisted_source``), or
    ``null_id`` for rows with no id at all (un-addressable by any
    stage's id join — quarantined rather than passed off as kept).

    Stage order is the production order: decontamination first (an
    eval-leaky doc must not consume host or source budget someone else
    could have used), domain balancing within sources next, the recipe
    budgets last (so a budget is met with balanced, clean documents).
    Feed ``where drop_reason is null`` to the tokenizer and
    ``ops.mixing.mixture_report(docs_kept_by_earlier_stages, mix, ...)``
    for the per-source accounting.

    Each stage's shuffle discipline is its operator's own — broadcast
    gram keys, the over-cap-host window prune, the boundary-bucket
    decomposition. The benchmarks/bench_keys pair follows
    ``ops.decontaminate.contamination`` (exactly one when decontamination
    is on, neither when off).

    Eagerness (the ``curate`` id-frame contract): each stage's loser ids
    are pinned (``_pin``) as they are derived — three tiny (id, reason)
    frames. Without this the composition is lazy but
    QUADRATIC: ``sample_mixture`` references its input ~6 times and each
    reference would re-run the upstream anti-join chain INCLUDING the
    decontamination gram explode (measured at sf0.1 replicated 32x:
    the lazy form did not finish in 9 minutes; the checkpointed form
    runs the explode once). With the checkpoints, re-evaluating ``live``
    is one corpus scan plus anti-joins against in-memory id frames
    (``_pin`` states the block-loss trade).
    """
    if cfg.decontaminate_n is None and (
            benchmarks is not None or bench_keys is not None):
        raise ValueError(
            "decontaminate_n is None but benchmarks/bench_keys was "
            "passed — enable the stage or drop the argument")

    d = docs.select(F.col(id_col), F.col(source_col).alias("__src"),
                    F.col(host_col).alias("__host"),
                    F.col(text_col).alias("text"))

    losers: list[DataFrame] = []  # (id, reason) frames, stage order
    live = d
    if cfg.decontaminate_n is not None:
        counts = contamination(
            live, benchmarks, n=cfg.decontaminate_n, id_col=id_col,
            text_col="text", bench_keys=bench_keys)
        dirty = _pin(counts.where(
            F.col("contam_hits") >= cfg.decontaminate_min_hits)
            .select(id_col, F.lit("contaminated").alias("reason")))
        losers.append(dirty)
        live = live.join(dirty.select(id_col), id_col, "left_anti")

    if cfg.max_tokens_per_host is not None:
        _, capped = cap_host_tokens(
            live, cfg.max_tokens_per_host, host_col="__host",
            id_col=id_col, text_col="text", seed=cfg.seed)
        capped_ids = _pin(capped.select(
            id_col, F.lit("host_capped").alias("reason")))
        losers.append(capped_ids)
        live = live.join(capped_ids.select(id_col), id_col, "left_anti")

    _, over = sample_mixture(
        live, cfg.budgets, source_col="__src", id_col=id_col,
        text_col="text", seed=cfg.seed)
    losers.append(_pin(over.select(
        id_col, F.col("drop_reason").alias("reason"))))

    audit = losers[0]
    for l in losers[1:]:
        audit = audit.unionByName(l)
    # NULL-id rows are un-addressable by every stage's id join (the
    # operators keep them and exclude them from budget math) and the
    # stitch join could not label them either — tag them explicitly so
    # an id-less row can never masquerade as a kept mix member
    reason = F.when(F.col(id_col).isNull(), F.lit("null_id")) \
        .otherwise(F.col("reason"))
    return (
        d.join(audit, id_col, "left")
        .select(id_col, F.col("__src").alias(source_col),
                F.col("__host").alias(host_col), "text",
                reason.alias("drop_reason"))
    )
