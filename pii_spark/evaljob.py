"""Eval metrics job (reference A4-A7, /root/reference/infer_pii.py:683-1097).

Distributed re-expression of the reference ``eval`` subcommand's metric
accumulators: strict span-level match (set intersection of (start,end,type)
keys — reference infer_pii.py:962-993), document-level binary confusion for
``has_pii`` (infer_pii.py:995-1022), and P/R/F1 (eval_report.py:80-113,
P1 = binary-PII F1 per eval_report.py:403).

All per-doc work is builtin array expressions (array_intersect/size — the
reference's Python set ops, reference O6); only the final tiny reduce
crosses partitions. Per-type metrics come from one explode + groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_core.labels import PII_TYPES
from pii_spark.ops.textstats import _ws_norm


def _pii_flag(spans_col: str) -> F.Column:
    """Document-level has-PII flag from a spans column — ONE definition so
    the confusion counts (span_metrics) and the bucket assignment
    (error_bucket_samples) can never drift apart."""
    return F.coalesce(
        F.exists(spans_col, lambda s: s.type.isin(list(PII_TYPES))),
        F.lit(False))


def _key_arr(col: str) -> F.Column:
    """spans -> array<string> of 'start:end:type' strict-match keys."""
    return F.array_distinct(
        F.transform(
            F.col(col),
            lambda s: F.concat_ws(":", s.start.cast("string"),
                                  s.end.cast("string"), s.type),
        )
    )


def prf(tp: int, pred_pos: int, true_pos: int) -> tuple[float, float, float]:
    """(precision, recall, f1) from the three counters — THE P/R/F1 of the
    eval and training metrics; each ratio reads 0.0 when its denominator
    is 0."""
    p = tp / pred_pos if pred_pos else 0.0
    r = tp / true_pos if true_pos else 0.0
    return p, r, 2 * p * r / (p + r) if p + r else 0.0


def span_metrics(pred: DataFrame, gold: DataFrame) -> dict:
    """Strict span metrics + binary PII confusion between two frames of
    (url, spans). Returns a plain dict (driver-side arithmetic on ONE
    aggregated row, like the reference's final report step)."""
    j = (
        pred.select("url", F.col("spans").alias("pred_spans"))
        .join(gold.select("url", F.col("spans").alias("gold_spans")), "url", "full")
        .select(
            F.coalesce(_key_arr("pred_spans"), F.array()).alias("pk"),
            F.coalesce(_key_arr("gold_spans"), F.array()).alias("gk"),
            _pii_flag("pred_spans").alias("pred_pii"),
            _pii_flag("gold_spans").alias("gold_pii"),
        )
    )
    row = j.agg(
        F.sum(F.size(F.array_intersect("pk", "gk"))).alias("tp"),
        F.sum(F.size("pk")).alias("pred_pos"),
        F.sum(F.size("gk")).alias("true_pos"),
        F.sum((F.col("pred_pii") & F.col("gold_pii")).cast("long")).alias("btp"),
        F.sum((F.col("pred_pii") & ~F.col("gold_pii")).cast("long")).alias("bfp"),
        F.sum((~F.col("pred_pii") & F.col("gold_pii")).cast("long")).alias("bfn"),
        F.sum((~F.col("pred_pii") & ~F.col("gold_pii")).cast("long")).alias("btn"),
        F.count("*").alias("docs"),
    ).collect()[0]
    # empty-input agg yields NULL counters; report zeros, not 'None' text
    tp, pp, ap = int(row.tp or 0), int(row.pred_pos or 0), int(row.true_pos or 0)
    btp, bfp = int(row.btp or 0), int(row.bfp or 0)
    bfn, btn = int(row.bfn or 0), int(row.btn or 0)
    sp, sr, sf1 = prf(tp, pp, ap)
    bp, br, bf1 = prf(btp, btp + bfp, btp + bfn)
    acc = (btp + btn) / row.docs if row.docs else 0.0
    return {
        "docs": row.docs,
        "span_strict": {"tp": tp, "pred": pp, "gold": ap,
                        "precision": sp, "recall": sr, "f1": sf1},
        "binary_pii": {"tp": btp, "fp": bfp, "fn": bfn, "tn": btn,
                       "precision": bp, "recall": br, "f1": bf1,
                       "accuracy": acc},
        "p1": bf1,
    }


def per_type_metrics(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Per-type strict span tp/pred/gold + PRF as a DataFrame (reference
    infer_pii.py:1058-1072)."""
    def keyed(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select("url", F.explode("spans").alias("s"))
            .select(
                "url",
                F.col("s.type").alias("type"),
                F.concat_ws(":", F.col("s.start").cast("string"),
                            F.col("s.end").cast("string"),
                            F.col("s.type")).alias("k"),
            )
            .dropDuplicates(["url", "k"])
            .withColumn("side", F.lit(side))
        )

    both = keyed(pred, "pred").unionByName(keyed(gold, "gold"))
    counts = (
        both.groupBy("url", "k", "type")
        .agg(
            F.max(F.when(F.col("side") == "pred", 1).otherwise(0)).alias("in_pred"),
            F.max(F.when(F.col("side") == "gold", 1).otherwise(0)).alias("in_gold"),
        )
        .groupBy("type")
        .agg(
            F.sum(F.col("in_pred") * F.col("in_gold")).alias("tp"),
            F.sum("in_pred").alias("pred"),
            F.sum("in_gold").alias("gold"),
        )
    )
    p = F.when(F.col("pred") > 0, F.col("tp") / F.col("pred")).otherwise(0.0)
    r = F.when(F.col("gold") > 0, F.col("tp") / F.col("gold")).otherwise(0.0)
    return counts.select(
        "type", "tp", "pred", "gold",
        p.alias("precision"), r.alias("recall"),
        F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0).alias("f1"),
    ).orderBy("type")


def error_bucket_samples(
    pred: DataFrame,
    gold: DataFrame,
    text_col: str = "extracted_text",
    max_items: int = 20,
    max_chars: int = 160,
) -> DataFrame:
    """Per-document binary-confusion bucket assignment + capped sample
    records (reference A10, infer_pii.py:1028-1054: sample_rec dicts routed
    into samples_fp/fn/tp/tn; excerpt semantics at infer_pii.py:767-768).

    Returns at most ``max_items`` rows per bucket, deterministically the
    first by url — the distributed analogue of the reference's first-N file
    order. Two-phase top-k keeps the plan scale-safe: a window partitioned
    by (bucket, input partition) prunes each partition to max_items rows
    BEFORE the per-bucket window, so the final sort touches at most
    max_items × n_partitions rows, never the tp/tn bulk of the corpus.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    j = (
        pred.select("url", F.col(text_col).alias("txt"),
                    F.col("spans").alias("pred_spans"))
        .join(gold.select("url", F.col("spans").alias("gold_spans")),
              "url", "full")
    )
    pred_pii = _pii_flag("pred_spans")
    gold_pii = _pii_flag("gold_spans")
    norm = _ws_norm(F.coalesce("txt", F.lit("")))
    excerpt = F.when(
        F.length(norm) <= max_chars, norm
    ).otherwise(F.concat(F.substring(norm, 1, max_chars - 1), F.lit("…")))
    assigned = j.select(
        "url",
        F.when(pred_pii & gold_pii, "tp")
        .when(pred_pii, "fp")
        .when(gold_pii, "fn")
        .otherwise("tn").alias("bucket"),
        (~gold_pii).alias("gold_should_be_public"),
        (~pred_pii).alias("pred_should_be_public"),
        excerpt.alias("excerpt"),
        F.coalesce(F.size("pred_spans"), F.lit(0)).alias("n_pred_spans"),
        F.coalesce(F.size("gold_spans"), F.lit(0)).alias("n_gold_spans"),
    )
    w_local = Window.partitionBy("bucket", "pid").orderBy("url")
    w_global = Window.partitionBy("bucket").orderBy("url")
    return (
        assigned.withColumn("pid", F.spark_partition_id())
        .withColumn("rn", F.row_number().over(w_local))
        .where(F.col("rn") <= max_items)
        .drop("pid", "rn")
        .withColumn("rn", F.row_number().over(w_global))
        .where(F.col("rn") <= max_items)
        .drop("rn")
        .orderBy("bucket", "url")
    )


def render_report(metrics: dict, per_type_rows: list | None = None,
                  sample_rows: list | None = None,
                  max_items: int = 20) -> str:
    """Markdown eval report (reference S7, eval_report.py:240-372): headline
    P1, binary confusion, strict span PRF, per-type table."""
    b = metrics["binary_pii"]
    s = metrics["span_strict"]
    lines = [
        "# PII extraction eval report",
        "",
        f"Documents evaluated: **{metrics['docs']}**",
        "",
        f"## P1 (binary has-PII F1): **{metrics['p1']:.4f}**",
        "",
        "## Binary PII confusion",
        "",
        "| | gold + | gold - |",
        "|---|---|---|",
        f"| pred + | {b['tp']} | {b['fp']} |",
        f"| pred - | {b['fn']} | {b['tn']} |",
        "",
        f"precision {b['precision']:.4f} · recall {b['recall']:.4f} · "
        f"f1 {b['f1']:.4f} · accuracy {b['accuracy']:.4f}",
        "",
        "## Strict span match (start, end, type)",
        "",
        f"tp {s['tp']} / pred {s['pred']} / gold {s['gold']} — "
        f"precision {s['precision']:.4f} · recall {s['recall']:.4f} · "
        f"f1 {s['f1']:.4f}",
    ]
    if per_type_rows:
        lines += ["", "## Per-type strict metrics", "",
                  "| type | tp | pred | gold | P | R | F1 |",
                  "|---|---|---|---|---|---|---|"]
        for r in per_type_rows:
            lines.append(
                f"| {r['type']} | {r['tp']} | {r['pred']} | {r['gold']} | "
                f"{r['precision']:.4f} | {r['recall']:.4f} | {r['f1']:.4f} |")
    if sample_rows is not None:
        # Error-bucket samples (reference eval_report.py:171-238,355-370):
        # counts for every bucket, detail records for the error buckets
        # (fp/fn — what a user debugging model quality reads first).
        by_bucket: dict[str, list] = {}
        for r in sample_rows:
            by_bucket.setdefault(r["bucket"], []).append(r)
        lines += ["", "## Error samples", "",
                  "| bucket | shown |", "|---|---|"]
        for bk in ("fp", "fn", "tp", "tn"):
            lines.append(f"| {bk} | {len(by_bucket.get(bk, []))} |")
        for bk in ("fp", "fn"):
            items = by_bucket.get(bk, [])
            lines += ["", f"### {'False positives' if bk == 'fp' else 'False negatives'} (document)", ""]
            if not items:
                lines.append("_None_")
                continue
            if len(items) >= max_items:
                lines.append(f"_Showing first {max_items} samples._")
                lines.append("")
            for s in items[:max_items]:
                lines.append(
                    f"- `{s['url']}` — publishable gold={s['gold_should_be_public']} "
                    f"pred={s['pred_should_be_public']} · pred_spans={s['n_pred_spans']} "
                    f"gold_spans={s['n_gold_spans']}")
                if s.get("excerpt"):
                    lines.append(f"  > {s['excerpt']}")
    return "\n".join(lines) + "\n"


def write_report(pred, gold, path: str, text_col: str | None = None,
                 max_items: int = 20) -> dict:
    """Full eval job: metrics + per-type + error-bucket samples + markdown
    report to ``path``. Returns the metrics dict (reference `eval`
    subcommand shape). Samples are included when pred carries a text column
    (pass ``text_col``); without text the bucket assignment still renders,
    with empty excerpts."""
    m = span_metrics(pred, gold)
    per_type = [r.asDict() for r in per_type_metrics(pred, gold).collect()]
    if text_col is None:
        sample_src = pred.withColumn("__txt", F.lit(""))
        samples_df = error_bucket_samples(
            sample_src, gold, text_col="__txt", max_items=max_items)
    else:
        samples_df = error_bucket_samples(
            pred, gold, text_col=text_col, max_items=max_items)
    samples = [r.asDict() for r in samples_df.collect()]
    with open(path, "w") as f:
        f.write(render_report(m, per_type, samples, max_items=max_items))
    return m


def token_metrics(pred, gold, text_col: str = "extracted_text") -> dict:
    """Token-level metric accumulators (reference A4,
    infer_pii.py:716-724,919-960): tokenize each document with the shared
    offset tokenizer, assign every token its BIO label from span
    containment (B- for a span's first covered token, I- after), and count
    a true positive ONLY on exact label equality — the reference requires
    ``p == y`` (type AND prefix), so a token predicted EMAIL over a gold
    TELEFONE (or I- where gold says B-) is a miss on both sides, never a
    tp. Vectorized pandas UDF per doc, one tiny sum.

    pred must carry (url, text_col, spans) for EVERY gold url — the
    tokenization needs the text, so a gold doc absent from pred cannot be
    scored at all and silently skipping it would inflate recall; this
    raises instead (the extraction job emits a row for every input url,
    quarantined ones included, so the aligned-frames contract holds by
    construction there). gold carries (url, spans). The scored universe
    is the GOLD set (inner join): the reference's loop walks the labeled
    dataset's rows (infer_pii.py:919-947), so pred urls without a gold
    row — full-corpus predictions evaluated against a labeled subset —
    are out of universe, not false positives.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from pii_core.labels import PII_TYPES  # noqa: PLC0415
    from pii_core.tokenizer import WordTokenizer  # noqa: PLC0415

    pii = frozenset(PII_TYPES)

    missing = gold.select("url").join(
        pred.select("url"), "url", "left_anti").limit(1).count()
    if missing:
        raise ValueError(
            "gold contains urls absent from pred — token metrics need the "
            "document text from pred for every gold doc; score such docs "
            "by emitting (possibly empty-span) pred rows for them")
    j = (
        pred.select("url", F.col(text_col).alias("txt"),
                    F.col("spans").alias("ps"))
        .join(gold.select("url", F.col("spans").alias("gs")), "url", "inner")
    )

    def labels(offs, spans) -> list:
        """Per-token BIO label ('B-X' / 'I-X') or None, from PII spans."""
        ivs = sorted((s["start"], s["end"], s["type"]) for s in spans
                     if s["type"] in pii)
        out, k, last_k = [], 0, -1
        for a, b in offs:
            while k < len(ivs) and ivs[k][1] <= a:
                k += 1
            if k < len(ivs) and ivs[k][0] < b:
                out.append(("B-" if k != last_k else "I-") + ivs[k][2])
                last_k = k
            else:
                out.append(None)
        return out

    def counts(batches):
        tok = WordTokenizer()
        for pdf in batches:
            rows = []
            for text, p, g in zip(pdf["txt"], pdf["ps"], pdf["gs"]):
                offs = tok.encode(text or "")
                pl = labels(offs, p if p is not None else [])
                gl = labels(offs, g if g is not None else [])
                rows.append({
                    "tp": sum(1 for x, y in zip(pl, gl)
                              if x is not None and x == y),
                    "pred_pos": sum(1 for x in pl if x is not None),
                    "gold_pos": sum(1 for y in gl if y is not None),
                    "n_tok": len(offs),
                })
            yield pd.DataFrame(
                rows, columns=["tp", "pred_pos", "gold_pos", "n_tok"])

    row = (
        j.mapInPandas(
            counts, schema="tp long, pred_pos long, gold_pos long, n_tok long")
        .agg(F.sum("tp").alias("tp"),
             F.sum("pred_pos").alias("pred_pos"),
             F.sum("gold_pos").alias("gold_pos"),
             F.sum("n_tok").alias("n_tok"))
        .collect()[0]
    )
    tp = int(row.tp or 0)
    pp, gp = int(row.pred_pos or 0), int(row.gold_pos or 0)
    p, r, f1 = prf(tp, pp, gp)
    return {"tp": tp, "pred_pos": pp, "gold_pos": gp,
            "n_tokens": int(row.n_tok or 0), "precision": p, "recall": r,
            "f1": f1}
