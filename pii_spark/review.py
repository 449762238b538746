"""Review semi/anti join over extracted spans (reference J3).

Reference semantics (/root/reference/pii_value_review.py:239-333): a small
reviewed mapping ``(type, value)`` filters each document's entities — keep an
entity iff its (type, value) pair was reviewed ("semi"), or drop reviewed
pairs ("anti"); ``--add-missing`` re-adds reviewed values that literally
occur in the text but were missed by the extractor.

Spark-first shape: the review table is tiny (human-curated) → ALWAYS a
broadcast join; the spans array explodes, joins, and regroups — one narrow
shuffle on url for the regroup, no shuffle for the join itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_core.labels import PII_TYPES


def _span_cmp(a: F.Column, b: F.Column) -> F.Column:
    """Deterministic span ordering (start, end, type) — reference O1/O2."""
    return (
        F.when(a.start < b.start, -1)
        .when(a.start > b.start, 1)
        .when(a.end < b.end, -1)
        .when(a.end > b.end, 1)
        .when(a.type < b.type, -1)
        .when(a.type > b.type, 1)
        .otherwise(0)
    )


def apply_review(
    results: DataFrame,
    review: DataFrame,
    mode: str = "semi",
    require_all_labels: bool = False,
) -> DataFrame:
    """Filter each row's ``spans`` against the reviewed (type, value) set.

    mode="semi" follows the reference's keep rule
    (pii_value_review.py:294-304): a span whose TYPE has review rows is
    kept iff its (type, value) pair was reviewed; a span whose type is
    ABSENT from the review table is kept as-is — a partial review table
    must not silently strip (and thereby un-PII) the labels nobody
    reviewed. ``require_all_labels=True`` mirrors the reference flag
    (pii_value_review.py:288-292): RAISE if the dataset contains a label
    the review table lacks. mode="anti" (this engine's extension) drops
    exactly the reviewed pairs. Keeps url/extracted_text, recomputes
    n_spans and should_be_public.

    ``url`` must be non-NULL (one row per document, as extraction
    emits): the span regroup keys on it, so NULL-url rows would all
    CONFLATE into one output row — merged spans from different
    documents in a frame that decides publishing. The job fails loudly
    (runtime assert, same fail-closed stance as
    ``_recomputed_public``'s malformed-span rule) rather than merging.
    """
    if mode not in ("semi", "anti"):
        raise ValueError(f"mode must be semi|anti, got {mode!r}")
    if require_all_labels:
        bad = (
            results.select(F.explode("spans").alias("s"))
            .select(F.col("s.type").alias("t")).distinct()
            .join(F.broadcast(review.select(F.col("type").alias("t"))
                              .distinct()), "t", "left_anti")
            .limit(1).collect()
        )
        if bad:
            raise ValueError(
                f"review table missing label {bad[0]['t']!r} present in "
                "the dataset (require_all_labels=True)")

    has_error = "error" in results.columns
    err_cols = ([F.col("error")] if has_error else [])
    keyed = results.where(F.assert_true(
        F.col("url").isNotNull(),
        "apply_review: NULL url — the span regroup keys on url, so "
        "unkeyed rows would conflate into one document; key every row "
        "before reviewing").isNull()
    ).select(
        "url", "extracted_text", *err_cols,
        F.col("spans").isNull().alias("unscanned"),
        F.explode_outer("spans").alias("s")
    )
    joined = keyed.join(
        F.broadcast(review.select("type", "value").distinct()),
        (F.col("s.type") == F.col("type")) & (F.col("s.value") == F.col("value")),
        "left",
    ).join(
        F.broadcast(review.select(F.col("type").alias("rtype")).distinct()),
        F.col("s.type") == F.col("rtype"),
        "left",
    )
    if mode == "semi":
        # pair reviewed OR type entirely unreviewed (reference keep-as-is)
        keep = F.col("type").isNotNull() | F.col("rtype").isNull()
    else:
        keep = F.col("type").isNull()
    # Null out filtered spans instead of dropping their rows: a document whose
    # spans are ALL filtered must survive with spans=[] (and recomputed
    # should_be_public), not vanish from the output.
    kept = joined.withColumn("s", F.when(keep, F.col("s")))

    # a NULL spans array ("never scanned") stays NULL: explode_outer +
    # collect_list would turn it into [] — "scanned clean", publishable
    aggs = [
        F.first("extracted_text").alias("extracted_text"),
        F.when(~F.bool_or("unscanned"), F.array_sort(
            F.collect_list("s"),  # collect_list drops nulls
            _span_cmp,
        )).alias("spans"),
    ]
    if has_error:
        aggs.append(F.first("error").alias("error"))
    regrouped = (
        kept.groupBy("url")
        .agg(*aggs)
        .withColumn("n_spans", F.size("spans"))
        .withColumn("should_be_public", _recomputed_public(has_error))
    )
    return regrouped


def _recomputed_public(has_error: bool) -> F.Column:
    """should_be_public from the (possibly rewritten) spans — but a
    QUARANTINED row (error set) stays fail-closed False: its spans=[] means
    "never scanned", not "scanned clean", and a naive ¬∃-PII recompute
    would flip an unscanned page to publishable the moment a review pass
    rewrites the frame. A NULL spans array means "never scanned" too
    (``ops/redact.redact_expr`` refuses it) and is never publishable."""
    # NULL-type spans count as PII here: `isin` yields NULL for them, and
    # a bare exists() would treat a spans array holding only such a span
    # as "no PII" — publishable. They cannot come from this engine's
    # extraction, but this column decides PUBLISHING on whatever frame the
    # caller loaded — fail closed on malformed external data.
    clean = F.col("spans").isNotNull() & ~F.exists(
        "spans", lambda s: s.type.isNull() | s.type.isin(list(PII_TYPES)))
    if not has_error:
        return clean
    return F.col("error").isNull() & clean


def _missing_with_text(results: DataFrame, review: DataFrame) -> DataFrame:
    """(url, type, value, txt): each reviewed (type, value) literally in a
    row's extracted_text (``txt``, kept from the one scan that tested it)
    but absent from its spans."""
    # empty review values are never candidates: instr(text, '') returns 1,
    # which would flag EVERY document (apply_missing's occurrence SQL has
    # the same guard)
    pairs = F.broadcast(review.select("type", "value").distinct()
                        .where(F.length("value") > 0))
    have = results.select(
        "url", F.explode_outer("spans").alias("s")
    ).select("url", F.col("s.type").alias("type"), F.col("s.value").alias("value"))
    candidates = (
        results.select("url", F.col("extracted_text").alias("txt"))
        .crossJoin(pairs)
        .where(F.instr("txt", F.col("value")) > 0)
    )
    return candidates.join(have, ["url", "type", "value"], "left_anti")


def add_missing(results: DataFrame, review: DataFrame) -> DataFrame:
    """Reference ``--add-missing`` (pii_value_review.py:307-325): for each
    reviewed (type, value) literally present in extracted_text but absent
    from spans, count it as a candidate. Emitted as a report frame
    (url, type, value) — occurrence offsets are doc-local and are produced
    by the extraction UDF on the next full run."""
    return _missing_with_text(results, review).select("url", "type", "value")


# Greedy non-overlapping literal occurrences of `value` in `txt`, 0-based
# starts — exact pii_core.spans.literal_occurrences (find/advance) semantics,
# expressed JVM-side (no Python in the path): regex-escape the value, split
# the text on it (the regex engine consumes matches left-to-right
# non-overlapping — identical to find/advance, including self-overlapping
# values like 'aa' in 'aaa'), then fold segment lengths into match starts.
# Memory is O(#segments), never a doc-length index array — a 2 MB document
# with sparse matches folds a handful of segments, not 2M integers.
# (The split appears twice; Catalyst CSE collapses deterministic duplicates.)
_VALUE_ESCAPED = r"regexp_replace(value, '([.^$|?*+()\\[\\]{}\\\\])', '\\\\$1')"
_GREEDY_OCC_SQL = rf"""
CASE WHEN length(value) > 0 THEN
  aggregate(
    slice(split(txt, {_VALUE_ESCAPED}, -1), 1,
          size(split(txt, {_VALUE_ESCAPED}, -1)) - 1),
    named_struct('acc', CAST(array() AS array<int>), 'pos', 0),
    (st, seg) -> named_struct(
        'acc', concat(st.acc, array(st.pos + length(seg))),
        'pos', st.pos + length(seg) + length(value)),
    st -> st.acc)
ELSE CAST(array() AS array<int>) END
"""


def apply_missing(results: DataFrame, review: DataFrame) -> DataFrame:
    """Full reference ``--add-missing`` (pii_value_review.py:307-325) as a
    corrected-results frame: each reviewed (type, value) literally present in
    extracted_text but absent from spans is injected as a span per
    non-overlapping literal occurrence (greedy left-to-right —
    pii_core.spans.literal_occurrences semantics), conf=1.0 and n_tokens=0
    marking review-injected; spans re-sorted deterministically and
    n_spans / should_be_public recomputed.

    The reference appends one offset-less entity per (label, value); this
    engine's span struct carries offsets, so each occurrence becomes a span.
    Scale shape: the review set is tiny → broadcast; the occurrence scan is
    doc-local JVM HOFs; one narrow groupBy(url) on the (small) candidate set;
    untouched documents pass through without their spans being rewritten.

    NULL-url rows pass through VERBATIM (never conflated — each results
    row stays a row here): the injection join cannot address them, so no
    missing spans can be added; should_be_public is still recomputed
    fail-closed like every other row.
    """
    occ = (
        _missing_with_text(results, review)
        .withColumn("occ", F.expr(_GREEDY_OCC_SQL))
        .select("url", "type", "value", F.explode("occ").alias("start"))
    )
    new_spans = occ.groupBy("url").agg(
        F.collect_list(
            F.struct(
                F.col("type").alias("type"),
                F.col("start").cast("int").alias("start"),
                (F.col("start") + F.length("value")).cast("int").alias("end"),
                F.col("value").alias("value"),
                F.lit(1.0).alias("conf"),
                F.lit(0).cast("int").alias("n_tokens"),
            )
        ).alias("new_spans")
    )
    merged = (
        results.join(new_spans, "url", "left")
        .withColumn(
            "spans",
            F.when(F.col("new_spans").isNull(), F.col("spans")).otherwise(
                F.array_sort(F.concat("spans", "new_spans"), _span_cmp)
            ),
        )
        .drop("new_spans")
        .withColumn("n_spans", F.size("spans"))
        .withColumn("should_be_public",
                    _recomputed_public("error" in results.columns))
    )
    return merged
