"""Oracle-checked query registry (driver contract).

Each entry is an operator (or composition) from SURVEY.md §2 re-expressed
Spark-first, plus an independent DuckDB oracle. Deterministic data
construction is defined once in sqlfrag.py: the oracle embeds it inlined,
the Spark side stages it as chained projections. The operator under test
is implemented twice (DataFrame API / pandas UDF on Spark, plain SQL on
DuckDB) so the driver's compare genuinely cross-validates.

Float discipline: queries never emit raw aggregated doubles — money is summed
in integer cents, ratios are floored integer per-mille/percent — so the
driver's value-hash is immune to summation-order float noise. Columns are
aliased identically on both sides.

Registry: ``QUERIES[name] = fn(spark, sf_dir) -> DataFrame``;
``ORACLES[name] = sql`` (omitted for non-SQL-expressible ops → driver runs
rows-only check).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_spark import sqlfrag as sf

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


from pii_spark.util import (  # noqa: E402
    checksum_udf, documents_sql, read_table as _t)


def _aug_docs(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """``documents`` plus the staged ``sf.AUG_TEXT`` columns in ``keep``
    (default: ``aug``)."""
    return sf.staged(_t(spark, sf_dir, "documents"), sf.AUG_TEXT, *keep)


_AUG_FROM = f"(SELECT *, {sf.inline(sf.AUG_TEXT)} AS aug FROM documents) d"


# =========================================================================
# Detector / extraction family (SURVEY §2.2 P1-P8, detectors [NORTH])
# =========================================================================

@register(
    "detector_counts",
    oracle=f"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(aug, '{sf.EMAIL_PAT}'))) AS BIGINT) AS n_email,
           CAST(SUM(len(regexp_extract_all(aug, '{sf.PHONE_PAT}'))) AS BIGINT) AS n_phone,
           CAST(SUM(len(regexp_extract_all(aug, '{sf.CEP_PAT}'))) AS BIGINT) AS n_cep,
           COUNT(*) AS n_docs
    FROM {_AUG_FROM}
    GROUP BY lang ORDER BY lang
    """,
)
def detector_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compiled-regex detector match counts per lang (detectors stage:
    JVM-side email/phone/CEP patterns, the SQL analogue of the
    ``pii_core/detectors.py`` scans)."""
    d = _aug_docs(spark, sf_dir)
    def n(pat):
        return F.size(F.regexp_extract_all(F.col("aug"), F.lit(pat), F.lit(0)))
    return (
        d.groupBy("lang")
        .agg(
            F.sum(n(sf.EMAIL_PAT)).alias("n_email"),
            F.sum(n(sf.PHONE_PAT)).alias("n_phone"),
            F.sum(n(sf.CEP_PAT)).alias("n_cep"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


def _cpf_is_valid_sql(col: str) -> str:
    """Full mod-11 CPF validation in SQL (oracle side only — the Spark side
    validates via pii_core.detectors.cpf_checksum_ok in a pandas UDF)."""
    d = lambda i: f"CAST(substr({col}, {i}, 1) AS INT)"
    s1 = " + ".join(f"{d(i + 1)} * {10 - i}" for i in range(9))
    c1 = f"(CASE WHEN (({s1}) * 10) % 11 = 10 THEN 0 ELSE (({s1}) * 10) % 11 END)"
    s2 = " + ".join(f"{d(i + 1)} * {11 - i}" for i in range(10))
    c2 = f"(CASE WHEN (({s2}) * 10) % 11 = 10 THEN 0 ELSE (({s2}) * 10) % 11 END)"
    return (f"(length({col}) = 11 AND {col} <> repeat(substr({col}, 1, 1), 11)"
            f" AND {d(10)} = {c1} AND {d(11)} = {c2})")


def _cnpj_is_valid_sql(col: str) -> str:
    d = lambda i: f"CAST(substr({col}, {i}, 1) AS INT)"
    w1 = (5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
    s1 = " + ".join(f"{d(i + 1)} * {w}" for i, w in enumerate(w1))
    c1 = f"(CASE WHEN ({s1}) % 11 < 2 THEN 0 ELSE 11 - (({s1}) % 11) END)"
    w2 = (6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
    s2 = " + ".join(f"{d(i + 1)} * {w}" for i, w in enumerate(w2))
    c2 = f"(CASE WHEN ({s2}) % 11 < 2 THEN 0 ELSE 11 - (({s2}) % 11) END)"
    return (f"(length({col}) = 14 AND {col} <> repeat(substr({col}, 1, 1), 14)"
            f" AND {d(13)} = {c1} AND {d(14)} = {c2})")


@register(
    "checksum_validate",
    oracle=f"""
    SELECT kind, lang,
           CAST(SUM(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(SUM(CASE WHEN v THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
           COUNT(*) AS n_total
    FROM (
      SELECT 'cnpj' AS kind, lang, {_cnpj_is_valid_sql('cand')} AS v
      FROM (SELECT lang, {sf.inline(sf.CNPJ_CANDIDATE)} AS cand FROM documents) a
      UNION ALL
      SELECT 'cpf' AS kind, lang, {_cpf_is_valid_sql('cand')} AS v
      FROM (SELECT lang, {sf.inline(sf.CPF_CANDIDATE)} AS cand FROM documents) b
    ) u GROUP BY kind, lang ORDER BY kind, lang
    """,
)
def checksum_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CPF mod-11 AND CNPJ digit-verification checksums over Arrow batches
    (north rule: no per-row Python): Spark validates with
    pii_core.detectors.{cpf,cnpj}_checksum_ok in vectorized pandas UDFs;
    the oracle re-derives both checksum algebras independently in SQL.
    (Merged from the round-2 ``cpf_checksum`` + ``cnpj_checksum`` entries —
    same evidence, one registry slot; the driver reports at most 50 rows.)"""
    from pii_core.detectors import (
        cnpj_checksum_ok_batch,
        cpf_checksum_ok_batch,
    )

    ok_cpf = checksum_udf(cpf_checksum_ok_batch)
    ok_cnpj = checksum_udf(cnpj_checksum_ok_batch)

    d = sf.staged(_t(spark, sf_dir, "documents"),
                  sf.CPF_CANDIDATE + sf.CNPJ_CANDIDATE, "cpf_cand", "cnpj_cand")
    cpf = d.select("lang", F.lit("cpf").alias("kind"),
                   ok_cpf("cpf_cand").alias("v"))
    cnpj = d.select("lang", F.lit("cnpj").alias("kind"),
                    ok_cnpj("cnpj_cand").alias("v"))
    return (
        cpf.unionByName(cnpj)
        .groupBy("kind", "lang")
        .agg(F.sum(F.col("v").cast("long")).alias("n_valid"),
             F.sum((~F.col("v")).cast("long")).alias("n_invalid"),
             F.count("*").alias("n_total"))
        .orderBy("kind", "lang")
    )


@register(
    "should_be_public",
    oracle=f"""
    SELECT lang,
           CAST(SUM(CASE WHEN has_pii THEN 0 ELSE 1 END) AS BIGINT) AS n_public,
           CAST(SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii,
           COUNT(*) AS n_docs
    FROM (
      SELECT lang,
             ({_cpf_is_valid_sql('cand')}
              OR len(regexp_extract_all(aug, '{sf.PHONE_PAT}')) > 0) AS has_pii
      FROM (SELECT lang, {sf.inline(sf.AUG_TEXT)} AS aug,
                   {sf.inline(sf.CPF_CANDIDATE)} AS cand FROM documents) x
    ) y GROUP BY lang ORDER BY lang
    """,
)
def should_be_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level decision (reference P2, infer_pii.py:553-569):
    has_pii = valid CPF present OR phone detected; public = NOT has_pii."""
    from pii_core.detectors import cpf_checksum_ok_batch

    ok = checksum_udf(cpf_checksum_ok_batch)

    # one staged CPF candidate feeds both the text and the checksum; the
    # phone test is rlike (first-match early-exit), not a full-match
    # materialization, same boolean
    d = _aug_docs(spark, sf_dir, "aug", "cpf_cand")
    has_pii = ok("cpf_cand") | F.col("aug").rlike(sf.PHONE_PAT)
    return (
        d.withColumn("has_pii", has_pii)
        .groupBy("lang")
        .agg(
            F.sum((~F.col("has_pii")).cast("long")).alias("n_public"),
            F.sum(F.col("has_pii").cast("long")).alias("n_pii"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


@register(
    "span_filter_hof",
    oracle=f"""
    SELECT source,
           CAST(SUM(len(list_filter(vals, x -> length(x) % 10 >= 4))) AS BIGINT) AS n_kept,
           CAST(SUM(len(vals)) AS BIGINT) AS n_total
    FROM (SELECT source,
                 regexp_extract_all(aug, '{sf.EMAIL_PAT}') AS vals
          FROM {_AUG_FROM}) v
    GROUP BY source ORDER BY source
    """,
)
def span_filter_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span confidence/length filter as a higher-order array function, no UDF
    (reference P1, spans.py:248-269): keep matches whose deterministic
    pseudo-confidence (length % 10) clears the threshold."""
    d = _aug_docs(spark, sf_dir)
    vals = F.regexp_extract_all(F.col("aug"), F.lit(sf.EMAIL_PAT), F.lit(0))
    kept = F.filter(vals, lambda x: F.length(x) % 10 >= 4)
    return (
        d.select("source", F.size(kept).alias("k"), F.size(vals).alias("t"))
        .groupBy("source")
        .agg(F.sum("k").alias("n_kept"), F.sum("t").alias("n_total"))
        .orderBy("source")
    )


_PREFIX_PAT = r"^(?:Documento )?CPF(?: n[o.]?)?[: ]*"


@register(
    "sanitize_values",
    oracle=f"""
    SELECT raw_label, regexp_replace(raw_value, '{_PREFIX_PAT}', '') AS value,
           COUNT(*) AS n
    FROM (
      SELECT {sf.SANITIZE_PREFIX} || {sf.inline(sf.CPF_VALID)} AS raw_value,
             'DOC_PESSOAL' AS raw_label
      FROM documents WHERE doc_id < 200
    ) r
    GROUP BY raw_label, value ORDER BY value
    """,
)
def sanitize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value sanitization rewrite (reference P3, ner_labels.py:154-192):
    iteratively strip label prefixes, keep the cleaned literal."""
    docs = _t(spark, sf_dir, "documents").where("doc_id < 200")
    d = sf.staged(docs, sf.CPF_VALID).select(
        F.expr(f"{sf.SANITIZE_PREFIX} || cpf_valid").alias("raw_value"),
        F.lit("DOC_PESSOAL").alias("raw_label"),
    )
    return (
        d.select(
            "raw_label",
            F.regexp_replace("raw_value", _PREFIX_PAT, "").alias("value"),
        )
        .groupBy("raw_label", "value")
        .agg(F.count("*").alias("n"))
        .orderBy("value")
    )


@register(
    "validate_formats",
    oracle=f"""
    SELECT
      CAST(SUM(CASE WHEN regexp_matches(email_cand, '^{sf.EMAIL_PAT}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_email_ok,
      CAST(SUM(CASE WHEN length(regexp_replace(phone_cand, '[^0-9]', '', 'g')) >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_phone_ok,
      CAST(SUM(CASE WHEN regexp_matches(date_cand, '^[0-9]{{2}}/[0-9]{{2}}/[0-9]{{4}}$') THEN 1 ELSE 0 END) AS BIGINT) AS n_date_ok,
      COUNT(*) AS n_docs
    FROM (
      SELECT
        {sf.EMAIL_CAND} AS email_cand,
        {sf.PHONE_CAND} AS phone_cand,
        {sf.DATE_CAND} AS date_cand
      FROM documents
    ) c
    """,
)
def validate_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value-format validation predicates (reference P4,
    ner_labels.py:437-701): email shape, >=8-digit phone, dd/mm/yyyy date —
    all as builtin expressions (regexp_like + digit-count)."""
    d = _t(spark, sf_dir, "documents").select(
        F.expr(sf.EMAIL_CAND).alias("email_cand"),
        F.expr(sf.PHONE_CAND).alias("phone_cand"),
        F.expr(sf.DATE_CAND).alias("date_cand"),
    )
    email_ok = F.regexp_like("email_cand", F.lit(f"^{sf.EMAIL_PAT}$"))
    phone_ok = F.length(F.regexp_replace("phone_cand", "[^0-9]", "")) >= 8
    date_ok = F.regexp_like("date_cand", F.lit(r"^\d{2}/\d{2}/\d{4}$"))
    return d.agg(
        F.sum(email_ok.cast("long")).alias("n_email_ok"),
        F.sum(phone_ok.cast("long")).alias("n_phone_ok"),
        F.sum(date_ok.cast("long")).alias("n_date_ok"),
        F.count("*").alias("n_docs"),
    )


_KW_PAT = r"(?:ltda|empresa|cnpj|companhia|s\.a\.)"


@register(
    "company_id_migration",
    oracle=f"""
    SELECT CASE WHEN {_cnpj_is_valid_sql('cand')}
                 AND regexp_matches(lower(ctx), '{_KW_PAT}')
            THEN 'DOC_EMPRESA' ELSE 'ID_PROCESSUAL' END AS label,
           COUNT(*) AS n
    FROM (
      SELECT {sf.inline(sf.CNPJ_CANDIDATE)} AS cand,
             {sf.COMPANY_CTX} AS ctx
      FROM documents
    ) m
    GROUP BY label ORDER BY label
    """,
)
def company_id_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Company-id migration heuristic (reference P5, spans.py:16-46):
    CNPJ-shaped valid value + company keyword in the 40-char left context →
    relabel DOC_EMPRESA."""
    from pii_core.detectors import cnpj_checksum_ok_batch

    ok = checksum_udf(cnpj_checksum_ok_batch)

    d = sf.staged(_t(spark, sf_dir, "documents"), sf.CNPJ_CANDIDATE).select(
        "cnpj_cand", F.expr(sf.COMPANY_CTX).alias("ctx"))
    label = F.when(
        ok("cnpj_cand") & F.regexp_like(F.lower("ctx"), F.lit(_KW_PAT)),
        F.lit("DOC_EMPRESA"),
    ).otherwise(F.lit("ID_PROCESSUAL"))
    return (
        d.select(label.alias("label")).groupBy("label")
        .agg(F.count("*").alias("n")).orderBy("label")
    )


@register(
    "excerpt",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN length(clean) > 60 THEN substr(clean, 1, 60) || '...'
                ELSE clean END AS excerpt
    FROM (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean
          FROM documents WHERE doc_id < 50) c
    ORDER BY doc_id
    """,
)
def excerpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt projection (reference P6, infer_pii.py:767-769): whitespace
    collapse + truncate with ellipsis — pure builtin expressions."""
    from pii_spark.ops.textstats import _ws_norm  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents").where("doc_id < 50")
    d = d.select("doc_id", _ws_norm("text").alias("clean"))
    exc = F.when(
        F.length("clean") > 60, F.concat(F.substring("clean", 1, 60), F.lit("..."))
    ).otherwise(F.col("clean"))
    return d.select("doc_id", exc.alias("excerpt")).orderBy("doc_id")


@register(
    "redact",
    oracle=f"""
    SELECT doc_id,
           p1 || CASE WHEN length(v1) > 0 THEN '[DOC_PESSOAL]' ELSE '' END
              || p2
              || CASE WHEN length(v2) > 0 THEN '[CONTATO]' ELSE '' END
              || p3 AS tag_redacted,
           p1 || repeat('*', length(v1)) || p2 || repeat('*', length(v2))
              || p3 AS mask_redacted
    FROM ({sf.REDACT_PARTS.format(
        cpf=sf.inline(sf.CPF_VALID), strtype="VARCHAR", documents="documents")}) t
    ORDER BY doc_id
    """,
)
def redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (ops/redact.redact_expr — the PRODUCTION fused
    aggregate-HOF splice, both tag and mask modes) against an oracle that
    re-derives the splice independently from the text's parts. The spans
    array is built exactly as the pipeline would hand it over (sorted,
    non-overlapping, typed structs); the non-PII ORG_JURIDICA span must
    pass through unredacted, zero-length spans are filtered out, and the
    zero-span rows must come back verbatim."""
    from pii_spark.ops.redact import redact_expr  # noqa: PLC0415

    # the fixture's text verbatim; spark.sql binds {documents} to the frame
    # that carries the staged CPF
    d = spark.sql(
        sf.REDACT_PARTS.format(cpf="cpf_valid", strtype="STRING",
                               documents="{documents}"),
        documents=sf.staged(_t(spark, sf_dir, "documents"), sf.CPF_VALID))
    d = d.selectExpr(
        "doc_id",
        "p1 || v1 || p2 || v2 || p3 AS text",
        """filter(array(
             named_struct('type', 'DOC_PESSOAL',
                          'start', length(p1),
                          'end', length(p1) + length(v1),
                          'value', v1, 'conf', 1.0d, 'n_tokens', 1),
             named_struct('type', 'CONTATO',
                          'start', length(p1) + length(v1) + length(p2),
                          'end', length(p1) + length(v1) + length(p2)
                                 + length(v2),
                          'value', v2, 'conf', 1.0d, 'n_tokens', 1),
             named_struct('type', 'ORG_JURIDICA',
                          'start', length(p1) + length(v1) + length(p2)
                                   + length(v2),
                          'end', length(p1) + length(v1) + length(p2)
                                 + length(v2)
                                 + CASE WHEN doc_id % 4 = 0 THEN 5
                                        ELSE 0 END,
                          'value', '', 'conf', 1.0d, 'n_tokens', 1)
           ), s -> s.end > s.start) AS spans""",
    )
    return d.select(
        "doc_id",
        redact_expr(F.col("text"), F.col("spans"), "tag")
        .alias("tag_redacted"),
        redact_expr(F.col("text"), F.col("spans"), "mask")
        .alias("mask_redacted"),
    ).orderBy("doc_id")


# =========================================================================
# Window / sequence family (SURVEY §2.5 W1-W4 analogues on ordered data)
# =========================================================================

@register(
    "sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), per AS (
      SELECT user_id, sess_id, COUNT(*) AS n FROM sess GROUP BY user_id, sess_id
    )
    SELECT user_id, COUNT(*) AS n_sessions, MAX(n) AS max_session_events
    FROM per GROUP BY user_id ORDER BY user_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — the reference's BIO span state machine (W1,
    spans.py:69-135) re-expressed as the classic lag + cumulative-sum window:
    boundary flag on gap > 30 min, running sum forms the session id."""
    from pyspark.sql import Window

    spark.conf.set("spark.sql.session.timeZone", "UTC")  # NTZ-cast stability
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.unix_millis(F.lag("ts").over(w).cast("timestamp"))
    flagged = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800000), 1).otherwise(0))
    sess = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "sess_id").agg(F.count("*").alias("n"))
    return (
        per.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.max("n").alias("max_session_events"))
        .orderBy("user_id")
    )


@register(
    "interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_ms(ts) AS s,
             epoch_ms(ts) + CAST(floor(value * 60) AS BIGINT) * 1000 AS e,
             event_id
      FROM events
    ), flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       >= s
                  THEN 0 ELSE 1 END AS new_grp
      FROM iv
    ), grp AS (
      SELECT user_id, s, e,
             SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                ROWS UNBOUNDED PRECEDING) AS gid
      FROM flagged
    ), merged AS (
      SELECT user_id, gid, MIN(s) AS ms, MAX(e) AS me
      FROM grp GROUP BY user_id, gid
    )
    SELECT user_id, COUNT(*) AS n_merged,
           CAST(SUM(me - ms) AS BIGINT) AS covered_ms
    FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-type interval merge (reference W3, spans.py:283-298) as the
    running-max window trick: a new group starts when the running max of
    prior ends does not reach the current start (overlap-or-touch merges).
    Millisecond epochs: event timestamps carry microseconds, and second
    truncation semantics differ across engines."""
    from pyspark.sql import Window

    # events.ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is a
    # pure reinterpretation, matching DuckDB's naive epoch_ms.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        ms.alias("s"),
        (ms + F.floor(F.col("value") * 60).cast("long") * 1000).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    run_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = e.withColumn(
        "new_grp", F.when(run_max >= F.col("s"), 0).otherwise(1))
    grp = flagged.withColumn(
        "gid", F.sum("new_grp").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    merged = grp.groupBy("user_id", "gid").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"))
    return (
        merged.groupBy("user_id")
        .agg(F.count("*").alias("n_merged"),
             F.sum(F.col("me") - F.col("ms")).alias("covered_ms"))
        .orderBy("user_id")
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT event_type, event_id, value, rk FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rk
      FROM events
    ) r WHERE rk <= 3 ORDER BY event_type, rk
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via rank window (reference O3/O4 limits + A10
    error-bucket sampling shape)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w).cast("long"))
        .where("rk <= 3")
        .select("event_type", "event_id", "value", "rk")
        .orderBy("event_type", "rk")
    )


# =========================================================================
# Relational family (joins/aggs the engine gets from Catalyst for free,
# proven here against the oracle; SURVEY §2.3-§2.4)
# =========================================================================

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregation with map-side partial aggregation;
    money summed in integer cents so the result is order-independent and
    float-exact on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")
    disc = F.round((1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).alias("sum_base_c"),
            F.sum(cents("l_extendedprice") * disc).alias("sum_disc_c"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "top_customers_by_nation",
    oracle="""
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY c.c_custkey, c.c_name, n.n_name
    )
    SELECT n_name, c_name, revenue_c, rk FROM (
      SELECT n_name, c_name, revenue_c,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY revenue_c DESC, c_custkey) AS rk
      FROM rev
    ) r WHERE rk <= 3 ORDER BY n_name, rk
    """,
)
def top_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate the fact table FIRST (one hash agg keyed by the bare
    custkey long — map-side partials, the shuffle carries (custkey, cents)
    only), then broadcast-join the dims onto the aggregated rows and rank.
    The former join-then-group shape dragged c_name/n_name strings through
    the revenue aggregation's hash keys and exchange for every order row —
    measured 2x slower at sf1.0. Identical result: c_custkey is the
    customer table's key, so grouping by it before or after attaching the
    (functionally dependent) name columns produces the same groups, and
    orders without a matching customer drop at the inner join either way."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("revenue_c"))
    rev = (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue_c")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue_c").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("rk", F.row_number().over(w).cast("long"))
        .where("rk <= 3")
        .select("n_name", "c_name", "revenue_c", "rk")
        .orderBy("n_name", "rk")
    )


@register(
    "order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi existence join + filter + hash agg (TPC-H Q4-shaped;
    reference J3's semi-join shape at fact scale)."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    j = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        j.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
    )


# =========================================================================
# Rows-only flagship (non-SQL-expressible: full mapInPandas pipeline)
# =========================================================================

@register("pii_extract_pages")  # no oracle: order-sensitive greedy span
def pii_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL extraction pipeline (html→text→chunk→NER→Viterbi→span algebra→
    decision) over a deterministic synthetic pages corpus. Byte-identical
    parity vs pii_core and partition invariance are asserted in
    tests/test_spark_extract.py; the driver records a rows-only check here
    because W4/W5 greedy resolution is deliberately not SQL-expressible
    (SURVEY §7.4)."""
    from pii_spark.extract import extract_pages
    from pii_spark.synth import pages_df

    pages = pages_df(spark, 120, seed=7)
    res = extract_pages(pages)
    return res.select(
        "url", "n_spans", "should_be_public", "doc_bytes"
    ).orderBy("url")


def _train_split_threshold() -> str:
    from pii_spark.training import split_threshold_hex

    return split_threshold_hex(0.10)


@register(
    "train_val_split",
    oracle=None,  # set below (needs the threshold constant)
)
def train_val_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic train/validation split (reference O7,
    finetune_pii_token_classification.py:436-444 train_test_split): content-
    hash assignment — disjoint, proportional, identical on any cluster size
    (unlike a shuffled permutation). Emits per-split counts + witnesses."""
    from pii_spark.training import train_val_split

    d = _t(spark, sf_dir, "documents")
    train, val = train_val_split(d, 0.10, seed=42, key_col="doc_id")
    tagged = train.select("doc_id", F.lit("train").alias("split")).unionByName(
        val.select("doc_id", F.lit("val").alias("split")))
    return (
        tagged.groupBy("split")
        .agg(F.count("*").alias("n"),
             F.min("doc_id").alias("min_id"), F.max("doc_id").alias("max_id"))
        .orderBy("split")
    )


ORACLES["train_val_split"] = f"""
SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS STRING) || ':42'), 1, 4)
                   < '{_train_split_threshold()}'
              THEN 'val' ELSE 'train' END AS split
  FROM documents
) s GROUP BY split ORDER BY split
"""


@register(
    "training_micro_f1",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(generate_series(1, n_chars % 20 + 5)) AS k
      FROM documents
    ),
    vals AS (
      SELECT doc_id, k,
             CASE WHEN k % 7 = 0 THEN -100
                  ELSE CAST((doc_id + k) % 5 AS INT) END AS y,
             CAST((doc_id + k + CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END) % 5
                  AS INT) AS p
      FROM toks
    )
    SELECT CAST(SUM(CASE WHEN y <> -100 AND p <> 0 AND y <> 0 AND p = y
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN y <> -100 AND p <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS pred_pos,
           CAST(SUM(CASE WHEN y <> -100 AND y <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS true_pos,
           CAST(floor(
             2.0 * SUM(CASE WHEN y <> -100 AND p <> 0 AND y <> 0 AND p = y
                            THEN 1 ELSE 0 END) * 10000
             / (SUM(CASE WHEN y <> -100 AND p <> 0 THEN 1 ELSE 0 END)
                + SUM(CASE WHEN y <> -100 AND y <> 0 THEN 1 ELSE 0 END))
           ) AS BIGINT) AS f1_x10000
    FROM vals
    """,
)
def training_micro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-classification micro-F1 counters (reference A9,
    finetune_pii_token_classification.py:562-587 compute_metrics): pred and
    label id sequences derived deterministically per document, -100 padding
    positions skipped, positive == not-O. The Spark side runs the array-HOF
    counters from pii_spark.training (zip_with + filter); the oracle
    re-derives the counts with flat SQL over unnested indices — two genuinely
    independent implementations."""
    from pii_spark.training import micro_f1_counters

    d = _t(spark, sf_dir, "documents")
    length = (F.col("n_chars") % 20 + 5).cast("int")
    ks = F.sequence(F.lit(1), length)
    label = F.transform(ks, lambda k: F.when(k % 7 == 0, -100).otherwise(
        ((F.col("doc_id") + k) % 5).cast("int")))
    pred = F.transform(ks, lambda k: (
        (F.col("doc_id") + k + F.when(k % 3 == 0, 1).otherwise(0)) % 5
    ).cast("int"))
    seqs = d.select(pred.alias("pred"), label.alias("label"))
    n_tp, n_pred, n_true = micro_f1_counters("pred", "label", o_id=0)
    agg = seqs.agg(
        F.sum(n_tp).alias("tp"),
        F.sum(n_pred).alias("pred_pos"),
        F.sum(n_true).alias("true_pos"),
    )
    return agg.select(
        "tp", "pred_pos", "true_pos",
        F.floor(2.0 * F.col("tp") * 10000
                / (F.col("pred_pos") + F.col("true_pos")))
        .cast("long").alias("f1_x10000"),
    )


@register("pii_extract_pdf_pages")  # no oracle: PDF layout parse is not SQL
def pii_extract_pdf_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction over PDF payloads (north rule: "PDF/layout parse"): the
    SAME pipeline, payloads sniffed by %PDF- magic and routed through
    pii_core.pdf_extract (frozen-spec stdlib parser: FlateDecode + Tj/TJ
    text operators). Byte-parity vs pii_core pinned by
    tests/test_spark_extract.py::test_pdf_pages_byte_identical_parity."""
    from pii_spark.extract import extract_pages
    from pii_spark.synth import pdf_pages_df

    res = extract_pages(pdf_pages_df(spark, 80, seed=7))
    return res.select(
        "url", "n_spans", "should_be_public", "doc_bytes"
    ).orderBy("url")


# late-bound registries from ops modules (dedup / similarity / text stats /
# multimodal) — imported last so this module stays the single registry.
def _load_ops() -> None:
    from pii_spark.ops import register_all

    register_all(register)


_load_ops()


# =========================================================================
# Join family (reference J2-J4) + set ops (O5-O6) + A8
# =========================================================================

_REVIEW_LIST_SQL = (f"SELECT {sf.REVIEW_EMAIL} AS value "
                    "FROM documents WHERE doc_id % 5 = 0")


@register(
    "review_semi_join",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_kept FROM (
      SELECT lang, unnest(regexp_extract_all(aug, '{sf.EMAIL_PAT}')) AS value
      FROM {_AUG_FROM}
    ) det
    WHERE value IN ({_REVIEW_LIST_SQL})
    GROUP BY lang ORDER BY lang
    """,
)
def review_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Review semi-join (reference J3, pii_value_review.py:239-333): keep
    detected values present in the reviewed set — broadcast left-semi join,
    no shuffle on the big side."""
    d = _aug_docs(spark, sf_dir)
    det = d.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.col("aug"), F.lit(sf.EMAIL_PAT), F.lit(0))
        ).alias("value"),
    )
    review = (
        _t(spark, sf_dir, "documents")
        .where("doc_id % 5 = 0")
        .select(F.expr(sf.REVIEW_EMAIL).alias("value"))
    )
    kept = det.join(F.broadcast(review), "value", "left_semi")
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept")).orderBy("lang")


@register(
    "review_add_missing",
    oracle=f"""
    WITH r AS ({_REVIEW_LIST_SQL.replace("SELECT ", "SELECT 'CONTATO' AS type, ", 1)}),
    d AS (SELECT CAST(doc_id AS STRING) AS url, aug FROM {_AUG_FROM})
    SELECT d.url, r.type, r.value,
           CAST(instr(d.aug, r.value) - 1 AS INT) AS start,
           CAST(instr(d.aug, r.value) - 1 + len(r.value) AS INT) AS "end"
    FROM d JOIN r ON instr(d.aug, r.value) > 0
    ORDER BY url, start, value
    """,
)
def review_add_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full --add-missing semantics (reference pii_value_review.py:307-325)
    via review.apply_missing: reviewed values literally present in the text
    but absent from spans reappear as spans with greedy literal-occurrence
    offsets. The oracle enumerates first-occurrence offsets directly — valid
    because each synthetic email value embeds its doc_id, so it occurs
    exactly once corpus-wide (greedy == first occurrence)."""
    from pii_spark.review import apply_missing  # noqa: PLC0415

    empty_spans = F.expr(
        "CAST(array() AS array<struct<type:string,start:int,end:int,"
        "value:string,conf:double,n_tokens:int>>)")
    # coalesce: a NULL text finds no value on either side, and a
    # non-nullable text leaves no inferred isnotnull filter for Catalyst to
    # push below the staged projections, which would inline the whole chain
    d = _aug_docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.coalesce("aug", F.lit("")).alias("extracted_text"),
        empty_spans.alias("spans"),
    )
    review = (
        _t(spark, sf_dir, "documents")
        .where("doc_id % 5 = 0")
        .select(F.lit("CONTATO").alias("type"),
                F.expr(sf.REVIEW_EMAIL).alias("value"))
    )
    out = apply_missing(d, review)
    return (
        out.select("url", F.explode("spans").alias("s"))
        .select("url", F.col("s.type").alias("type"),
                F.col("s.value").alias("value"),
                F.col("s.start").alias("start"), F.col("s.end").alias("end"))
        .orderBy("url", "start", "value")
    )


@register(
    "literal_occurrence_join",
    oracle="""
    SELECT source,
           CAST(SUM((length(text) - length(replace(text, 'table', ''))) / 5) AS BIGINT) AS n_occurrences,
           CAST(SUM(CASE WHEN length(text) <> length(replace(text, 'table', '')) THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with
    FROM documents GROUP BY source ORDER BY source
    """,
)
def literal_occurrence_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-occurrence join (reference J2, spans.py:347-357): count all
    non-overlapping occurrences of a value in each text — expressed as the
    classic length-delta trick, zero UDF."""
    d = _t(spark, sf_dir, "documents")
    occ = (F.length("text")
           - F.length(F.replace(F.col("text"), F.lit("table")))) / 5
    return (
        d.groupBy("source")
        .agg(
            F.sum(occ).cast("long").alias("n_occurrences"),
            F.sum((occ > 0).cast("long")).alias("n_docs_with"),
        )
        .orderBy("source")
    )


@register(
    "interval_range_join",
    oracle="""
    WITH chunks AS (
      SELECT doc_id, source, (k - 1) * 100 AS cs, (k - 1) * 100 + 120 AS ce
      FROM (SELECT doc_id, source, unnest(generate_series(1, CAST(ceil(n_chars / 100.0) AS BIGINT))) AS k
            FROM documents) g
    ),
    spans AS (
      SELECT doc_id, (n_chars % 97) * 3 AS s, (n_chars % 97) * 3 + 15 AS e
      FROM documents
    )
    SELECT source, COUNT(*) AS n_pairs
    FROM chunks c JOIN spans p
      ON c.doc_id = p.doc_id AND p.s < c.ce AND p.e > c.cs
    GROUP BY source ORDER BY source
    """,
)
def interval_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk×span interval join (reference J4, build_finetune_jsonl.py:
    294-314): overlap predicate range join between per-doc chunk windows and
    span offsets (both derived deterministically from n_chars)."""
    d = _t(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id", "source",
        F.explode(
            F.sequence(F.lit(1), F.ceil(F.col("n_chars") / 100.0).cast("long"))
        ).alias("k"),
    ).select(
        "doc_id", "source",
        ((F.col("k") - 1) * 100).alias("cs"),
        ((F.col("k") - 1) * 100 + 120).alias("ce"),
    )
    spans = d.select(
        F.col("doc_id").alias("span_doc_id"),
        ((F.col("n_chars") % 97) * 3).alias("s"),
        ((F.col("n_chars") % 97) * 3 + 15).alias("e"),
    )
    j = chunks.join(
        spans,
        (chunks.doc_id == spans.span_doc_id)
        & (spans.s < chunks.ce) & (spans.e > chunks.cs),
    )
    return (
        j.groupBy("source").agg(F.count("*").alias("n_pairs")).orderBy("source")
    )


@register(
    "distinct_values_report",
    oracle=f"""
    WITH ev AS (
      SELECT doc_id,
             unnest(regexp_extract_all(aug, '{sf.EMAIL_PAT}')) AS value,
             generate_subscripts(regexp_extract_all(aug, '{sf.EMAIL_PAT}'), 1) AS pos
      FROM {_AUG_FROM}
    ),
    v AS (
      SELECT 'CONTATO' AS label, value, doc_id, pos FROM ev
      UNION ALL
      SELECT 'DOC_PESSOAL' AS label, {sf.inline(sf.CPF_CANDIDATE)} AS value,
             doc_id, 1 AS pos
      FROM documents
    ),
    firsts AS (
      SELECT label, value,
             MIN(doc_id * 100000 + pos) AS fk
      FROM v GROUP BY label, value
    ),
    stats AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             MIN(value) AS min_value, MAX(value) AS max_value
      FROM firsts GROUP BY label
    ),
    ranked AS (
      SELECT label, value,
             row_number() OVER (PARTITION BY label ORDER BY fk, value) AS rn
      FROM firsts
    )
    SELECT r.label, CAST(rn AS BIGINT) AS rn, value,
           n_distinct, min_value, max_value
    FROM ranked r JOIN stats s USING (label)
    WHERE rn <= 10 ORDER BY label, rn
    """,
)
def distinct_values_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct values per label in FIRST-SEEN order, with per-label
    distinct counts and min/max witnesses (reference A8,
    pii_value_review.py:174-224: values appended on first appearance in
    dataset row order). The distributed analogue of "file order" is
    (doc_id, within-doc position): each (label, value) takes the MIN of that
    composite key, then a per-label rank yields the first 10; per-label
    stats are window aggregates over the same label partition, so the
    per-doc work is planned once. At scale the rank would be
    pruned two-phase like evaljob.error_bucket_samples; the groupBy shuffles
    (label, value, fk) only — never text. (Merged from the round-2
    ``distinct_values_by_label`` + ``distinct_values_first_seen`` entries —
    same evidence, one registry slot; the driver reports at most 50 rows.)"""
    from pyspark.sql import Window  # noqa: PLC0415

    def value(label, v, pos):
        return F.struct(F.lit(label).alias("label"), v.alias("value"),
                        pos.alias("pos"))

    # one pass per doc: its detected emails and its CPF candidate, which
    # the augmented text already staged, exploded together
    emails = F.regexp_extract_all(F.col("aug"), F.lit(sf.EMAIL_PAT), F.lit(0))
    v = _aug_docs(spark, sf_dir, "aug", "cpf_cand").select(
        "doc_id",
        F.explode(F.concat(
            F.transform(emails, lambda x, i: value("CONTATO", x, i + 1)),
            F.array(value("DOC_PESSOAL", F.col("cpf_cand"), F.lit(1))),
        )).alias("v"),
    )
    firsts = (
        v.select("v.label", "v.value", "doc_id", "v.pos")
        .groupBy("label", "value")
        .agg(F.min(F.col("doc_id") * 100000 + F.col("pos")).alias("fk"))
    )
    by_label = Window.partitionBy("label")
    return (
        firsts.select(
            "label",
            F.row_number().over(by_label.orderBy("fk", "value"))
            .cast("long").alias("rn"),
            "value",
            F.count("*").over(by_label).alias("n_distinct"),
            F.min("value").over(by_label).alias("min_value"),
            F.max("value").over(by_label).alias("max_value"))
        .where(F.col("rn") <= 10)
        .orderBy("label", "rn")
    )


@register(
    "array_set_ops",
    oracle=f"""
    SELECT lang,
           CAST(SUM(len(list_filter(list_distinct(detected), x -> list_contains(expected, x)))) AS BIGINT) AS n_inter,
           CAST(SUM(len(list_distinct(list_concat(detected, expected)))) AS BIGINT) AS n_union
    FROM (
      SELECT lang, regexp_extract_all(aug, '{sf.EMAIL_PAT}') AS detected,
             [{sf.REVIEW_EMAIL},
              'other@nowhere.org'] AS expected
      FROM {_AUG_FROM}
    ) s GROUP BY lang ORDER BY lang
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations (reference O5/O6: dedup via array_distinct, set
    intersection for strict span match) as builtin higher-order functions."""
    d = _aug_docs(spark, sf_dir)
    detected = F.regexp_extract_all(F.col("aug"), F.lit(sf.EMAIL_PAT), F.lit(0))
    expected = F.array(F.expr(sf.REVIEW_EMAIL), F.lit("other@nowhere.org"))
    return (
        d.select(
            "lang",
            F.size(F.array_intersect(F.array_distinct(detected), expected))
            .alias("i"),
            F.size(F.array_union(detected, expected)).alias("u"),
        )
        .groupBy("lang")
        .agg(F.sum("i").alias("n_inter"), F.sum("u").alias("n_union"))
        .orderBy("lang")
    )


# =========================================================================
# Tokenizer / chunker surface (SURVEY §2.7)
# =========================================================================
# (token_offsets' real-WordTokenizer-vs-RE2 cross-validation lives in
# token_stats now — ops/textstats.py — freeing this slot for curation_dag.)


@register("chunk_stats")  # rows-only: chunk boundaries are chunker-defined
def chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smart-chunker surface at Spark level (reference chunking.py:144-301):
    per-doc chunk count and coverage under a small token budget (forces the
    sliding-window path). Chunker invariants are pytest-pinned; this query
    proves the executor-side plumbing."""
    from pii_core.chunking import build_chunks
    from pii_core.tokenizer import WordTokenizer

    @F.pandas_udf("struct<n_chunks:int,covered:boolean>")
    def stats(s: pd.Series) -> pd.DataFrame:
        tok = WordTokenizer()
        ncs, covs = [], []
        for t in s.to_numpy():  # raw ndarray iteration (extract.py idiom)
            t = t or ""
            chunks = build_chunks(t, tok, max_length=64, stride=16,
                                  boundary_backoff=8)
            ncs.append(len(chunks))
            # coverage starts at the first non-whitespace char (char
            # starts back up to WORD start, so leading whitespace stays
            # uncovered — the chunker's documented invariant)
            first = len(t) - len(t.lstrip())
            covs.append(
                not t.strip() or (chunks[0].char_start == first
                                  and chunks[-1].char_end == len(t)))
        return pd.DataFrame({"n_chunks": ncs, "covered": covs})

    d = _t(spark, sf_dir, "documents")
    out = d.select("doc_id", stats("text").alias("s")).select(
        "doc_id", F.col("s.n_chunks").alias("n_chunks"),
        F.col("s.covered").alias("covered"))
    return out.orderBy("doc_id")


@register("build_dataset")  # rows-only: chunk boundaries are chunker-defined
def build_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed training-dataset build (reference
    build_finetune_jsonl.py): annotate documents that contain a known token,
    chunk under a small budget and slice entities per chunk. Invariants are
    pytest-pinned (tests/test_dataset.py); this exercises the executor-side
    plumbing over the real table."""
    from pii_core.pipeline import ExtractConfig
    from pii_spark.dataset import build_chunked_dataset

    d = _t(spark, sf_dir, "documents").where("doc_id < 120")
    annotated = d.select(
        F.col("doc_id").cast("string").alias("doc_key"),
        "text",
        F.when(
            F.col("text").contains(" table "),
            F.array(F.struct(F.lit("QUASI_IDENTIFICADOR").alias("type"),
                             F.lit("table").alias("value"))),
        ).otherwise(F.array().cast(
            "array<struct<type:string,value:string>>")).alias("entities"),
    )
    cfg = ExtractConfig(max_length=64, stride=16, boundary_backoff=8)
    out = build_chunked_dataset(annotated, cfg)
    return out.select(
        "doc_key", "chunk_index", "char_start", "char_end",
        F.size("entities").alias("n_entities"),
        (F.col("error").isNotNull()).alias("failed"),
    ).orderBy("doc_key", "chunk_index")


@register(
    "curation_pipeline",
    oracle="""
    WITH quality AS (
      SELECT doc_id, lang, text,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= 30
    ),
    deduped AS (
      SELECT lang, n_tok,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM quality
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM deduped WHERE rn = 1
    GROUP BY lang ORDER BY lang
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation composition: quality gate (token
    count) → exact dedup (content-hash, keep lowest doc_id) → corpus stats
    per lang. The shapes that matter at 100 TB: the dedup shuffle carries
    (md5, doc_id, n_tok) — never the text."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    quality = d.select("doc_id", "lang", F.md5("text").alias("fp"),
                       n_tok.alias("n_tok")).where(F.col("n_tok") >= 30)
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = quality.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    return (
        deduped.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("lang")
    )


def _curation_dag_oracle() -> str:
    """DuckDB re-derivation of the FULL curate() DAG — all four stages:
    line-level boilerplate dedup → Gopher gates → exact dedup → LSH+Jaccard
    near-dedup with recursive-CTE connected components. Composed from the
    per-operator oracle fragments (line_dedup test oracle, ngram stats,
    dedup_lsh_jaccard / dedup_clusters oracles)."""
    from pii_spark.ops.dedup import _BAND, _N_PERM  # noqa: PLC0415

    minhash = ", ".join(
        f"MIN(md5(CAST({p} AS STRING) || '|' || sh)) AS h{p}"
        for p in range(_N_PERM))
    band_keys = ", ".join(
        f"md5(h{b * _BAND} || h{b * _BAND + 1}) AS b{b}"
        for b in range(_N_PERM // _BAND))
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b{b} AS bk FROM sigs"
        for b in range(_N_PERM // _BAND))
    corpus = _CURATION_CORPUS_SQL
    return rf"""
    WITH RECURSIVE corpus AS ({corpus}),
    split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
    lines AS (SELECT doc_id, unnest(ls) AS line,
                     generate_subscripts(ls, 1) AS line_no FROM split),
    trimd AS (SELECT doc_id, line_no, line,
                     regexp_replace(line, '^\s+|\s+$', '', 'g') AS t
              FROM lines),
    hot AS (SELECT t FROM trimd WHERE t <> ''
            GROUP BY 1 HAVING count(DISTINCT doc_id) > 5),
    kept AS (SELECT doc_id, line_no, line, t FROM trimd
             WHERE t NOT IN (SELECT t FROM hot)),
    lded AS (
      SELECT c.doc_id,
             coalesce(string_agg(k.line, chr(10) ORDER BY k.line_no), '')
               AS text
      FROM corpus c LEFT JOIN kept k USING (doc_id) GROUP BY c.doc_id),
    tok AS (SELECT doc_id, text, tk, len(tk) AS n_tok,
                   list_aggregate(list_transform(tk, t -> len(t)), 'sum')
                     AS tc
            FROM (SELECT doc_id, text,
                         list_filter(regexp_split_to_array(text, '\s+'),
                                     t -> t <> '') AS tk
                  FROM lded) x),
    pl AS (SELECT doc_id, t, count(*) AS c FROM kept WHERE t <> ''
           GROUP BY doc_id, t),
    dlp AS (SELECT doc_id,
                   CAST(floor(SUM(c - 1) * 1000.0 / SUM(c)) AS BIGINT)
                     AS dup_line_pm
            FROM pl GROUP BY doc_id),
    g2 AS (SELECT doc_id, tc, unnest(list_transform(
             generate_series(1, greatest(len(tk) - 1, 0)),
             i -> tk[i] || ' ' || tk[i+1])) AS g FROM tok),
    c2 AS (SELECT doc_id, tc, g, count(*) AS c FROM g2
           GROUP BY doc_id, tc, g),
    t2 AS (SELECT doc_id,
                  least(1000, CAST(floor(c * (len(g) - 1) * 1000.0 / tc)
                                   AS BIGINT)) AS top2
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY c DESC, len(g) - 1 DESC, g DESC) AS rn
                 FROM c2) r WHERE rn = 1),
    g5 AS (SELECT doc_id, tc, unnest(list_transform(
             generate_series(1, greatest(len(tk) - 4, 0)),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                  || tk[i+3] || ' ' || tk[i+4])) AS g FROM tok),
    c5 AS (SELECT doc_id, tc, g, count(*) AS c FROM g5
           GROUP BY doc_id, tc, g),
    d5 AS (SELECT doc_id,
                  least(1000, CAST(floor(coalesce(
                    SUM(CASE WHEN c >= 2 THEN c * (len(g) - 4) END), 0)
                    * 1000.0 / tc) AS BIGINT)) AS dup5
           FROM c5 GROUP BY doc_id, tc),
    gated AS (
      SELECT t.doc_id, t.text,
             CASE WHEN t.n_tok < 30 THEN 'too_short'
                  WHEN coalesce(dlp.dup_line_pm, 0) > 300
                       OR coalesce(t2.top2, 0) > 200
                       OR coalesce(d5.dup5, 0) > 300 THEN 'repetitive'
             END AS reason
      FROM tok t LEFT JOIN dlp USING (doc_id)
      LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)),
    live AS (SELECT doc_id, text FROM gated WHERE reason IS NULL),
    lfp AS (SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                     AS fp
            FROM live),
    ek AS (SELECT fp, MIN(doc_id) AS keep_id FROM lfp GROUP BY fp),
    el AS (SELECT doc_id FROM lfp JOIN ek USING (fp)
           WHERE doc_id <> keep_id),
    live2 AS (SELECT doc_id, text FROM live
              WHERE doc_id NOT IN (SELECT doc_id FROM el)),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, 0)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
           FROM (SELECT doc_id,
                        list_filter(string_split(text, ' '), t -> t <> '')
                          AS toks
                 FROM live2) s),
    sig0 AS (SELECT doc_id, {minhash} FROM sh GROUP BY doc_id),
    sigs AS (SELECT doc_id, {band_keys} FROM sig0),
    bands AS ({bands_union}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
    card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
              GROUP BY c.id_a, c.id_b),
    dup AS (SELECT id_a, id_b FROM inter
            JOIN card ca ON ca.doc_id = id_a
            JOIN card cb ON cb.doc_id = id_b
            WHERE i * 1000.0 / (ca.n + cb.n - i) >= 500),
    edges AS (SELECT id_a AS src, id_b AS dst FROM dup
              UNION ALL SELECT id_b, id_a FROM dup),
    verts AS (SELECT doc_id AS id FROM live2),
    comp(id, root) AS (
      SELECT id, id FROM verts
      UNION
      SELECT e.dst, c.root FROM comp c JOIN edges e ON e.src = c.id),
    nl AS (SELECT id AS doc_id FROM
             (SELECT id, MIN(root) AS rep FROM comp GROUP BY id) a
           WHERE rep <> id)
    SELECT g.doc_id,
           CAST(length(g.text) AS BIGINT) AS text_len,
           CASE WHEN g.reason IS NOT NULL THEN g.reason
                WHEN g.doc_id IN (SELECT doc_id FROM el) THEN 'exact_dup'
                WHEN g.doc_id IN (SELECT doc_id FROM nl) THEN 'near_dup'
           END AS drop_reason
    FROM gated g ORDER BY g.doc_id
    """


# The curation corpus: base docs wrapped in shared boilerplate lines (fires
# line dedup), exact copies (fires stage 3), per-doc-suffixed near copies
# (fires stage 4 — the suffix line is UNIQUE per doc so line dedup cannot
# collapse it back to an exact copy), plus short and repetitive rows for the
# quality gates. Pure SQL, one text for both engines (the Spark side runs it
# through ``documents_sql``).
_BOILER = ("'Menu Inicio Contato Sobre' || chr(10) || text || chr(10) || "
           "'Copyright 2026 Todos os direitos reservados'")
_CURATION_CORPUS_SQL = f"""
      SELECT doc_id, {_BOILER} AS text
      FROM documents WHERE doc_id < 250
      UNION ALL
      SELECT doc_id + 1000000, {_BOILER}
      FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 2000000,
             {_BOILER} || ' um sufixo extra anexado numero '
               || CAST(doc_id AS STRING)
      FROM documents WHERE doc_id < 250 AND doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 3000000, 'poucas palavras aqui'
      FROM documents WHERE doc_id < 3
      UNION ALL
      SELECT doc_id + 4000000, repeat('spam ham ', 60)
      FROM documents WHERE doc_id < 3
"""


@register("curation_dag", oracle=_curation_dag_oracle())
def curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION curation entry point (`pii_spark.curation.curate`)
    end-to-end with ALL FOUR stages enabled: line-level boilerplate dedup →
    token-count + Gopher repetition gates → normalized-fingerprint exact
    dedup → MinHash-LSH + exact-Jaccard near-dedup with
    connected-components representatives. Returns every corpus doc with
    its curated text length (pins stage 1 byte-for-byte) and first-drop
    reason; the oracle recomputes the whole DAG independently in DuckDB,
    connected components via a recursive CTE. Complements the simpler
    ``curation_pipeline`` composition (which stays as the lazy-plan
    evidence)."""
    from pii_spark.curation import CurationConfig, curate

    corpus = documents_sql(spark, sf_dir, _CURATION_CORPUS_SQL)
    out = curate(corpus, CurationConfig(
        min_tokens=30, max_dup_line_pm=300, max_top_2gram_char_pm=200,
        max_dup_5gram_char_pm=300, line_dedup_max_doc_freq=5,
        exact_dedup=True, near_dup_jaccard_pm=500))
    return out.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        "drop_reason",
    ).orderBy("doc_id")


# =========================================================================
# Driver-report enumeration contract
# =========================================================================
# The round-2 driver recorded at most 50 correctness rows, in registry
# insertion order: CORRECTNESS_r02.json held exactly the first 50 of the 52
# registered queries, dropping the last two (`build_dataset`,
# `curation_pipeline`). Two defenses:
#   1. the registry is consolidated to <= 50 entries (cpf/cnpj checksums and
#      the two A8 distinct-values variants each merged into one query with
#      identical evidence), enforced below;
#   2. enumeration order is made explicit and the two formerly-dropped
#      queries are moved to the front half, so even a tighter cap or a
#      per-query-timeout truncation cannot silently drop them again.

_DRIVER_ROW_CAP = 50
_FRONT = [
    "detector_counts", "checksum_validate", "should_be_public",
    "build_dataset", "curation_pipeline", "pii_extract_pages",
]
_missing = [n for n in _FRONT if n not in QUERIES]
if _missing:  # fail at import, not in the driver
    raise RuntimeError(f"registry front-order names missing: {_missing}")
if len(QUERIES) > _DRIVER_ROW_CAP:
    raise RuntimeError(
        f"{len(QUERIES)} queries registered; the driver reports at most "
        f"{_DRIVER_ROW_CAP} correctness rows — consolidate (merge evidence "
        "into an existing entry) instead of exceeding the cap")
_ordered = _FRONT + [n for n in QUERIES if n not in _FRONT]
QUERIES = {n: QUERIES[n] for n in _ordered}
ORACLES = {n: ORACLES[n] for n in _ordered if n in ORACLES}
