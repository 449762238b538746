"""Text analysis operators over the ``documents`` table: language-ID-style
n-gram marker scoring, quality scoring, token counting, document
fingerprinting. All pure builtin expressions (JVM-side, whole-stage codegen)
— no Python in the hot path. Ratios are emitted as floored integers so the
oracle compare is float-noise-free."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MARKERS = ["table", "query", "stream", "vector"]
_STOPWORDS = ["a", "the"]


from pii_spark.util import read_table as _t  # noqa: E402


def register_queries(register) -> None:
    marker_counts_sql = ", ".join(
        f"len(list_filter(string_split(text, ' '), t -> t = '{m}')) AS c_{m}"
        for m in _MARKERS
    )

    @register(
        "ngram_classify",
        oracle=f"""
        SELECT lang, predicted, COUNT(*) AS n FROM (
          SELECT lang,
                 CASE WHEN c_table >= c_query AND c_table >= c_stream AND c_table >= c_vector THEN 'table'
                      WHEN c_query >= c_stream AND c_query >= c_vector THEN 'query'
                      WHEN c_stream >= c_vector THEN 'stream'
                      ELSE 'vector' END AS predicted
          FROM (SELECT lang, {marker_counts_sql} FROM documents) c
        ) p GROUP BY lang, predicted ORDER BY lang, predicted
        """,
    )
    def ngram_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Language-ID-style marker scoring: per-doc counts of marker tokens
        (split + HOF filter, no regex engine needed), argmax with a fixed
        tie-break order."""
        d = _t(spark, sf_dir, "documents")
        toks = F.split("text", " ")
        for m in _MARKERS:
            # NB: a two-arg lambda would be read as (element, index)
            def _eq(marker):
                return lambda t: t == marker
            d = d.withColumn(f"c_{m}", F.size(F.filter(toks, _eq(m))))
        c = {m: F.col(f"c_{m}") for m in _MARKERS}
        pred = (
            F.when((c["table"] >= c["query"]) & (c["table"] >= c["stream"])
                   & (c["table"] >= c["vector"]), "table")
            .when((c["query"] >= c["stream"]) & (c["query"] >= c["vector"]), "query")
            .when(c["stream"] >= c["vector"], "stream")
            .otherwise("vector")
        )
        return (
            d.select("lang", pred.alias("predicted"))
            .groupBy("lang", "predicted").agg(F.count("*").alias("n"))
            .orderBy("lang", "predicted")
        )

    @register(
        "quality_score",
        oracle="""
        SELECT source, bucket, COUNT(*) AS n FROM (
          SELECT source,
                 CASE WHEN n_tok < 30 THEN 'short'
                      WHEN stop_pm > 80 THEN 'stopwordy'
                      WHEN avg_len_x100 > 520 THEN 'longwords'
                      ELSE 'ok' END AS bucket
          FROM (
            SELECT source,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
                   CAST(floor(length(replace(text, ' ', '')) * 100.0
                        / len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS avg_len_x100,
                   CAST(floor(len(list_filter(string_split(text, ' '),
                                              t -> t = 'a' OR t = 'the')) * 1000.0
                        / len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS stop_pm
            FROM documents WHERE length(text) > 0
          ) m
        ) b GROUP BY source, bucket ORDER BY source, bucket
        """,
    )
    def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Quality scoring: token count, average word length (x100), stopword
        per-mille → bucket. Floored-integer ratios keep the oracle exact."""
        d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
        toks = F.filter(F.split("text", " "), lambda t: t != "")
        n_tok = F.size(toks)
        n_stop = F.size(F.filter(toks, lambda t: (t == "a") | (t == "the")))
        chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        m = d.select(
            "source",
            n_tok.alias("n_tok"),
            F.floor(chars * 100.0 / n_tok).cast("long").alias("avg_len_x100"),
            F.floor(n_stop * 1000.0 / n_tok).cast("long").alias("stop_pm"),
        )
        bucket = (
            F.when(F.col("n_tok") < 30, "short")
            .when(F.col("stop_pm") > 80, "stopwordy")
            .when(F.col("avg_len_x100") > 520, "longwords")
            .otherwise("ok")
        )
        return (
            m.select("source", bucket.alias("bucket"))
            .groupBy("source", "bucket").agg(F.count("*").alias("n"))
            .orderBy("source", "bucket")
        )

    # the WordTokenizer piece regex, written in the Java∩RE2 common subset
    tok_pat_sql = r"[A-Za-z0-9_'\-]{1,8}|[^\sA-Za-z0-9_'\-]".replace(
        "'", "''")  # SQL string-literal escaping

    @register(
        "token_stats",
        oracle=f"""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS n_word_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               CAST(SUM(len(regexp_extract_all(text, '{tok_pat_sql}'))) AS BIGINT) AS n_real_tokens,
               CAST(MAX(len(regexp_extract_all(text, '{tok_pat_sql}'))) AS BIGINT) AS max_real_tokens
        FROM documents GROUP BY source ORDER BY source
        """,
    )
    def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Token counting three ways — whitespace split, a BPE-ish regex,
        and the REAL pii_core WordTokenizer (vectorized pandas UDF, the same
        code the chunker and NER stage run on executors) — plus char
        totals, per source. The real-tokenizer columns cross-validate the
        offset tokenizer against an equivalent RE2 pattern in the oracle
        (ASCII corpus makes the \\w-dialect difference moot); merged from
        the former ``token_offsets`` slot to free a registry slot for
        ``curation_dag``."""
        from pii_core.tokenizer import WordTokenizer  # noqa: PLC0415

        @F.pandas_udf("long")
        def ntok(s: pd.Series) -> pd.Series:
            tok = WordTokenizer()  # once per batch-iterator worker
            # len(findall) over the tokenizer's OWN compiled pattern: the
            # count it needs without materializing a span tuple per token
            # (encode builds (start, end) pairs the count discards —
            # measured ~1.5x on the token_stats scan). Same regex, same
            # match sequence, so len(findall) == len(encode) by
            # construction; the parity test pins it against encode.
            fa = tok._piece_re.findall
            return pd.Series(
                [len(fa(t or "")) for t in s.to_numpy()],
                dtype="int64")

        d = _t(spark, sf_dir, "documents")
        ws = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        words = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0)))
        return (
            d.select("source", "text", ws.alias("ws"), words.alias("words"),
                     ntok("text").alias("n_real"))
            .groupBy("source").agg(
                F.count("*").alias("n_docs"),
                F.sum("ws").alias("n_ws_tokens"),
                F.sum("words").alias("n_word_tokens"),
                F.sum(F.length("text")).alias("n_chars"),
                F.sum("n_real").alias("n_real_tokens"),
                F.max("n_real").alias("max_real_tokens"),
            ).orderBy("source")
        )

    @register(
        "doc_fingerprint",
        oracle=r"""
        SELECT source, COUNT(*) AS n_docs,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
               MIN(fp) AS min_fp
        FROM (SELECT source,
                     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents) f
        GROUP BY source ORDER BY source
        """,
    )
    def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Document fingerprinting: md5 over whitespace-normalized lowercase
        text (content hash for exact dedup at scale)."""
        from pii_spark.ops.dedup import normalized_fp  # noqa: PLC0415

        d = _t(spark, sf_dir, "documents")
        fp = normalized_fp("text")
        return (
            d.select("source", fp.alias("fp"))
            .groupBy("source").agg(
                F.count("*").alias("n_docs"),
                F.countDistinct("fp").alias("n_distinct_fp"),
                F.min("fp").alias("min_fp"),
            ).orderBy("source")
        )

    @register(
        "token_top_k",
        oracle="""
        WITH toks AS (
          SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS tok
          FROM documents
        ),
        counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
        SELECT tok, n, CAST(rk AS BIGINT) AS rk FROM (
          SELECT tok, n,
                 row_number() OVER (ORDER BY n DESC, tok) AS rk
          FROM counts
        ) r WHERE rk <= 20 ORDER BY rk
        """,
    )
    def token_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Corpus-wide heavy hitters (vocabulary/stopword derivation for a
        training pipeline): explode → hash-groupBy (map-side partial
        combine) → orderBy+limit, which Catalyst compiles to
        TakeOrderedAndProject (per-partition top-20 merged on the driver —
        the full vocabulary is NEVER sorted in one partition). The rank
        window then runs over the 20 surviving rows only."""
        from pyspark.sql import Window  # noqa: PLC0415

        d = _t(spark, sf_dir, "documents")
        counts = (
            d.select(F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("n"))
        )
        top = counts.orderBy(F.col("n").desc(), "tok").limit(20)
        w = Window.orderBy(F.col("n").desc(), "tok")
        return (
            top.withColumn("rk", F.row_number().over(w).cast("long"))
            .orderBy("rk")
        )

    @register(
        "doclen_percentiles",
        oracle="""
        WITH ranked AS (
          SELECT n_chars,
                 row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
                 COUNT(*) OVER () AS n
          FROM documents
        )
        SELECT CAST(q AS BIGINT) AS q_pct, MIN(n_chars) AS n_chars
        FROM ranked, (SELECT unnest([25, 50, 75, 95, 99]) AS q) qs
        WHERE rn = CAST(ceil(q * n / 100.0) AS BIGINT)
        GROUP BY q ORDER BY q_pct
        """,
    )
    def doclen_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact document-length percentiles (the numbers that size chunk
        budgets and spill thresholds): discrete percentile = value at rank
        ceil(q·n/100), i.e. the smallest value whose cumulative count
        reaches the rank. Scale shape: the raw rows reduce to a
        (value, count) HISTOGRAM first — the shuffle and the single-
        partition cumulative window touch only distinct lengths (bounded),
        never a global sort of the corpus. The oracle ranks rows directly —
        an independent derivation of the same statistic."""
        from pyspark.sql import Window  # noqa: PLC0415

        import math  # noqa: PLC0415

        d = _t(spark, sf_dir, "documents").select("n_chars")
        n = d.count()
        hist = d.groupBy("n_chars").agg(F.count("*").alias("c"))
        w = Window.orderBy("n_chars").rowsBetween(
            Window.unboundedPreceding, 0)
        cum = hist.withColumn("cum", F.sum("c").over(w))
        targets = spark.createDataFrame(
            [(q, math.ceil(q * n / 100.0)) for q in (25, 50, 75, 95, 99)],
            "q_pct long, rn long")
        return (
            cum.join(F.broadcast(targets), F.col("cum") >= F.col("rn"))
            .groupBy("q_pct").agg(F.min("n_chars").alias("n_chars"))
            .orderBy("q_pct")
        )

    @register(
        "eval_binary_confusion",
        oracle="""
        SELECT CAST(SUM(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN NOT pred AND gold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN NOT pred AND NOT gold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(floor(2.0 * SUM(CASE WHEN pred AND gold THEN 1 ELSE 0 END) * 10000
                    / (2 * SUM(CASE WHEN pred AND gold THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN NOT pred AND gold THEN 1 ELSE 0 END))) AS BIGINT) AS f1_x10000
        FROM (SELECT doc_id % 2 = 0 AS pred, doc_id % 7 < 3 AS gold
              FROM documents) p
        """,
    )
    def eval_binary_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Binary confusion matrix + F1 (reference A6/A7,
        infer_pii.py:995-1022, eval_report.py:80-113) as conditional sums;
        F1 emitted as floor(x*10000) so the compare is exact."""
        d = _t(spark, sf_dir, "documents").select(
            (F.col("doc_id") % 2 == 0).alias("pred"),
            (F.col("doc_id") % 7 < 3).alias("gold"),
        )
        tp = F.sum((F.col("pred") & F.col("gold")).cast("long"))
        fp = F.sum((F.col("pred") & ~F.col("gold")).cast("long"))
        fn = F.sum((~F.col("pred") & F.col("gold")).cast("long"))
        tn = F.sum((~F.col("pred") & ~F.col("gold")).cast("long"))
        agg = d.agg(tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), tn.alias("tn"))
        return agg.select(
            "tp", "fp", "fn", "tn",
            F.floor(2.0 * F.col("tp") * 10000
                    / (2 * F.col("tp") + F.col("fp") + F.col("fn")))
            .cast("long").alias("f1_x10000"),
        )

    @register(
        "eval_error_buckets",
        oracle=r"""
        WITH b AS (
          SELECT doc_id,
                 CASE WHEN pred AND gold THEN 'tp'
                      WHEN pred THEN 'fp'
                      WHEN gold THEN 'fn' ELSE 'tn' END AS bucket,
                 NOT gold AS gold_should_be_public,
                 NOT pred AS pred_should_be_public,
                 substr(trim(regexp_replace(text, '\s+', ' ', 'g')), 1, 80)
                   AS excerpt
          FROM (SELECT doc_id, text, doc_id % 2 = 0 AS pred,
                       doc_id % 7 < 3 AS gold
                FROM documents) p
        ),
        r AS (SELECT *, row_number() OVER (PARTITION BY bucket
                                           ORDER BY doc_id) AS rn FROM b)
        SELECT bucket, doc_id, gold_should_be_public, pred_should_be_public,
               excerpt
        FROM r WHERE rn <= 5 ORDER BY bucket, doc_id
        """,
    )
    def eval_error_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Error-bucket sample records (reference A10,
        infer_pii.py:1028-1054: per-doc sample_rec routed to
        samples_fp/fn/tp/tn; first-N cap per eval_report.py:180-185).
        Deterministic first-5 per bucket via a row_number window — the same
        two-phase-prunable shape evaljob.error_bucket_samples uses on real
        eval frames."""
        from pyspark.sql import Window  # noqa: PLC0415

        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "text",
            (F.col("doc_id") % 2 == 0).alias("pred"),
            (F.col("doc_id") % 7 < 3).alias("gold"),
        )
        b = d.select(
            "doc_id",
            F.when(F.col("pred") & F.col("gold"), "tp")
            .when(F.col("pred"), "fp")
            .when(F.col("gold"), "fn")
            .otherwise("tn").alias("bucket"),
            (~F.col("gold")).alias("gold_should_be_public"),
            (~F.col("pred")).alias("pred_should_be_public"),
            F.substring(_ws_norm("text"), 1, 80).alias("excerpt"),
        )
        w = Window.partitionBy("bucket").orderBy("doc_id")
        return (
            b.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("bucket", "doc_id", "gold_should_be_public",
                    "pred_should_be_public", "excerpt")
            .orderBy("bucket", "doc_id")
        )


def _line_key(line: str | Column) -> Column:
    """THE line identity of the line-level stats and ``line_dedup``: the
    line with leading/trailing WHITESPACE removed (a regexp, not
    ``F.trim``'s spaces-only) — CRLF corpora leave a trailing CR on every
    line, which must not break line identity (nor turn the blank line
    '\\r' into a non-blank one)."""
    return F.regexp_replace(line, r"^\s+|\s+$", "")


def _line_run_stats(text_col: str) -> Column:
    """struct(n, dups, tc, dc) of a document's non-blank trimmed lines,
    computed DOC-LOCALLY (same shape as ``_run_stats``): ``n`` lines,
    ``dups`` lines repeating an earlier one (= elements equal to their
    predecessor in the sorted array), ``tc`` total line chars, ``dc``
    chars inside lines occurring >= 2 times. Zero explode, zero shuffle —
    the explode → groupBy(id, line) form moved line STRINGS through an
    exchange keyed entirely by doc-local values. Lines compare by
    ``_line_key``. The per-element regexp/compare work here is on the
    ELEMENT, not a re-evaluated whole-document expression — the safe
    interpreted-HOF shape."""
    trimmed = F.transform(F.split(F.col(text_col), "\n"), _line_key)
    arr = F.array_sort(F.coalesce(
        F.filter(trimmed, lambda x: x != ""),
        F.array().cast("array<string>")))
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"), zero.alias("run"),
        zero.alias("n"), zero.alias("dups"), zero.alias("tc"),
        zero.alias("dc"),
    )

    def merge(acc: Column, line: Column) -> Column:
        first = acc["prev"].isNull()
        same = ~first & (acc["prev"] == line)
        keep = first | same  # run still open (or nothing to close yet)
        closed_dc = acc["dc"] + F.when(
            acc["run"] >= 2,
            acc["run"] * F.length(acc["prev"]).cast("long")).otherwise(zero)
        return F.struct(
            line.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            .alias("run"),
            (acc["n"] + 1).alias("n"),
            (acc["dups"] + F.when(same, 1).otherwise(0)).cast("long")
            .alias("dups"),
            (acc["tc"] + F.length(line).cast("long")).alias("tc"),
            F.when(keep, acc["dc"]).otherwise(closed_dc).alias("dc"),
        )

    def finish(acc: Column) -> Column:
        closed_dc = acc["dc"] + F.when(
            acc["run"] >= 2,
            acc["run"] * F.length(acc["prev"]).cast("long")).otherwise(zero)
        return F.struct(
            acc["n"].alias("n"), acc["dups"].alias("dups"),
            acc["tc"].alias("tc"),
            F.when(acc["prev"].isNotNull(), closed_dc).otherwise(zero)
            .alias("dc"),
        )

    return F.aggregate(arr, init, merge, finish)


def with_dup_line_stats(docs: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """``docs`` plus ``dup_line_pm`` / ``dup_line_char_pm`` columns as a
    pure narrow projection (``_line_run_stats``) — docs with no non-blank
    lines read 0 for both. Per doc: ``dup_line_pm`` (per-mille of non-blank
    lines repeating an earlier line) and ``dup_line_char_pm`` (per-mille
    of non-blank line chars inside repeated lines). The explode/groupBy
    form is the executable spec ``dup_line_stats_hof`` in
    tests/oracles/spark_ops.py, which the differential test pins this
    against."""
    zero = F.lit(0).cast("long")
    tmp = docs.withColumn("__dls", _line_run_stats(text_col))
    s = F.col("__dls")
    return tmp.select(
        *docs.columns,
        F.coalesce(
            F.when(s["n"] > 0, F.floor(
                s["dups"] * 1000.0 / s["n"]).cast("long")),
            zero).alias("dup_line_pm"),
        F.coalesce(
            F.when(s["n"] > 0, F.floor(
                s["dc"] * 1000.0 / s["tc"]).cast("long")),
            zero).alias("dup_line_char_pm"),
    )


def _ws_norm(text: str | Column) -> Column:
    """``text`` (a column or its name) with every ASCII-whitespace run
    collapsed to one space and the ends trimmed — THE whitespace
    normalizer of the corpus planes (excerpts, fingerprints, gram
    derivation), and the canonical single-space form over which word
    n-grams become a pure regex extraction. Token set/order and token
    characters are exactly those of ``split(text, r'\\s+')`` minus empties
    (the family's frozen tokenization)."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def _word_count(text_col: str) -> Column:
    """THE token count of the corpus planes (``curate``'s ``min_tokens``
    gate, the mix's host caps and source budgets): whitespace-separated
    words, the same tokens ``_all_grams(_ws_norm(text), 1)`` yields. NULL
    text counts as ZERO tokens, not NULL — ``size(split(NULL))`` is NULL,
    and a NULL count makes every predicate on it NULL, so a row with no
    text would silently pass every gate and use no budget."""
    toks = F.filter(F.split(text_col, r"\s+"), lambda t: t != "")
    return F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(F.size(toks))


def _all_grams(norm: Column, n: int) -> Column:
    """EVERY overlapping word ``n``-gram (case preserved, one array element
    per occurrence) of a ``_ws_norm``-normalized column, via ONE codegen
    ``regexp_extract_all`` — a zero-width match anchored at each token
    start (``(?<![^ ])``) captures the next ``n`` tokens by lookahead.

    This is the production replacement for the sequence+transform HOF gram
    build: higher-order lambdas run INTERPRETED per element, and a lambda
    body that embeds the tokenization expression re-splits the document
    once per gram position — measured 72 s for 4000 x 3.4k-token docs on
    32 cores for the gate stats; the regex form is a single linear pass
    in whole-stage codegen. Exact parity with the HOF form is pinned by
    differential tests against ``ngram_repetition_stats_hof``
    (tests/oracles/spark_ops.py). NULL text carries no grams (empty
    array, never NULL)."""
    pat = r"(?<![^ ])(?=((?:\S+ ){%d}\S+))" % (n - 1)
    return F.coalesce(F.regexp_extract_all(norm, F.lit(pat), F.lit(1)),
                      F.array().cast("array<string>"))


def _run_stats(norm: Column, n: int) -> Column:
    """struct(c, gl, dup) of a document's word ``n``-grams, computed
    DOC-LOCALLY: ``c``/``gl`` are the most frequent gram's count and
    token-char length (ties broken (count, chars, gram) like the groupBy
    form), ``dup`` the total chars inside grams occurring >= 2 times.

    Sort the gram array, then ONE linear interpreted-HOF scan over the
    runs — the accumulator carries (prev, run, best, dup) and every lambda
    body is O(1) over the element and accumulator (the safe HOF shape).
    This replaces the explode -> groupBy(id, n, gram) derivation: every
    aggregation key there contained the doc id, so the shuffle moved
    corpus-sized gram STRINGS only to reassemble rows that already lived
    together — measured 206 s of a 227 s curate() pass at sf0.1 (40k
    3.4k-token docs, 32 cores) for what is per-doc arithmetic. Zero
    explode, zero shuffle, zero join: the gate stats become a narrow
    projection that scales with partitions, not with shuffle fabric."""
    grams = F.array_sort(_all_grams(norm, n))
    zero = F.lit(0).cast("long")
    best0 = F.struct(zero.alias("c"), zero.alias("gl"),
                     F.lit(None).cast("string").alias("g"))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"), zero.alias("run"),
        best0.alias("best"), zero.alias("dup"),
    )

    def glen(g: Column) -> Column:
        return (F.length(g) - F.lit(n - 1)).cast("long")

    def closed(acc: Column) -> tuple[Column, Column]:
        # the accumulator with its open run folded in; ONLY evaluated
        # under a prev-is-not-null guard (glen(NULL) would poison the
        # struct comparison in greatest)
        fb = F.greatest(acc["best"], F.struct(
            acc["run"].alias("c"), glen(acc["prev"]).alias("gl"),
            acc["prev"].alias("g")))
        fd = acc["dup"] + F.when(
            acc["run"] >= 2, acc["run"] * glen(acc["prev"])).otherwise(zero)
        return fb, fd

    def merge(acc: Column, g: Column) -> Column:
        first = acc["prev"].isNull()
        same = ~first & (acc["prev"] == g)
        fb, fd = closed(acc)
        keep = first | same  # run still open (or nothing to close yet)
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(keep, acc["best"]).otherwise(fb).alias("best"),
            F.when(keep, acc["dup"]).otherwise(fd).alias("dup"),
        )

    def finish(acc: Column) -> Column:
        fb, fd = closed(acc)
        done = acc["prev"].isNotNull()
        return F.struct(
            F.when(done, fb["c"]).otherwise(zero).alias("c"),
            F.when(done, fb["gl"]).otherwise(zero).alias("gl"),
            F.when(done, fd).otherwise(zero).alias("dup"),
        )

    return F.aggregate(grams, init, merge, finish)


def _pm_from_stats(s: Column, tc: Column) -> tuple[Column, Column]:
    """(top_pm, dup_pm) from a ``_run_stats`` struct and the doc's token
    chars — the exact per-mille math of the groupBy form (floored, capped
    at 1000; a doc with no grams reads 0 for both, matching the old
    left-join coalesce)."""
    zero = F.lit(0).cast("long")
    top = F.when(s["c"] > 0, F.least(F.lit(1000), F.floor(
        s["c"] * s["gl"] * 1000.0 / tc).cast("long"))).otherwise(zero)
    dup = F.when(s["c"] > 0, F.least(F.lit(1000), F.floor(
        s["dup"] * 1000.0 / tc).cast("long"))).otherwise(zero)
    return F.coalesce(top, zero), F.coalesce(dup, zero)


def with_ngram_repetition_stats(
    docs: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    text_col: str = "text",
) -> DataFrame:
    """``docs`` plus the ``top_{n}gram_char_pm`` / ``dup_{n}gram_char_pm``
    columns, as a pure NARROW projection (``_run_stats``): no explode, no
    shuffle, no join — the form ``curation.curate`` consumes inline so the
    quality gates never move text through an exchange. Each heavy
    expression (the normalization, each per-n aggregate) lands in its own
    projection and is referenced downstream as an attribute."""
    ns = sorted(set(top_ns) | set(dup_ns))
    if not ns or min(ns) < 2:
        raise ValueError(f"n-gram sizes must be >= 2, got {ns}")
    tmp = docs.withColumn("__nrs_norm", _ws_norm(text_col))
    tmp = tmp.withColumn(
        "__nrs_tc",
        F.length(F.translate(F.col("__nrs_norm"), " ", "")).cast("long"))
    for n in ns:
        tmp = tmp.withColumn(f"__nrs_s{n}",
                             _run_stats(F.col("__nrs_norm"), n))
    for n in sorted(set(top_ns)):
        top, _ = _pm_from_stats(F.col(f"__nrs_s{n}"), F.col("__nrs_tc"))
        tmp = tmp.withColumn(f"top_{n}gram_char_pm", top)
    for n in sorted(set(dup_ns)):
        _, dup = _pm_from_stats(F.col(f"__nrs_s{n}"), F.col("__nrs_tc"))
        tmp = tmp.withColumn(f"dup_{n}gram_char_pm", dup)
    return tmp.drop("__nrs_norm", "__nrs_tc",
                    *[f"__nrs_s{n}" for n in ns])


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    within-document repetition is the strongest cheap predictor of
    low-quality web text (scraper loops, listings, spam). Per doc:

    * ``dup_line_pm``      — per-mille of lines that repeat an earlier
                             line (trimmed; blank lines excluded)
    * ``dup_line_char_pm`` — per-mille of non-blank line characters inside
                             repeated lines
    * ``top_bigram_char_pm`` — per-mille of token characters covered by
                             the most frequent word bigram (count x len)

    One narrow projection over the doc-local scans
    (``with_ngram_repetition_stats`` + ``with_dup_line_stats``): no
    shuffle, no join, one output row per input row whatever its id.
    Emissions are floored per-mille integers (hash-stable across engines,
    same idiom as quality_score). Filter downstream with e.g.
    ``dup_line_pm < 300`` (the Gopher-family thresholds); this operator
    only measures.
    """
    stats = with_dup_line_stats(with_ngram_repetition_stats(
        docs.select(id_col, text_col), top_ns=(2,), dup_ns=(),
        text_col=text_col), text_col=text_col)
    return stats.select(
        id_col, "dup_line_pm", "dup_line_char_pm",
        F.col("top_2gram_char_pm").alias("top_bigram_char_pm"))


def ngram_repetition_stats(
    docs: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full Gopher n-gram repetition family (Rae et al. 2021 §A1.1),
    generalizing ``repetition_stats``'s bigram signal. Per doc:

    * ``top_{n}gram_char_pm`` for n in ``top_ns`` — per-mille of token
      characters covered by the single most frequent word n-gram
      (count × n-gram token chars / total token chars).
    * ``dup_{n}gram_char_pm`` for n in ``dup_ns`` — per-mille of token
      characters inside n-grams occurring ≥ 2 times in the doc
      (Σ count × chars over duplicated n-grams / total, capped at 1000 —
      overlapping occurrences may multi-count, so the sum can exceed the
      doc).

    Pure doc-local computation (``with_ngram_repetition_stats``): grams
    derive in one codegen regex pass per n (``_all_grams``), the per-doc
    counts in one sorted-run scan (``_run_stats``) — no explode, no
    shuffle, no join. Floored per-mille integers; ties broken (count,
    gram chars, gram) like ``repetition_stats``. The original
    sequence+transform explode/groupBy build is the executable spec
    ``ngram_repetition_stats_hof`` in tests/oracles/spark_ops.py, which
    the differential test pins this against — it both re-tokenized the
    doc at every gram position (the interpreted-HOF hazard the
    decontamination spec ``grams`` documents) and shuffled corpus-sized
    gram strings for what is per-doc arithmetic.
    """
    return with_ngram_repetition_stats(
        docs.select(F.col(id_col), F.col(text_col).alias("text")),
        top_ns=top_ns, dup_ns=dup_ns, text_col="text",
    ).select(
        id_col,
        *[f"top_{n}gram_char_pm" for n in sorted(set(top_ns))],
        *[f"dup_{n}gram_char_pm" for n in sorted(set(dup_ns))],
    )

