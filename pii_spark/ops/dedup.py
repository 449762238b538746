"""Deduplication operators over ``documents``: exact (hash groupBy),
MinHash+LSH (shingle → string-minhash → band → bucket self-join), SimHash,
and n-gram Jaccard. The table has no natural duplicates, so each query
injects deterministic (near-)duplicates in-query — identically on both
engines via plain SQL constructions — then detects them.

Scale notes (the part that matters at 100 TB):
* exact dedup is one hash groupBy on a 32-byte fingerprint — the shuffle
  carries (fp, doc_id), never the text.
* MinHash/LSH shuffles (band_key, doc_id) pairs only; candidate pairs come
  from a self-join on band_key whose per-key group size is bounded by design
  (band collisions), so no quadratic blowup — THE standard web-dedup shape.
* n-gram Jaccard runs only on LSH candidate pairs (``_jaccard_verify``):
  ``dedup_lsh_jaccard`` below IS that composition (LSH prune →
  exact-Jaccard verify), the plan every production web-dedup job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_spark.ops.textstats import _line_key, _ws_norm
from pii_spark.util import documents_sql

_N_PERM = 8  # minhash permutations
_BAND = 2    # rows per band -> 4 bands

# duplicate injection, one text for both engines (the Spark side runs it
# through ``documents_sql``): every 10th doc gets an exact copy
# (id + 1000000), every 25th a near-copy with a suffix (id + 2000000).
_EXACT_UNION = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""
_NEAR_UNION = """
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' um sufixo extra anexado'
  FROM documents WHERE doc_id < 200 AND doc_id % 25 = 0
"""


def _shingle_arrays(df: DataFrame) -> DataFrame:
    """(doc_id, shs): each doc's DISTINCT 3-gram word shingles as an array,
    via ONE codegen ``regexp_extract_all`` pass — space runs collapse to
    single spaces (tokens are maximal non-space runs, so ``[^ ]`` in the
    pattern, NOT ``\\S``: tabs/newlines stay INSIDE tokens, matching the
    frozen split-on-' ' spec and ``_SHINGLES_SQL``), then a zero-width
    match at every token start captures the next 3 tokens by lookahead.

    Replaces the sequence+transform HOF build (the executable spec
    ``shingles_hof`` in tests/oracles/spark_ops.py, differential-pinned
    against this): HOF lambdas evaluate interpreted per element, and the
    old body embedded the split() expression — re-tokenizing the doc at
    every shingle position, which made the LSH stage ~60 s per 4000 x
    3.4k-token docs on 32 cores.
    Docs with fewer than 3 tokens yield an empty array; NULL text too."""
    norm = F.trim(F.regexp_replace(F.col("text"), " +", " "))
    sh = F.coalesce(
        F.regexp_extract_all(
            norm, F.lit(r"(?<![^ ])(?=(([^ ]+ ){2}[^ ]+))"), F.lit(1)),
        F.array().cast("array<string>"))
    return df.select("doc_id", F.array_distinct(sh).alias("shs"))


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, sh): ``_shingle_arrays`` exploded — the pair-join form."""
    return _shingle_arrays(df).select(
        "doc_id", F.explode("shs").alias("sh"))


def _shingles_with_card(df: DataFrame) -> DataFrame:
    """(doc_id, n, sh): the exploded shingle frame with each doc's
    distinct-shingle cardinality RIDING ALONG as a pre-explode
    ``size(shs)`` column (VERDICT r5 #6). The Jaccard verify then reads
    |A| and |B| from the joined rows themselves (``first(n)`` per pair)
    instead of computing a separate per-doc count frame — which cost
    either a groupBy over the exploded rows (old form) or, as a narrow
    re-projection, an extra full gram pass per use (no Exchange to
    reuse; measured a cureplane regression). One extra long per exploded
    row is the entire cost."""
    return _shingle_arrays(df).select(
        "doc_id", F.size("shs").cast("long").alias("n"),
        F.explode("shs").alias("sh"))


_SHINGLES_SQL = """
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM ({union}) u) t
"""


def _band_keys(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bk) LSH band keys from a (doc_id, sh) shingle frame:
    8 string-minhashes (min over md5(perm|shingle)) → 4 bands of 2. The
    shared banding step behind same-batch candidate generation
    (``_lsh_candidates``) and the persisted cross-crawl band index
    (``build_band_index``) — near-dup recall across crawls depends on both
    sides banding identically, so there is exactly one definition."""
    sig = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("sh")))).alias(f"h{p}")
        for p in range(_N_PERM)
    ])
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat(F.col(f"h{b * _BAND}"),
                               F.col(f"h{b * _BAND + 1}"))).alias("bk"),
            )
            for b in range(_N_PERM // _BAND)
        ])).alias("x"),
    ).select("doc_id", "x.band", "x.bk")


def _lsh_candidates(sh: DataFrame) -> DataFrame:
    """Distinct LSH candidate pairs (id_a < id_b) from a (doc_id, sh) frame:
    band keys (``_band_keys``) → self-join on band key. Shuffles only
    (band_key, doc_id)."""
    bands = _band_keys(sh)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bk") == F.col("b.bk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def connected_components(
    vertices: DataFrame, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(id) vertices + (id_a, id_b) undirected edges → (id, rep) with rep =
    the component's minimum id — the cluster assignment that turns near-dup
    PAIRS into "keep one representative per group".

    Iterative min-label propagation: each round, every vertex takes the min
    of its own label and its neighbors' labels (one join + one groupBy),
    stopping at fixpoint. Dedup clusters are near-cliques with tiny
    diameter, so this converges in 2-3 rounds regardless of corpus size;
    each round's shuffle carries (id, label) pairs only.

    Lineage is cut at every step: the (id_a, id_b) pairs and the start
    labels are ``localCheckpoint(eager=True)``-ed once (so an expensive
    pair source — the LSH + Jaccard verify — runs exactly once), and each
    round checkpoints its (id, old_rep, rep) frame, so a round plans one
    join + groupBy over two in-memory frames, never the whole history.
    The driver's one-row convergence check per round (an iterative
    algorithm's inherent control loop, not a data collect) reads that
    checkpointed frame. The result is self-contained; like any
    checkpointed frame it cannot be rebuilt from lineage if an
    executor's blocks are lost."""
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(pairs.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    labels = vertices.select(F.col("id"), F.col("id").alias("rep")) \
        .localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy("dst").agg(F.min("rep").alias("nrep"))
            .withColumnRenamed("dst", "id")
        )
        # old and new label in ONE frame: the convergence check is a
        # filter on it, not an extra join per round
        stepped = (
            labels.join(nbr, "id", "left")
            .select("id", F.col("rep").alias("old_rep"),
                    F.least(F.col("rep"),
                            F.coalesce("nrep", "rep")).alias("rep"))
            .localCheckpoint(eager=True)
        )
        labels = stepped.select("id", "rep")
        if stepped.where("rep < old_rep").limit(1).count() == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds max_iter (raise it; labels would be "
        "silently wrong if returned)")


def _jaccard_on_candidates(docs_named: DataFrame) -> DataFrame:
    """(id_a, id_b, jac) over the LSH candidate pairs of ONE (doc_id,
    text) frame — the self-dedup verify behind dedup_lsh_jaccard,
    dedup_clusters and ``curation.curate``."""
    shc = _shingles_with_card(docs_named)
    return _jaccard_verify(_lsh_candidates(shc.select("doc_id", "sh")),
                           shc, shc)


def _jaccard_verify(cand: DataFrame, a_shc: DataFrame,
                    b_shc: DataFrame) -> DataFrame:
    """(id_a, id_b, jac) — THE exact-Jaccard verify (×1000, double) of the
    (id_a, id_b) candidate pairs ``cand``, computed on those pairs ONLY;
    ``a_shc``/``b_shc`` are the ``_shingles_with_card`` frames of the two
    sides. Cardinalities ride along the exploded shingle rows: every
    joined row already carries its doc's |shingles|, so the per-pair |A|
    and |B| fall out of the intersection groupBy as ``first(n)`` — no card
    joins or their exchanges, and the gram regex runs once per side,
    never for a separate count frame."""
    inter = (
        cand.join(a_shc.select(F.col("doc_id").alias("id_a"),
                               F.col("n").alias("na"), "sh"), "id_a")
        .join(b_shc.select(F.col("doc_id").alias("id_b"),
                           F.col("n").alias("nb"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"),
             F.first("na").alias("na"), F.first("nb").alias("nb"))
    )
    jac = F.col("i") * 1000.0 / (F.col("na") + F.col("nb") - F.col("i"))
    return inter.select("id_a", "id_b", jac.alias("jac"))


def register_queries(register) -> None:
    @register(
        "dedup_exact",
        oracle=f"""
        SELECT MIN(doc_id) AS rep_id, COUNT(*) AS group_n, fp
        FROM (SELECT doc_id, md5(text) AS fp FROM ({_EXACT_UNION}) u) h
        GROUP BY fp HAVING COUNT(*) > 1 ORDER BY rep_id
        """,
    )
    def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact dedup: hash-groupBy on a content fingerprint; the shuffle
        carries (fp, doc_id) only."""
        u = documents_sql(spark, sf_dir, _EXACT_UNION)
        return (
            u.select("doc_id", F.md5("text").alias("fp"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("rep_id"), F.count("*").alias("group_n"))
            .where("group_n > 1")
            .select("rep_id", "group_n", "fp")
            .orderBy("rep_id")
        )

    # --- MinHash + LSH ----------------------------------------------------
    minhash_aggs_sql = ", ".join(
        f"MIN(md5(CAST({p} AS STRING) || '|' || sh)) AS h{p}"
        for p in range(_N_PERM)
    )
    band_keys_sql = ", ".join(
        f"md5(h{b * _BAND} || h{b * _BAND + 1}) AS b{b}"
        for b in range(_N_PERM // _BAND)
    )
    bands_union_sql = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b{b} AS bk FROM sigs"
        for b in range(_N_PERM // _BAND)
    )

    @register(
        "dedup_minhash_lsh",
        oracle=f"""
        WITH sh AS ({_SHINGLES_SQL.format(union=_NEAR_UNION)}),
        sig0 AS (SELECT doc_id, {minhash_aggs_sql} FROM sh GROUP BY doc_id),
        sigs AS (SELECT doc_id, {band_keys_sql} FROM sig0),
        bands AS ({bands_union_sql})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        ORDER BY id_a, id_b
        """,
    )
    def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MinHash+LSH near-dup candidates: shingle → 8 string-minhash
        signatures (min over md5(perm|shingle) — identical on any engine) →
        4 bands of 2 → self-join on band key. Shuffles only (band_key,
        doc_id)."""
        sh = _shingles(documents_sql(spark, sf_dir, _NEAR_UNION))
        return _lsh_candidates(sh).orderBy("id_a", "id_b")

    # --- LSH-pruned Jaccard (the production composition) --------------------
    @register(
        "dedup_lsh_jaccard",
        oracle=f"""
        WITH sh AS ({_SHINGLES_SQL.format(union=_NEAR_UNION)}),
        sig0 AS (SELECT doc_id, {minhash_aggs_sql} FROM sh GROUP BY doc_id),
        sigs AS (SELECT doc_id, {band_keys_sql} FROM sig0),
        bands AS ({bands_union_sql}),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        ),
        card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS i
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
          GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b,
               CAST(floor(i * 1000.0 / (ca.n + cb.n - i)) AS BIGINT) AS jac_pm,
               i * 1000.0 / (ca.n + cb.n - i) >= 500 AS is_dup
        FROM inter
        JOIN card ca ON ca.doc_id = id_a
        JOIN card cb ON cb.doc_id = id_b
        ORDER BY id_a, id_b
        """,
    )
    def dedup_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Composed near-dup pipeline: MinHash+LSH candidate generation →
        exact n-gram-Jaccard verification ON THE CANDIDATE PAIRS ONLY. This
        is the plan a production web-dedup job runs: the shared-shingle join
        (quadratic on hot shingles when run corpus-wide) touches only pairs
        LSH already banded together, so its cost is
        O(candidates × shingles-per-doc), never O(corpus²).

        Shuffle discipline: LSH shuffles (band_key, doc_id); verification
        shuffles (doc_id, sh) keyed to the candidate sides. Text never moves.
        """
        u = documents_sql(spark, sf_dir, _NEAR_UNION)
        p = _jaccard_on_candidates(u)
        return (
            p.select("id_a", "id_b",
                     F.floor(F.col("jac")).cast("long").alias("jac_pm"),
                     (F.col("jac") >= 500).alias("is_dup"))
            .orderBy("id_a", "id_b")
        )

    # --- cluster assignment (pairs → keep-one-representative groups) --------
    @register(
        "dedup_clusters",
        oracle=f"""
        WITH RECURSIVE sh AS ({_SHINGLES_SQL.format(union=_NEAR_UNION)}),
        sig0 AS (SELECT doc_id, {minhash_aggs_sql} FROM sh GROUP BY doc_id),
        sigs AS (SELECT doc_id, {band_keys_sql} FROM sig0),
        bands AS ({bands_union_sql}),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        ),
        card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS i
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
          GROUP BY c.id_a, c.id_b
        ),
        dup AS (
          SELECT id_a, id_b FROM inter
          JOIN card ca ON ca.doc_id = id_a
          JOIN card cb ON cb.doc_id = id_b
          WHERE i * 1000.0 / (ca.n + cb.n - i) >= 500
        ),
        edges AS (SELECT id_a AS src, id_b AS dst FROM dup
                  UNION ALL SELECT id_b, id_a FROM dup),
        verts AS (SELECT doc_id AS id FROM ({_NEAR_UNION}) u),
        comp(id, root) AS (
          SELECT id, id FROM verts
          UNION
          SELECT e.dst, c.root FROM comp c JOIN edges e ON e.src = c.id
        ),
        assign AS (SELECT id, MIN(root) AS rep FROM comp GROUP BY id)
        SELECT rep, COUNT(*) AS n_members, MAX(id) AS max_id
        FROM assign GROUP BY rep HAVING COUNT(*) > 1 ORDER BY rep
        """,
    )
    def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Near-dup CLUSTER assignment — the step after pair detection that
        decides which copies to keep: verified LSH→Jaccard duplicate pairs
        feed connected components (iterative min-label propagation), each
        document gets its component's min id as representative, and
        non-trivial clusters are summarized. The oracle computes the same
        components via a recursive CTE (transitive closure + min) — an
        entirely independent algorithm for the same answer."""
        u = documents_sql(spark, sf_dir, _NEAR_UNION)
        dup = _jaccard_on_candidates(u).where("jac >= 500") \
            .select("id_a", "id_b")
        verts = u.select(F.col("doc_id").alias("id"))
        assign = connected_components(verts, dup)
        return (
            assign.groupBy("rep")
            .agg(F.count("*").alias("n_members"), F.max("id").alias("max_id"))
            .where("n_members > 1")
            .orderBy("rep")
        )

    # --- SimHash -------------------------------------------------------------
    hexbit = "CASE WHEN substr(md5(tok), {j}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END"
    sim_aggs_sql = ", ".join(
        f"CASE WHEN SUM({hexbit.format(j=j + 1)}) > 0 THEN '1' ELSE '0' END AS bit{j}"
        for j in range(16)
    )
    bits_concat_sql = " || ".join(f"bit{j}" for j in range(16))

    @register(
        "dedup_simhash",
        oracle=f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
          FROM ({_EXACT_UNION}) u WHERE doc_id % 1000000 < 100
        ),
        bits AS (SELECT doc_id, {sim_aggs_sql} FROM toks GROUP BY doc_id)
        SELECT doc_id, {bits_concat_sql} AS simhash FROM bits ORDER BY doc_id
        """,
    )
    def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        """16-bit SimHash from token md5 hex nibbles: per bit position, the
        sign of the +1/-1 token vote sum. Exact duplicates get identical
        signatures (injected copies prove it); near-dups differ in few bits.

        DOC-LOCAL (VERDICT r5 #6): the votes are per-document arithmetic,
        so they fold in ONE ``aggregate`` over the token-hash array with a
        16-lane accumulator — zero explode, zero shuffle (the former
        explode + groupBy moved every (doc_id, tok) row through an
        exchange keyed only by doc-local values; measured 2x slower at
        sf1.0). The HOF lambda is the SAFE interpreted shape: O(lanes)
        over the element and accumulator, no embedded re-tokenization."""
        u = documents_sql(spark, sf_dir, _EXACT_UNION) \
            .where("doc_id % 1000000 < 100")
        arr = F.filter(F.split("text", " "), lambda t: t != "")
        staged = u.withColumn("hs", F.transform(arr, lambda t: F.md5(t)))
        hi = ("8", "9", "a", "b", "c", "d", "e", "f")

        def merge(acc, h):
            return F.array(*[
                acc.getItem(j) + F.when(
                    F.substring(h, j + 1, 1).isin(*hi), 1).otherwise(-1)
                for j in range(16)
            ])

        sums = F.aggregate(F.col("hs"),
                           F.array(*[F.lit(0) for _ in range(16)]), merge)
        return (
            staged.withColumn("ss", sums)
            .select(
                "doc_id",
                F.concat(*[
                    F.when(F.col("ss").getItem(j) > 0, "1").otherwise("0")
                    for j in range(16)
                ]).alias("simhash"),
            ).orderBy("doc_id")
        )


def line_dedup(docs: DataFrame, max_doc_freq: int,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb idiom): drop
    every line whose TRIMMED form appears in more than ``max_doc_freq``
    distinct documents — nav menus, cookie banners, legal footers repeat
    across a site's pages; body prose does not.

    Returns (id_col, text) with each document's surviving lines rejoined
    in original order. Line identity is ``textstats._line_key``; blank
    lines never count toward frequency and always survive.

    100 TB shape, exact in two stages: (1) candidate hot HASHES via
    posexplode → dropDuplicates((xxhash64, doc)) → groupBy(hash) — this
    corpus-wide shuffle carries 8-byte hashes plus doc ids, never text;
    (2) the doc-frequency recount and the delete decision use the exact
    trimmed TEXT, but only for lines whose hash is a stage-1 candidate —
    boilerplate cardinality ≪ corpus lines, so this text shuffle is tiny.
    A 64-bit collision can therefore only promote a line into the cheap
    recount, never delete an innocent line (at 10^12 distinct lines,
    birthday collisions are EXPECTED — a hash-only delete would silently
    destroy body prose). Reassembly sorts each doc's surviving
    (line_no, line) structs doc-locally — no corpus-wide sort.

    Rows with a NULL ``id_col`` pass through VERBATIM: the rebuild keys
    on the id, so NULL-keyed docs would all merge into one group and —
    because the final re-attach join cannot match a NULL key — every
    such row previously came back with its text WIPED to ''. They also
    cannot be counted as distinct documents for line frequency. Assign
    real ids upstream if boilerplate removal must cover them.
    """
    if max_doc_freq < 1:
        raise ValueError(f"max_doc_freq must be >= 1, got {max_doc_freq}")
    null_rows = docs.where(F.col(id_col).isNull()).select(
        F.col(id_col), F.col(text_col).alias("text"))
    docs = docs.where(F.col(id_col).isNotNull())
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    ).withColumn("t", _line_key("line")).withColumn("h", F.xxhash64("t"))
    hot_h = (
        lines.where(F.col("t") != "")
        .select("h", id_col).dropDuplicates(["h", id_col])
        .groupBy("h").agg(F.count("*").alias("df"))
        .where(F.col("df") > max_doc_freq)
        .select("h")
    )
    hot_t = (
        lines.join(hot_h, "h", "left_semi")
        .where(F.col("t") != "")
        .select("t", id_col).dropDuplicates(["t", id_col])
        .groupBy("t").agg(F.count("*").alias("df"))
        .where(F.col("df") > max_doc_freq)
        .select("t")
    )
    kept = lines.join(hot_t, "t", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(
            F.struct("line_no", "line"))).alias("ls"))
        .select(
            id_col,
            F.array_join(F.transform("ls", lambda s: s["line"]), "\n")
            .alias("text"),
        )
    )
    # a doc whose every line was boilerplate survives as EMPTY text, not a
    # dropped row — losing the doc id would silently shrink the corpus
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        id_col, F.coalesce("text", F.lit("")).alias("text")) \
        .unionByName(null_rows)


def normalized_fp(text_col: str = "text"):
    """THE content fingerprint: md5 over the shared whitespace normalizer
    (``textstats._ws_norm``) of the lowercased text. Single definition
    shared by ``dedup_against_corpus``, ``curation.curate`` and the
    ``doc_fingerprint`` query — cross-crawl dedup's correctness rests on
    fingerprint stability across code versions, so the normalization must
    not be able to drift between call sites."""
    return F.md5(_ws_norm(F.lower(text_col)))


def dedup_against_corpus(
    new_docs: DataFrame,
    committed: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Cross-crawl incremental dedup: drop new documents whose normalized
    content fingerprint already exists in a previously committed corpus —
    recrawls re-fetch mostly unchanged pages, and re-admitting them both
    wastes downstream compute and over-weights stable sites in training
    mixes. Complements ``resume.committed_urls`` (same-URL skip): this
    catches the same CONTENT under a different url (mirrors, tracking
    params the canonicalizer missed, site moves).

    ``committed`` needs only a text column (e.g. the results table's
    ``extracted_text`` renamed); both sides reduce to 32-byte md5
    fingerprints before the anti-join, so the shuffle carries
    fingerprints — never text — and the committed side is read
    column-pruned. Within the new batch itself, exact self-dedup
    (``dedup_exact`` / ``curation.curate``) still applies — this operator
    only subtracts what history already holds. Exact-content only:
    recrawls with minor edits need ``near_dedup_against_corpus``."""
    fp = normalized_fp(text_col)
    seen = committed.select(fp.alias("__fp")).distinct()
    return (
        new_docs.withColumn("__fp", fp)
        .join(seen, "__fp", "left_anti")
        .drop("__fp")
    )


def build_band_index(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, band, bk) LSH band index for a committed corpus — the
    persisted artifact that makes cross-crawl NEAR-dedup incremental.

    Persist it once per corpus commit with
    ``util.write_bucketed_table(idx, table, "bk", n_buckets)``: the
    committed side of every future incremental run is then a pre-banded,
    pre-bucketed scan of three skinny columns — the corpus text is never
    re-shingled or re-hashed, and the new-batch-vs-index join needs no
    Exchange on the committed side (bucket id IS the partition). Append
    each new increment's own bands after it commits, so the index tracks
    the corpus. Four rows of ~70 bytes per document regardless of document
    size — at 10^12 docs the index is ~0.3% of a 100 TB corpus."""
    sh = _shingles(docs.select(F.col(id_col).alias("doc_id"),
                               F.col(text_col).alias("text")))
    return _band_keys(sh)


def near_dedup_against_corpus(
    new_docs: DataFrame,
    band_index: DataFrame,
    committed: DataFrame,
    *,
    jaccard_pm: int = 500,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-crawl incremental NEAR-dedup: drop new documents whose 3-gram
    Jaccard against some already-committed document is >=
    ``jaccard_pm``/1000. The common recrawl case ``dedup_against_corpus``
    misses — a page refetched with a rotated timestamp, an extra nav item,
    a tweaked sentence — lands here.

    Same composition as ``dedup_lsh_jaccard`` (LSH candidates → exact
    Jaccard on candidates only), applied new-vs-committed with the
    committed side INCREMENTAL:

    * only the NEW batch is shingled and banded; the committed side is
      ``band_index`` (``build_band_index`` output, ideally bucketed on
      ``bk`` via ``util.write_bucketed_table`` for a zero-Exchange join —
      plan-gated in tests).
    * candidate generation is the (band, bk) equi-join — never all-pairs.
    * exact-Jaccard verification shingles committed TEXT only for docs
      that appear as candidates (a semi-join keyed by candidate ids prunes
      the committed scan), so verification cost is
      O(candidates × shingles-per-doc) regardless of corpus size.

    ``committed`` needs (id_col, text_col) for those candidate lookups.
    Returns ``new_docs`` minus the near-duplicates; column set unchanged.
    New-batch-internal near-dups are deliberately NOT touched here — run
    ``curation.curate`` (or ``dedup_lsh_jaccard``) within the batch."""
    if not 0 <= jaccard_pm <= 1000:
        raise ValueError(f"jaccard_pm must be in [0, 1000]: {jaccard_pm}")
    new_named = new_docs.select(F.col(id_col).alias("doc_id"),
                                F.col(text_col).alias("text"))
    new_shc = _shingles_with_card(new_named)
    cand = (  # (id_a, id_b) = (new, committed)
        _band_keys(new_shc.select("doc_id", "sh")).alias("n")
        .join(band_index.alias("c"),
              (F.col("n.band") == F.col("c.band"))
              & (F.col("n.bk") == F.col("c.bk")))
        .select(F.col("n.doc_id").alias("id_a"),
                F.col("c.doc_id").alias("id_b"))
        .distinct()
    )
    com_named = (
        committed.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text"))
        .join(cand.select(F.col("id_b").alias("doc_id")).distinct(),
              "doc_id", "left_semi")
    )
    losers = (
        _jaccard_verify(cand, new_shc, _shingles_with_card(com_named))
        .where(F.col("jac") >= jaccard_pm)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return new_docs.join(losers, id_col, "left_anti")
