"""Semantic assertions for the training-data-pipeline ops: beyond matching
the DuckDB oracle, the dedup/similarity operators must actually FIND the
deterministically injected (near-)duplicates."""

from __future__ import annotations

import pytest

from pii_spark.queries import QUERIES


@pytest.fixture(scope="module")
def sfd() -> str:
    return "/root/testdata/sf0.001"


def _docs_count(spark, sfd):
    return spark.read.parquet(f"{sfd}/documents.parquet").count()


def test_dedup_exact_finds_all_injected(spark, sfd):
    n = _docs_count(spark, sfd)
    rows = QUERIES["dedup_exact"](spark, sfd).collect()
    expected = {i for i in range(n) if i % 10 == 0}
    assert {r["rep_id"] for r in rows} == expected
    assert all(r["group_n"] == 2 for r in rows)


def test_minhash_lsh_recall_on_near_dups(spark, sfd):
    """Every injected near-dup (id, id+2000000) must appear among LSH
    candidates: the suffix edit changes only trailing shingles, so at least
    one band of exact minhash matches survives."""
    n = min(_docs_count(spark, sfd), 200)
    pairs = {(r["id_a"], r["id_b"])
             for r in QUERIES["dedup_minhash_lsh"](spark, sfd).collect()}
    for i in range(0, n, 25):
        assert (i, i + 2000000) in pairs, f"missed near-dup pair for doc {i}"


def test_jaccard_scores_near_dups_high(spark, sfd):
    """The caged exact-Jaccard variant lost its registry slot to the
    redaction oracle (VERDICT r4 #5) but keeps its full contract HERE:
    injected near-dup pairs score >= 500 pm, and the whole result matches
    the DuckDB oracle it used to carry in the registry."""
    import duckdb

    from oracles.dedup import (
        JACCARD_EXACT_SMALLSCALE_ORACLE,
        dedup_jaccard_exact_smallscale,
    )

    got = dedup_jaccard_exact_smallscale(spark, sfd).collect()
    rows = {(r["id_a"], r["id_b"]): r["jac_pm"] for r in got}
    n = min(_docs_count(spark, sfd), 200)
    for i in range(0, n, 25):
        jac = rows.get((i, i + 2000000))
        assert jac is not None and jac >= 500

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS "
            f"SELECT * FROM read_parquet('{sfd}/documents.parquet')")
    oracle = {(a, b): j for a, b, j in
              con.sql(JACCARD_EXACT_SMALLSCALE_ORACLE).fetchall()}
    assert rows == oracle


def test_jaccard_exact_guard_refuses_large_corpus(spark, sfd, monkeypatch):
    """The all-pairs exact variant is gated: above JACCARD_EXACT_MAX_DOCS it
    must refuse with a pointer at the LSH-pruned composition instead of
    launching a quadratic shared-shingle join."""
    import pytest

    from oracles import dedup

    monkeypatch.setattr(dedup, "JACCARD_EXACT_MAX_DOCS", 1)
    with pytest.raises(ValueError, match="dedup_lsh_jaccard"):
        dedup.dedup_jaccard_exact_smallscale(spark, sfd)


def test_simhash_identical_for_exact_dups(spark, sfd):
    sig = {r["doc_id"]: r["simhash"]
           for r in QUERIES["dedup_simhash"](spark, sfd).collect()}
    injected = [i for i in sig if i >= 1000000]
    assert injected
    for j in injected:
        assert sig[j] == sig[j - 1000000]
        assert len(sig[j]) == 16 and set(sig[j]) <= {"0", "1"}


def test_embedding_near_dup_finds_copies(spark, sfd):
    n_vec = spark.read.parquet(f"{sfd}/embeddings.parquet").count()
    pairs = {(r["id_a"], r["id_b"])
             for r in QUERIES["embedding_near_dup"](spark, sfd).collect()}
    for i in range(0, n_vec, 25):
        assert (i + 10000, i) in pairs or (i, i + 10000) in pairs


def test_knn_bruteforce_is_exact_topk(spark, sfd):
    """Cross-check the distributed top-k against a local NumPy brute force
    on the same quantized vectors."""
    import numpy as np

    emb = {r["vec_id"]: np.round(np.array(r["embedding"], dtype=np.float64) * 1000)
           for r in spark.read.parquet(f"{sfd}/embeddings.parquet").collect()}
    got: dict[int, list[int]] = {}
    for r in QUERIES["knn_bruteforce"](spark, sfd).collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for q in range(min(10, len(emb))):
        dots = sorted(
            ((emb[q] @ emb[c], -c) for c in emb if c != q), reverse=True)
        expect = [-negc for _dot, negc in dots[:5]]
        assert got[q] == expect, f"query {q}"


def test_connected_components_chain_triangle_isolated(spark):
    from pii_spark.ops.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # triangle 10-11-12, isolated 99
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 12, 99)],
                                  "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long")
    got = {r["id"]: r["rep"]
           for r in connected_components(verts, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_raises_when_not_converged(spark):
    """The chain 1-2-3-4 needs more than one propagation round: with
    max_iter=1 the labels are still moving, so the call must raise
    rather than return wrong representatives."""
    from pii_spark.ops.dedup import connected_components

    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(verts, pairs, max_iter=1)


def test_url_canonicalization_golden(spark):
    from pyspark.sql import functions as F

    from pii_spark.ops.urls import canonical_url

    cases = [
        ("HTTPS://WWW.Site.COM/Path/?utm_source=x&id=9&fbclid=z#frag",
         "https://site.com/Path?id=9"),
        ("http://site.com/a/b/", "http://site.com/a/b"),
        ("http://site.com/a?b=2&a=1", "http://site.com/a?a=1&b=2"),  # sorted
        ("http://site.com/a?utm_campaign=x&gclid=1", "http://site.com/a"),
        ("http://Site.com/CaseKept", "http://site.com/CaseKept"),
        ("https://www.x.org/p#only-frag", "https://x.org/p"),
        # pathless url with query: host capture must stop at '?'
        ("http://site.com?utm_source=x&id=9", "http://site.com?id=9"),
        # query case must be preserved even when the host lowercases
        ("HTTP://SITE.COM/p?ID=9", "http://site.com/p?ID=9"),
        # bare tracking param (no '=') also drops
        ("http://site.com/p?fbclid&id=1", "http://site.com/p?id=1"),
        # NAME-PREFIX-ONLY semantics, pinned: a param whose name merely
        # starts with a tracking prefix drops (gclid_src, fbclid2, utm_foo),
        # while a name that only CONTAINS one survives (xgclid, adgclid) —
        # values are never inspected.
        ("http://site.com/p?gclid_src=1&id=1", "http://site.com/p?id=1"),
        ("http://site.com/p?fbclid2=1&id=1", "http://site.com/p?id=1"),
        ("http://site.com/p?utm_foo=1&id=1", "http://site.com/p?id=1"),
        ("http://site.com/p?xgclid=1&id=1",
         "http://site.com/p?id=1&xgclid=1"),
        ("http://site.com/p?adgclid=1", "http://site.com/p?adgclid=1"),
        # a tracking NAME as a VALUE is kept (names only are filtered)
        ("http://site.com/p?next=gclid", "http://site.com/p?next=gclid"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    for r in df.select(canonical_url(F.col("url")).alias("got"),
                       "want", "url").collect():
        assert r["got"] == r["want"], r["url"]


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(exact, approx):
    hits = total = 0
    for q, true_set in exact.items():
        total += len(true_set)
        hits += len(true_set & approx.get(q, set()))
    return hits / total if total else 0.0


def test_ann_recall_vs_bruteforce(spark, sfd):
    """Quality, not just determinism: the approximate variants must actually
    FIND true neighbors, measured as recall@5 against the exact top-k.

    Two regimes, both deterministic (stable measured values):
    - CLUSTERED embeddings (same-cluster cosine ≈ 0.9 — the realistic
      text-embedding regime, VERDICT r2 #3): multi-table LSH measures 0.94
      scanning ~22% of the corpus — gated at ≥ 0.8.
    - the sf tables' near-uniform embeddings (the adversarial regime: no
      structure for hashing to exploit): LSH measures 0.32 at a ~14% probe
      fraction — i.e. it tracks the scan fraction, floor 0.25; IVF adapts
      its probe set and measures 0.84, floor 0.6. IVF is the documented
      uniform-regime recommendation."""
    from pii_spark.ops.similarity import knn_bruteforce_frame, knn_lsh_frame
    from pii_spark.synth import clustered_embeddings_pdf

    # realistic regime: clustered corpus, production LSH defaults
    cl = spark.createDataFrame(clustered_embeddings_pdf(500))
    exact_cl = _topk_sets(knn_bruteforce_frame(cl))
    r_lsh_cl = _recall(exact_cl, _topk_sets(knn_lsh_frame(cl)))
    assert r_lsh_cl >= 0.8, f"clustered LSH recall: {r_lsh_cl:.3f}"

    # adversarial regime: near-uniform sf embeddings
    exact = _topk_sets(QUERIES["knn_bruteforce"](spark, sfd))
    r_lsh = _recall(exact, _topk_sets(QUERIES["knn_lsh"](spark, sfd)))
    r_ivf = _recall(exact, _topk_sets(QUERIES["knn_ivf"](spark, sfd)))
    assert r_lsh >= 0.25, f"LSH recall collapsed: {r_lsh:.3f}"
    assert r_ivf >= 0.6, f"IVF recall collapsed: {r_ivf:.3f}"


def test_knn_lsh_neighbors_share_bucket_semantics(spark, sfd):
    """LSH results are a subset of brute-force candidates ranked by the same
    score; every returned neighbor must have rank position consistent with
    its qdot ordering."""
    rows = QUERIES["knn_lsh"](spark, sfd).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q, "LSH returned nothing"
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rk"])
        qdots = [r["qdot"] for r in rs]
        assert qdots == sorted(qdots, reverse=True)


def test_line_dedup_vs_duckdb_oracle(spark):
    """CCNet/RefinedWeb-style line-level boilerplate removal: lines whose
    trimmed form appears in > max_doc_freq distinct docs vanish, everything
    else survives byte-identically in order. Verified against an
    independent DuckDB derivation on the same corpus (same rigor as the
    registry oracles; the 50-slot registry is full)."""
    import duckdb
    import pandas as pd

    from pii_spark.ops.dedup import line_dedup

    nav = "Menu | Institucional | Contato"
    cookie = "  Este site usa cookies.  "
    rows = []
    for i in range(30):
        body = [f"Paragrafo unico do documento {i}.",
                "", f"Detalhe numero {i * 7}."]
        text = "\n".join([nav, *body, cookie] if i < 25 else body)
        if i < 8:  # CRLF corpus slice: same boilerplate, \r\n endings
            text = text.replace("\n", "\r\n")
        rows.append((i, text))
    rows.append((30, f"{nav}\n{cookie}\n{nav}"))  # all-boilerplate doc
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])

    got = line_dedup(
        spark.createDataFrame(pdf), max_doc_freq=5
    ).orderBy("doc_id").collect()

    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.sql(r"""
        WITH split AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
        lines AS (
          SELECT doc_id, unnest(ls) AS line,
                 generate_subscripts(ls, 1) AS line_no FROM split),
        trimd AS (
          SELECT doc_id, line_no, line,
                 regexp_replace(line, '^\s+|\s+$', '', 'g') AS t
          FROM lines),
        hot AS (
          SELECT t FROM trimd WHERE t <> ''
          GROUP BY 1 HAVING count(DISTINCT doc_id) > 5),
        kept AS (
          SELECT doc_id, line_no, line FROM trimd
          WHERE t NOT IN (SELECT t FROM hot))
        SELECT d.doc_id,
               coalesce(string_agg(k.line, chr(10) ORDER BY k.line_no), '')
                 AS text
        FROM docs d LEFT JOIN kept k USING (doc_id)
        GROUP BY d.doc_id ORDER BY d.doc_id
    """).fetchall()
    assert [(r["doc_id"], r["text"]) for r in got] == want

    by_id = {r["doc_id"]: r["text"] for r in got}
    assert nav not in by_id[10] and "cookies" not in by_id[10]
    assert "Paragrafo unico do documento 13." in by_id[13]
    assert by_id[13].count("\n") == 2  # blank line survived, order intact
    assert by_id[30] == ""             # all-boilerplate doc kept as empty
    assert by_id[27] == rows[27][1]    # doc with no hot lines: byte-identical
    # CRLF slice: '\r'-suffixed boilerplate dedups WITH its LF twin, and
    # the '\r' blank lines survive (spaces-only trim would have classed
    # '\r' itself as corpus-wide boilerplate and deleted every blank line)
    assert nav not in by_id[3] and "cookies" not in by_id[3]
    assert "\r" in by_id[3]            # blank CRLF lines survived
    # no cartesian anywhere in the plan
    plan = line_dedup(spark.createDataFrame(pdf), 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_repetition_stats_vs_duckdb_oracle(spark):
    """Gopher-style within-doc repetition signals vs an independent DuckDB
    derivation: duplicated-line fractions and most-frequent-bigram char
    coverage, floored per-mille, identical tie-breaks."""
    import duckdb
    import pandas as pd

    from pii_spark.ops.textstats import repetition_stats

    rows = [
        (0, "linha um\nlinha dois\nlinha um\nlinha um\n\nlinha tres"),
        (1, "clique aqui clique aqui clique aqui clique aqui agora"),
        (2, "Um paragrafo normal de prosa corrida sem repeticao alguma."),
        (3, ""),
        (4, "palavra"),
        (5, "a b\na b\na b"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = [(r["doc_id"], r["dup_line_pm"], r["dup_line_char_pm"],
            r["top_bigram_char_pm"])
           for r in repetition_stats(spark.createDataFrame(pdf))
           .orderBy("doc_id").collect()]

    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.sql("""
        WITH lines AS (
          SELECT doc_id, regexp_replace(l, '^\\s+|\\s+$', '', 'g') AS l
          FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                FROM docs) x
          WHERE regexp_replace(l, '^\\s+|\\s+$', '', 'g') <> ''),
        per_line AS (
          SELECT doc_id, l, count(*) AS c FROM lines GROUP BY 1, 2),
        line_stats AS (
          SELECT doc_id,
                 CAST(floor(sum(c - 1) * 1000.0 / sum(c)) AS BIGINT)
                   AS dup_line_pm,
                 CAST(floor(sum(CASE WHEN c > 1 THEN c * length(l)
                                     ELSE 0 END) * 1000.0
                            / sum(c * length(l))) AS BIGINT)
                   AS dup_line_char_pm
          FROM per_line GROUP BY doc_id),
        tokd AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t <> '') AS toks
          FROM docs),
        grams AS (
          SELECT doc_id,
                 list_sum(list_transform(toks, t -> length(t))) AS tok_chars,
                 unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS g
          FROM tokd),
        counted AS (
          SELECT doc_id, tok_chars, g, count(*) AS c,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY count(*) DESC, length(g) - 1 DESC, g DESC) AS rn
          FROM grams GROUP BY doc_id, tok_chars, g),
        top AS (
          SELECT doc_id,
                 least(1000, CAST(floor(c * (length(g) - 1) * 1000.0
                                        / tok_chars) AS BIGINT))
                   AS top_bigram_char_pm
          FROM counted WHERE rn = 1)
        SELECT d.doc_id, coalesce(ls.dup_line_pm, 0),
               coalesce(ls.dup_line_char_pm, 0),
               coalesce(t.top_bigram_char_pm, 0)
        FROM docs d
        LEFT JOIN line_stats ls USING (doc_id)
        LEFT JOIN top t USING (doc_id)
        ORDER BY d.doc_id
    """).fetchall()
    assert got == [tuple(w) for w in want]

    by_id = {g[0]: g for g in got}
    assert by_id[0][1] == 400          # 2 of 5 non-blank lines are repeats
    assert by_id[1][3] > 400           # bigram-spam doc flagged hard
    assert by_id[2][1] == 0 and by_id[2][2] == 0
    assert by_id[3] == (3, 0, 0, 0) and by_id[4][3] == 0
    assert by_id[5][1] == 666          # 2 of 3 identical lines


def test_line_dedup_properties_random_corpora(spark):
    """Structural invariants over seeded random corpora: output lines are
    a subsequence of input lines (nothing invented, order kept), a huge
    threshold is the identity, and the operator is IDEMPOTENT (survivor
    doc-frequencies are unchanged by the removal, so a second pass is a
    no-op)."""
    import random

    from pii_spark.ops.dedup import line_dedup

    rng = random.Random(99)
    pool = [f"boiler {i}" for i in range(5)]
    docs = []
    for d in range(40):
        lines = []
        for _ in range(rng.randint(0, 12)):
            r = rng.random()
            if r < 0.3:
                lines.append(rng.choice(pool))
            elif r < 0.4:
                lines.append(rng.choice(["", "  ", "\t"]))
            else:
                lines.append(f"unico {d} {rng.randint(0, 1 << 30)}")
        docs.append((d, "\n".join(lines)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    once = {r["doc_id"]: r["text"]
            for r in line_dedup(df, 3).collect()}
    assert set(once) == {d for d, _ in docs}  # no doc ever disappears
    orig = dict(docs)
    for d, out in once.items():
        if out == "":
            continue
        src = orig[d].split("\n")
        it = iter(src)
        # subsequence check: every output line appears in input order
        assert all(any(line == s for s in it) for line in out.split("\n")), d

    # identity at a threshold no line can exceed
    ident = {r["doc_id"]: r["text"] for r in line_dedup(df, 10_000).collect()}
    assert ident == orig

    # idempotence: running again removes nothing further
    again = {r["doc_id"]: r["text"] for r in line_dedup(
        spark.createDataFrame(list(once.items()), ["doc_id", "text"]),
        3).collect()}
    assert again == once


def test_repetition_stats_one_row_per_input_row(spark):
    """repetition_stats measures each row from its own text: an id that
    repeats k times yields k rows (not k^2 from joins on the id), and a
    NULL-id row gets the stats its text has under a real id."""
    from pii_spark.ops.textstats import repetition_stats

    text_a = "linha um\nlinha um\nlinha dois\nlinha um"
    text_b = "clique aqui clique aqui clique aqui agora"
    rows = [(1, text_a), (1, text_b), (1, text_b), (2, text_b),
            (3, text_a), (None, text_a)]
    out = repetition_stats(spark.createDataFrame(
        rows, "doc_id long, text string")).collect()
    assert len(out) == len(rows)
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(
            (r["dup_line_pm"], r["dup_line_char_pm"],
             r["top_bigram_char_pm"]))
    assert by_id[3][0] != (0, 0, 0)  # text_a has repeated lines
    assert by_id[None] == by_id[3]
    assert sorted(by_id[1]) == sorted(by_id[3] + by_id[2] * 2)


def test_ngram_repetition_stats_vs_python_oracle(spark):
    """Generalized Gopher n-gram family vs a direct Counter-based oracle,
    plus consistency: top_2gram must equal repetition_stats' bigram."""
    import re
    from collections import Counter

    import pandas as pd

    from pii_spark.ops.textstats import ngram_repetition_stats, repetition_stats

    rows = [
        (0, "spam spam spam spam ham"),
        (1, "um dois tres quatro cinco seis sete oito nove dez " * 3),
        (2, "Prosa corrida normal sem repeticoes de qualquer especie."),
        (3, ""),
        (4, "a b a b a b a b a b a b"),
        (5, "a a a a"),  # overlapping repeats: raw coverage 1500 -> cap 1000
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])

    def oracle(text, top_ns, dup_ns):
        toks = [t for t in re.split(r"\s+", text) if t]
        tc = sum(len(t) for t in toks)
        out = {}
        for n in sorted(set(top_ns) | set(dup_ns)):
            grams = [" ".join(toks[i:i + n])
                     for i in range(len(toks) - n + 1)] if len(toks) >= n else []
            cnt = Counter(grams)
            if cnt and tc:
                c, gl, _g = max(
                    (c, len(g) - (n - 1), g) for g, c in cnt.items())
                top = min(1000, int(c * gl * 1000 // tc))
                dup = min(1000, int(sum(
                    c * (len(g) - (n - 1)) for g, c in cnt.items()
                    if c >= 2) * 1000 // tc))
            else:
                top = dup = 0
            if n in top_ns:
                out[f"top_{n}gram_char_pm"] = top
            if n in dup_ns:
                out[f"dup_{n}gram_char_pm"] = dup
        return out

    got = {r["doc_id"]: r.asDict()
           for r in ngram_repetition_stats(
               spark.createDataFrame(pdf), top_ns=(2, 3), dup_ns=(2, 5))
           .collect()}
    for doc_id, text in rows:
        want = oracle(text, (2, 3), (2, 5))
        g = {k: v for k, v in got[doc_id].items() if k != "doc_id"}
        assert g == want, (doc_id, g, want)

    # doc 4 is pure bigram repetition: near-total coverage both ways
    assert got[4]["dup_2gram_char_pm"] >= 900
    assert got[0]["top_2gram_char_pm"] > 500   # "spam spam" dominates
    assert got[2]["dup_2gram_char_pm"] == 0
    assert got[5]["top_2gram_char_pm"] == 1000  # capped, never > 1000

    # consistency with the oracle-checked bigram operator
    bi = {r["doc_id"]: r["top_bigram_char_pm"]
          for r in repetition_stats(spark.createDataFrame(pdf)).collect()}
    for d in bi:
        assert bi[d] == got[d]["top_2gram_char_pm"], d


def test_dedup_against_corpus_cross_crawl(spark):
    """Incremental cross-crawl dedup: new docs whose normalized content a
    committed corpus already holds are dropped — even under a DIFFERENT
    url/id and whitespace/case jitter — while genuinely new content
    passes."""
    from pii_spark.ops.dedup import dedup_against_corpus

    committed = spark.createDataFrame(
        [("old1", "Conteudo ja visto na ultima safra."),
         ("old2", "Outro documento historico estavel.")],
        ["doc_id", "text"])
    new = spark.createDataFrame(
        [("n1", "Conteudo ja visto na ultima safra."),        # exact re-fetch
         ("n2", "  conteudo JA visto   na ultima safra.  "),  # jittered twin
         ("n3", "Conteudo genuinamente novo desta safra."),
         ("n4", "Outro documento historico estavel.")],
        ["doc_id", "text"])
    kept = {r["doc_id"] for r in dedup_against_corpus(new, committed)
            .collect()}
    assert kept == {"n3"}
    # columns pass through untouched; empty history keeps everything
    allkept = dedup_against_corpus(new, committed.limit(0))
    assert sorted(allkept.columns) == ["doc_id", "text"]
    assert allkept.count() == 4


def _fresh_table(spark, name):
    """saveAsTable target: drop any catalog entry AND stale warehouse dir
    (a previously crashed test leaves the dir without the entry)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)


def test_near_dedup_against_corpus_edited_recrawls(spark, tmp_path):
    """Cross-crawl incremental NEAR-dedup: a recrawl with minor edits (the
    case dedup_against_corpus's exact fingerprint misses) must drop; a
    genuinely new page must survive; the committed side must come from the
    persisted band index, not a corpus-wide re-banding."""
    from pii_spark.ops.dedup import (
        build_band_index,
        dedup_against_corpus,
        near_dedup_against_corpus,
    )
    from pii_spark.util import write_bucketed_table

    base = ("O relatorio anual da empresa apresenta os resultados do "
            "exercicio com detalhes sobre receita liquida despesas "
            "operacionais e projecoes para os proximos trimestres em "
            "cada segmento de atuacao da companhia no mercado nacional")
    committed = spark.createDataFrame(
        [(i, f"{base} edicao {i}") for i in range(20)],
        "doc_id long, text string")

    # persist the committed index BUCKETED on bk (the incremental layout)
    idx = build_band_index(committed)
    _fresh_table(spark, "band_idx_t")
    write_bucketed_table(idx, "band_idx_t", "bk", 8)
    stored = spark.table("band_idx_t")

    new = spark.createDataFrame(
        [
            # edited recrawl of doc 3: one phrase appended — exact fp differs
            (103, f"{base} edicao 3 com uma frase nova no final"),
            # byte-identical recrawl of doc 7
            (107, f"{base} edicao 7"),
            # genuinely new content
            (200, ("Receita de bolo de cenoura com cobertura de chocolate "
                   "misture os ingredientes asse por quarenta minutos e "
                   "sirva gelado com cafe fresco passado na hora em casa")),
        ],
        "doc_id long, text string")

    kept = near_dedup_against_corpus(new, stored, committed)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [200]  # both recrawls dropped, new content survives

    # the exact-fp operator misses the edited recrawl — the gap this fills
    exact_kept = sorted(
        r["doc_id"] for r in dedup_against_corpus(new, committed).collect())
    assert exact_kept == [103, 200]

    # threshold semantics: an impossibly strict threshold keeps everything
    # that is not shingle-identical
    strict = near_dedup_against_corpus(new, stored, committed,
                                       jaccard_pm=1000)
    assert sorted(r["doc_id"] for r in strict.collect()) == [103, 200]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="jaccard_pm"):
        near_dedup_against_corpus(new, stored, committed, jaccard_pm=1001)

    # --- plan gates -----------------------------------------------------
    plan = near_dedup_against_corpus(new, stored, committed) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # committed text is only shingled behind the candidate semi-join
    assert "LeftSemi" in plan
    # the committed side of the candidate join is the stored parquet index:
    # no md5/minhash recomputation can appear over its scan because the
    # scan yields only (doc_id, band, bk) — assert the pruned read schema
    assert "band_idx_t" in plan and "ReadSchema" in plan


def test_near_dedup_band_index_join_no_exchange(spark):
    """With both the band index and the new batch's bands bucketed on bk,
    the candidate join runs with zero Exchange on the stored side — the
    100-TB incremental property (same gate idiom as
    test_bucketed_join_no_exchange)."""
    from pii_spark.ops.dedup import _band_keys, _shingles, build_band_index
    from pii_spark.util import write_bucketed_table

    docs = spark.createDataFrame(
        [(i, "palavra" + " conteudo unico".join(str(j) for j in range(i, i + 9)))
         for i in range(12)],
        "doc_id long, text string")
    _fresh_table(spark, "band_idx_x")
    write_bucketed_table(build_band_index(docs), "band_idx_x", "bk", 8)
    stored = spark.table("band_idx_x")

    from pyspark.sql import functions as F

    new_bands = _band_keys(_shingles(docs.limit(3)))
    joined = new_bands.alias("n").join(
        stored.alias("c"),
        (F.col("n.band") == F.col("c.band")) & (F.col("n.bk") == F.col("c.bk")))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the stored side must feed the join without an Exchange: count the
    # Exchanges and require at most the new-batch side's one
    import re as _re
    n_exchanges = len(_re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges <= 1, plan


def test_line_dedup_null_id_text_passes_verbatim(spark):
    """NULL-id rows previously came back with text WIPED to '' (the
    rebuild keys on the id; the re-attach left join can't match a NULL
    key) — they must pass through verbatim instead."""
    from pii_spark.ops.dedup import line_dedup

    boiler = "cookie banner"
    rows = ([(None, f"{boiler}\nunique null-id prose")]
            + [(i, f"{boiler}\nbody text {i}") for i in range(1, 8)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in line_dedup(df, max_doc_freq=3).collect()}
    assert len(out) == 8
    assert out[None] == f"{boiler}\nunique null-id prose"  # untouched
    assert out[1] == "body text 1"  # boilerplate stripped for real ids


def test_knn_frames_exclude_null_embeddings(spark):
    """A NULL-embedding QUERY row would emit k arbitrary ids with NULL
    dots as 'neighbors' (every product is NULL, the rank window still
    fires) — un-scoreable rows must be excluded on both sides."""
    from pii_spark.ops.similarity import knn_bruteforce_frame, knn_lsh_frame

    rows = [(i, [float((i * 7 + j) % 5) for j in range(64)])
            for i in range(12)] + [(100, None), (0, None)][:1] \
        + [(12, None)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # vec_id 12 is inside the default query range only if n_queries > 12;
    # force it to be a query to pin the garbage-emission case
    bf = knn_bruteforce_frame(e, n_queries=13, k=3)
    got = bf.collect()
    assert all(r["qdot"] is not None for r in got)
    assert 12 not in {r["query_id"] for r in got}
    assert 12 not in {r["neighbor_id"] for r in got}
    lsh = knn_lsh_frame(e, n_queries=13, k=3).collect()
    assert 12 not in {r["query_id"] for r in lsh}
    assert 12 not in {r["neighbor_id"] for r in lsh}


def test_knn_ivf_excludes_null_embeddings(spark, tmp_path):
    """knn_ivf drops NULL-embedding rows before the centroid pick, the
    cell assignment and the scoring: no such vec_id appears as a query or
    as a neighbour, and the result is the one over the corpus without
    them. (Its oracle SQL still assigns NULL rows to a cell.)"""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(3)
    n = 60
    null_ids = {3, 9, 40}  # a centroid + query, a query, a candidate
    emb = [None if i in null_ids
           else rng.standard_normal(64).astype(np.float32).tolist()
           for i in range(n)]
    table = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "label": pa.array([i % 4 for i in range(n)], pa.int32())})
    with_nulls, without = tmp_path / "with_nulls", tmp_path / "without"
    with_nulls.mkdir()
    without.mkdir()
    pq.write_table(table, with_nulls / "embeddings.parquet")
    pq.write_table(table.filter(pa.compute.is_valid(table["embedding"])),
                   without / "embeddings.parquet")

    got = QUERIES["knn_ivf"](spark, str(with_nulls)).collect()
    assert got and all(r["qdot"] is not None for r in got)
    assert not null_ids & {r["query_id"] for r in got}
    assert not null_ids & {r["neighbor_id"] for r in got}
    assert got == QUERIES["knn_ivf"](spark, str(without)).collect()


_TOPK_DTYPES = [("query_id", "bigint"), ("neighbor_id", "bigint"),
                ("qdot", "bigint"), ("rk", "bigint")]
_PAIR_DTYPES = [("id_a", "bigint"), ("id_b", "bigint")]


def test_ann_id_columns_are_bigint(spark, sfd):
    """Every similarity id column is bigint, like vec_id and the DuckDB
    oracle's BIGINT, whatever the data: an id literal built from a python
    int list is array<int>, which made knn_bruteforce's query_id and
    embedding_near_dup's id_a int when there were queries or probes and
    bigint when there were none."""
    from pii_spark.ops.similarity import knn_bruteforce_frame

    for name in ("knn_bruteforce", "knn_lsh", "knn_ivf"):
        assert QUERIES[name](spark, sfd).dtypes == _TOPK_DTYPES, name
    assert QUERIES["embedding_near_dup"](spark, sfd).dtypes == _PAIR_DTYPES
    e = spark.read.parquet(f"{sfd}/embeddings.parquet")
    assert knn_bruteforce_frame(e, n_queries=0).dtypes == _TOPK_DTYPES


def test_ann_empty_small_sides(spark, tmp_path):
    """A corpus with no query, centroid or probe rows scores nothing:
    knn_bruteforce_frame and knn_lsh_frame (no vec_id < n_queries),
    knn_ivf (no vec_id < 8) and embedding_near_dup (no vec_id % 25 = 0)
    each return 0 rows with the columns and types of a scored frame."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pii_spark.ops.similarity import knn_bruteforce_frame, knn_lsh_frame

    rng = np.random.default_rng(5)
    ids = [i for i in range(101, 150) if i % 25]
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(
            [rng.standard_normal(64).astype(np.float32).tolist()
             for _ in ids], pa.list_(pa.float32())),
        "label": pa.array([i % 4 for i in ids], pa.int32())}),
        tmp_path / "embeddings.parquet")
    e = spark.read.parquet(str(tmp_path / "embeddings.parquet"))

    for frame in (knn_bruteforce_frame, knn_lsh_frame):
        scored = frame(e, n_queries=120)  # queries 101..119 do score
        assert scored.count() > 0
        assert scored.dtypes == _TOPK_DTYPES
        empty = frame(e)
        assert empty.dtypes == scored.dtypes
        assert empty.count() == 0
    ivf = QUERIES["knn_ivf"](spark, str(tmp_path))
    assert ivf.dtypes == _TOPK_DTYPES
    assert ivf.count() == 0
    dup = QUERIES["embedding_near_dup"](spark, str(tmp_path))
    assert dup.dtypes == _PAIR_DTYPES
    assert dup.count() == 0


# --- codegen-regex gram/shingle derivations vs their HOF executable specs


_GRAM_ADVERSARIAL = [
    "",
    " ",
    "\t\n  \r",
    "um",
    "um dois",
    "um dois tres",
    "a  b\tc\nd   e",              # mixed whitespace runs
    " leading e trailing ",
    "ab\x85c d e",                 # \x85 is NOT Java \s: stays in a token
    "a\xa0b c d e",               # NBSP likewise
    "x " * 50,                     # maximal repetition
    "tok" * 2000 + " fim disso",   # one giant token
    "p q r s t u v w x y z " * 40,
    "pontua, cao; e (parens) [demais] {ainda}",
    "numeros 12 34 12 34 12 34 fim",
]


def _rand_texts(n=60, seed=7):
    import random

    rng = random.Random(seed)
    alphabet = ["casa", "rio", "12", "a", "bb", "x\ty", "fim.", "",
                "é", "são"]
    ws = [" ", "  ", "\t", "\n", " \t ", "\r\n"]
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randrange(0, 40)):
            parts.append(rng.choice(alphabet))
            parts.append(rng.choice(ws))
        out.append("".join(parts))
    return out


def test_ngram_repetition_stats_matches_hof_spec(spark):
    """The production codegen-regex gram derivation must be row-identical
    to the sequence+transform executable spec on adversarial + fuzz
    corpora (incl. NULL text and non-Java-whitespace unicode spaces)."""
    from oracles.spark_ops import ngram_repetition_stats_hof

    from pii_spark.ops.textstats import ngram_repetition_stats

    texts = _GRAM_ADVERSARIAL + _rand_texts() + [None]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    kw = dict(top_ns=(2, 3), dup_ns=(2, 5, 10))
    got = {r["doc_id"]: r.asDict()
           for r in ngram_repetition_stats(df, **kw).collect()}
    want = {r["doc_id"]: r.asDict()
            for r in ngram_repetition_stats_hof(df, **kw).collect()}
    assert got == want

    # the token count behind curate's min_tokens gate and the mix budgets
    # is the tokenization the repetition stats and decontamination read:
    # one word per 1-gram, on every row (NULL text: 0 and 0)
    from pyspark.sql import functions as F

    from pii_spark.ops.textstats import _all_grams, _word_count, _ws_norm

    counts = {r["doc_id"]: (r["wc"], r["g1"]) for r in df.select(
        "doc_id", _word_count("text").alias("wc"),
        F.size(_all_grams(_ws_norm("text"), 1)).alias("g1")).collect()}
    assert counts[len(texts) - 1] == (0, 0)
    assert {i: wc for i, (wc, _) in counts.items()} == \
        {i: g1 for i, (_, g1) in counts.items()}


def test_dup_line_stats_matches_hof_spec(spark):
    """The doc-local line-run scan must be row-identical to the
    explode/groupBy executable spec — including CRLF trim identity and
    blank-line exclusion; docs the spec leaves absent (no non-blank
    lines) must read 0 in with_dup_line_stats."""
    from oracles.spark_ops import dup_line_stats_hof

    from pii_spark.ops.textstats import with_dup_line_stats

    texts = [
        "a\nb\na\nb\na",
        "um\r\num\r\num\r\n",            # CRLF: '\r' must not break identity
        "  linha  \nlinha\n\n\n linha",  # trim + blank lines
        "",
        "\n\n\n",
        " \n \t \n ",
        "so uma linha",
        None,
        "x\n" * 400 + "y",
        "aa\nbb\ncc\naa\ncc\ncc",
    ] + _rand_texts(seed=23)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    want = {r["doc_id"]: (r["dup_line_pm"], r["dup_line_char_pm"])
            for r in dup_line_stats_hof(df).collect()}
    inline = {r["doc_id"]: (r["dup_line_pm"], r["dup_line_char_pm"])
              for r in with_dup_line_stats(df).collect()}
    assert len(inline) == len(texts)  # inline keeps EVERY row
    for i in range(len(texts)):
        assert inline[i] == want.get(i, (0, 0)), i


def test_shingles_match_hof_spec(spark):
    """The production codegen-regex shingle pass must emit the same
    (doc_id, sh) set as the sequence+transform spec — including tokens
    that CONTAIN tabs/newlines (split-on-' ' semantics, not backslash-s)."""
    from oracles.spark_ops import shingles_hof

    from pii_spark.ops.dedup import _shingles

    texts = _GRAM_ADVERSARIAL + _rand_texts(seed=11) + [None]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {(r["doc_id"], r["sh"]) for r in _shingles(df).collect()}
    want = {(r["doc_id"], r["sh"]) for r in shingles_hof(df).collect()}
    assert got == want
    # both emit per-doc DISTINCT shingles, so row counts must agree too
    assert _shingles(df).count() == shingles_hof(df).count()


def test_lsh_bucket_udf_matches_expr_spec(spark):
    """The Arrow matmul bucket derivation (knn_lsh_frame's _buckets) must
    produce byte-identical bucket strings to the per-element expression
    spec ``bucket_expr`` for every table."""
    import numpy as np
    from pyspark.sql import functions as F

    from oracles.spark_ops import bucket_expr

    from pii_spark.ops.similarity import (
        _DIM, _N_PLANES, _N_TABLES, _plane_weights, _quant)

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(_DIM)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    eq = df.select("vec_id", _quant("embedding").alias("e"))
    spec = eq.select(
        "vec_id", *[
            bucket_expr(F.col("e"), t, _N_PLANES).alias(f"b{t}")
            for t in range(_N_TABLES)
        ]).orderBy("vec_id").collect()
    # recompute via the weight matrices the UDF uses
    wmats = [_plane_weights(t) for t in range(_N_TABLES)]
    for r in spec:
        e = np.asarray(
            eq.where(F.col("vec_id") == r["vec_id"]).first()["e"],
            dtype=np.int64)
        for t in range(_N_TABLES):
            bits = "".join(
                "1" if v > 0 else "0" for v in (e @ wmats[t]))
            assert bits == r[f"b{t}"], (r["vec_id"], t)
