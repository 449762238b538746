"""Per-host token cap (ops/mixing.py): deterministic domain balancing.
DuckDB-oracle verified (registry at its 50-slot cap), plus partition
invariance, NULL-host/NULL-text edges, and a plan gate showing under-cap
hosts never enter the window."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pii_spark.ops.mixing import cap_host_tokens
from pii_spark.ops.urls import host_of


def _corpus():
    rows = []
    did = 0
    # mega-host: 40 docs x 50 tokens = 2000 tokens, cap will bite
    for i in range(40):
        rows.append((did, "mega.example.com",
                     " ".join(f"m{did}t{j}" for j in range(50))))
        did += 1
    # mid host: 6 docs x 50 = 300 tokens
    for i in range(6):
        rows.append((did, "mid.example.com",
                     " ".join(f"d{did}t{j}" for j in range(50))))
        did += 1
    # tiny host, one doc
    rows.append((did, "tiny.example.com", "um dois tres")); did += 1
    # single doc BIGGER than the cap on its own host
    rows.append((did, "giant.example.com",
                 " ".join(f"g{j}" for j in range(900)))); did += 1
    # NULL host bucket (unparseable urls) with enough tokens to be capped
    for i in range(12):
        rows.append((did, None,
                     " ".join(f"n{did}t{j}" for j in range(50))))
        did += 1
    # NULL text doc on the mega host: zero tokens, must never flip a
    # predicate or consume budget
    rows.append((did, "mega.example.com", None)); did += 1
    return rows


CAP = 500


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = pd.DataFrame(_corpus(), columns=["doc_id", "host", "text"])
    return spark.createDataFrame(pdf, "doc_id long, host string, text string"), pdf


def test_cap_host_tokens_vs_duckdb_oracle(corpus):
    import duckdb

    df, pdf = corpus
    kept, dropped = cap_host_tokens(df, CAP, seed=7)
    got_kept = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    got_dropped = {r["doc_id"]: (r["n_tok"], r["host_cum_tok"])
                   for r in dropped.collect()}

    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.sql(rf"""
        WITH toks AS (
          SELECT doc_id, host,
                 CASE WHEN text IS NULL THEN 0
                      ELSE len(list_filter(string_split_regex(text, '\s+'),
                                           t -> t <> '')) END AS n_tok
          FROM docs),
        cum AS (
          SELECT doc_id, host, n_tok,
                 sum(n_tok) OVER (
                   PARTITION BY host
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id
                   ROWS UNBOUNDED PRECEDING) AS c
          FROM toks)
        SELECT doc_id, n_tok, c FROM cum WHERE c > {CAP} ORDER BY doc_id
    """).fetchall()
    want_dropped = {d: (n, c) for d, n, c in want}
    assert got_dropped == want_dropped
    all_ids = set(pdf["doc_id"])
    assert set(got_kept) == all_ids - set(want_dropped)


def test_cap_semantics_and_edges(corpus):
    df, pdf = corpus
    kept, dropped = cap_host_tokens(df, CAP, seed=7)
    k = kept.withColumn("h", F.col("host"))
    # every surviving host's total is within the cap
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n_tok = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(toks))
    totals = {r["host"]: r["t"] for r in
              k.select("host", n_tok.alias("n")).groupBy("host")
              .agg(F.sum("n").alias("t")).collect()}
    for h, t in totals.items():
        assert t <= CAP, (h, t)
    # under-cap hosts survive whole
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    tiny = set(pdf[pdf["host"] == "tiny.example.com"]["doc_id"])
    mid = set(pdf[pdf["host"] == "mid.example.com"]["doc_id"])
    assert tiny <= kept_ids and mid <= kept_ids
    # a lone doc over the cap drops
    giant = set(pdf[pdf["host"] == "giant.example.com"]["doc_id"])
    assert giant & kept_ids == set()
    # the NULL-host bucket is capped too (12 x 50 = 600 > 500)
    null_ids = set(pdf[pdf["host"].isna()]["doc_id"])
    assert 0 < len(null_ids & kept_ids) < len(null_ids)
    # exactly-one-side partition
    dropped_ids = {r["doc_id"] for r in dropped.select("doc_id").collect()}
    assert kept_ids | dropped_ids == set(pdf["doc_id"])
    assert kept_ids & dropped_ids == set()


def test_zero_token_doc_never_influences_neighbors(spark, corpus):
    """A zero-token (NULL-text) doc adds nothing to the running total, so
    its presence must not change which OTHER documents survive — whether
    IT survives depends only on its own hash position vs the cap point
    (oracle-pinned)."""
    df, pdf = corpus
    null_text = set(pdf[pdf["text"].isna()]["doc_id"])
    with_null, _ = cap_host_tokens(df, CAP, seed=7)
    without_null, _ = cap_host_tokens(
        df.where(~F.col("doc_id").isin(list(null_text))), CAP, seed=7)
    a = {r["doc_id"] for r in with_null.select("doc_id").collect()}
    b = {r["doc_id"] for r in without_null.select("doc_id").collect()}
    assert a - null_text == b


def test_cap_partition_invariance(corpus):
    df, _ = corpus
    a, _ = cap_host_tokens(df.repartition(1), CAP, seed=7)
    b, _ = cap_host_tokens(df.repartition(16, "doc_id"), CAP, seed=7)
    assert sorted(r["doc_id"] for r in a.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in b.select("doc_id").collect())


def test_cap_window_prunes_under_cap_hosts(corpus):
    """The running-sum window must rank ONLY over-cap hosts' skinny rows:
    the semi-join prune sits below the Window in the plan, and the
    windowed frame carries no text column."""
    df, _ = corpus
    _, dropped = cap_host_tokens(df, CAP, seed=7)
    plan = dropped._jdf.queryExecution().executedPlan().toString()
    w = plan.find("Window")
    assert w != -1
    below_window = plan[w:]
    assert "LeftSemi" in below_window
    # the window's own projection is skinny: host/id/n_tok, never text
    import re
    win_line = next(l for l in plan.splitlines() if "Window" in l)
    assert "text" not in win_line


def test_cap_validation_and_host_of(spark, corpus):
    df, _ = corpus
    with pytest.raises(ValueError):
        cap_host_tokens(df, -1)
    urls = spark.createDataFrame(
        [("https://WWW.Site.com/path?q=1",),
         ("http://site.com?id=9",),
         ("HTTPS://Host.org#frag",),
         ("no-scheme.com/x",)], "url string")
    got = [r["h"] for r in urls.select(host_of(F.col("url")).alias("h"))
           .collect()]
    assert got == ["www.site.com", "site.com", "host.org", ""]


# ---------------------------------------------------------------------------
# sample_mixture — per-source token-budget mixture assembly
# ---------------------------------------------------------------------------

from pii_spark.ops.mixing import _mixture_buckets, sample_mixture  # noqa: E402

BUDGETS = {"web": 900, "books": 400, None: 120, "code": 10_000}
MIX_SEED = 11


def _mix_corpus():
    rows = []
    did = 0
    # web: 60 docs x 25 tokens = 1500 > 900 budget (downsampled)
    for i in range(60):
        rows.append((did, "web", " ".join(f"w{did}t{j}" for j in range(25))))
        did += 1
    # books: 30 docs x 40 = 1200 > 400 (heavily downsampled)
    for i in range(30):
        rows.append((did, "books", " ".join(f"b{did}t{j}" for j in range(40))))
        did += 1
    # NULL source: 10 docs x 20 = 200 > 120 (the unparseable bucket, budgeted)
    for i in range(10):
        rows.append((did, None, " ".join(f"n{did}t{j}" for j in range(20))))
        did += 1
    # code: 5 docs x 30 = 150 < 10000 budget (under budget, all kept)
    for i in range(5):
        rows.append((did, "code", " ".join(f"c{did}t{j}" for j in range(30))))
        did += 1
    # forums: NOT in budgets — dropped wholesale
    for i in range(7):
        rows.append((did, "forums", " ".join(f"f{did}t{j}" for j in range(15))))
        did += 1
    # zero-token docs: NULL text on web, empty text on books
    rows.append((did, "web", None)); did += 1
    rows.append((did, "books", "")); did += 1
    return rows


@pytest.fixture(scope="module")
def mix_corpus(spark):
    pdf = pd.DataFrame(_mix_corpus(), columns=["doc_id", "source", "text"])
    return (spark.createDataFrame(
        pdf, "doc_id long, source string, text string"), pdf)


def _oracle(pdf):
    """DuckDB derivation of the frozen semantics: global per-source hash
    order, inclusive running total <= budget keeps."""
    import duckdb

    con = duckdb.connect()
    con.register("docs", pdf)
    rows = con.sql(rf"""
        WITH b(src, budget) AS (
          VALUES ('web', 900), ('books', 400), (NULL, 120), ('code', 10000)),
        toks AS (
          SELECT doc_id, source,
                 CASE WHEN text IS NULL THEN 0
                      ELSE len(list_filter(string_split_regex(text, '\s+'),
                                           t -> t <> '')) END AS n_tok
          FROM docs),
        cum AS (
          SELECT doc_id, source, n_tok,
                 sum(n_tok) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':{MIX_SEED}'),
                            doc_id
                   ROWS UNBOUNDED PRECEDING) AS c
          FROM toks)
        SELECT cum.doc_id, cum.n_tok, cum.c, b.budget
        FROM cum JOIN b ON cum.source IS NOT DISTINCT FROM b.src
    """).fetchall()
    kept = {d for d, n, c, bud in rows if c <= bud}
    over = {d: (n, c) for d, n, c, bud in rows if c > bud}
    listed = {d for d, *_ in rows}
    unlisted = set(pdf["doc_id"]) - listed
    return kept, over, unlisted


def test_sample_mixture_vs_duckdb_oracle(mix_corpus):
    df, pdf = mix_corpus
    kept, dropped = sample_mixture(df, BUDGETS, seed=MIX_SEED)
    got_kept = {r["doc_id"] for r in kept.select("doc_id").collect()}
    got_dropped = {r["doc_id"]: r for r in dropped.collect()}

    want_kept, want_over, want_unlisted = _oracle(pdf)
    assert got_kept == want_kept
    assert set(got_dropped) == set(want_over) | want_unlisted
    # exactly-one-side partition of the input
    assert got_kept | set(got_dropped) == set(pdf["doc_id"])
    assert got_kept & set(got_dropped) == set()
    # audit columns: unlisted sources are labeled; over-budget docs carry
    # the EXACT cumulative wherever it was materialized (boundary bucket)
    for d in want_unlisted:
        assert got_dropped[d]["drop_reason"] == "unlisted_source"
        assert got_dropped[d]["src_cum_tok"] is None
    for d, (n, c) in want_over.items():
        r = got_dropped[d]
        assert r["drop_reason"] == "over_budget"
        assert r["n_tok"] == n
        if r["src_cum_tok"] is not None:
            assert r["src_cum_tok"] == c
    # at least the boundary-bucket losers DO carry exact cums
    assert any(got_dropped[d]["src_cum_tok"] is not None for d in want_over)


def test_sample_mixture_semantics(mix_corpus):
    df, pdf = mix_corpus
    kept, _ = sample_mixture(df, BUDGETS, seed=MIX_SEED)
    kpdf = kept.toPandas()
    n_tok = kpdf["text"].map(lambda t: 0 if t is None else len(t.split()))
    by_src = n_tok.groupby(
        kpdf["source"].map(lambda s: s if s is not None else "<null>")).sum()
    # every downsampled source lands within budget
    assert by_src.get("web", 0) <= 900
    assert by_src.get("books", 0) <= 400
    assert by_src.get("<null>", 0) <= 120
    # an under-budget source keeps everything
    code_ids = set(pdf[pdf["source"] == "code"]["doc_id"])
    assert code_ids <= set(kpdf["doc_id"])
    # unlisted sources vanish from the kept side
    assert "forums" not in set(kpdf["source"])
    # budgets actually bit: each downsampled source kept SOME but not all
    for src in ("web", "books"):
        total = set(pdf[pdf["source"] == src]["doc_id"])
        kept_ids = set(kpdf[kpdf["source"] == src]["doc_id"])
        assert 0 < len(kept_ids) < len(total), src


def test_sample_mixture_partition_invariance(mix_corpus):
    df, _ = mix_corpus
    a, _ = sample_mixture(df.repartition(1), BUDGETS, seed=MIX_SEED)
    b, _ = sample_mixture(df.repartition(13, "doc_id"), BUDGETS,
                          seed=MIX_SEED)
    assert sorted(r["doc_id"] for r in a.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in b.select("doc_id").collect())


def test_sample_mixture_boundary_bucket_invariant(mix_corpus):
    """The bucket decomposition must isolate AT MOST ONE boundary bucket
    per source — that bucket's rows are the only ones the doc-level
    window ever ranks, the heart of the scale claim."""
    df, _ = mix_corpus
    spark = df.sparkSession
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n_tok = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(toks))
    rk = F.md5(F.concat(F.col("doc_id").cast("string"),
                        F.lit(f":{MIX_SEED}")))
    skinny = df.select(
        F.col("source").cast("string").alias("__s"), "doc_id",
        n_tok.alias("n_tok"), rk.alias("__rk"),
        F.conv(F.substring(rk, 1, 3), 16, 10).cast("int").alias("__bkt"))
    budget_df = spark.createDataFrame(
        list(BUDGETS.items()), "__s_b string, __budget long")
    buckets = _mixture_buckets(skinny, budget_df)
    boundary = buckets.where(
        (F.col("__bprev") <= F.col("__budget"))
        & (F.col("__bcum") > F.col("__budget")))
    per_src = boundary.groupBy("__s").count().collect()
    assert all(r["count"] <= 1 for r in per_src)
    # and a downsampled source really has one (the budget bites mid-source)
    assert {r["__s"] for r in boundary.collect()} >= {"web", "books"}


def test_sample_mixture_zero_budget_and_validation(mix_corpus, spark):
    df, pdf = mix_corpus
    # budget 0: only zero-token docs whose hash-prefix neighbors are also
    # zero-token can survive; every kept doc has zero tokens
    kept, dropped = sample_mixture(df, {"web": 0}, seed=MIX_SEED)
    for r in kept.collect():
        assert r["source"] == "web"
        assert r["text"] is None or r["text"].split() == []
    # all non-web rows dropped as unlisted
    reasons = {r["doc_id"]: r["drop_reason"] for r in dropped.collect()}
    for d in pdf[pdf["source"] != "web"]["doc_id"]:
        if d in reasons:
            assert reasons[d] == "unlisted_source"
    with pytest.raises(ValueError):
        sample_mixture(df, {})
    with pytest.raises(ValueError):
        sample_mixture(df, {"web": -1})
    with pytest.raises(ValueError):
        sample_mixture(df, {"web": True})
    with pytest.raises(ValueError):
        sample_mixture(df, {"web": 1.5})


def test_mixture_report_vs_duckdb_oracle(mix_corpus):
    """Report rows re-derive from the oracle's kept set: budget vs
    available vs achieved, doc counts, and the epoch factor."""
    import duckdb

    from pii_spark.ops.mixing import mixture_report

    df, pdf = mix_corpus
    sampled, _ = sample_mixture(df, BUDGETS, seed=MIX_SEED)
    budgets2 = dict(BUDGETS)
    budgets2["wiki"] = 500  # listed but absent from the corpus
    rep = {r["source"]: r for r in
           mixture_report(df, sampled, budgets2).collect()}

    want_kept, _, _ = _oracle(pdf)
    con = duckdb.connect()
    con.register("docs", pdf)
    con.register("keptids", pd.DataFrame({"doc_id": sorted(want_kept)}))
    rows = con.sql(r"""
        WITH toks AS (
          SELECT doc_id, source,
                 CASE WHEN text IS NULL THEN 0
                      ELSE len(list_filter(string_split_regex(text, '\s+'),
                                           t -> t <> '')) END AS n_tok
          FROM docs)
        SELECT source, sum(n_tok) AS avail, count(*) AS nd,
               sum(CASE WHEN doc_id IN (FROM keptids) THEN n_tok ELSE 0 END)
                 AS ach,
               sum(CASE WHEN doc_id IN (FROM keptids) THEN 1 ELSE 0 END)
                 AS kd
        FROM toks GROUP BY source
    """).fetchall()
    want = {s: (a, nd, ach, kd) for s, a, nd, ach, kd in rows}

    assert set(rep) == set(budgets2)  # one row per LISTED source, no more
    for s, b in budgets2.items():
        r = rep[s]
        a, nd, ach, kd = want.get(s, (0, 0, 0, 0))
        assert r["budget_tok"] == b
        assert (r["available_tok"], r["total_docs"]) == (a, nd)
        assert (r["achieved_tok"], r["kept_docs"]) == (ach, kd)
        if a > 0:
            assert r["epochs_to_budget"] == pytest.approx(b / a)
        else:
            assert r["epochs_to_budget"] is None
    # the under-budget source really shows epochs > 1, downsampled < 1,
    # and the absent source reports zeros instead of vanishing
    assert rep["code"]["epochs_to_budget"] > 1
    assert rep["web"]["epochs_to_budget"] < 1
    assert rep["wiki"]["available_tok"] == 0 and rep["wiki"]["kept_docs"] == 0


# ---------------------------------------------------------------------------
# assemble_mix — the composed training-mix DAG (curation.py)
# ---------------------------------------------------------------------------


def _plane_corpus():
    """Sources x hosts corpus with eval-contaminated docs: enough tokens
    that every stage of the mix plane has work to do."""
    rows = []
    did = 0
    for src, n_hosts, docs_per_host, toks in (
            ("web", 4, 12, 30), ("books", 2, 8, 40)):
        for h in range(n_hosts):
            for i in range(docs_per_host):
                rows.append((did, src, f"{src}-h{h}.example.com",
                             " ".join(f"{src}{did}w{j}" for j in range(toks))))
                did += 1
    # contaminated docs: copy a 13-token window into the benchmark set
    contaminated = [r[0] for r in rows[:3]] + [rows[60][0]]
    # an unlisted source
    for i in range(5):
        rows.append((did, "forums", "f.example.com",
                     " ".join(f"f{did}w{j}" for j in range(20))))
        did += 1
    return rows, contaminated


@pytest.fixture(scope="module")
def plane(spark):
    rows, contaminated = _plane_corpus()
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "host", "text"])
    bench_rows = [
        (i, "pergunta de avaliacao: " + " ".join(
            pdf.loc[pdf["doc_id"] == d, "text"].iloc[0].split()[:13]))
        for i, d in enumerate(contaminated)]
    bench = pd.DataFrame(bench_rows, columns=["doc_id", "text"])
    return (
        spark.createDataFrame(
            pdf, "doc_id long, source string, host string, text string"),
        spark.createDataFrame(bench, "doc_id long, text string"),
        pdf, set(contaminated),
    )


MIX_CFG_KW = dict(budgets={"web": 700, "books": 500},
                  max_tokens_per_host=250, seed=5)


def test_assemble_mix_differential_vs_manual_chain(plane):
    """assemble_mix must equal chaining the three operators by hand —
    each individually DuckDB-oracle-pinned — on survivors."""
    from pii_spark.curation import MixConfig, assemble_mix
    from pii_spark.ops.decontaminate import decontaminate

    docs, bench, pdf, _ = plane
    out = assemble_mix(docs, MixConfig(**MIX_CFG_KW), benchmarks=bench)
    got = {r["doc_id"]: r["drop_reason"] for r in out.collect()}

    clean, dirty = decontaminate(docs, bench, n=13, min_hits=1)
    after_cap, capped = cap_host_tokens(
        clean, 250, host_col="host", seed=5)
    mix, over = sample_mixture(
        after_cap, {"web": 700, "books": 500}, seed=5)
    want = {r["doc_id"]: None for r in mix.collect()}
    want |= {r["doc_id"]: "contaminated" for r in dirty.collect()}
    want |= {r["doc_id"]: "host_capped" for r in capped.collect()}
    want |= {r["doc_id"]: r["drop_reason"] for r in over.collect()}
    assert got == want
    # the output carries the original columns for downstream consumers
    assert set(out.columns) == {"doc_id", "source", "host", "text",
                                "drop_reason"}


def test_assemble_mix_semantics(plane):
    from pii_spark.curation import MixConfig, assemble_mix

    docs, bench, pdf, contaminated = plane
    out = assemble_mix(docs, MixConfig(**MIX_CFG_KW), benchmarks=bench)
    rows = out.collect()
    reasons = {r["doc_id"]: r["drop_reason"] for r in rows}
    # every input id present exactly once
    assert sorted(reasons) == sorted(pdf["doc_id"])
    # decontamination runs FIRST: every contaminated doc is labeled so,
    # even if a later stage would also have dropped it
    for d in contaminated:
        assert reasons[d] == "contaminated"
    # unlisted source labeled
    forums = set(pdf[pdf["source"] == "forums"]["doc_id"])
    assert {reasons[d] for d in forums} <= {"unlisted_source",
                                            "contaminated"}
    kept = [r for r in rows if r["drop_reason"] is None]
    kdf = pd.DataFrame([r.asDict() for r in kept])
    ntok = kdf["text"].map(lambda t: len(t.split()))
    # the mix respects the host cap and the source budgets
    assert (ntok.groupby(kdf["host"]).sum() <= 250).all()
    per_src = ntok.groupby(kdf["source"]).sum()
    assert per_src.get("web", 0) <= 700
    assert per_src.get("books", 0) <= 500
    # and the budgets actually bit
    assert per_src.get("web", 0) > 0 and per_src.get("books", 0) > 0
    assert len(kept) < len(pdf)


def test_assemble_mix_stage_toggles_and_validation(plane):
    from pii_spark.curation import MixConfig, assemble_mix

    docs, bench, pdf, contaminated = plane
    # decontamination off: no stage needs benchmarks; contaminated docs
    # flow into the later stages instead
    out = assemble_mix(
        docs, MixConfig(budgets={"web": 10_000, "books": 10_000},
                        decontaminate_n=None))
    reasons = {r["doc_id"]: r["drop_reason"] for r in out.collect()}
    assert "contaminated" not in set(reasons.values())
    web_books = set(pdf[pdf["source"] != "forums"]["doc_id"])
    assert all(reasons[d] is None for d in web_books)
    # passing benchmarks with the stage off is a config error
    with pytest.raises(ValueError, match="decontaminate_n is None"):
        assemble_mix(docs, MixConfig(budgets={"web": 1},
                                     decontaminate_n=None),
                     benchmarks=bench)
    # the stage on but neither/both inputs: contamination's own contract
    with pytest.raises(ValueError, match="exactly one"):
        assemble_mix(docs, MixConfig(budgets={"web": 1}))
    with pytest.raises(ValueError):
        MixConfig(budgets={})
    with pytest.raises(ValueError):
        MixConfig(budgets={"web": 1}, decontaminate_n=0)
    with pytest.raises(ValueError):
        MixConfig(budgets={"web": 1}, decontaminate_min_hits=0)
    with pytest.raises(ValueError):
        MixConfig(budgets={"web": 1}, max_tokens_per_host=-1)


def test_mixture_sample_registry_slot(spark):
    """The driver-oracle registry slot runs the production operator over
    the real sf tables and partitions every doc_id < 400 row into exactly
    one outcome, with the budget spread exercising all four paths."""
    from pii_spark.queries import ORACLES, QUERIES

    assert "mixture_sample" in ORACLES  # oracle-backed, not rows-only
    out = QUERIES["mixture_sample"](spark, "/root/testdata/sf0.001")
    pdf = out.toPandas()
    assert len(pdf) == 400
    assert pdf["doc_id"].is_unique
    reasons = set(pdf["drop_reason"].dropna())
    assert reasons == {"over_budget", "unlisted_source"}
    # unlisted sources drop entirely, labeled
    unlisted = pdf[pdf["source"].isin([f"src{i}" for i in range(16, 20)])]
    assert (unlisted["drop_reason"] == "unlisted_source").all()
    # budget-0 source keeps only zero-token docs (none in this corpus)
    z = pdf[pdf["source"] == "src6"]
    assert (z["drop_reason"] == "over_budget").all()
    # under-budget sources keep everything
    under = pdf[pdf["source"].isin([f"src{i}" for i in range(12, 16)])]
    assert under["drop_reason"].isna().all()
    # biting sources keep a strict, non-empty subset
    for s in (f"src{i}" for i in range(6)):
        grp = pdf[pdf["source"] == s]
        kept = grp["drop_reason"].isna()
        assert 0 < kept.sum() < len(grp)


def test_null_id_rows_kept_and_budget_invisible(spark):
    """A NULL-id row is un-addressable by the id anti-join, so both
    operators keep it AND exclude its tokens from the running totals
    (un-droppable tokens must not displace droppable documents)."""
    rows = [(None, "web", "h1", "w " * 50),
            (1, "web", "h1", "w " * 30),
            (2, "web", "h1", "w " * 30)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, host string, text string")

    # budget 40: docs 1+2 are 30 tok each -> one keeps, one drops; the
    # NULL row's 50 tokens must NOT count against the budget
    kept, dropped = sample_mixture(df, {"web": 40}, seed=3)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert None in kept_ids and len(kept_ids) == 2
    assert dropped.count() == 1
    assert {r["doc_id"] for r in dropped.collect()} <= {1, 2}

    kept_c, dropped_c = cap_host_tokens(df, 40, seed=3)
    kept_c_ids = {r["doc_id"] for r in kept_c.collect()}
    assert None in kept_c_ids and len(kept_c_ids) == 2
    assert dropped_c.count() == 1


def test_assemble_mix_null_id_quarantined(spark):
    from pii_spark.curation import MixConfig, assemble_mix

    rows = [(None, "web", "h1", "w " * 10), (1, "web", "h1", "w " * 10)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, host string, text string")
    out = assemble_mix(df, MixConfig(budgets={"web": 10_000},
                                     decontaminate_n=None))
    reasons = {r["doc_id"]: r["drop_reason"] for r in out.collect()}
    assert reasons[None] == "null_id"
    assert reasons[1] is None


def test_sample_mixture_randomized_parity_vs_naive_window(spark):
    """Randomized corpora x budget sweeps vs a pure-Python derivation of
    the frozen semantics (global per-source md5 order, inclusive running
    total <= budget). Hardens the boundary-bucket decomposition on the
    cases a fixed fixture can miss: budgets exactly equal to a running
    prefix, zero-token docs straddling the boundary, single-doc sources,
    budget 0, budget >= total."""
    import hashlib
    import random

    rng = random.Random(41)
    for trial in range(6):
        rows = []
        n_src = rng.randint(1, 4)
        srcs = [f"s{i}" for i in range(n_src)] + [None]
        did = 0
        for s in srcs:
            for _ in range(rng.randint(1, 40)):
                k = rng.choice([0, 0, rng.randint(1, 12)])
                rows.append((did, s, "w " * k if k else
                             rng.choice(["", None])))
                did += 1
        # budgets: mix of 0, tiny, exact-prefix, huge; some sources
        # deliberately unlisted
        budgets = {}
        for s in srcs:
            r = rng.random()
            if r < 0.2:
                continue  # unlisted
            if r < 0.35:
                budgets[s] = 0
            elif r < 0.7:
                budgets[s] = rng.randint(1, 60)
            else:
                budgets[s] = 10_000
        if not budgets:
            budgets = {srcs[0]: rng.randint(1, 60)}
        seed = rng.randint(0, 99)

        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string")
        kept, dropped = sample_mixture(df, budgets, seed=seed)
        got_kept = {r["doc_id"] for r in kept.collect()}
        got_drop = {r["doc_id"]: r["drop_reason"] for r in dropped.collect()}

        # naive oracle: per source, order by (md5(f"{id}:{seed}"), id),
        # keep while inclusive cumsum <= budget
        by_src = {}
        for d, s, t in rows:
            by_src.setdefault(s, []).append(
                (hashlib.md5(f"{d}:{seed}".encode()).hexdigest(), d,
                 len([w for w in (t or "").split() if w])))
        want_kept, want_drop = set(), {}
        for s, docs_ in by_src.items():
            if s not in budgets:
                for _, d, _n in docs_:
                    want_drop[d] = "unlisted_source"
                continue
            cum = 0
            for _, d, n in sorted(docs_):
                cum += n
                if cum <= budgets[s]:
                    want_kept.add(d)
                else:
                    want_drop[d] = "over_budget"
        assert got_kept == want_kept, f"trial {trial}: kept mismatch"
        assert got_drop == want_drop, f"trial {trial}: dropped mismatch"
