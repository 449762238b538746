"""Physical-plan quality gates — the properties that matter at 100 TB,
pinned so a refactor can't silently regress them:

* filters reach the parquet scan (PushedFilters) and scans are
  column-pruned (ReadSchema);
* small dims join via BroadcastHashJoin (never shuffle both sides);
* aggregations are partial (map-side combine) before the exchange;
* the extraction pipeline has exactly ONE exchange (the deliberate salted
  repartition) between scan and MapInPandas.
"""

from __future__ import annotations

import re

import pytest

from pii_spark.queries import QUERIES
from test_oracle_parity import FIXTURE_QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sfd() -> str:
    return "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_partial_agg(spark, sfd):
    plan = _plan(QUERIES["pricing_summary"](spark, sfd))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine before the shuffle
    # column pruning: the scan must not read unused columns
    scan = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_dim_joins_broadcast(spark, sfd):
    plan = _plan(QUERIES["top_customers_by_nation"](spark, sfd))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_review_semi_join_broadcast(spark, sfd):
    plan = _plan(QUERIES["review_semi_join"](spark, sfd))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_lsh_jaccard_no_cartesian_and_pruned_scan(spark, sfd):
    """The composed dedup plan must join on keys (band key, doc_id,
    shingle) — never a cartesian/nested-loop pair enumeration — and read
    only (doc_id, text) from the documents scan."""
    plan = _plan(QUERIES["dedup_lsh_jaccard"](spark, sfd))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scan = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "source" not in scan


def test_apply_missing_broadcasts_review_and_keeps_occ_jvm_side(spark):
    """The review set is tiny → its join must broadcast; the greedy
    occurrence scan must be JVM expressions (no Python UDF nodes)."""
    from pii_spark.review import apply_missing
    from pii_spark.extract import extract_pages
    from pii_spark.synth import pages_df

    results = extract_pages(pages_df(spark, 20, seed=5), num_partitions=2)
    review = spark.createDataFrame([("CONTATO", "x@y.org")],
                                   "type string, value string")
    plan = _plan(apply_missing(results, review))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only Python in the plan is the extraction UDF itself — the greedy
    # occurrence scan must not add row-level Python eval nodes
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_error_bucket_two_phase_prune(spark):
    """The per-bucket cap must prune per input partition BEFORE the global
    per-bucket window: two Window nodes, with a partition-local filter in
    between (never a full sort of the tp/tn bulk in one partition)."""
    from pii_spark.evaljob import error_bucket_samples

    schema = ("url string, extracted_text string, spans array<struct<"
              "type:string,start:int,end:int,value:string,conf:double,"
              "n_tokens:int>>")
    gschema = ("url string, spans array<struct<type:string,start:int,end:int,"
               "value:string,conf:double,n_tokens:int>>")
    pred = spark.createDataFrame([("a", "t", [])], schema)
    gold = spark.createDataFrame([("a", [])], gschema)
    plan = _plan(error_bucket_samples(pred, gold))
    assert len(re.findall(r"\bWindow \[", plan)) == 2
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan


def test_bucketed_join_no_exchange(spark, sfd, tmp_path):
    """Two tables bucketed identically on the join key join with ZERO
    Exchange — the co-located layout a 100 TB deployment uses for every
    repeated fact-fact join (results by url, signatures by doc_id)."""
    from pii_spark.util import read_table, write_bucketed_table

    d = read_table(spark, sfd, "documents")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(d.select("doc_id", "n_chars"),
                             "t_docs_b", "doc_id", 8, sort_col="doc_id")
        write_bucketed_table(d.select("doc_id", "lang"),
                             "t_lang_b", "doc_id", 8, sort_col="doc_id")
        j = spark.table("t_docs_b").join(spark.table("t_lang_b"), "doc_id")
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # same join on the raw (unbucketed) frames DOES shuffle — the
        # layout, not the data size, is what removed the Exchange
        raw = d.select("doc_id", "n_chars").join(
            d.select("doc_id", "lang"), "doc_id")
        assert "Exchange" in _plan(raw)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_lang_b")


def test_extraction_single_shuffle(spark, sfd):
    from pii_spark.extract import extract_pages
    from pii_spark.synth import pages_df

    pages = pages_df(spark, 50, seed=2)
    plan = _plan(extract_pages(pages))
    # exactly one Exchange: the deliberate salted repartition
    assert plan.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in plan
    assert "xxhash64(url" in plan
    assert "MapInPandas" in plan


def test_extraction_scan_column_pruned(spark, sfd, tmp_path):
    """Reading from parquet, the scan must not fetch warc_ts/lang."""
    from pii_spark.extract import extract_pages
    from pii_spark.synth import pages_df

    p = str(tmp_path / "pages")
    pages_df(spark, 30, seed=2).write.parquet(p)
    plan = _plan(extract_pages(spark.read.parquet(p)))
    scan = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert "warc_ts" not in scan and "lang" not in scan
    assert "html" in scan and "url" in scan


def test_redaction_is_pure_projection_no_exchange_no_python(spark, tmp_path):
    """Redacting a 100 TB results table must be ONE codegen projection:
    the aggregate-HOF splice stays JVM-side (no Python eval node) and adds
    no Exchange over the stored results."""
    from pii_spark.extract import extract_pages
    from pii_spark.ops.redact import redact_results
    from pii_spark.synth import pages_df

    p = str(tmp_path / "res")
    extract_pages(pages_df(spark, 30, seed=2), num_partitions=2) \
        .write.parquet(p)
    for mode in ("tag", "mask"):
        plan = _plan(redact_results(spark.read.parquet(p), mode))
        assert "Exchange" not in plan, mode
        assert "BatchEvalPython" not in plan, mode
        assert "ArrowEvalPython" not in plan, mode
        assert "MapInPandas" not in plan, mode


def test_curation_dag_plan_no_cartesian_and_pruned_scan(spark, tmp_path):
    """The composed curate() DAG (all four stages) must never enumerate
    pairs (LSH buckets only) and its parquet scans must prune to the two
    columns the DAG reads. curate() returns a stitch over pinned id
    frames, so the near-dup verify it ran is checked on its own plan."""
    import pandas as pd

    from pii_spark.curation import CurationConfig, curate
    from pii_spark.ops.dedup import _jaccard_on_candidates

    p = str(tmp_path / "docs")
    pd.DataFrame(
        [(i, f"doc {i} " + " ".join(f"w{(i * 7 + j) % 23}"
                                    for j in range(40)), "extra")
         for i in range(60)],
        columns=["doc_id", "text", "unused"],
    ).pipe(lambda d: spark.createDataFrame(d).write.parquet(p))
    out = curate(
        spark.read.parquet(p),
        CurationConfig(min_tokens=5, max_dup_line_pm=None,
                       max_top_2gram_char_pm=None,
                       max_dup_5gram_char_pm=None,
                       line_dedup_max_doc_freq=50, exact_dedup=True,
                       near_dup_jaccard_pm=500))
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scans = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert scans
    for scan in scans:
        assert "unused" not in scan  # column pruning reached the source
    verify = _plan(_jaccard_on_candidates(
        spark.read.parquet(p).select("doc_id", "text")))
    # the LSH minhash/band stage is in this plan
    assert re.search(r"md5\((cast\()?concat", verify)
    assert "CartesianProduct" not in verify
    assert "BroadcastNestedLoopJoin" not in verify


def test_quality_gates_are_pure_projection_no_exchange(spark, tmp_path):
    """The Gopher gate stats (n-gram repetition + line repetition + token
    count) over a stored corpus must be ONE narrow codegen projection:
    no Exchange, no join, no Python eval node — the groupBy forms they
    replaced shuffled gram/line STRINGS keyed entirely by doc-local
    values (measured 206 s of a 227 s curate pass at sf0.1)."""
    import pandas as pd

    from pii_spark.ops.textstats import (
        with_dup_line_stats,
        with_ngram_repetition_stats,
    )

    p = str(tmp_path / "docs")
    pd.DataFrame(
        [(i, f"linha {i}\nrepete repete\nfim {i % 3}") for i in range(20)],
        columns=["doc_id", "text"],
    ).pipe(lambda d: spark.createDataFrame(d).write.parquet(p))
    stored = spark.read.parquet(p)
    gated = with_dup_line_stats(
        with_ngram_repetition_stats(stored, top_ns=(2,), dup_ns=(5,)))
    plan = _plan(gated)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_mixture_sample_plan_no_cartesian_boundary_broadcast(spark, sfd):
    """The mixture_sample registry query keeps sample_mixture's scale
    shape: the tiny boundary/tail bucket frames broadcast onto the
    corpus (never a cartesian or a both-sides shuffle of text), the
    doc-level window runs on the (source, bucket) slice, and the
    per-bucket aggregation combines map-side before its exchange."""
    plan = _plan(QUERIES["mixture_sample"](spark, sfd))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # boundary/tail/budget frames
    assert "Window" in plan             # boundary-bucket ranking only
    assert "partial" in plan.lower()    # bucket totals combine map-side


def test_frame_sample_meta_join_no_cartesian(spark, sfd):
    """The merged frame_sample query (frames + per-doc binary meta) must
    join on doc_id — never a cartesian/nested-loop — and keep the frame
    side skinny (the mapInPandas output, not re-exploded text)."""
    plan = _plan(QUERIES["frame_sample"](spark, sfd))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan


@pytest.mark.parametrize("name", FIXTURE_QUERIES)
def test_fixture_algebras_staged_not_inlined(spark, sfd, name):
    """No optimized-plan node repeats a check-digit base (CPF ``* 7919``,
    CNPJ ``* 104729``): the Spark side builds the fixtures through
    sqlfrag.staged, one projection per stage, and each stage reads the
    base's column. The inlined expression repeats the base in every digit
    reference and Catalyst does not fold the copies (checksum_validate's
    plan read 219 and 291). A frame read by two branches of a self-join
    is planned twice, so the count is per node, not per plan."""
    plan = QUERIES[name](spark, sfd)._jdf.queryExecution() \
        .optimizedPlan().toString()
    for node in plan.splitlines():
        assert node.count("* 7919") <= 1, node[:200]
        assert node.count("* 104729") <= 1, node[:200]
    if name == "checksum_validate":  # one chain per candidate, plan-wide
        assert (plan.count("* 7919"), plan.count("* 104729")) == (1, 1)
    if name in ("distinct_values_report", "review_add_missing"):
        # one plan branch reads the staged per-doc frame
        assert plan.count("* 7919") == 1
