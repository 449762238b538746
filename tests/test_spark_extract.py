"""Spark extraction pipeline: byte-identical parity vs pii_core, partition
invariance, lineage correctness — the north rule's core invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_core.pipeline import extract_page
from pii_spark.extract import extract_pages, lineage_from_results
from pii_spark.synth import gen_pages, pages_df

N_PAGES = 90
SEED = 1234


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_PAGES, seed=SEED).cache()


@pytest.fixture(scope="module")
def results(spark, pages):
    return {r["url"]: r.asDict(recursive=True)
            for r in extract_pages(pages, num_partitions=5).collect()}


def test_rowcount_and_schema(results):
    assert len(results) == N_PAGES
    any_spans = next(r for r in results.values() if r["n_spans"] > 0)
    s = any_spans["spans"][0]
    assert set(s) == {"type", "start", "end", "value", "conf", "n_tokens"}


def test_byte_identical_parity_vs_pii_core(results):
    """Every url's extracted_text and spans match the pure single-process
    library exactly (the north rule's per-row invariant)."""
    for rec in gen_pages(N_PAGES, seed=SEED):
        expect = extract_page(rec["url"], rec["html"], rec["text"])
        got = results[rec["url"]]
        assert got["extracted_text"] == expect["extracted_text"], rec["url"]
        assert got["spans"] == expect["spans"], rec["url"]
        assert got["should_be_public"] == expect["should_be_public"]
        assert got["doc_bytes"] == len(expect["extracted_text"].encode("utf-8"))


def test_pdf_pages_byte_identical_parity(spark):
    """PDF payloads flow through the same pipeline (sniffed by %PDF- magic)
    with the same per-url byte-parity invariant."""
    from pii_spark.synth import gen_pdf_page, pdf_pages_df

    n = 40
    got = {r["url"]: r.asDict(recursive=True)
           for r in extract_pages(pdf_pages_df(spark, n, seed=77),
                                  num_partitions=3).collect()}
    assert len(got) == n
    some_spans = some_text = some_quarantined = False
    for i in range(n):
        rec = gen_pdf_page(i, seed=77)
        g = got[rec["url"]]
        try:
            expect = extract_page(rec["url"], rec["html"], rec["text"])
        except Exception as e:  # noqa: BLE001 — quarantine parity
            # the textless-pdf edge doc (i % 97 == 7): the per-doc API
            # raises, the Spark row quarantines FAIL-CLOSED
            assert type(e).__name__ in (g["error"] or ""), rec["url"]
            assert g["should_be_public"] is False
            some_quarantined = True
            continue
        assert g["error"] is None, rec["url"]
        assert g["extracted_text"] == expect["extracted_text"], rec["url"]
        assert g["spans"] == expect["spans"], rec["url"]
        some_spans |= bool(expect["spans"])
        some_text |= bool(expect["extracted_text"])
    # the corpus exercises real extraction AND the fail-closed branch
    assert some_spans and some_text and some_quarantined


def test_partition_invariance(spark, pages, results):
    """Identical output at a different partition count — repartitioning can
    never change any per-url byte."""
    alt = {r["url"]: r.asDict(recursive=True)
           for r in extract_pages(pages, num_partitions=2).collect()}
    for url, rec in results.items():
        other = alt[url]
        assert other["extracted_text"] == rec["extracted_text"]
        assert other["spans"] == rec["spans"]


def test_values_are_text_slices(results):
    for rec in results.values():
        txt = rec["extracted_text"]
        for s in rec["spans"]:
            assert s["value"] == txt[s["start"]:s["end"]]
            assert 0 <= s["start"] < s["end"] <= len(txt)


def test_spans_sorted_and_nonoverlapping(results):
    for rec in results.values():
        spans = rec["spans"]
        keys = [(s["start"], s["end"], s["type"]) for s in spans]
        assert keys == sorted(keys)
        for a, b in zip(spans, spans[1:]):
            assert a["end"] <= b["start"], (a, b)  # resolved: no overlaps


def test_decision_matches_span_types(results):
    from pii_core.labels import PII_TYPES

    for rec in results.values():
        has_pii = any(s["type"] in PII_TYPES for s in rec["spans"])
        assert rec["should_be_public"] == (not has_pii)


def test_lineage_totals(spark, pages):
    res = extract_pages(pages, num_partitions=5).cache()
    lin = lineage_from_results(res, "testrun").collect()
    assert sum(r["docs"] for r in lin) == N_PAGES
    total_by_type: dict[str, int] = {}
    for r in lin:
        assert r["run_id"] == "testrun"
        for t, n in (r["spans_by_type"] or {}).items():
            total_by_type[t] = total_by_type.get(t, 0) + n
    flat = res.selectExpr("explode(spans) AS s").groupBy("s.type").count().collect()
    assert {r["type"]: r["count"] for r in flat} == total_by_type
    res.unpersist()


def test_accented_pages_parity_and_utf8_lineage(spark, tmp_path):
    """The synth corpus is ASCII-only; these pages carry Latin-1, BMP and
    astral characters. Spark output at 2 and at 5 partitions equals the
    in-process batch call and the per-document oracle for each url, and
    lineage ``bytes`` counts UTF-8 bytes, not characters."""
    from accented_pages import accented_pages, accented_pages_df
    from oracles import pipeline as oracle

    from pii_core.pipeline import extract_page_batch
    from pii_spark.resume import _committed_schema, run_incremental

    n, seed = 40, 5
    recs = accented_pages(n, seed)
    batch = extract_page_batch([(r["url"], r["html"], r["text"])
                                for r in recs])
    expect = {}
    for rec, b in zip(recs, batch):
        exp = oracle.extract_page(rec["url"], rec["html"], rec["text"])
        assert b == exp, rec["url"]
        expect[rec["url"]] = exp
    texts = [e["extracted_text"] for e in expect.values()]
    assert sum(any(ord(c) > 0xFFFF for c in t) for t in texts) > n // 2

    pages = accented_pages_df(spark, n, seed)
    for parts in (2, 5):
        got = {r["url"]: r.asDict(recursive=True) for r in
               extract_pages(pages, num_partitions=parts).collect()}
        assert set(got) == set(expect)
        for url, exp in expect.items():
            g = got[url]
            assert g["error"] is None, url
            assert {k: g[k] for k in exp} == exp, url
            assert g["doc_bytes"] == len(exp["extracted_text"].encode())

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    assert run_incremental(spark, pages, rdir, ldir, "acc",
                           num_partitions=3)["docs"] == n
    committed = spark.read.schema(_committed_schema()).parquet(rdir) \
        .agg(F.sum("doc_bytes")).first()[0]
    lineage = spark.read.parquet(ldir).agg(F.sum("bytes")).first()[0]
    utf8 = sum(len(t.encode("utf-8")) for t in texts)
    assert lineage == committed == utf8 > sum(len(t) for t in texts)


def test_edge_docs(results):
    """FIXTURES.md edge cases: empty html and empty main content yield empty
    text + public; duplicate value produces two spans."""
    empties = [r for r in results.values() if r["extracted_text"] == ""]
    assert empties, "expected empty-content edge docs"
    for r in empties:
        assert r["spans"] == [] and r["should_be_public"]
    dup = next(r for u, r in results.items() if u.endswith("/4"))
    cpf_spans = [s for s in dup["spans"] if s["type"] == "DOC_PESSOAL"]
    assert len(cpf_spans) == 2
    assert cpf_spans[0]["value"] == cpf_spans[1]["value"]


def test_pathological_doc_quarantined_not_fatal(spark):
    """A page that defeats the chunker (multi-kB unbroken char run — the
    reference-parity fail-fast, chunking.py) must quarantine in place with
    error set and should_be_public=False (fail-closed), not kill the job."""
    import datetime as dt

    from pii_spark.extract import extract_pages
    from pii_spark.schemas import PAGES_SCHEMA

    ts = dt.datetime(2025, 1, 1)
    giant = ("x" * 20000) + " fim"
    rows = [
        ("https://ok.example/1", ts, None, "Texto normal com CPF 529.982.247-25 presente.", "pt"),
        ("https://bad.example/2", ts, None, giant, "pt"),
    ]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    got = {r["url"]: r for r in extract_pages(df, num_partitions=2).collect()}
    ok = got["https://ok.example/1"]
    assert ok["error"] is None and ok["n_spans"] >= 1
    bad = got["https://bad.example/2"]
    assert bad["error"] is not None and "max_length" in bad["error"]
    assert bad["should_be_public"] is False  # fail-closed
    assert bad["spans"] == [] and bad["extracted_text"] == ""


def test_partition_heuristic_bounds(spark, tmp_path, monkeypatch):
    """Default partition count is size-aware but always within
    [cores, 4*cores]: small FILE inputs take the floor (per-task overhead
    dominates; file sources report real byte stats), while in-memory /
    unknown-size relations report Long.Max and conservatively take the 4x
    skew ceiling."""
    from pii_spark import extract as ex
    from pii_spark.synth import pages_df

    captured = {}
    cls = type(pages_df(spark, 1, seed=1))  # the CONCRETE DataFrame class
    orig = cls.repartition

    def spy(self, n, *cols):
        captured["n"] = n
        return orig(self, n, *cols)

    monkeypatch.setattr(cls, "repartition", spy)
    par = spark.sparkContext.defaultParallelism

    small = str(tmp_path / "small_pages")
    pages_df(spark, 10, seed=1).write.parquet(small)
    ex.extract_pages(spark.read.parquet(small))
    assert captured["n"] == par  # tiny file input -> floor

    ex.extract_pages(pages_df(spark, 10, seed=1))
    assert captured["n"] == 4 * par  # unknown-size relation -> ceiling


def test_giant_page_quarantined_in_spark_path(spark):
    """The giant-page straggler bound end-to-end: a >10 MB page lands as a
    fail-closed error row (DocTooLargeError named in `error`, never
    public), neighbors in the same partition are untouched, and the cap is
    config-off-able (max_doc_bytes=None processes the same page)."""
    from pii_core.pipeline import ExtractConfig
    from pii_spark.extract import extract_pages
    from pii_spark.schemas import PAGES_SCHEMA
    from pii_spark.synth import gen_giant_page, gen_page

    rows = [tuple(gen_page(i, seed=11).values()) for i in range(4)]
    giant = gen_giant_page(0, seed=11)
    rows.append(tuple(giant.values()))
    df = spark.createDataFrame(rows, PAGES_SCHEMA)

    got = {r["url"]: r for r in extract_pages(df, num_partitions=2).collect()}
    bad = got[giant["url"]]
    assert bad["error"] is not None and "DocTooLargeError" in bad["error"]
    assert bad["should_be_public"] is False and bad["spans"] == []
    assert sum(1 for r in got.values() if r["error"] is None) == 4

    uncapped = extract_pages(df, ExtractConfig(max_doc_bytes=None),
                             num_partitions=2)
    ok = {r["url"]: r for r in uncapped.collect()}[giant["url"]]
    assert ok["error"] is None and len(ok["extracted_text"]) > 1_000_000


def test_partition_fallback_is_logged(spark, tmp_path, caplog):
    """When the source gives no usable size estimate and the 4x ceiling is
    taken blind, extract_pages says so (INFO log) — a mis-estimating source
    at cluster scale must be observable (VERDICT r4 #6). File sources with
    real stats stay quiet."""
    import logging

    from pii_spark import extract as ex
    from pii_spark.synth import pages_df

    with caplog.at_level(logging.INFO, logger="pii_spark.extract"):
        ex.extract_pages(pages_df(spark, 10, seed=1))
    assert any("no size estimate" in r.message for r in caplog.records)

    caplog.clear()
    small = str(tmp_path / "sized_pages")
    pages_df(spark, 10, seed=1).write.parquet(small)
    with caplog.at_level(logging.INFO, logger="pii_spark.extract"):
        ex.extract_pages(spark.read.parquet(small))
    assert not any("no size estimate" in r.message for r in caplog.records)
