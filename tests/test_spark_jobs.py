"""Resume, review, eval and multimodal jobs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pii_spark.resume import lineage_summary, run_incremental
from pii_spark.review import add_missing, apply_review
from pii_spark.evaljob import per_type_metrics, span_metrics
from pii_spark.synth import pages_df


def test_resume_processes_only_new(spark, tmp_path):
    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    first = pages_df(spark, 40, seed=9)
    out1 = run_incremental(spark, first, rdir, ldir, "run1", num_partitions=3)
    assert out1["docs"] == 40

    both = pages_df(spark, 60, seed=9)  # superset: first 40 + 20 new
    out2 = run_incremental(spark, both, rdir, ldir, "run2", num_partitions=3)
    assert out2["docs"] == 20

    all_rows = spark.read.parquet(rdir)
    assert all_rows.count() == 60
    assert all_rows.select("url").distinct().count() == 60

    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert summ["run1"]["docs"] == 40 and summ["run2"]["docs"] == 20

    # idempotent: third run with same input is a no-op
    out3 = run_incremental(spark, both, rdir, ldir, "run3", num_partitions=3)
    assert out3["docs"] == 0


def test_lineage_derives_from_committed_results(spark, tmp_path, monkeypatch):
    """Lineage describes the rows the write committed, from the one
    extraction pass. The pages' text comes from a NON-DETERMINISTIC UDF,
    so any path that re-evaluated the live extraction frame for lineage
    (instead of counting the write's own rows, or reading committed
    files) would see other texts and disagree on bytes."""
    import random

    import pii_spark.resume as resume

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    calls: list[int] = []
    real = resume.extract_pages

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(resume, "extract_pages", spy)
    ndet = F.udf(lambda: "palavra " * random.randint(1, 400), "string") \
        .asNondeterministic()
    pages = spark.range(10).select(
        F.format_string("https://ndet.example/%d", "id").alias("url"),
        F.lit(None).cast("binary").alias("html"),
        ndet().alias("text"))
    out = resume.run_incremental(spark, pages, rdir, ldir, "r1",
                                 num_partitions=2)
    assert out["docs"] == 10
    # extraction plan built exactly once per increment
    assert len(calls) == 1
    committed_bytes = spark.read.parquet(rdir).agg(
        F.sum("doc_bytes")).first()[0]
    lineage_bytes = spark.read.parquet(ldir).agg(F.sum("bytes")).first()[0]
    # would mismatch if lineage re-evaluated the (non-deterministic) live
    # frame instead of describing the committed rows
    assert lineage_bytes == committed_bytes


def _quarantined_pages(spark, n):
    """``n`` (url, html, text) pages that quarantine fail-closed: unbroken
    20 kB runs (see the breaker test)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
    ])
    return spark.createDataFrame(
        [(f"bad{i}", None, "x" * 20000) for i in range(n)], schema)


def _lineage_key(rows):
    return sorted((r["partition_id"], r["docs"], r["bytes"],
                   sorted((r["spans_by_type"] or {}).items())) for r in rows)


def test_write_counters_equal_committed_files(spark, tmp_path):
    """run_incremental takes its breaker counts and lineage rows from the
    counters the extraction UDF adds during the results write, never from
    reading the run back. For every run and partition they must equal
    ``lineage_from_results`` over that run's committed rows — a counter
    merged twice, or the frame evaluated twice, would break docs ==
    committed rows."""
    import pii_spark.resume as resume
    from accented_pages import accented_pages_df
    from pii_spark.extract import lineage_from_results

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    first = pages_df(spark, 30, seed=12).select("url", "html", "text") \
        .unionByName(_quarantined_pages(spark, 5))
    accented = accented_pages_df(spark, 25, seed=12) \
        .select("url", "html", "text").unionByName(first)
    increments = [
        ("q1", first, 35, 5),        # with quarantined pages
        ("none", first, 0, 0),       # offers no new url
        ("acc", accented, 25, 0),    # non-ASCII text
    ]
    for rid, pages, docs, errors in increments:
        out = run_incremental(spark, pages, rdir, ldir, rid,
                              num_partitions=3)
        committed = spark.read.schema(resume._committed_schema()) \
            .parquet(rdir).where(F.col("run_id") == rid)
        n = committed.count()
        errs = committed.where(F.col("error").isNotNull()).count()
        assert (out["docs"], out["errors"]) == (n, errs) == (docs, errors)
        want = lineage_from_results(committed, rid).collect()
        got = spark.read.schema(resume._lineage_schema()).parquet(ldir) \
            .where(F.col("run_id") == rid).collect()
        assert _lineage_key(got) == _lineage_key(want), rid
    assert resume.committed_run_ids(rdir) == ["acc", "none", "q1"]


def test_numeric_looking_run_id_roundtrips(spark, tmp_path):
    # Regression: hive partition-type inference would read run_id="007"
    # back as integer 7, silently matching zero rows -> no lineage written.
    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    out = run_incremental(spark, pages_df(spark, 6, seed=2), rdir, ldir,
                          "007", num_partitions=2)
    assert out["docs"] == 6
    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert summ["007"]["docs"] == 6


def test_reused_run_id_rejected_before_any_write(spark, tmp_path):
    # Regression: re-running under the same run_id would recount the whole
    # partition as "this increment" and append duplicate lineage.
    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    run_incremental(spark, pages_df(spark, 5, seed=4), rdir, ldir, "r1",
                    num_partitions=2)
    with pytest.raises(ValueError, match="fresh run_id"):
        run_incremental(spark, pages_df(spark, 9, seed=4), rdir, ldir, "r1",
                        num_partitions=2)
    # nothing was double-written
    assert spark.read.parquet(rdir).count() == 5
    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert summ["r1"]["docs"] == 5


def test_crashed_first_write_leftovers_do_not_brick_retry(spark, tmp_path):
    # Regression: task-attempt leftovers under _temporary/ must not make
    # _exists claim committed data (the read would then fail forever).
    import os

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    tmp_task = os.path.join(rdir, "_temporary", "0", "task_0")
    os.makedirs(tmp_task)
    with open(os.path.join(tmp_task, "part-0.snappy.parquet"), "wb") as f:
        f.write(b"not a real parquet footer")
    out = run_incremental(spark, pages_df(spark, 4, seed=6), rdir, ldir,
                          "r1", num_partitions=2)
    assert out["docs"] == 4


def _crash_after_results(monkeypatch):
    """Kill the increment between the results write and the lineage write."""
    import pii_spark.resume as resume

    monkeypatch.setattr(resume, "_append_lineage",
                        lambda *a, **k: (_ for _ in ()).throw(
                            RuntimeError("crash before lineage")))


def _crash_before_marker(monkeypatch):
    """Kill the increment after BOTH writes landed, before the marker."""
    import pii_spark.resume as resume

    monkeypatch.setattr(resume, "_write_marker",
                        lambda *a, **k: (_ for _ in ()).throw(
                            RuntimeError("crash before marker")))


@pytest.mark.parametrize("crash", [_crash_after_results, _crash_before_marker])
def test_crashed_run_is_invisible_and_retry_never_double_counts(
        spark, tmp_path, monkeypatch, crash):
    # VERDICT r2 #4: the commit marker is the atomic commit point. A crash
    # at EITHER point (between results and lineage, or between lineage and
    # marker) must leave the run invisible — no double-count, no orphan
    # lineage — with NO repair step before the next increment.
    import pii_spark.resume as resume

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    run_incremental(spark, pages_df(spark, 8, seed=3), rdir, ldir, "r1",
                    num_partitions=2)

    crash(monkeypatch)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 12, seed=3), rdir, ldir, "r2",
                        num_partitions=2)
    monkeypatch.undo()

    # r2's results DID land on disk, but the unmarked run is invisible
    assert spark.read.parquet(rdir).count() == 12
    assert resume.committed_run_ids(rdir) == ["r1"]
    assert resume.committed_urls(spark, rdir).count() == 8
    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert set(summ) == {"r1"}  # no orphan lineage in the rollup

    # the same run_id is still reserved — a blind retry under it is refused
    with pytest.raises(ValueError, match="reserved"):
        run_incremental(spark, pages_df(spark, 12, seed=3), rdir, ldir, "r2",
                        num_partitions=2)

    # next increment under a fresh id re-extracts exactly the 4 lost pages
    out = run_incremental(spark, pages_df(spark, 12, seed=3), rdir, ldir,
                          "r3", num_partitions=2)
    assert out["docs"] == 4
    marked = spark.read.schema(resume._committed_schema()).parquet(rdir) \
        .where(F.col("run_id").isin(resume.committed_run_ids(rdir)))
    assert marked.count() == 12                      # 8 + 4, no duplicates
    assert marked.select("url").distinct().count() == 12
    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert summ["r1"]["docs"] == 8 and summ["r3"]["docs"] == 4
    assert "r2" not in summ

    # housekeeping: vacuum deletes the crashed partition + reservation +
    # any orphan lineage rows, releasing the id for reuse
    assert resume.vacuum_uncommitted(rdir, ldir) == ["r2"]
    assert spark.read.parquet(rdir).count() == 12

    # reusing the vacuumed id must NOT double-count lineage: the crashed
    # r2's orphan lineage rows (when the crash hit between the lineage
    # append and the marker) were deleted along with its results
    out = run_incremental(spark, pages_df(spark, 14, seed=3), rdir, ldir,
                          "r2", num_partitions=2)
    assert out["docs"] == 2
    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert summ["r2"]["docs"] == 2  # not 2 + the crashed run's 4


def test_adopt_crashed_run_salvages_landed_results(
        spark, tmp_path, monkeypatch):
    import pii_spark.resume as resume

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    run_incremental(spark, pages_df(spark, 8, seed=3), rdir, ldir, "r1",
                    num_partitions=2)
    _crash_before_marker(monkeypatch)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 12, seed=3), rdir, ldir, "r2",
                        num_partitions=2)
    monkeypatch.undo()

    # adoption (run BEFORE the next increment) marks the landed work done
    # without re-deriving lineage the crashed run already wrote
    assert resume.adopt_crashed_runs(spark, rdir, ldir) == ["r2"]
    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert summ["r1"]["docs"] == 8 and summ["r2"]["docs"] == 4
    # no duplicated lineage rows from the adopt pass
    n_lineage_r2 = spark.read.parquet(ldir).where("run_id = 'r2'") \
        .agg(F.sum("docs")).first()[0]
    assert n_lineage_r2 == 4
    out = run_incremental(spark, pages_df(spark, 12, seed=3), rdir, ldir,
                          "r3", num_partitions=2)
    assert out["docs"] == 0  # nothing left to extract


def test_adopt_before_lineage_crash_matches_counter_lineage(
        spark, tmp_path, monkeypatch):
    """A run that crashed between its results write and its lineage append
    left no lineage, so adoption derives it from the committed rows
    (``lineage_from_results``). Per partition it must equal the lineage a
    clean run of the same pages writes from the write's counters —
    quarantined and non-ASCII pages included."""
    import pii_spark.resume as resume
    from accented_pages import accented_pages_df

    pages = accented_pages_df(spark, 20, seed=14) \
        .select("url", "html", "text") \
        .unionByName(pages_df(spark, 15, seed=14)
                     .select("url", "html", "text")) \
        .unionByName(_quarantined_pages(spark, 3))

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    _crash_after_results(monkeypatch)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages, rdir, ldir, "r1", num_partitions=3)
    monkeypatch.undo()
    assert not resume._lineage_has_run(ldir, "r1")
    assert resume.adopt_crashed_runs(spark, rdir, ldir) == ["r1"]

    clean_r, clean_l = str(tmp_path / "cres"), str(tmp_path / "clin")
    out = run_incremental(spark, pages, clean_r, clean_l, "r1",
                          num_partitions=3)
    assert (out["docs"], out["errors"]) == (38, 3)

    def lineage(d):
        return spark.read.schema(resume._lineage_schema()).parquet(d) \
            .where(F.col("run_id") == "r1").collect()

    adopted, clean = lineage(ldir), lineage(clean_l)
    assert sum(r["docs"] for r in adopted) == 38
    assert _lineage_key(adopted) == _lineage_key(clean)


def test_zero_doc_first_increment_then_normal_commit(spark, tmp_path):
    """A first increment with no pages commits through the common path
    with zero counters (marker docs=0, no lineage dir); the rollup over
    the missing lineage dir is an empty frame of the summary schema, and
    the next increment commits normally."""
    import json
    import os

    import pii_spark.resume as resume

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    out = run_incremental(spark, pages_df(spark, 5, seed=8).limit(0),
                          rdir, ldir, "r0", num_partitions=2)
    assert out == {"run_id": "r0", "docs": 0, "errors": 0}
    with open(resume._marker_path(rdir, "r0")) as f:
        assert json.load(f) == {"run_id": "r0", "docs": 0}
    assert not os.path.exists(ldir)
    summ = lineage_summary(spark, ldir, rdir)
    assert summ.schema == resume._lineage_summary_schema()
    assert summ.collect() == []

    out = run_incremental(spark, pages_df(spark, 7, seed=8), rdir, ldir,
                          "r1", num_partitions=2)
    assert out["docs"] == 7
    assert resume.committed_run_ids(rdir) == ["r0", "r1"]
    assert {r["run_id"]: r["docs"]
            for r in lineage_summary(spark, ldir, rdir).collect()} \
        == {"r1": 7}


def test_adopt_refuses_after_later_increment_overlaps(
        spark, tmp_path, monkeypatch):
    import pii_spark.resume as resume

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    _crash_after_results(monkeypatch)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 6, seed=3), rdir, ldir, "r1",
                        num_partitions=2)
    monkeypatch.undo()
    # a later increment re-extracted the crashed run's pages...
    run_incremental(spark, pages_df(spark, 6, seed=3), rdir, ldir, "r2",
                    num_partitions=2)
    # ...so adopting r1 now would commit each url twice — refuse
    with pytest.raises(ValueError, match="double-commit"):
        resume.adopt_crashed_runs(spark, rdir, ldir)
    assert resume.vacuum_uncommitted(rdir, ldir) == ["r1"]


def test_adopt_all_or_nothing_on_overlapping_candidates(
        spark, tmp_path, monkeypatch):
    """TWO crashed runs sharing urls: adopting both would double-commit,
    and the refusal must mutate NOTHING — under the old sequential check
    the first run was adopted (marker on disk) before the second raised,
    and the adopted-ids list was lost with the exception."""
    import pii_spark.resume as resume

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    _crash_before_marker(monkeypatch)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 6, seed=3), rdir, ldir, "rA",
                        num_partitions=2)
    # second crashed increment re-extracts the SAME pages (rA is unmarked,
    # so its urls don't anti-join away)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 6, seed=3), rdir, ldir, "rB",
                        num_partitions=2)
    monkeypatch.undo()

    with pytest.raises(ValueError, match="nothing was adopted"):
        resume.adopt_crashed_runs(spark, rdir, ldir)
    assert resume.committed_run_ids(rdir) == []  # truly nothing adopted
    # operator resolves by vacuuming one (here: both) and moving on
    assert resume.vacuum_uncommitted(rdir, ldir) == ["rA", "rB"]
    out = run_incremental(spark, pages_df(spark, 6, seed=3), rdir, ldir,
                          "rC", num_partitions=2)
    assert out["docs"] == 6


def test_error_rate_circuit_breaker_refuses_systemic_failure(
        spark, tmp_path):
    """Per-page quarantine must not let a SYSTEMIC failure commit: when
    the quarantine fraction exceeds max_error_rate, the marker is withheld
    and the landed results stay in the crashed-run state — urls re-extract
    under the next id instead of being marked done with garbage."""
    import pii_spark.resume as resume
    from pyspark.sql import types as T

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    # pathological pages: multi-kB unbroken word-char runs defeat the
    # chunker's word-boundary budget (reference-parity fail-fast) and
    # quarantine fail-closed
    rows = [(f"u{i}", None, "Solicito acesso ao processo aqui agora.")
            for i in range(6)]
    rows += [(f"bad{i}", None, "x" * 20000) for i in range(4)]
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
    ])
    pages = spark.createDataFrame(rows, schema)

    with pytest.raises(RuntimeError, match="refusing to commit"):
        run_incremental(spark, pages, rdir, ldir, "r1", num_partitions=2,
                        max_error_rate=0.25)  # 40% quarantined > 25%
    assert resume.committed_run_ids(rdir) == []  # invisible, crashed-state
    assert resume.vacuum_uncommitted(rdir, ldir) == ["r1"]

    # same corpus, breaker above the real rate: commits and reports errors
    out = run_incremental(spark, pages, rdir, ldir, "r2", num_partitions=2,
                          max_error_rate=0.5)
    assert out == {"run_id": "r2", "docs": 10, "errors": 4}
    assert resume.committed_run_ids(rdir) == ["r2"]


def test_legacy_flat_lineage_refused_by_every_entry_point(
        spark, tmp_path, monkeypatch):
    """A lineage dir in the flat layout (run_id as a data column in
    top-level files), which no supported version writes, must be REFUSED
    by every entry point before any reservation or Spark job: Spark's
    partition discovery would silently drop every flat row once a run_id=
    dir appears beside them. Moving the flat files out clears it."""
    import os
    import shutil

    import pii_spark.resume as resume

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    # a crashed run whose results landed but whose lineage did not, so
    # adoption would have to write lineage into the flat dir
    _crash_after_results(monkeypatch)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 4, seed=6), rdir, ldir, "r0",
                        num_partitions=2)
    monkeypatch.undo()
    legacy = spark.createDataFrame(
        [("old", 0, 5, 1234, {"CONTATO": 3})],
        "run_id string, partition_id int, docs long, bytes long, "
        "spans_by_type map<string,bigint>")
    legacy.select("partition_id", "docs", "bytes", "spans_by_type",
                  "run_id").write.mode("append").parquet(ldir)
    flat = [f for f in os.listdir(ldir) if f.endswith(".parquet")]
    assert flat
    pages = pages_df(spark, 4, seed=7)

    sc = spark.sparkContext
    sc.setJobGroup("flat-lineage-refused", "flat lineage entry points")
    try:
        with pytest.raises(ValueError, match="layout .* is unsupported"):
            run_incremental(spark, pages, rdir, ldir, "r1", num_partitions=2)
        with pytest.raises(ValueError, match="layout .* is unsupported"):
            resume.adopt_crashed_runs(spark, rdir, ldir)
        with pytest.raises(ValueError, match="layout .* is unsupported"):
            lineage_summary(spark, ldir, rdir)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert sc.statusTracker().getJobIdsForGroup("flat-lineage-refused") == []
    assert resume.committed_run_ids(rdir) == []
    # r1 was refused before its reservation: only the crashed r0 is pending
    assert resume._uncommitted_run_ids(rdir) == ["r0"]

    aside = str(tmp_path / "flat")
    os.makedirs(aside)
    for f in flat:
        shutil.move(os.path.join(ldir, f), aside)
    assert resume.adopt_crashed_runs(spark, rdir, ldir) == ["r0"]
    assert {r["run_id"]: r["docs"]
            for r in lineage_summary(spark, ldir, rdir).collect()} \
        == {"r0": 4}


def test_vacuum_handles_hive_escaped_run_ids(spark, tmp_path, monkeypatch):
    # A natural run id like a timestamp contains ':', which Spark
    # hive-escapes in the partition dir name (run_id=...10%3A30%3A00).
    # vacuum must find the dir by UNESCAPING, not by f-string path building
    # — else stale partials persist while the reservation is released.
    import pii_spark.resume as resume

    rid = "2026-08-16T10:30:00"
    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    _crash_before_marker(monkeypatch)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 6, seed=3), rdir, ldir, rid,
                        num_partitions=2)
    monkeypatch.undo()

    assert resume.vacuum_uncommitted(rdir, ldir) == [rid]
    import os as _os
    assert not any(d.startswith("run_id=") for d in _os.listdir(rdir))
    assert (not _os.path.isdir(ldir)
            or not any(d.startswith("run_id=")
                       for d in _os.listdir(ldir)))
    # the id is genuinely reusable afterwards
    out = run_incremental(spark, pages_df(spark, 6, seed=3), rdir, ldir, rid,
                          num_partitions=2)
    assert out["docs"] == 6


def _committed_rows(spark, rdir, rid):
    import pii_spark.resume as resume

    return spark.read.schema(resume._committed_schema()).parquet(rdir) \
        .where(F.col("run_id") == rid)


def _lineage_rows(spark, ldir, rid):
    import pii_spark.resume as resume

    return spark.read.schema(resume._lineage_schema()).parquet(ldir) \
        .where(F.col("run_id") == rid).collect()


def _summary(spark, ldir, rdir):
    return sorted((r["run_id"], r["docs"], r["bytes"],
                   sorted((r["spans_by_type"] or {}).items()))
                  for r in lineage_summary(spark, ldir, rdir).collect())


def test_lineage_crash_before_publish_leaves_no_run_dir(
        spark, tmp_path, monkeypatch):
    """The driver writes a run's lineage file into hidden staging and
    publishes it with one dir rename. A crash after the file is written
    but before the rename must leave no ``run_id=`` dir: an existing one
    reads as "lineage landed", so a dir made before the write would let
    ``adopt_crashed_runs`` skip the run's lineage for good."""
    import os

    import pyarrow.parquet as pq

    import pii_spark.resume as resume
    from pii_spark.extract import lineage_from_results

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    run_incremental(spark, pages_df(spark, 8, seed=3), rdir, ldir, "r1",
                    num_partitions=2)
    before = _summary(spark, ldir, rdir)

    written: list[str] = []
    real = pq.write_table

    def write_then_crash(table, where, *a, **k):
        real(table, where, *a, **k)
        written.append(where)
        raise RuntimeError("crash before lineage publish")

    monkeypatch.setattr(pq, "write_table", write_then_crash)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 12, seed=3), rdir, ldir, "r2",
                        num_partitions=2)
    monkeypatch.undo()

    assert len(written) == 1 and os.path.isfile(written[0])
    assert not os.path.lexists(resume._run_dir(ldir, "r2"))
    assert not resume._lineage_has_run(ldir, "r2")
    assert _summary(spark, ldir, rdir) == before

    assert resume.adopt_crashed_runs(spark, rdir, ldir) == ["r2"]
    got = _lineage_rows(spark, ldir, "r2")
    want = lineage_from_results(_committed_rows(spark, rdir, "r2"),
                                "r2").collect()
    assert sum(r["docs"] for r in got) == 4
    assert _lineage_key(got) == _lineage_key(want)

    # vacuuming a run that crashed the same way leaves no staging behind
    monkeypatch.setattr(pq, "write_table", write_then_crash)
    with pytest.raises(RuntimeError, match="crash"):
        run_incremental(spark, pages_df(spark, 14, seed=3), rdir, ldir, "r3",
                        num_partitions=2)
    monkeypatch.undo()
    assert resume.vacuum_uncommitted(rdir, ldir) == ["r3"]
    assert sorted(os.listdir(ldir)) == ["run_id=r1", "run_id=r2"]


HIVE_ESCAPED_RUN_IDS = [
    "2026-08-16T10:30:00", "a=b", "x%y", "q?#*", "sp ace", "br[a]{c}^",
    "tab\tx", "quo'te\"",
]


def test_driver_lineage_dir_names_match_spark_escaping(
        spark, tmp_path, monkeypatch):
    """The driver names a run's lineage dir as Spark's ``partitionBy``
    names the run's results dir (``ExternalCatalogUtils.escapePathName``),
    so every reader and ``vacuum_uncommitted`` finds both by one rule."""
    import os

    import pii_spark.resume as resume

    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.escapePathName
    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")

    def run_dirs(base):
        return sorted(d for d in os.listdir(base) if d.startswith("run_id="))

    # crashed before the marker: both dirs land, the run stays uncommitted
    _crash_before_marker(monkeypatch)
    for i, rid in enumerate(HIVE_ESCAPED_RUN_IDS):
        with pytest.raises(RuntimeError, match="crash"):
            run_incremental(spark, pages_df(spark, 3, seed=100 + i), rdir,
                            ldir, rid, num_partitions=2)
    monkeypatch.undo()
    want = sorted(f"run_id={escape(rid)}" for rid in HIVE_ESCAPED_RUN_IDS)
    assert run_dirs(ldir) == run_dirs(rdir) == want

    assert resume.vacuum_uncommitted(rdir, ldir) \
        == sorted(HIVE_ESCAPED_RUN_IDS)
    assert run_dirs(ldir) == run_dirs(rdir) == []

    for i, rid in enumerate(HIVE_ESCAPED_RUN_IDS):
        run_incremental(spark, pages_df(spark, 3, seed=100 + i), rdir, ldir,
                        rid, num_partitions=2)
    assert run_dirs(ldir) == run_dirs(rdir) == want
    assert {r["run_id"]: r["docs"]
            for r in lineage_summary(spark, ldir, rdir).collect()} \
        == {rid: 3 for rid in HIVE_ESCAPED_RUN_IDS}


def test_spark_written_and_driver_written_lineage_mix(spark, tmp_path):
    """Existing deployments hold lineage that Spark's ``partitionBy`` wrote.
    Runs the driver writes next to it must read through ``lineage_summary``
    and ``_lineage_schema`` with the same per-partition rows as
    ``lineage_from_results``."""
    import shutil
    from collections import Counter

    import pii_spark.resume as resume
    from pii_spark.extract import lineage_from_results

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    rids = ["old", "new1", "2026-08-16T10:30:00"]
    for i, rid in enumerate(rids):
        run_incremental(spark, pages_df(spark, 10 + i, seed=20 + i), rdir,
                        ldir, rid, num_partitions=3)
        if rid == "old":  # rewrite this run's lineage the Spark way
            shutil.rmtree(resume._run_dir(ldir, rid))
            lineage_from_results(_committed_rows(spark, rdir, rid), rid) \
                .write.mode("append").partitionBy("run_id").parquet(ldir)

    summ = {r["run_id"]: r
            for r in lineage_summary(spark, ldir, rdir).collect()}
    assert set(summ) == set(rids)
    for i, rid in enumerate(rids):
        want = lineage_from_results(_committed_rows(spark, rdir, rid),
                                    rid).collect()
        assert _lineage_key(_lineage_rows(spark, ldir, rid)) \
            == _lineage_key(want), rid
        assert summ[rid]["docs"] == 10 + i
        assert summ[rid]["bytes"] == sum(r["bytes"] for r in want)
        spans = Counter()
        for r in want:
            spans.update(r["spans_by_type"])
        assert summ[rid]["spans_by_type"] == dict(spans), rid


@pytest.fixture()
def tiny_results(spark):
    from pii_spark.extract import extract_pages

    return extract_pages(pages_df(spark, 30, seed=77), num_partitions=2).cache()


def test_review_semi_and_anti(spark, tiny_results):
    """Reference keep rule (pii_value_review.py:294-304): a PARTIAL review
    table filters only the labels it covers — spans of unreviewed types
    keep as-is (dropping them would silently un-PII whole label classes);
    require_all_labels=True raises instead."""
    import pytest as _pytest

    one = tiny_results.where("n_spans > 0").select(
        F.explode("spans").alias("s")).select("s.type", "s.value").first()
    review = spark.createDataFrame([(one["type"], one["value"])], "type string, value string")

    all_spans = tiny_results.select(F.explode("spans").alias("s")) \
        .select("s.type", "s.value").collect()
    n_all = len(all_spans)
    n_reviewed_type = sum(1 for r in all_spans if r["type"] == one["type"])
    n_pair = sum(1 for r in all_spans
                 if (r["type"], r["value"]) == (one["type"], one["value"]))
    assert n_reviewed_type > n_pair  # fixture has unreviewed values too

    semi = apply_review(tiny_results, review, mode="semi")
    kept = semi.select(F.explode("spans").alias("s")) \
        .select("s.type", "s.value").collect()
    # reviewed type: only the reviewed value survives
    assert all(r["value"] == one["value"]
               for r in kept if r["type"] == one["type"])
    # unreviewed types: byte-for-byte keep-as-is (the fail-open fix)
    assert (sorted((r["type"], r["value"]) for r in kept if r["type"] != one["type"])
            == sorted((r["type"], r["value"]) for r in all_spans if r["type"] != one["type"]))
    assert len(kept) == n_all - (n_reviewed_type - n_pair)

    # a review table covering EVERY type present reduces to the strict
    # pair filter
    full_review = spark.createDataFrame(
        sorted({(r["type"], r["value"]) for r in all_spans
                if (r["type"], r["value"]) != (one["type"], one["value"])}),
        "type string, value string")
    strict = apply_review(tiny_results, full_review, mode="semi")
    n_strict = strict.select(F.sum("n_spans")).collect()[0][0]
    assert n_strict == n_all - n_pair

    anti = apply_review(tiny_results, review, mode="anti")
    dropped = anti.select(F.explode("spans").alias("s")).select("s.type", "s.value").collect()
    assert all((r["type"], r["value"]) != (one["type"], one["value"]) for r in dropped)
    assert len(dropped) == n_all - n_pair

    # partial table + require_all_labels -> loud refusal, not silent strip
    with _pytest.raises(ValueError, match="missing label"):
        apply_review(tiny_results, review, require_all_labels=True)
    apply_review(tiny_results, full_review.unionByName(review),
                 require_all_labels=True)  # full coverage passes


def test_review_add_missing(spark, tiny_results):
    # a value that occurs in some text but was never emitted as a span
    row = tiny_results.where("length(extracted_text) > 40").first()
    word = row["extracted_text"].split()[0]
    review = spark.createDataFrame([("QUASI_IDENTIFICADOR", word)],
                                   "type string, value string")
    miss = add_missing(tiny_results, review)
    got = miss.where(F.col("url") == row["url"]).collect()
    assert len(got) == 1 and got[0]["value"] == word


def test_apply_missing_injects_offsets_and_recomputes_decision(spark):
    from pii_spark.review import apply_missing

    schema = ("url string, extracted_text string, spans array<struct<"
              "type:string,start:int,end:int,value:string,conf:double,"
              "n_tokens:int>>, should_be_public boolean, n_spans int")
    res = spark.createDataFrame(
        [
            # value occurs twice, not in spans -> two injected spans
            ("a", "cpf 111 aqui e cpf 111 de novo", [], True, 0),
            # value already in spans -> untouched
            ("b", "cpf 111", [{"type": "DOC_PESSOAL", "start": 4, "end": 7,
                               "value": "111", "conf": 0.9, "n_tokens": 1}],
             False, 1),
            # value absent from text -> untouched, stays public
            ("c", "nada a ver", [], True, 0),
        ],
        schema)
    review = spark.createDataFrame([("DOC_PESSOAL", "111")],
                                   "type string, value string")
    out = {r["url"]: r for r in apply_missing(res, review).collect()}
    a = out["a"]
    assert [(s["start"], s["end"], s["value"], s["n_tokens"])
            for s in a["spans"]] == [(4, 7, "111", 0), (19, 22, "111", 0)]
    assert a["n_spans"] == 2 and a["should_be_public"] is False
    b = out["b"]
    assert b["n_spans"] == 1 and b["spans"][0]["conf"] == 0.9
    c = out["c"]
    assert c["n_spans"] == 0 and c["should_be_public"] is True


def test_greedy_occurrence_hof_matches_core(spark):
    # The JVM HOF in review.apply_missing must match
    # pii_core.spans.literal_occurrences exactly, including self-overlapping
    # values where all-positions and greedy diverge.
    from pii_core.spans import literal_occurrences
    from pii_spark.review import _GREEDY_OCC_SQL

    cases = [
        ("aaa", "aa"),        # greedy: [(0,2)], NOT [(0,2),(1,3)]
        ("ababab", "abab"),   # greedy: [(0,4)]
        ("xyxyxy", "xy"),
        ("", "a"),
        ("abc", "zzz"),
        ("abcabc", "abc"),
        # regex metacharacters in the value must be treated literally
        ("mail x@y.org e x@y.org fim", "x@y.org"),
        ("a(b)c a(b)c", "a(b)c"),
        ("w [x]+ w [x]+", "[x]+"),
        ("back\\slash back\\slash", "back\\slash"),
        ("5*5=25 5*5", "5*5"),
        ("fim.", "."),
        ("a^b$c a^b$c", "a^b$c"),
    ]
    df = spark.createDataFrame(cases, "txt string, value string")
    got = df.select("txt", "value",
                    F.expr(_GREEDY_OCC_SQL).alias("occ")).collect()
    for r in got:
        want = [s for s, _ in literal_occurrences(r["txt"], r["value"])]
        assert r["occ"] == want, (r["txt"], r["value"])


def test_span_metrics_known_confusion(spark):
    mk = lambda t, s, e: {"type": t, "start": s, "end": e, "value": "x",
                          "conf": 1.0, "n_tokens": 1}
    schema = ("url string, spans array<struct<type:string,start:int,end:int,"
              "value:string,conf:double,n_tokens:int>>")
    pred = spark.createDataFrame(
        [("a", [mk("CONTATO", 0, 3), mk("CONTATO", 10, 14)]),  # 1 tp + 1 fp span
         ("b", []),                                            # binary fn
         ("c", [mk("ORG_JURIDICA", 0, 2)])],                   # non-PII only
        schema)
    gold = spark.createDataFrame(
        [("a", [mk("CONTATO", 0, 3)]),
         ("b", [mk("DOC_PESSOAL", 1, 5)]),
         ("c", [])],
        schema)
    m = span_metrics(pred, gold)
    assert m["docs"] == 3
    assert m["span_strict"]["tp"] == 1
    assert m["span_strict"]["pred"] == 3 and m["span_strict"]["gold"] == 2
    b = m["binary_pii"]
    assert (b["tp"], b["fp"], b["fn"], b["tn"]) == (1, 0, 1, 1)
    assert m["p1"] == pytest.approx(2 * 1 / (2 * 1 + 0 + 1))

    per = {r["type"]: r for r in per_type_metrics(pred, gold).collect()}
    assert per["CONTATO"]["tp"] == 1 and per["CONTATO"]["pred"] == 2
    assert per["DOC_PESSOAL"]["gold"] == 1 and per["DOC_PESSOAL"]["tp"] == 0


def test_error_bucket_samples_membership_and_cap(spark):
    from pii_spark.evaljob import error_bucket_samples

    mk = lambda t: [{"type": t, "start": 0, "end": 3, "value": "x",
                     "conf": 1.0, "n_tokens": 1}]
    schema = ("url string, extracted_text string, spans array<struct<"
              "type:string,start:int,end:int,value:string,conf:double,"
              "n_tokens:int>>")
    gschema = ("url string, spans array<struct<type:string,start:int,end:int,"
               "value:string,conf:double,n_tokens:int>>")
    # 4 tp, 3 fp, 2 fn, 1 tn — with a cap of 2 per bucket
    pred_rows = (
        [(f"tp{i}", "texto   com\nespacos", mk("CONTATO")) for i in range(4)]
        + [(f"fp{i}", "x" * 500, mk("CONTATO")) for i in range(3)]
        + [(f"fn{i}", "sem nada", []) for i in range(2)]
        + [("tn0", "limpo", [])]
    )
    gold_rows = (
        [(f"tp{i}", mk("DOC_PESSOAL")) for i in range(4)]
        + [(f"fp{i}", []) for i in range(3)]
        + [(f"fn{i}", mk("CONTATO")) for i in range(2)]
        + [("tn0", [])]
    )
    pred = spark.createDataFrame(pred_rows, schema)
    gold = spark.createDataFrame(gold_rows, gschema)
    out = error_bucket_samples(pred, gold, max_items=2, max_chars=40).collect()
    by = {}
    for r in out:
        by.setdefault(r["bucket"], []).append(r)
    assert sorted(by) == ["fn", "fp", "tn", "tp"]
    assert [len(by[b]) for b in ("tp", "fp", "fn", "tn")] == [2, 2, 2, 1]
    # deterministic first-by-url within bucket
    assert [r["url"] for r in by["tp"]] == ["tp0", "tp1"]
    fp0 = by["fp"][0]
    assert fp0["gold_should_be_public"] and not fp0["pred_should_be_public"]
    assert len(fp0["excerpt"]) == 40 and fp0["excerpt"].endswith("…")
    # whitespace runs collapsed in excerpts
    assert by["tp"][0]["excerpt"] == "texto com espacos"


def test_eval_report_includes_error_samples(spark, tmp_path):
    from pii_spark.evaljob import write_report

    mk = lambda t: [{"type": t, "start": 0, "end": 3, "value": "x",
                     "conf": 1.0, "n_tokens": 1}]
    schema = ("url string, extracted_text string, spans array<struct<"
              "type:string,start:int,end:int,value:string,conf:double,"
              "n_tokens:int>>")
    gschema = ("url string, spans array<struct<type:string,start:int,end:int,"
               "value:string,conf:double,n_tokens:int>>")
    pred = spark.createDataFrame(
        [("a", "documento com cpf aqui", mk("CONTATO")), ("b", "falso alarme", mk("CONTATO"))],
        schema)
    gold = spark.createDataFrame([("a", mk("CONTATO")), ("b", [])], gschema)
    path = str(tmp_path / "report.md")
    write_report(pred, gold, path, text_col="extracted_text")
    body = open(path).read()
    assert "## Error samples" in body
    assert "### False positives (document)" in body
    assert "`b`" in body and "falso alarme" in body


def test_multimodal_plumbing(spark):
    from pii_spark.ops.multimodal import extract_features

    d = spark.createDataFrame(
        [(1, b"\x89PNG rest"), (2, b"\xff\xd8jpegdata"), (3, b""), (4, None)],
        "doc_id long, blob binary")
    rows = {r["doc_id"]: r for r in extract_features(d).collect()}
    assert rows[1]["fmt"] == "png" and rows[2]["fmt"] == "jpg"
    assert rows[3]["fmt"] == "raw" and rows[3]["n_bytes"] == 0
    assert rows[4]["n_bytes"] == 0
    assert rows[2]["width"] == b"\xff"[0] % 64 + 1


def test_frame_sampling_edges(spark):
    from pii_spark.ops.multimodal import sample_frames

    d = spark.createDataFrame(
        [(1, bytes(range(200))), (2, b"short"), (3, None), (4, b"x" * 32)],
        "doc_id long, blob binary")
    rows = sample_frames(d, n_frames=4, frame_len=32).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    assert sorted(by) == [1, 4]          # short/None blobs emit nothing
    assert [r["frame_idx"] for r in sorted(by[1], key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
    offs = [r["off"] for r in sorted(by[1], key=lambda r: r["frame_idx"])]
    assert offs == [0, 56, 112, 168]     # floor(i*168/3)
    assert all(r["off"] == 0 for r in by[4])  # exactly one frame of data
    import hashlib
    want = hashlib.md5(bytes(range(56, 88))).hexdigest()
    assert sorted(by[1], key=lambda r: r["frame_idx"])[1]["frame_sig"] == want


def test_eval_report_rendering(spark, tmp_path):
    mk = lambda t, s, e: {"type": t, "start": s, "end": e, "value": "x",
                          "conf": 1.0, "n_tokens": 1}
    schema = ("url string, spans array<struct<type:string,start:int,end:int,"
              "value:string,conf:double,n_tokens:int>>")
    pred = spark.createDataFrame([("a", [mk("CONTATO", 0, 3)]), ("b", [])], schema)
    gold = spark.createDataFrame([("a", [mk("CONTATO", 0, 3)]), ("b", [])], schema)
    from pii_spark.evaljob import write_report

    path = str(tmp_path / "report.md")
    m = write_report(pred, gold, path)
    assert m["p1"] == 1.0
    body = open(path).read()
    assert "# PII extraction eval report" in body
    assert "| CONTATO | 1 | 1 | 1 |" in body


def test_validate_pages_quarantine(spark):
    from pii_spark.extract import validate_pages
    from pii_spark.schemas import PAGES_SCHEMA
    import datetime as dt

    ts = dt.datetime(2025, 1, 1)
    rows = [
        ("https://ok/1", ts, b"<p>x</p>", None, "pt"),
        ("", ts, b"<p>y</p>", None, "pt"),            # null_url
        ("https://dup/2", ts, b"a", None, "pt"),      # duplicate_url
        ("https://dup/2", ts, b"b", None, "pt"),      # duplicate_url
        ("https://nopayload/3", ts, None, None, "pt"),  # no_payload
    ]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    valid, quar = validate_pages(df)
    assert [r["url"] for r in valid.collect()] == ["https://ok/1"]
    reasons = sorted(r["reason"] for r in quar.collect())
    assert reasons == ["duplicate_url", "duplicate_url", "no_payload", "null_url"]


def test_salted_repartition_balances_single_host(spark):
    """All urls from ONE pathological host must still spread ~uniformly
    across partitions (the salted url-hash defeats host-level skew)."""
    from pii_spark.extract import extract_pages
    from pii_spark.schemas import PAGES_SCHEMA
    import datetime as dt

    ts = dt.datetime(2025, 1, 1)
    rows = [(f"https://one-host.example/{i}", ts, b"<p>conteudo aqui para extrair algo</p>", None, "pt")
            for i in range(400)]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    res = extract_pages(df, num_partitions=8)
    counts = [r["c"] for r in
              res.groupBy("partition_id").agg(F.count("*").alias("c")).collect()]
    assert len(counts) == 8
    assert max(counts) <= 2.0 * (400 / 8)  # no partition hoards the host


def test_jsonl_sink_roundtrip(spark, tmp_path, tiny_results):
    import json, glob

    from pii_spark.extract import write_results_jsonl

    out = str(tmp_path / "jsonl")
    write_results_jsonl(tiny_results, out)
    lines = []
    for fn in glob.glob(f"{out}/part-*"):
        with open(fn) as f:
            lines += [json.loads(line) for line in f if line.strip()]
    assert len(lines) == tiny_results.count()
    rec = next(r for r in lines if r.get("spans"))
    s = rec["spans"][0]
    assert {"type", "start", "end", "value", "conf", "n_tokens"} <= set(s)
    assert rec["extracted_text"][s["start"]:s["end"]] == s["value"]


def test_token_metrics_counts(spark):
    from pii_spark.evaljob import token_metrics

    text = "aaa bbb ccc ddd"
    mk = lambda t, s, e: {"type": t, "start": s, "end": e, "value": text[s:e],
                          "conf": 1.0, "n_tokens": 1}
    schema = ("url string, extracted_text string, spans array<struct<"
              "type:string,start:int,end:int,value:string,conf:double,"
              "n_tokens:int>>")
    # pred covers tokens 1-2 (chars 4-11); gold covers tokens 2-3 (chars
    # 8-15). The shared token 2 is I-CONTATO under pred but B-CONTATO
    # under gold — the reference's p == y rule (label id, BIO prefix
    # included) counts that as a miss on both sides, NOT a tp.
    pred = spark.createDataFrame([("u", text, [mk("CONTATO", 4, 11)])], schema)
    gold = spark.createDataFrame(
        [("u", text, [mk("CONTATO", 8, 15)])], schema).select("url", "spans")
    m = token_metrics(pred, gold)
    assert m["n_tokens"] == 4
    assert m["pred_pos"] == 2 and m["gold_pos"] == 2 and m["tp"] == 0
    # exact alignment: both spans identical -> B and I both match
    same = spark.createDataFrame(
        [("u", text, [mk("CONTATO", 8, 15)])], schema)
    m_same = token_metrics(same, gold)
    assert m_same["tp"] == 2 and m_same["precision"] == 1.0
    # type confusion over the same chars is NOT a tp (reference p == y)
    confused = spark.createDataFrame(
        [("u", text, [mk("ENDERECO", 8, 15)])], schema)
    m_conf = token_metrics(confused, gold)
    assert m_conf["tp"] == 0 and m_conf["pred_pos"] == 2
    # non-PII spans must not count
    pred2 = spark.createDataFrame([("u", text, [mk("ORG_JURIDICA", 0, 15)])], schema)
    m2 = token_metrics(pred2, gold)
    assert m2["pred_pos"] == 0
    # a gold url absent from pred cannot be scored — loud, not inflated
    gold2 = spark.createDataFrame(
        [("other", text, [mk("CONTATO", 0, 3)])], schema).select("url", "spans")
    with pytest.raises(ValueError, match="absent from pred"):
        token_metrics(pred, gold2)
    # pred urls OUTSIDE gold are out of universe (inner join), not false
    # positives: evaluating full-corpus predictions against a labeled
    # subset must not deflate precision (ADVICE r4)
    pred_extra = spark.createDataFrame(
        [("u", text, [mk("CONTATO", 8, 15)]),
         ("unlabeled", text, [mk("CONTATO", 0, 15)])], schema)
    m_extra = token_metrics(pred_extra, gold)
    assert m_extra["tp"] == m_same["tp"]
    assert m_extra["pred_pos"] == m_same["pred_pos"]
    assert m_extra["n_tokens"] == m_same["n_tokens"]


def test_sql_views_surface(spark, sf_dir, tiny_results):
    from pii_spark.sqlviews import register_views

    names = register_views(spark, sf_dir, results=tiny_results)
    assert "documents" in names and "results" in names
    n = spark.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
    assert n > 0
    row = spark.sql("""
        SELECT count(*) AS pii_docs FROM results WHERE NOT should_be_public
    """).collect()[0]
    assert row["pii_docs"] >= 0
    j = spark.sql("""
        SELECT r.url, s.type, s.value
        FROM results r LATERAL VIEW explode(r.spans) t AS s
        LIMIT 5
    """).collect()
    assert all(x["type"] for x in j)


def test_review_passes_keep_quarantined_rows_fail_closed(spark):
    """A quarantined row (error set, spans=[], should_be_public=False) must
    stay NOT-public through apply_review (both modes, error column carried)
    and apply_missing: recomputing should_be_public from spans alone would
    flip an unscanned page to publishable — a fail-open leak. Clean rows
    still get the recompute."""
    from pii_spark.review import apply_missing, apply_review

    schema = ("url string, extracted_text string, spans array<struct<"
              "type:string,start:int,end:int,value:string,conf:double,"
              "n_tokens:int>>, should_be_public boolean, error string")
    mk = lambda t, s, e, v: {"type": t, "start": s, "end": e, "value": v,
                             "conf": 1.0, "n_tokens": 1}
    results = spark.createDataFrame(
        [("ok", "contato x@y.org aqui", [mk("CONTATO", 8, 15, "x@y.org")],
          False, None),
         ("clean", "pagina sem dados pessoais", [], True, None),
         ("quar", "", [], False, "RuntimeError: boom")], schema)
    review = spark.createDataFrame([("CONTATO", "x@y.org")], "type string, value string")

    for mode in ("semi", "anti"):
        got = {r["url"]: r for r in
               apply_review(results, review, mode=mode).collect()}
        assert got["quar"]["should_be_public"] is False
        assert got["quar"]["error"] is not None  # marker survives
        assert got["clean"]["should_be_public"] is True
    # anti mode dropped the reviewed pair -> ok is now span-free BUT was
    # scanned (error null) -> publishable
    anti = {r["url"]: r for r in
            apply_review(results, review, mode="anti").collect()}
    assert anti["ok"]["spans"] == [] and anti["ok"]["should_be_public"] is True

    got = {r["url"]: r for r in apply_missing(results, review).collect()}
    assert got["quar"]["should_be_public"] is False
    assert got["quar"]["error"] is not None
    assert got["clean"]["should_be_public"] is True
    assert got["ok"]["should_be_public"] is False

    # frames WITHOUT an error column (externally stored results) keep the
    # plain spans-derived recompute
    no_err = results.drop("error").where("url <> 'quar'")
    got2 = {r["url"]: r for r in
            apply_review(no_err, review, mode="semi").collect()}
    assert got2["clean"]["should_be_public"] is True

    # malformed external data: a spans array holding only a NULL-type span
    # must stay NOT-public (isin yields NULL; a bare exists would read the
    # array as PII-free); so must a NULL spans array under non-null text,
    # which means "never scanned" (explode_outer + collect_list would
    # regroup it as [] — "scanned clean")
    malformed = spark.createDataFrame(
        [("m", "texto", [mk(None, 0, 5, "texto")], False, None),
         ("n", "texto", None, True, None)], schema)
    for fn in (lambda d: apply_review(d, review, mode="semi"),
               lambda d: apply_missing(d, review)):
        rows = fn(malformed).collect()
        assert sorted(r["url"] for r in rows) == ["m", "n"]
        for row in rows:
            assert row["should_be_public"] is False, row["url"]


def test_resume_null_url_rows_excluded_not_duplicated(spark, tmp_path):
    """A NULL-url page is un-addressable by the committed-urls anti-join:
    before the guard, EVERY increment re-extracted it and appended
    another copy of its results — silent corpus duplication growing with
    each run. Such rows are now excluded from the resumable work."""
    from pii_spark.synth import pages_df

    rdir, ldir = str(tmp_path / "res"), str(tmp_path / "lin")
    base = pages_df(spark, 10, seed=4)
    with_null = base.unionByName(
        base.limit(1).withColumn("url", F.lit(None).cast("string")))

    out1 = run_incremental(spark, with_null, rdir, ldir, "r1",
                           num_partitions=2)
    out2 = run_incremental(spark, with_null, rdir, ldir, "r2",
                           num_partitions=2)
    assert out1["docs"] == 10          # the NULL-url row never extracts
    assert out2["docs"] == 0           # and never re-extracts either
    all_rows = spark.read.parquet(rdir)
    assert all_rows.count() == 10      # no duplicate accumulation
    assert all_rows.where(F.col("url").isNull()).count() == 0


def test_apply_review_null_url_fails_loudly(spark):
    """NULL-url rows would conflate into one document in the span
    regroup — the review pass must refuse them, not merge them."""
    from pii_spark.review import apply_review

    empty_spans = F.expr(
        "CAST(array() AS array<struct<type:string,start:int,end:int,"
        "value:string,conf:double,n_tokens:int>>)")
    results = spark.createDataFrame(
        [(None, "texto a"), (None, "texto b"), ("u1", "texto c")],
        "url string, extracted_text string",
    ).withColumn("spans", empty_spans)
    review = spark.createDataFrame(
        [("CONTATO", "x@y.org")], "type string, value string")
    with pytest.raises(Exception, match="NULL url|ASSERT"):
        apply_review(results, review).collect()
    # keyed frames still flow
    ok = apply_review(results.where("url is not null"), review)
    assert ok.count() == 1
