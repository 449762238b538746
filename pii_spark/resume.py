"""Checkpoint-resume: process only pages not yet committed (north rule).

Production semantics (documented for Iceberg; sandbox runs the same logic on
plain parquet because no Iceberg runtime jar ships in this container):

* results land in an Iceberg table via ``df.writeTo(tbl).append()`` — each
  run is ONE atomic snapshot; the snapshot id is the checkpoint token.
* on resume, read the table AS OF the last committed snapshot, take its
  ``url`` set, and LEFT ANTI JOIN the input against it — only unprocessed
  pages flow into the extraction pass.
* lineage rows (run_id, partition_id, docs, bytes, spans_by_type) append to a
  side table in the same transaction scope, so a run is replayable and
  auditable partition-by-partition.

The parquet emulation reproduces the atomicity with a PER-RUN COMMIT MARKER
(the sandbox stand-in for an Iceberg snapshot):

1. ``<results_dir>/_commits/<run_id>.reserved`` is created with O_CREAT|O_EXCL
   BEFORE anything is written — two concurrent submissions under the same
   run_id cannot both pass (the round-2 check-then-write race is closed at
   the filesystem, not by a read-then-act probe).
2. results append under ``run_id=<id>/`` hive partitions (one extraction
   pass — the write is the only action). The extraction UDF counts each
   partition's lineage (docs, bytes, error rows, spans by type) over the
   rows it hands to that write, so nothing reads the run back: the
   quarantine breaker runs on those counts, and the lineage rows land
   from them as one parquet file the driver publishes by rename (no
   Spark job).
3. ``<run_id>.committed`` lands last via write-to-temp + atomic rename.
   The marker IS the commit: every reader (``committed_urls``,
   ``lineage_summary``, the next increment's anti-join) filters to marked
   runs, so a crash at ANY earlier point leaves the run invisible — no
   double-counts, no orphan lineage in any rollup, nothing to repair before
   the next increment runs. ``adopt_crashed_runs`` can salvage a crashed
   increment's landed results instead of re-extracting them; ``vacuum
   _uncommitted`` deletes them instead.

The anti-join is a shuffle on ``url`` only when the committed side is large;
for typical incremental runs the committed-urls projection is a single
column that AQE plans as a broadcast. At 100 TB the committed side is read
column-pruned to ``url`` (an Iceberg/parquet scan of one dictionary-encoded
string column), which is why the anti-join stays cheap even at 10^12 rows —
never ``collect()`` it. The marker directory holds two tiny files per
increment (not per partition, not per document), so listing it is O(runs).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_core.pipeline import ExtractConfig
from pii_spark.extract import (
    RESULTS_WITH_PID,
    PartitionCounters,
    extract_pages,
    lineage_from_results,
)


def _committed_schema():
    """Explicit read schema for the results dir: pins the hive partition
    column run_id to STRING. Without it, partition-type inference turns
    numeric-looking run ids ("007") into integers, and the read-back value
    ("7") no longer equals the id the caller passed — silently matching
    zero rows."""
    from pyspark.sql import types as T  # noqa: PLC0415

    return T.StructType(
        RESULTS_WITH_PID.fields
        + [T.StructField("run_id", T.StringType(), False)]
    )


def _lineage_schema():
    """Read schema for the lineage dir (hive-partitioned by run_id, same
    STRING pinning rationale as ``_committed_schema``); ``_append_lineage``
    writes the other columns in these types."""
    from pyspark.sql import types as T  # noqa: PLC0415

    return T.StructType([
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs", T.LongType(), False),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("spans_by_type",
                      T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("run_id", T.StringType(), False),
    ])


# Characters Spark hive-escapes in a partition dir name on a POSIX host
# (``ExternalCatalogUtils.escapePathName``): control chars, DEL and these.
_HIVE_ESCAPED = frozenset('"#%\'*/:=?\\[]^{\x7f'
                          + "".join(map(chr, range(1, 32))))


def _escape_hive(value: str) -> str:
    """Spark's partition-path escaping (%XX per special char), so a dir the
    driver writes is named as a ``partitionBy`` write would name it."""
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c
                   for c in value)


def _run_dir(base: str, run_id: str, staging: bool = False) -> str:
    """``run_id``'s partition dir under ``base`` — results, lineage, or with
    ``staging`` the hidden ``.run_id=`` dir a lineage write publishes from.
    Named as ``partitionBy`` names it (a run_id like
    ``2026-08-16T10:30:00`` lands as ``...10%3A30%3A00``), so a path built
    by f-string from the raw id would miss it."""
    return os.path.join(base, ("." if staging else "") + "run_id="
                        + _escape_hive(run_id))


def _commits_dir(results_dir: str) -> str:
    # underscore prefix: invisible to Spark's parquet reader AND to _exists
    return os.path.join(results_dir, "_commits")


def _marker_path(results_dir: str, run_id: str) -> str:
    return os.path.join(_commits_dir(results_dir), f"{run_id}.committed")


def committed_run_ids(results_dir: str) -> list[str]:
    """Run ids whose commit marker landed — the only runs readers see."""
    d = _commits_dir(results_dir)
    if not os.path.isdir(d):
        return []
    return sorted(f[: -len(".committed")] for f in os.listdir(d)
                  if f.endswith(".committed"))


def _reserve(results_dir: str, run_id: str) -> None:
    """Atomically claim ``run_id`` (O_CREAT|O_EXCL) before any write."""
    if not run_id or "/" in run_id or "\x00" in run_id or run_id.startswith("."):
        raise ValueError(
            f"run_id {run_id!r} is not a safe marker filename: must be "
            "non-empty, contain no '/' or NUL, and not start with '.'")
    d = _commits_dir(results_dir)
    os.makedirs(d, exist_ok=True)
    if os.path.exists(_marker_path(results_dir, run_id)):
        raise ValueError(
            f"run_id {run_id!r} already committed; use a fresh run_id per "
            "increment")
    try:
        fd = os.open(os.path.join(d, f"{run_id}.reserved"),
                     os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ValueError(
            f"run_id {run_id!r} is reserved by a concurrent or crashed "
            "increment; use a fresh run_id (adopt_crashed_runs salvages a "
            "crashed run's landed results, vacuum_uncommitted discards "
            "them)") from None
    os.close(fd)


def _write_marker(results_dir: str, run_id: str, docs: int) -> None:
    """Atomic commit point: temp file + rename (POSIX-atomic within the
    directory). Everything before this is invisible to readers."""
    path = _marker_path(results_dir, run_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"run_id": run_id, "docs": int(docs)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def committed_urls(spark: SparkSession, results_dir: str) -> DataFrame | None:
    """Column-pruned projection of already-committed urls (MARKED runs
    only), or None if nothing is committed yet (first run)."""
    rids = committed_run_ids(results_dir)
    if not rids or not _exists(results_dir):
        return None
    return (
        spark.read.schema(_committed_schema()).parquet(results_dir)
        .where(F.col("run_id").isin(rids))
        .select("url")
    )


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    results_dir: str,
    lineage_dir: str,
    run_id: str,
    cfg: ExtractConfig | None = None,
    num_partitions: int | None = None,
    max_error_rate: float | None = 0.5,
) -> dict:
    """One resumable increment: anti-join committed urls, extract the
    remainder, commit results + lineage, then write the commit marker.
    Returns counters for the run.

    Commit protocol (atomic at the marker, never double-counts):
    1. Reserve the run_id (O_EXCL — concurrent duplicates lose the race).
    2. Results land hive-partitioned by run_id. The write is the ONLY
       action that executes the extraction UDF — exactly one pass, no
       persist() needed and no re-extraction under cache eviction.
    3. Lineage comes from the per-partition counters the UDF added to a
       fresh accumulator as it yielded the rows the write committed
       (``extract_pages(counters=)``), read only after the write returns:
       no Spark action reads the run back, and a lineage row can never
       describe a document that failed to land (a failed write raises
       before the counters are read). The rows land as one parquet file
       the driver publishes by rename (``_append_lineage``), not as a
       Spark job.
    4. The commit marker lands LAST (temp + atomic rename). A crash before
       it leaves the run unmarked: readers and the next increment's
       anti-join ignore it completely — its urls re-extract under the next
       run_id, its lineage rows never surface in ``lineage_summary``, and
       no repair step is required. ``adopt_crashed_runs`` may instead
       salvage the landed results.

    ``run_id`` must be FRESH per increment — it names this run's results
    partition and lineage rows, so reusing one would make both ambiguous.

    ``max_error_rate`` is the quarantine circuit breaker: per-page
    quarantine keeps one pathological page from killing a 6-hour job, but
    a SYSTEMIC failure (corrupt input batch, broken model weights) shows
    up as a quarantine storm — and committing such a run would mark every
    url "done" with garbage results. When the fraction of error rows
    exceeds the threshold, the marker is NOT written and this raises: the
    landed results stay in the normal crashed-run state (invisible to
    readers; ``adopt_crashed_runs`` can salvage after inspection,
    ``vacuum_uncommitted`` discards, the urls re-extract under the next
    id). The breaker is ON BY DEFAULT at 0.5 — per-page quarantine plus an
    opt-in breaker would let an unconfigured job commit a 100%-garbage run
    (broken weights, corrupted runtime) as "done". Pass 1.0 or None to
    disable for corpora where majority-error batches are expected.
    """
    run_id = str(run_id)
    if max_error_rate is not None and not 0.0 <= max_error_rate <= 1.0:
        # validate at submit: a negative typo would refuse EVERY commit
        # (errs > -x*n always holds), >1 silently disables the breaker
        raise ValueError(
            f"max_error_rate must be in [0, 1]: {max_error_rate}")
    # Layout check BEFORE any work: refusing a flat lineage dir only at the
    # post-extraction append would waste the whole increment (hours of
    # cluster time) and force a vacuum + re-run.
    _require_partitioned_layout(lineage_dir)
    _reserve(results_dir, run_id)

    # NULL-url rows are un-addressable by the resume bookkeeping: they
    # could never be marked committed (the anti-join cannot match a NULL
    # key), so each increment would re-extract them and APPEND another
    # copy of their results — silent corpus duplication growing with
    # every run. They are excluded here; synthesize urls upstream if
    # such rows must be processed.
    pages = pages.where(F.col("url").isNotNull())
    done = committed_urls(spark, results_dir)
    todo = pages if done is None else pages.join(done, "url", "left_anti")

    # one fresh accumulator per increment: its value is exactly this
    # run's write
    acc = spark.sparkContext.accumulator({}, PartitionCounters())
    results = extract_pages(todo, cfg, num_partitions=num_partitions,
                            counters=acc)
    (
        results.withColumn("run_id", F.lit(run_id))
        .write.mode("append").partitionBy("run_id").parquet(results_dir)
    )
    # Exact, not approximate: the mapInPandas stage is the write job's
    # RESULT stage (its tasks write the files), and Spark applies a result
    # task's accumulator update once per partition, from the first
    # successful attempt only — a failed, retried or speculative attempt
    # adds nothing. So the counters describe exactly the committed rows.
    per_pid = acc.value
    # pyspark's driver keeps every accumulator it made for the session's
    # life: drop this run's counts rather than keep them per increment
    acc.value = {}
    n = sum(c["docs"] for c in per_pid.values())
    errs = sum(c["errors"] for c in per_pid.values())
    if max_error_rate is not None and n and errs > max_error_rate * n:
        raise RuntimeError(
            f"run {run_id!r}: {errs}/{n} pages quarantined "
            f"({errs / n:.1%} > max_error_rate {max_error_rate:.1%}) — "
            "refusing to commit a systemic failure. The landed results are "
            "an unmarked (crashed-state) run: inspect the error column, "
            "then adopt_crashed_runs to salvage or vacuum_uncommitted to "
            "discard")
    if n:
        _append_lineage(per_pid, run_id, lineage_dir)
    _write_marker(results_dir, run_id, n)
    return {"run_id": run_id, "docs": n, "errors": errs}


def _require_partitioned_layout(lineage_dir: str) -> None:
    """Refuse a lineage dir holding top-level parquet data files: the flat
    layout (run_id as a data column) that no supported version writes.
    Spark's partition discovery IGNORES such files once any ``run_id=`` dir
    sits beside them, so appending to or reading that dir would silently
    drop their rows. Each entry point runs this once, before any Spark job
    or reservation."""
    if os.path.isdir(lineage_dir) and any(
            f.endswith(".parquet") and not f.startswith((".", "_"))
            and os.path.isfile(os.path.join(lineage_dir, f))
            for f in os.listdir(lineage_dir)):
        raise ValueError(
            f"lineage dir {lineage_dir!r} holds top-level parquet files: the "
            "flat lineage layout (run_id as a data column) is unsupported — "
            "move those files out or use a fresh lineage_dir; mixed with "
            "run_id= partitions their rows would be silently dropped")


def _append_lineage(per_pid: dict, run_id: str, lineage_dir: str) -> None:
    """Land a run's lineage, one row per partition of ``per_pid`` (the
    counters' shape: ``{partition_id: {"docs", "bytes", "spans_by_type",
    ...}}``), as ONE parquet file under ``run_id=<escaped id>/`` — the
    hive layout of results, so ``vacuum_uncommitted`` discards a crashed
    run's lineage with a driver-side rmtree. So few rows are not worth a
    Spark job: the driver writes them with pyarrow in ``_lineage_schema``'s
    types into a hidden staging dir (readers skip it) and publishes that
    dir with one rename. The ``run_id=`` dir, which ``_lineage_has_run``
    reads as "landed", thus appears whole or not at all: a crash
    mid-write leaves only staging, and adoption still writes the run's
    lineage."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    schema = to_arrow_schema(T.StructType(
        [f for f in _lineage_schema().fields if f.name != "run_id"]))
    pids = sorted(per_pid)
    table = pa.Table.from_pydict({
        "partition_id": pids,
        "docs": [per_pid[p]["docs"] for p in pids],
        "bytes": [per_pid[p]["bytes"] for p in pids],
        "spans_by_type": [sorted(per_pid[p]["spans_by_type"].items())
                          for p in pids],
    }, schema=schema)
    staging = _run_dir(lineage_dir, run_id, staging=True)
    target = _run_dir(lineage_dir, run_id)
    shutil.rmtree(staging, ignore_errors=True)  # a crashed attempt's leftover
    os.makedirs(staging)
    pq.write_table(table, os.path.join(staging, "part-00000.snappy.parquet"),
                   compression="snappy")
    if os.path.lexists(target):
        raise FileExistsError(f"lineage for run {run_id!r} already landed")
    os.rename(staging, target)


def adopt_crashed_runs(
    spark: SparkSession, results_dir: str, lineage_dir: str
) -> list[str]:
    """Salvage crashed increments instead of re-extracting their pages.

    A crash anywhere between the results write and the marker leaves a
    reserved-but-unmarked run whose landed results are real, valuable work
    (at 100 TB an increment is hours of cluster time). For each such run
    this derives lineage from whatever COMMITTED parquet landed (skipping
    the append if the crashed run already wrote its lineage), then writes
    the marker — from that moment the run's urls count as done. Partial
    results are safe to adopt: the urls that landed are genuinely
    extracted; missing ones re-extract on the next increment's anti-join.
    Returns adopted run ids. Must not race a live increment (same
    single-operator assumption as vacuum_uncommitted).

    Refuses to adopt a run whose urls a LATER increment already committed,
    or that another crashed candidate also extracted (adopting either way
    would commit the same url twice) — run it before the next increment,
    or use ``vacuum_uncommitted``. The refusal is ALL-OR-NOTHING: every
    candidate is validated BEFORE any marker is written, so a raise never
    leaves some runs silently adopted with the adopted-ids list lost."""
    _require_partitioned_layout(lineage_dir)
    rids = _uncommitted_run_ids(results_dir)
    if not rids:
        return []
    all_res = (
        spark.read.schema(_committed_schema()).parquet(results_dir)
        .where(F.col("run_id").isin(rids))
    )
    # phase 1 — validate everything, mutate nothing
    cand = all_res.select("url", "run_id")
    marked = committed_urls(spark, results_dir)
    if marked is not None:
        clash = sorted(r["run_id"] for r in cand.join(
            marked, "url", "left_semi").select("run_id").distinct().collect())
        if clash:
            raise ValueError(
                f"crashed run(s) {clash} overlap urls a later increment "
                "already committed; adopting would double-commit — use "
                "vacuum_uncommitted to discard them (nothing was adopted)")
    between = sorted(r["run_id"] for r in cand.groupBy("url").agg(
        F.collect_set("run_id").alias("rs")).where(F.size("rs") > 1)
        .select(F.explode("rs").alias("run_id")).distinct().collect())
    if between:
        raise ValueError(
            f"crashed runs {between} extracted overlapping urls; adopting "
            "all of them would double-commit — vacuum the redundant ones "
            "first (nothing was adopted)")
    # phase 2 — adopt: lineage (if missing) then marker, per run. Lineage
    # is one row per partition, so collecting it is bounded by the
    # partition count, not by the corpus.
    adopted = []
    for rid in rids:
        res = all_res.where(F.col("run_id") == rid)
        per_pid = {r["partition_id"]: r.asDict()
                   for r in lineage_from_results(res, rid).collect()}
        n = sum(c["docs"] for c in per_pid.values())
        if n and not _lineage_has_run(lineage_dir, rid):
            _append_lineage(per_pid, rid, lineage_dir)
        _write_marker(results_dir, rid, n)
        adopted.append(rid)
    return adopted


def vacuum_uncommitted(results_dir: str, lineage_dir: str) -> list[str]:
    """Discard crashed increments: delete unmarked runs' results AND lineage
    partitions, then release their reservations. Deleting lineage too is
    load-bearing: a run that crashed between the lineage append and the
    marker left orphan lineage rows, and releasing the reservation without
    removing them would let a reused run_id double-count in
    ``lineage_summary``. Each run's dirs (results, lineage, and a crashed
    lineage write's staging) are named by ``_run_dir``, hive-escaped as
    Spark names them; a dir the crash never made is skipped, any other
    removal error raises. Driver-side file ops over O(runs) entries — never
    a Spark job. Must not race a live increment (the single-operator
    assumption under which run_incremental is documented)."""
    removed = []
    for rid in _uncommitted_run_ids(results_dir):
        for part in (_run_dir(results_dir, rid), _run_dir(lineage_dir, rid),
                     _run_dir(lineage_dir, rid, staging=True)):
            if os.path.lexists(part):
                shutil.rmtree(part)
        os.remove(os.path.join(_commits_dir(results_dir), f"{rid}.reserved"))
        removed.append(rid)
    return removed


def _uncommitted_run_ids(results_dir: str) -> list[str]:
    d = _commits_dir(results_dir)
    if not os.path.isdir(d):
        return []
    reserved = {f[: -len(".reserved")] for f in os.listdir(d)
                if f.endswith(".reserved")}
    return sorted(reserved - set(committed_run_ids(results_dir)))


def _lineage_has_run(lineage_dir: str, run_id: str) -> bool:
    """A run's lineage landed iff its hive partition dir exists: cheaper
    and crash-equivalent to scanning the parquet."""
    return os.path.isdir(_run_dir(lineage_dir, run_id))


def _lineage_summary_schema():
    from pyspark.sql import types as T  # noqa: PLC0415

    return T.StructType([
        T.StructField("run_id", T.StringType(), False),
        T.StructField("docs", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("spans_by_type",
                      T.MapType(T.StringType(), T.LongType()), True),
    ])


def lineage_summary(
    spark: SparkSession, lineage_dir: str, results_dir: str,
) -> DataFrame:
    """Roll lineage up per run: docs, bytes, spans by type (map-merge).
    ``results_dir`` is REQUIRED: only MARKED runs surface, so lineage rows
    from a run that crashed before its commit marker are invisible, exactly
    like its results. (An optional-filter variant would silently resurface
    orphan rows for any caller using the old 2-arg form — the exact state
    the commit-marker protocol exists to make impossible.)"""
    _require_partitioned_layout(lineage_dir)
    if not _exists(lineage_dir):
        # legitimate committed states write no lineage at all (a zero-doc
        # increment commits its marker but lands no lineage) — an empty
        # rollup, not PATH_NOT_FOUND
        return spark.createDataFrame([], _lineage_summary_schema())
    lin = spark.read.schema(_lineage_schema()).parquet(lineage_dir)
    lin = lin.where(F.col("run_id").isin(
        committed_run_ids(results_dir) or [""]))
    exploded = lin.select(
        "run_id", "docs", "bytes", F.explode_outer("spans_by_type").alias("type", "n")
    )
    per_type = (
        exploded.where(F.col("type").isNotNull())
        .groupBy("run_id", "type").agg(F.sum("n").alias("n"))
        .groupBy("run_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("type", "n"))).alias("spans_by_type"))
    )
    totals = lin.groupBy("run_id").agg(
        F.sum("docs").alias("docs"), F.sum("bytes").alias("bytes"))
    return totals.join(per_type, "run_id", "left")


def _exists(path: str) -> bool:
    """True iff the directory holds at least one COMMITTED parquet data
    file — recursive, because results are hive-partitioned by run_id (a
    bare _SUCCESS marker from an all-empty write is NOT data). Hidden dirs
    (`_temporary/` task attempts from a crashed write, `_commits/`,
    `.staging`) are skipped: Spark's reader ignores them too, so counting
    them would make _exists say "data" while the read finds none — bricking
    every retry after a first-write crash."""
    if not os.path.isdir(path):
        return False
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") and not f.startswith((".", "_"))
               for f in files):
            return True
    return False
