"""The benchmark's workloads: inputs from a seed, one timed unit of work
(a "rep"), an output check, and the per-layer figures of a traced run.

Every input is a pure function of the seed: pages come from
``pii_spark.synth.pages_df`` (``gen_page``'s 70% short / 25% medium / 5%
multi-chunk length mix). The recrawl offers far more urls than it
generates bodies for: url ``i`` carries the body of pool page
``i % RESUME_POOL``.

Why these two (each stresses a different part of the engine, and each is
the bypass side of the other's optimisations):

* ``crawl_extract`` — a fresh crawl: ``extract_pages`` over synthetic pages
  into a parquet sink. The in-UDF layers and the salted shuffle do almost
  all the work, so any extraction-engine change shows here.
* ``resume_increment`` — a recrawl: ``run_incremental`` increments against
  a committed base where 90% of the offered urls are already committed.
  The anti-join read and the append/lineage writes dominate, with little
  UDF work, so a change that helps extraction but costs the resume path
  (or the reverse) shows here.

In a traced rep the benchmark tags each Spark job with the call site that
launched it (the ``perfbench.site`` local property). Where one engine call
launches jobs for several layers, the site switches when the engine calls
the first public name of the next layer.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import functions as F

from tracing import patched, timed

# Sizes, chosen so one rep is a few long Spark jobs on local[4] (seconds,
# not sub-second queries) and a run fits its time budget.
CRAWL_PAGES = 5000
CRAWL_WARM_PASSES = 2
CRAWL_SAMPLE = 48            # urls re-extracted in-process by the check
INUDF_PAGES = 1000           # pages in the single-process traced pass

RESUME_POOL = 2000           # distinct gen_page bodies; url i gets body i % POOL
RESUME_BASE = 10000          # committed urls before the first increment
RESUME_OFFERED = 5000        # urls offered per increment
RESUME_NEW = 500             # of which no increment offered before
RESUME_INCREMENTS = 15       # increments prepared; a run uses what fits
RESUME_WARM_INCREMENTS = 2   # the first ones, untimed
BASE_STUB = b"<html><body><p>committed earlier</p></body></html>"


class Workload:
    """One workload in one run. ``ctx`` carries the session, the work dir,
    the seed, the tracer and the call-site tagging switch."""

    name = ""
    max_reps: int | None = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.failed = 0
        self.attempted = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def setup(self) -> None:
        """Materialise the inputs and warm up (untimed)."""
        raise NotImplementedError

    def rep(self) -> int:
        """Run one timed unit; return the docs it consumed."""
        raise NotImplementedError

    def traced_rep(self) -> int:
        return self.rep()

    def check(self) -> list[str]:
        """Problems found in the outputs (empty when correct)."""
        raise NotImplementedError

    def layers(self, log, reps: int) -> dict[str, float]:
        """Per-layer figures per traced rep (``log``: the parsed event
        log)."""
        raise NotImplementedError

    def inudf_records(self) -> list:
        """(url, html, text) records for the single-process pass."""
        raise NotImplementedError


# ---------------------------------------------------------------- crawl --

class CrawlExtract(Workload):
    name = "crawl_extract"

    def setup(self) -> None:
        from pii_spark.extract import extract_pages
        from pii_spark.synth import pages_df

        pages_df(self.spark, CRAWL_PAGES, seed=self.seed, num_partitions=4) \
            .write.parquet(self.path("pages"))
        # warm-up: full passes, until the JVM's compiled code settles
        for _ in range(CRAWL_WARM_PASSES):
            extract_pages(self.spark.read.parquet(self.path("pages"))) \
                .write.mode("overwrite").parquet(self.path("sink"))

    def rep(self) -> int:
        from pii_spark.extract import extract_pages

        with self.ctx.site("extract"):
            extract_pages(self.spark.read.parquet(self.path("pages"))) \
                .write.mode("overwrite").parquet(self.path("sink"))
        self.attempted += CRAWL_PAGES
        return CRAWL_PAGES

    def check(self) -> list[str]:
        from pii_core.pipeline import extract_page_batch
        from pii_spark.synth import gen_page

        out = self.spark.read.parquet(self.path("sink"))
        problems = []
        n = out.count()
        if n != CRAWL_PAGES:
            problems.append(f"sink holds {n} rows, expected {CRAWL_PAGES}")
        # every rep extracts the same pages into the same sink, so the
        # error rows of the last one stand for each rep's
        errs = out.where(F.col("error").isNotNull()).count()
        self.failed += errs * (self.attempted // CRAWL_PAGES)
        if errs:
            problems.append(f"{errs} error rows")
        idx = random.Random(self.seed).sample(range(CRAWL_PAGES),
                                              CRAWL_SAMPLE)
        pages = [gen_page(i, seed=self.seed) for i in idx]
        want = extract_page_batch(
            [(p["url"], p["html"], p["text"]) for p in pages])
        got = {r["url"]: r for r in out.where(
            F.col("url").isin([p["url"] for p in pages])).collect()}
        for p, w in zip(pages, want):
            g = got.get(p["url"])
            if isinstance(w, Exception) or g is None:
                problems.append(f"{p['url']}: missing, or failed in-process")
                continue
            if (g["extracted_text"] != w["extracted_text"]
                    or [s.asDict() for s in g["spans"]] != w["spans"]
                    or g["should_be_public"] != w["should_be_public"]
                    or g["error"] is not None):
                problems.append(f"{p['url']}: differs from pii_core")
        return problems

    def inudf_records(self) -> list:
        from pii_spark.synth import gen_page

        return [(p["url"], p["html"], p["text"]) for p in
                (gen_page(i, seed=self.seed) for i in range(INUDF_PAGES))]

    def layers(self, log, reps: int) -> dict[str, float]:
        return extract_layers(log, [j for j in log.jobs
                                    if j.site == "extract"], reps)


def extract_layers(log, jobs, n: int) -> dict[str, float]:
    """``extract.*`` per pass from the jobs of ``n`` salted mapInPandas
    passes (scan + salted shuffle write, then Python + sink)."""
    n = max(1, n)
    scan_s = gc_s = shuffle_w = fetch_wait = 0.0
    init = run = to_py = from_py = task_commit = 0.0
    ratios = []
    for j in jobs:
        for st in j.stages:
            gc_s += st.sum("gc_ms") / 1e3
            shuffle_w += st.shuffle_write_bytes
            fetch_wait += st.sum("fetch_wait_ms") / 1e3
            if st.input_bytes > 0 and st.shuffle_write_bytes > 0:
                scan_s += st.wall_s
            if st.acc("time to run Python workers") > 0:
                init += (st.acc("time to start Python workers")
                         + st.acc("time to initialize Python workers"))
                run += st.acc("time to run Python workers")
                to_py += st.acc("data sent to Python workers")
                from_py += st.acc("data returned from Python workers")
                task_commit += st.acc("task commit time")
                durs = sorted(t.duration_ms for t in st.tasks)
                ratios.append(durs[-1] / max(1.0, statistics.median(durs)))
    job_commit = log.driver_acc(jobs, "job commit time")
    return {
        "extract.scan_s": scan_s / n,
        "extract.shuffle_write_mb": shuffle_w / 1e6 / n,
        "extract.shuffle_fetch_wait_s": fetch_wait / n,
        "extract.python_init_s": init / 1e3 / n,
        "extract.python_run_s": run / 1e3 / n,
        "extract.to_python_mb": to_py / 1e6 / n,
        "extract.from_python_mb": from_py / 1e6 / n,
        "extract.gc_s": gc_s / n,
        "extract.sink_s": (task_commit + job_commit) / 1e3 / n,
        "extract.task_max_over_median":
            statistics.median(ratios) if ratios else 0.0,
    }


# --------------------------------------------------------------- resume --

class ResumeIncrement(Workload):
    name = "resume_increment"
    max_reps = RESUME_INCREMENTS - RESUME_WARM_INCREMENTS

    def setup(self) -> None:
        import pandas as pd

        from pii_core.pipeline import ExtractConfig
        from pii_spark.resume import run_incremental
        from pii_spark.synth import pages_df

        seed = self.seed
        rng = random.Random(seed)
        # batch -1 is the committed base; increment k >= 0 offers
        # RESUME_OFFERED - RESUME_NEW base urls and RESUME_NEW urls that no
        # earlier increment offered
        batches, ids = [-1] * RESUME_BASE, list(range(RESUME_BASE))
        nxt = RESUME_BASE
        for k in range(RESUME_INCREMENTS):
            old = rng.sample(range(RESUME_BASE), RESUME_OFFERED - RESUME_NEW)
            ids += old + list(range(nxt, nxt + RESUME_NEW))
            batches += [k] * RESUME_OFFERED
            nxt += RESUME_NEW
        plan = self.spark.createDataFrame(
            pd.DataFrame({"batch": batches, "id": ids}))
        # url i is gen_page's url for i, with the body of pool page
        # i % RESUME_POOL: a recrawl offers an unchanged page again
        pool = pages_df(self.spark, RESUME_POOL, seed=seed, num_partitions=4) \
            .withColumn("body", F.regexp_extract("url", r"/(\d+)$", 1)
                        .cast("long")).drop("url")
        # The base's pages are a short stub: the resume path reads nothing
        # of a committed row but its url, and stubs commit quickly.
        base = F.col("batch") == -1
        plan.join(F.broadcast(pool),
                  F.col("id") % RESUME_POOL == F.col("body")) \
            .select("batch", _page_url("id", seed), "warc_ts",
                    F.when(base, F.lit(BASE_STUB)).otherwise(F.col("html"))
                    .alias("html"),
                    F.when(base, F.lit(None)).otherwise(F.col("text"))
                    .alias("text"), "lang") \
            .write.partitionBy("batch").parquet(self.path("offered"))
        self.results = self.path("results")
        self.lineage = self.path("lineage")
        # the base commits through the same protocol, with detectors only
        run_incremental(self.spark, self._batch(-1), self.results,
                        self.lineage, "base",
                        cfg=ExtractConfig(use_ner=False))
        self.k = 0
        for _ in range(RESUME_WARM_INCREMENTS):
            self.rep()
        self.attempted = self.failed = 0

    def _batch(self, k: int):
        return self.spark.read.parquet(self.path("offered")) \
            .where(F.col("batch") == k).drop("batch")

    def rep(self) -> int:
        from pii_spark.resume import run_incremental

        run_id = f"inc{self.k:03d}"
        batch = self._batch(self.k)
        self.k += 1
        self.attempted += 1
        try:
            with self.ctx.site("resume.write"):
                res = run_incremental(self.spark, batch, self.results,
                                      self.lineage, run_id)
        except Exception as e:  # noqa: BLE001 — a failed increment counts
            print(f"increment {run_id} failed: {e}", flush=True)
            self.failed += 1
            return RESUME_OFFERED
        if res["docs"] != RESUME_NEW or res["errors"]:
            self.failed += 1
        return RESUME_OFFERED

    def traced_rep(self) -> int:
        """A rep whose jobs are tagged write / readback / lineage, with
        spans around the driver-side steps of ``run_incremental``."""
        import pii_spark.resume as resume

        ctx, tr = self.ctx, self.ctx.tracer

        def switch(span, after_site=None, before_site=None):
            def make(fn):
                def run(*args, **kwargs):
                    if before_site:
                        ctx.set_site(before_site)
                    with tr.span(span):
                        res = fn(*args, **kwargs)
                    if after_site:
                        ctx.set_site(after_site)
                    return res
                return run
            return make

        # the results write is the only job before run_incremental's
        # second _exists call; committed_urls calls _exists first, so it
        # puts the write site back on return
        make = {
            "_reserve": switch("resume.reserve"),
            "committed_urls": switch("resume.committed_urls",
                                     after_site="resume.write"),
            "_exists": switch("resume.exists",
                              after_site="resume.readback"),
            "_append_lineage": switch("resume.lineage",
                                      before_site="resume.lineage"),
            "_write_marker": switch("resume.marker"),
        }
        run_id = f"inc{self.k:03d}"
        with tr.span("resume.increment"), patched(resume, make):
            docs = self.rep()
        tr.count("resume.files_written",
                 _files_in_run(self.results, run_id)
                 + _files_in_run(self.lineage, run_id))
        return docs

    def check(self) -> list[str]:
        from pii_spark.resume import (
            _committed_schema,
            committed_run_ids,
            lineage_summary,
        )

        problems = []
        committed = self.spark.read.schema(_committed_schema()) \
            .parquet(self.results) \
            .where(F.col("run_id").isin(committed_run_ids(self.results)))
        dup = committed.groupBy("url").count().where("count > 1").count()
        if dup:
            problems.append(f"{dup} urls committed more than once")
        want = RESUME_BASE + RESUME_NEW * self.k
        n = committed.count()
        if n != want:
            problems.append(f"{n} committed rows, expected {want}")
        offered = self.spark.read.parquet(self.path("offered")) \
            .where(F.col("batch") < self.k).select("url")
        missing = offered.join(committed.select("url"), "url",
                               "left_anti").count()
        if missing:
            problems.append(f"{missing} offered urls never committed")
        per_run = {r["run_id"]: r["count"] for r in
                   committed.groupBy("run_id").count().collect()}
        for k in range(self.k):
            got = per_run.get(f"inc{k:03d}", 0)
            if got != RESUME_NEW:
                problems.append(f"inc{k:03d}: {got} rows committed, "
                                f"expected {RESUME_NEW}")
        lin = {r["run_id"]: r["docs"] for r in lineage_summary(
            self.spark, self.lineage, self.results).collect()}
        for rid, cnt in per_run.items():
            if lin.get(rid) != cnt:
                problems.append(f"{rid}: lineage docs {lin.get(rid)} != "
                                f"{cnt} committed rows")
        return problems

    def inudf_records(self) -> list:
        from pii_spark.synth import gen_page

        # the pages the increments extract: each one's new pages
        new = range(RESUME_BASE, RESUME_BASE + RESUME_NEW * RESUME_INCREMENTS)
        out = []
        for i in new[:INUDF_PAGES]:
            p = gen_page(i % RESUME_POOL, seed=self.seed)
            out.append((gen_page(i, seed=self.seed)["url"], p["html"],
                        p["text"]))
        return out

    def layers(self, log, reps: int) -> dict[str, float]:
        n = max(1, reps)
        tr = self.ctx.tracer
        jobs = [j for j in log.jobs if (j.site or "").startswith("resume.")]
        wall = {s: sum(j.wall_s for j in jobs if j.site == s)
                for s in ("resume.write", "resume.readback",
                          "resume.lineage")}
        writes = [j for j in jobs if j.site == "resume.write"]
        scanned = log.driver_acc(writes, "size of files read",
                                 node_contains=self.results)
        # the write job is a salted mapInPandas job over the new pages
        return extract_layers(log, writes, reps) | {
            "resume.write_job_s": wall["resume.write"] / n,
            "resume.readback_s": wall["resume.readback"] / n,
            "resume.lineage_s": wall["resume.lineage"] / n,
            "resume.driver_s": max(0.0, tr.busy_s("resume.increment")
                                   - sum(wall.values())) / n,
            "resume.committed_urls_s":
                tr.busy_s("resume.committed_urls") / n,
            "resume.committed_mb_scanned": scanned / 1e6 / n,
            "resume.new_share": RESUME_NEW / RESUME_OFFERED,
            "resume.files_written": tr.counts["resume.files_written"] / n,
        }


def _page_url(col: str, seed: int):
    """``gen_page``'s url for the page index in ``col``."""
    return F.format_string("https://site-%02d.example.gov.br/doc/%d/%d",
                           F.col(col) % 97, F.lit(seed), F.col(col)) \
        .alias("url")


def _files_in_run(base: str, run_id: str) -> int:
    d = os.path.join(base, f"run_id={run_id}")
    return sum(len([f for f in files if not f.startswith((".", "_"))])
               for _, _, files in os.walk(d))


# ------------------------------------------------------- in-UDF layers --

# pii_core.pipeline's imported names: their layer, and the counts one call
# adds
_INUDF_NAMES = {
    "html_to_text_strict": ("html_extract", lambda a, r: {
        "html_extract.mb_in": len(a[0]) / 1e6}),
    "build_chunks_with_offsets": ("chunking", lambda a, r: {
        "chunking.chunks": len(r),
        "chunking.tokens": sum(len(offs) for _, offs in r)}),
    "viterbi_bio": ("decoding", lambda a, r: {"decoding.docs": 1}),
    "viterbi_bio_batch": ("decoding", lambda a, r: {
        "decoding.docs": len(r)}),
    "spans_from_bio": ("spans", None),
    "filter_spans": ("spans", lambda a, r: {
        "spans.raw": len(a[0]), "spans.kept": len(r)}),
    "merge_and_resolve": ("spans", None),
    "detect_spans": ("detectors", lambda a, r: {
        "detectors.spans": len(r)}),
}


def inudf_layers(records: list, tracer) -> dict[str, float]:
    """One single-process ``extract_page_batch`` pass over ``records``
    untraced, then one with every layer name wrapped in a span."""
    import pii_core.pipeline as pl

    cfg = pl.ExtractConfig()
    emitter, tokenizer = cfg.make_emitter_and_tokenizer()
    pl.extract_page_batch(records[:50], cfg, emitter, tokenizer)  # warm-up
    t0 = time.perf_counter()
    pl.extract_page_batch(records, cfg, emitter, tokenizer)
    plain_s = time.perf_counter() - t0

    emitter, tokenizer = cfg.make_emitter_and_tokenizer()
    emitter.emit_batch = timed(tracer, "ner_stub", emitter.emit_batch,
                               lambda a, r: {"ner_stub.chunks": len(a[0])})
    make = {attr: (lambda fn, layer=layer, counts=counts:
                   timed(tracer, layer, fn, counts))
            for attr, (layer, counts) in _INUDF_NAMES.items()}
    with tracer.span("pipeline") as top, patched(pl, make):
        pl.extract_page_batch(records, cfg, emitter, tokenizer)
    traced_s = top[3] - top[2]

    c = tracer.counts
    out = {f"{layer}.busy_s": tracer.busy_s(layer) for layer in
           ("html_extract", "chunking", "ner_stub", "decoding", "spans",
            "detectors")}
    out.update({k: c[k] for k in (
        "html_extract.mb_in", "chunking.chunks", "chunking.tokens",
        "ner_stub.chunks", "decoding.docs", "detectors.spans")})
    out["spans.kept_share"] = c["spans.kept"] / max(1, c["spans.raw"])
    out["pipeline.self_s"] = tracer.self_s().get("pipeline", 0.0)
    out["pipeline.docs_per_s_1core"] = len(records) / plain_s
    out["pipeline.docs_per_s_1core_traced"] = len(records) / traced_s
    return out


WORKLOADS = {w.name: w for w in (CrawlExtract, ResumeIncrement)}
