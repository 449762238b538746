#!/usr/bin/env python3
"""Engine benchmark: one workload, from a seed, on local[N] (N = cores).

    python3 perfbench/run.py --workload crawl_extract --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. Each run starts one Spark session in this
driver process, materialises its inputs from the seed and warms up
(``setup_s``), then repeats the workload's unit of work ("rep") until
``--seconds`` have passed, then checks the outputs outside the timed
window. Every file it writes lives under ``.perfbench_work/`` (removed at
the start and end of every run) and ``.perfbench_out/`` (span files).

``--trace 0`` prints the end-to-end metrics:

* ``docs_per_s``: input docs consumed per second of rep wall (pages
  extracted, or pages offered to increments); the median over the reps of
  the window.
* ``cpu_s_per_kdoc``: CPU seconds of the whole process tree (driver, JVM,
  Python workers, exited ones included) per 1,000 docs; the median over
  the reps of the window.
* ``peak_rss_mb``: peak resident memory of the process tree, sampled, with
  each page counted once (the sum of the processes' proportional set
  sizes, so forked Python workers do not count their parent's pages
  again). The JVM heap is a fixed, pre-touched 2 GB, so this moves with
  the Python side and the JVM's off-heap memory, not with when the heap
  grew.
* ``setup_s``: session start, input materialisation and warm-up.

Failures (error rows, failed increments) are the result's ``failed`` out
of ``attempted``; a failed output check counts every operation as failed.
``failed_share`` is printed with the run's conditions (Spark version,
cores, seed, ``host.steal_pct``, rep times) on the line before.

``--trace 1`` runs with the Spark event log on and alternates untraced and
traced reps (in the order U T T U). Traced reps tag their jobs with the call site that launched
them and record spans around the engine calls; the per-layer metrics come
from those reps, from the event log, and from a single-process pass over
the in-UDF layers. It also reports the tracing overhead: untraced minus
traced ``docs_per_s`` of the alternating reps (the event log is on for
both, so its own cost shows against a ``--trace 0`` run instead).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {"docs_per_s": "docs/s", "cpu_s_per_kdoc": "s/kdoc",
              "peak_rss_mb": "MB", "setup_s": "s"}

# Every per-layer metric, with its unit. A traced run reports all of them;
# a layer the workload does not run reads 0.
PER_LAYER = {
    "html_extract.busy_s": "s", "html_extract.mb_in": "MB",
    "chunking.busy_s": "s", "chunking.chunks": "count",
    "chunking.tokens": "count",
    "ner_stub.busy_s": "s", "ner_stub.chunks": "count",
    "decoding.busy_s": "s", "decoding.docs": "count",
    "spans.busy_s": "s", "spans.kept_share": "share",
    "detectors.busy_s": "s", "detectors.spans": "count",
    "pipeline.self_s": "s", "pipeline.docs_per_s_1core": "docs/s",
    "pipeline.docs_per_s_1core_traced": "docs/s",
    "extract.scan_s": "s", "extract.shuffle_write_mb": "MB",
    "extract.shuffle_fetch_wait_s": "s", "extract.python_init_s": "s",
    "extract.python_run_s": "s", "extract.to_python_mb": "MB",
    "extract.from_python_mb": "MB", "extract.gc_s": "s",
    "extract.sink_s": "s", "extract.task_max_over_median": "ratio",
    "resume.write_job_s": "s", "resume.readback_s": "s",
    "resume.lineage_s": "s", "resume.driver_s": "s",
    "resume.committed_urls_s": "s", "resume.committed_mb_scanned": "MB",
    "resume.new_share": "share", "resume.files_written": "count",
    "host.steal_pct": "%",
    "trace.docs_per_s_untraced": "docs/s",
    "trace.docs_per_s_traced": "docs/s",
    "trace.overhead_docs_per_s": "docs/s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Context:
    """What a workload sees of the run: the session, the work dir, the
    seed, the tracer, and job tagging (on only inside a traced rep)."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.tagging = False

    def set_site(self, name: str | None) -> None:
        if self.tagging:
            self.spark.sparkContext.setLocalProperty("perfbench.site", name)

    @contextmanager
    def site(self, name: str):
        if not self.tagging:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("perfbench.site")
        sc.setLocalProperty("perfbench.site", name)
        try:
            yield
        finally:
            sc.setLocalProperty("perfbench.site", prev)


def start_spark(work: str, event_log: str | None):
    from pii_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when its collector chose to grow the heap
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # idle Python workers beyond one per core exit: how many a run
        # keeps no longer depends on how task ends and starts interleave
        "spark.python.factory.idleWorkerMaxPoolSize": str(cores()),
    }
    if event_log is not None:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app="perfbench", cores=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reset_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until every
    process this run started (JVM, PySpark daemon, Python workers) has
    ended."""
    import probe
    from pyspark import SparkContext

    # workers orphaned by the JVM's exit leave the tree, so wait on the pids
    started = [p for p in probe.tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(probe.alive(p) for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError("processes of the run outlived the JVM")
        time.sleep(0.1)


def run(args) -> tuple[dict, dict]:
    import probe
    import tracing
    from workloads import WORKLOADS, inudf_layers

    traced = bool(args.trace)
    reset_work()
    os.makedirs(os.path.join(WORK, "tmp"))
    # everything Spark, the JVM and the Python workers write stays in WORK
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    me = os.getpid()
    tracer = tracing.Tracer() if traced else None
    event_log = os.path.join(WORK, "eventlog") if traced else None

    t0 = time.perf_counter()
    spark = start_spark(WORK, event_log)
    try:
        import pyspark

        ctx = Context(spark, WORK, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0

        # (traced, docs, wall, tree CPU)
        reps: list[tuple[bool, int, float, float]] = []
        sampler = probe.MemSampler(me)
        jif0 = probe.host_jiffies()
        sampler.start()
        start = time.perf_counter()
        while True:
            # untraced, traced, traced, untraced, ...: a trend over the
            # window (JIT, host) cancels out of the overhead
            tag = traced and len(reps) % 4 in (1, 2)
            ctx.tagging = tag
            cpu = probe.tree_cpu_s(me)
            a = time.perf_counter()
            if tag:
                with tracer.span(f"{args.workload}.rep"):
                    docs = wl.traced_rep()
            else:
                docs = wl.rep()
            b = time.perf_counter()
            cpu = probe.tree_cpu_s(me) - cpu
            ctx.tagging = False
            reps.append((tag, docs, b - a, cpu))
            if b - start >= args.seconds and (not traced or len(reps) >= 4) \
                    or len(reps) == wl.max_reps:
                break
        peak_mb = sampler.stop()
        steal = probe.steal_pct(jif0, probe.host_jiffies())

        problems = wl.check()
        layers = {}
        if traced:
            import eventlog

            spark.stop()   # flushes the event log
            n_traced = sum(1 for r in reps if r[0])
            layers.update(wl.layers(eventlog.parse(event_log), n_traced))
            layers.update(inudf_layers(wl.inudf_records(), tracer))
        spark_version = pyspark.__version__
    finally:
        stop_spark(spark)
        reset_work()

    def rate(tag: bool) -> float:
        """Median docs per second of wall over the reps traced or not."""
        return statistics.median(d / w for t, d, w, _ in reps if t == tag)

    docs_total = sum(r[1] for r in reps)
    attempted = max(1, wl.attempted)
    failed = attempted if problems else wl.failed
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
    }
    conditions = {
        "workload": args.workload, "seed": args.seed, "cores": cores(),
        "spark": spark_version, "host.steal_pct": steal,
        "rep_s": [r[2] for r in reps], "docs": docs_total,
        "failed_share": failed / attempted, "problems": problems,
    }
    if traced:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(layers)
        metrics["host.steal_pct"] = steal
        metrics["trace.docs_per_s_untraced"] = rate(False)
        metrics["trace.docs_per_s_traced"] = rate(True)
        metrics["trace.overhead_docs_per_s"] = rate(False) - rate(True)
        os.makedirs(OUT, exist_ok=True)
        span_file = os.path.join(
            OUT, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(span_file)
        conditions["span_file"] = os.path.relpath(span_file, ROOT)
        conditions["self_s"] = tracer.self_s()
        result["metrics"] = {k: {"value": metrics[k], "unit": u}
                             for k, u in PER_LAYER.items()}
    else:
        values = {
            "docs_per_s": rate(False),
            "cpu_s_per_kdoc": statistics.median(
                c / d * 1000.0 for _, d, _, c in reps),
            "peak_rss_mb": peak_mb,
            "setup_s": setup_s,
        }
        result["metrics"] = {k: {"value": values[k], "unit": u}
                             for k, u in END_TO_END.items()}
    return conditions, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import pii_core  # noqa: F401
        import pii_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    conditions, result = run(args)
    print(json.dumps(conditions, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
