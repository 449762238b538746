#!/usr/bin/env python
"""spark-submit entrypoint for the extraction job (north rule: "submitted
via spark-submit --py-files").

Usage:
  python scripts/make_pyfiles_zip.py                       # build dist/pii_libs.zip
  spark-submit --master local[8] --py-files dist/pii_libs.zip \
      scripts/submit_extract.py --input <pages_parquet_dir> \
      --output out/results --lineage out/lineage [--run-id <unique>] [--synth N]

On a cluster the same invocation works with --master yarn/k8s etc.; the zip
ships identical pii_core/pii_spark bytes to every executor, which is what
guarantees byte-identical output regardless of where a document lands.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet dir (url, warc_ts, html, text, lang)")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    # run ids must be FRESH per increment (resume.run_incremental rejects
    # reuse); default to a wall-clock-derived id so repeated submissions
    # just work. Pass an explicit id for replayable/audited runs.
    ap.add_argument(
        "--run-id",
        default=None,
        help="unique id for this increment (default: run-<epoch-ms>)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument(
        "--max-error-rate", type=float, default=0.5, metavar="FRACTION",
        help="quarantine circuit breaker: refuse to commit the increment "
             "if more than this fraction of pages error (systemic-failure "
             "guard; the landed results stay adoptable/vacuumable). "
             "Default 0.5; pass 1.0 to disable")
    ap.add_argument(
        "--max-doc-bytes", type=int, default=None, metavar="N",
        help="giant-page straggler bound: payloads above N bytes "
             "quarantine fail-closed before any parse work (default: the "
             "ExtractConfig default, 10 MB; pass 0 to disable the cap)")
    ap.add_argument(
        "--redact", choices=["tag", "mask"], default=None,
        help="also write publishable redacted text ([TYPE] tags or "
             "length-preserving * masks) to <output>.redacted/<run_id>")
    ap.add_argument(
        "--redact-run", default=None, metavar="RUN_ID",
        help="skip extraction and (re)generate redacted output for an "
             "already-committed run — the recovery path when a --redact "
             "write failed after its increment committed (requires "
             "--redact)")
    args = ap.parse_args()
    if args.redact_run and not args.redact:
        ap.error("--redact-run requires --redact")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pii-extract").getOrCreate()

    from pii_spark.resume import run_incremental
    from pii_spark.synth import pages_df

    def write_redacted(run_id: str) -> str | None:
        # one codegen projection over the run's COMMITTED results — reads
        # back the landed parquet, never re-runs extraction. Overwrite
        # makes the step idempotent: a partial dir from a crashed redact
        # write is replaced wholesale on retry.
        from pyspark.sql import functions as F

        from pii_spark.ops.redact import redact_results
        from pii_spark.resume import (
            _committed_schema,
            _run_dir,
            committed_run_ids,
        )

        if run_id not in committed_run_ids(args.output):
            raise SystemExit(f"run_id {run_id!r} is not committed in "
                             f"{args.output!r}")
        if not os.path.isdir(_run_dir(args.output, run_id)):
            return None  # zero-doc commit: marker exists, no parquet landed
        committed = (
            spark.read.schema(_committed_schema()).parquet(args.output)
            .where(F.col("run_id") == run_id)
        )
        rdir = f"{args.output.rstrip('/')}.redacted/{run_id}"
        redact_results(committed, args.redact).select(
            "url", "redacted_text", "should_be_public"
        ).write.mode("overwrite").parquet(rdir)
        return rdir

    if args.redact_run:
        rdir = write_redacted(args.redact_run)
        print(json.dumps({"run_id": args.redact_run, "redacted_dir": rdir}))
        spark.stop()
        return 0

    if args.synth:
        pages = pages_df(spark, args.synth, seed=42)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        raise SystemExit("one of --input / --synth required")

    run_id = args.run_id
    if run_id is None:
        import time  # noqa: PLC0415

        run_id = f"run-{int(time.time() * 1000)}"

    cfg = None
    if args.max_doc_bytes is not None:
        from pii_core.pipeline import ExtractConfig  # noqa: PLC0415

        cfg = ExtractConfig(
            max_doc_bytes=args.max_doc_bytes if args.max_doc_bytes > 0
            else None)
    out = run_incremental(
        spark, pages, args.output, args.lineage, run_id,
        cfg=cfg,
        num_partitions=args.partitions,
        max_error_rate=args.max_error_rate,
    )
    if args.redact:
        # a zero-doc increment commits its marker without landing any
        # parquet — reading args.output back would crash AFTER a
        # successful commit; there is nothing to redact anyway
        out["redacted_dir"] = write_redacted(run_id) if out["docs"] else None
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
