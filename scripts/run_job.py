#!/usr/bin/env python
"""spark-submit entrypoint: run the resumable extraction pipeline.

Usage (see scripts/submit.sh for the --py-files packaging):

    spark-submit --py-files pdf_spark.zip scripts/run_job.py \
        --pages <pages parquet dir> --out <sink dir> [--salt N] \
        [--format parquet|warc]

Reads the Common-Crawl-style pages table (parquet, or raw WARC archives
via the sources.warc connector), runs the fused extraction with
skew salting, writes docs_text (run_id-partitioned) + lineage, and prints
the run summary as one JSON line. Re-running with the same --out resumes:
the input files that a committed run read are skipped, and the new run's
lineage reports only what it actually processed.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet directory")
    ap.add_argument("--out", required=True, help="sink directory")
    ap.add_argument("--salt", type=int, default=None, help="salt partitions")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--wet-out",
        default=None,
        help="also write this run's extracted text as WET archives here",
    )
    ap.add_argument(
        "--jsonl-out",
        default=None,
        help="also write this run's extracted text as gzip JSONL shards here",
    )
    ap.add_argument(
        "--markdown",
        action="store_true",
        help="also emit an md column (markdownified text; PDF headings"
        " via the font-size rule)",
    )
    ap.add_argument(
        "--format",
        choices=("parquet", "warc"),
        default="parquet",
        help="pages input: a parquet pages table, or raw WARC archives",
    )
    args = ap.parse_args()

    # the submitter sets master and sizing; the job's own settings come
    # from session.py and win over any --conf for the same keys
    from pyspark.sql import SparkSession

    from pdf_spark.session import job_conf

    spark = (
        SparkSession.builder.appName("pdf-spark-extract")
        .config(map=job_conf())
        .getOrCreate()
    )

    from pdf_spark.operators.pipeline import run_extraction

    if args.format == "warc":
        from pdf_spark.sources.warc import read_warc

        pages = read_warc(spark, args.pages).select("url", "warc_ts", "html", "input_file")
    else:
        pages = spark.read.parquet(args.pages)
    summary = run_extraction(
        spark,
        pages,
        args.out,
        salt_partitions=args.salt,
        resume=not args.no_resume,
        markdown=args.markdown,
    )
    # this run's directory only; a run that extracted nothing has none
    if (args.wet_out or args.jsonl_out) and summary["n_ok"] + summary["n_err"]:
        from pdf_spark.operators.lineage import run_dir

        run_docs = spark.read.parquet(run_dir(spark, args.out, summary["run_id"]))
        if args.wet_out:
            from pdf_spark.sources.warc import write_wet

            parts = write_wet(run_docs, args.wet_out)
            summary["wet_files"] = len(parts)
            summary["wet_records"] = sum(n for _, n in parts)
        if args.jsonl_out:
            from pdf_spark.sources.jsonl import write_jsonl

            parts = write_jsonl(
                run_docs.where("text IS NOT NULL").select("url", "text"),
                args.jsonl_out,
                sort_cols=["url"],
            )
            summary["jsonl_files"] = len(parts)
            summary["jsonl_records"] = sum(n for _, n in parts)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
