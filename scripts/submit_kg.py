#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

The north rule's deployment shape::

    scripts/package.sh                       # builds dist/hades_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/hades_spark.zip \\
        scripts/submit_kg.py \\
        --input  s3://bucket/pages/          # or omit for a synthetic corpus
        --output /path/to/kg --run-id crawl-2025-01

Reads an (url, warc_ts, html, text, lang) pages table (BASELINE.json
input_hint — parquet here, Iceberg on a real deployment) and runs
``persist.materialize_kg`` into the ``--output`` KG root: ``pages_text``,
``mentions``, ``raw_triples``, ``edges`` (partitioned by pred),
``manifest`` and ``metrics``. Prints ONE JSON line of stage metrics to
stdout. Re-submitting the same command resumes the run from its
manifest; a new ``--run-id`` (for new input) starts over and replaces
every table. No ``local[...]`` is hard-coded: the master comes from
spark-submit, so the same script runs at N and 4N executors.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="pages parquet dir; omit to synthesize --pages")
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "warc"],
                    help="'warc' reads raw .warc/.warc.gz crawl files via "
                         "sources/warc.py (one file per task) and extracts "
                         "text in-pipeline")
    ap.add_argument("--pages", type=int, default=1000,
                    help="synthetic corpus size when --input is omitted")
    ap.add_argument("--vocab", type=int, default=0,
                    help="synthetic entity vocabulary size (0 = legacy)")
    ap.add_argument("--output", required=True, help="KG root dir")
    ap.add_argument("--run-id", required=True,
                    help="names this run of this input: re-submitting with "
                         "the same id resumes it; new input needs a new id, "
                         "which rebuilds every table under --output")
    args = ap.parse_args()
    if args.input_format == "warc" and not args.input:
        ap.error("--input-format warc requires --input (a WARC dir/glob)")

    # spark-submit provides master/deploy config; plain builder here
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("hades_kg_submit")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())

    from hades_spark.pipeline.persist import materialize_kg

    if args.input and args.input_format == "warc":
        from hades_spark.sources.warc import warc_pages_df

        pages = warc_pages_df(spark, args.input)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        from hades_spark.pipeline.corpus import pages_df_distributed

        pages = pages_df_distributed(
            spark, args.pages, seed=42, vocab_size=args.vocab)

    stages = materialize_kg(spark, pages, args.output, run_id=args.run_id)
    print(json.dumps({"run_id": args.run_id, "stages": stages,
                      "edges": stages["edges"]["rows"]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
