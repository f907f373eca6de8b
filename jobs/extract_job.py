"""Production entry point: the extraction pipeline under spark-submit.

Cluster launch (the north rule's deployment shape):

    python tools/package.py                       # -> dist/pdf_parser_spark.zip
    spark-submit --py-files dist/pdf_parser_spark.zip \
        jobs/extract_job.py \
        --input  s3://bucket/pages_table \
        --output s3://bucket/extractions \
        --method classic --resume

Local smoke:

    python jobs/extract_job.py --input /root/repo/.corpus/sf0.001 \
        --output /tmp/extract_out

The script never creates its own master/config in cluster mode — all sizing
(executors, memory, shuffle partitions) belongs to spark-submit; getOrCreate
picks up the submitted conf. Source selection: --input pointing at a
directory with pages.parquet uses the table scan; --warc treats --input as a
directory of WARC archives; --binary as loose document files.
"""

from __future__ import annotations

import argparse
import os
import sys

# under spark-submit --py-files the package arrives on sys.path via the zip;
# for bare local runs, fall back to the repo checkout next to this script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="web-scale extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--method", default="classic", choices=["classic", "ai"])
    ap.add_argument("--source", default="table", choices=["table", "warc", "binary"])
    ap.add_argument("--resume", action="store_true",
                    help="anti-join against already-committed urls")
    ap.add_argument("--repartition", type=int, default=None,
                    help="force the url-hash exchange (unsplittable sources)")
    ap.add_argument("--lineage-output", default=None,
                    help="where to write per-partition lineage rows")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdf-parser-spark-extract").getOrCreate()
    from pdf_parser_spark.pipeline import lineage_rows, load_pages, run_job
    from pdf_parser_spark.sources import read_binary_files, read_warc

    if args.source == "warc":
        pages = read_warc(spark, args.input)
    elif args.source == "binary":
        pages = read_binary_files(spark, args.input)
    else:
        pages = load_pages(spark, args.input)

    _, obs = run_job(
        pages, args.output, method=args.method, resume=args.resume,
        repartition_partitions=args.repartition,
    )
    print(f"metrics: {obs.get}", file=sys.stderr)

    if args.lineage_output:
        lineage_rows(spark.read.parquet(args.output)).write.mode(
            "overwrite"
        ).parquet(args.lineage_output)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
