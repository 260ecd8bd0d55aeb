#!/usr/bin/env python
"""Cluster entry point: run the extraction job via spark-submit.

Usage (north_rule launch shape)::

    spark-submit --py-files osdocr_spark.zip scripts/run_extract.py \
        --input /data/sf0.1 --output /data/out --partitions 4096 [--noisy] [--no-resume]

On a real cluster ``--input`` points at the Iceberg/parquet pages table and
``--partitions`` is sized to ~2-4 tasks per executor core.  In this sandbox
the input is a driver-generated ``documents.parquet`` directory that the
deterministic layout generator turns into pages.

Package the library with::

    cd /root/repo && zip -qr osdocr_spark.zip osdocr_spark
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--output", required=True, help="output dir (extracted/ + metrics/)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--noisy", action="store_true", help="inject defects (fix-suite demo)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--clean", action="store_true", help="run the fix suite before analysis")
    ap.add_argument("--per-stage", action="store_true",
                    help="checkpoint the parse stage as a resumable 'parsed' "
                         "table; a restart never re-parses committed urls")
    args = ap.parse_args()

    from osdocr_spark.spark.jobs import run_extract_job
    from osdocr_spark.spark.session import get_spark

    spark = get_spark(app="osdocr-extract")
    summary = run_extract_job(
        spark, args.input, args.output,
        num_partitions=args.partitions, resume=not args.no_resume,
        noisy=args.noisy, clean=args.clean, per_stage=args.per_stage,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
