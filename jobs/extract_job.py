#!/usr/bin/env python
"""Cluster entry point: resumable OCR extraction via spark-submit.

  python scripts/package.py
  spark-submit --py-files dist/newocr_spark.zip jobs/extract_job.py \\
      --documents s3://bucket/documents --media s3://bucket/media \\
      --output s3://bucket/extracted --state s3://bucket/extract_state \\
      --snapshot <input-snapshot-id> --run-id <id> \\
      --buckets 4096 --group-size 64

At 10^12-document scale: buckets are the unit of resume (pick buckets >>
executor count so stragglers rebalance) and group-size bounds the work
lost to a mid-run failure. Image bytes never shuffle: each group's
media-span metadata broadcasts onto its own media slice, so the broadcast
is about group-size / buckets of the corpus's span metadata.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(
        description="Resumable, bucketed OCR extraction of documents' media spans."
    )
    p.add_argument("--documents", required=True)
    p.add_argument("--media", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--state", required=True)
    p.add_argument("--snapshot", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=int, default=4096,
                   help="media_ref hash buckets; the unit of resume")
    p.add_argument("--group-size", type=int, default=64,
                   help="buckets per OCR job; each job broadcasts about "
                   "group-size / buckets of the span metadata")
    p.add_argument("--model-dir", default=None)
    args = p.parse_args()

    from newocr_spark.artifacts import get_model
    from newocr_spark.model import FontModel
    from newocr_spark.pipeline.session import build_session
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner
    from newocr_spark.sources import DOCUMENTS_SCHEMA

    spark = build_session(app="newocr-extract")
    model = (
        FontModel.load(args.model_dir) if args.model_dir else get_model()
    )
    runner = ExtractRunner(
        spark, model, args.output, ParquetStateStore(spark, args.state),
        n_buckets=args.buckets, group_size=args.group_size,
    )
    # declared schemas: no schema-inference job per input
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(args.documents)
    media = spark.read.schema("media_ref string, png binary").parquet(args.media)
    stats = runner.run(docs, media, input_snapshot=args.snapshot, run_id=args.run_id)
    print(json.dumps(stats, sort_keys=True))


if __name__ == "__main__":
    main()
