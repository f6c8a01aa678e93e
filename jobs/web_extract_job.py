#!/usr/bin/env python
"""Cluster entry point: resumable web main-content extraction via
spark-submit (north_rule round-2 pipeline).

  python scripts/package.py
  spark-submit --py-files dist/newocr_spark.zip jobs/web_extract_job.py \\
      --documents s3://bucket/raw_pages --html-col html \\
      --media s3://bucket/media --output s3://bucket/extracted \\
      --state s3://bucket/web_state --snapshot <id> --run-id <id> \\
      --buckets 4096 --group-size 64

Stage 1 (narrow, stateless): HTML boilerplate strip → interleaved spans
(the input_hint table shape). Stage 2 (expensive, checkpointed): the
bucketed, resumable OCR of media spans via pipeline/state.ExtractRunner —
the same per-partition lineage + metrics machinery as the OCR job, because
the web pipeline EMITS the table that job consumes. With --html-col the
documents table holds stored raw pages; without it the deterministic
fixture corpus (doc_id, text) is synthesized into pages first.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--documents", required=True)
    p.add_argument("--html-col", default=None,
                   help="column holding stored raw HTML; omit for the "
                   "deterministic fixture corpus (doc_id, text)")
    p.add_argument("--media", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--state", required=True)
    p.add_argument("--snapshot", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=int, default=4096)
    p.add_argument("--group-size", type=int, default=64)
    p.add_argument("--model-dir", default=None)
    args = p.parse_args()

    from newocr_spark.artifacts import get_model
    from newocr_spark.model import FontModel
    from newocr_spark.pipeline.session import build_session
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner
    from newocr_spark.web.extract import html_to_documents

    spark = build_session(app="newocr-web-extract")
    model = FontModel.load(args.model_dir) if args.model_dir else get_model()
    corpus = spark.read.parquet(args.documents)
    docs = html_to_documents(corpus, html_col=args.html_col)
    media = spark.read.parquet(args.media)
    runner = ExtractRunner(
        spark, model, args.output, ParquetStateStore(spark, args.state),
        n_buckets=args.buckets, group_size=args.group_size,
    )
    stats = runner.run(docs, media, input_snapshot=args.snapshot, run_id=args.run_id)
    print(json.dumps(stats, sort_keys=True))


if __name__ == "__main__":
    main()
