"""The flagship extraction job (SURVEY §3.1, Spark-native re-expression).

    documents ──explode──▶ spans ──┬─ kind='text' ─────────────────────────┐
                          (_split) └─ kind='media' (doc_id, offset,         │
                                      media_ref) ──broadcast──┐             │
    media (media_ref, png) ─────────────────────────────── join             │
                  └ mapInPandas(OCR kernel) (_ocr) ─────────────────────────┤
                                                                            ▼
      text ∪ OCR ∪ missing-media error rows ─ row_number per doc (_assemble)
          ─▶ extracted spans (groupBy(doc_id) + sort_array(collect_list(...))
             for the assembled-document variant)

One plan, two drivers: ``extract_spans`` runs ``_ocr`` over all media at
once; ``ExtractRunner`` (pipeline/state.py) runs it per bucket group into
a checkpointed intermediate and assembles from that. Both compose the same
three helpers below.

Physical design (SURVEY §4, "needs explicit engineering"):
  * the font model ships as ONE sc.broadcast of numpy arrays — the NN loop
    is numpy inside the Arrow UDF, zero per-lookup IO (vs the reference's
    per-character DB futures, OCRScan.java:209, OCRDatabaseManager.java:234-302);
  * the media-span metadata (doc_id, offset, media_ref) broadcasts onto the
    media table, so image bytes never shuffle: OCR runs on the media
    table's own size-balanced partitioning (parquet splits are bounded by
    maxPartitionBytes). ``extract_spans`` broadcasts the whole slice's
    metadata; ``ExtractRunner`` broadcasts only its current bucket group's
    share, which shrinks the broadcast by about n_buckets / group_size;
  * missing media is found by a metadata-only anti-join (no bytes move)
    and surfaces as an error row, never a silently dropped span;
  * everything before/after the UDF is plain DataFrame ops — Catalyst
    pushes the kind filter and column pruning into the parquet scan.

At 100 TB: the documents scan is columnar with only (doc_id, spans) read;
image bytes never shuffle; the wide shuffles carry only span metadata
(the missing-media anti-join) and output rows (the per-doc assembly,
keyed on the high-cardinality doc_id) — no skewed groupBy keys.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import FontModel

OCR_OUTPUT_SCHEMA = (
    "doc_id string, offset int, kind string, text string, media_ref string, "
    "glyph_count long, line_count int, font_size_pt double, error string"
)


def make_ocr_udf(broadcast_model):
    """mapInPandas generator: (doc_id, offset, media_ref, png) batches →
    recognized spans + per-image metrics. Decode → binarize → kernel scan,
    all numpy inside the Arrow batch (north rule: no per-row Python at the
    DataFrame level — the per-image loop is the reference's own granularity)."""

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs.bmp import decode_image
        from ..kernel.grid import binarize
        from ..kernel.metrics import font_size_of
        from ..kernel.scan import render_text, scan_grid

        model: FontModel = broadcast_model.value
        for pdf in batches:
            n = len(pdf)
            texts: list = [None] * n
            glyphs = [0] * n
            line_counts = [0] * n
            font_sizes: list = [None] * n
            errors: list = [None] * n
            for i, png in enumerate(pdf["png"]):
                try:
                    if png is None:
                        raise ValueError("missing media bytes")
                    lines = scan_grid(binarize(decode_image(png)), model)
                    texts[i] = render_text(lines)
                    glyphs[i] = int(sum(len(l) for _y, l in lines))
                    line_counts[i] = len(lines)
                    # A7: per-image mean font-size estimate
                    sizes = [
                        s for _y, line in lines for l in line
                        if l.letter != " " and (s := font_size_of(l, model)) is not None
                    ]
                    font_sizes[i] = sum(sizes) / len(sizes) if sizes else None
                except Exception as exc:  # per-image fault isolation
                    errors[i] = f"{type(exc).__name__}: {exc}"
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "offset": pdf["offset"].values,
                    "kind": ["text"] * n,
                    "text": texts,
                    "media_ref": pdf["media_ref"].values,
                    "glyph_count": glyphs,
                    "line_count": line_counts,
                    "font_size_pt": font_sizes,
                    "error": errors,
                }
            )

    return ocr_batches


def _split(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """documents → (text-span rows in the output shape, media-span metadata
    (doc_id, offset, media_ref))."""
    spans = documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).select("doc_id", "span.kind", "span.text", "span.media_ref", "span.offset")
    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id", "offset", F.lit("text").alias("kind"), "text",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("long").alias("glyph_count"),
        F.lit(0).cast("int").alias("line_count"),
        F.lit(None).cast("double").alias("font_size_pt"),
        F.lit(None).cast("string").alias("error"),
    )
    meta = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    )
    return text_spans, meta


def _ocr(media: DataFrame, meta: DataFrame, bmodel) -> DataFrame:
    """OCR rows for the media spans in ``meta`` whose bytes are in ``media``.
    The metadata slice broadcasts onto the media rows, so image bytes never
    shuffle and the UDF runs on the media table's own partitioning."""
    return (
        media.select("media_ref", "png")
        .join(F.broadcast(meta), "media_ref", "inner")
        .select("doc_id", "offset", "media_ref", "png")
        .mapInPandas(make_ocr_udf(bmodel), OCR_OUTPUT_SCHEMA)
    )


def _assemble(
    text_spans: DataFrame, ocr_spans: DataFrame, meta: DataFrame, media: DataFrame
) -> DataFrame:
    """text rows ∪ OCR rows ∪ missing-media error rows, numbered per doc.
    Missing media is found by a metadata-only anti-join: no bytes move."""
    missing = meta.join(media.select("media_ref"), "media_ref", "left_anti").select(
        "doc_id", "offset", F.lit("text").alias("kind"),
        F.lit(None).cast("string").alias("text"), "media_ref",
        F.lit(0).cast("long").alias("glyph_count"),
        F.lit(0).cast("int").alias("line_count"),
        F.lit(None).cast("double").alias("font_size_pt"),
        F.lit("ValueError: missing media bytes").alias("error"),
    )
    result = text_spans.unionByName(ocr_spans).unionByName(missing)
    seq = Window.partitionBy("doc_id").orderBy("offset")
    return result.withColumn("seq", (F.row_number().over(seq) - 1).cast("int")).select(
        "doc_id", "seq", "kind", "text", "media_ref", "offset",
        "glyph_count", "line_count", "font_size_pt", "error",
    )


def extract_spans(
    spark: SparkSession, documents: DataFrame, media: DataFrame, model: FontModel
) -> DataFrame:
    """documents (doc_id, spans) + media (media_ref, png) → extracted spans
    (doc_id, seq, kind, text, media_ref, offset, glyph_count, line_count,
    font_size_pt, error).

    The whole slice's media-span metadata is broadcast; a corpus whose
    metadata outgrows the broadcast budget goes through ExtractRunner
    (pipeline/state.py), which bounds it per bucket group."""
    text_spans, meta = _split(documents)
    ocr_spans = _ocr(media, meta, spark.sparkContext.broadcast(model))
    return _assemble(text_spans, ocr_spans, meta, media)


def assemble_documents(extracted: DataFrame) -> DataFrame:
    """O5: splice recognized spans back into per-doc ordered arrays.
    sort_array on struct sorts by the first field = offset (SURVEY §2f O5)."""
    return extracted.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("offset", "seq", "kind", "text", "media_ref"))
        ).alias("spans"),
        F.sum("glyph_count").alias("glyph_count"),
        F.max(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("has_error"),
    )
