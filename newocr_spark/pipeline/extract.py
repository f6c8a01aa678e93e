"""The flagship extraction job (SURVEY §3.1, Spark-native re-expression).

    documents ─posexplode─▶ spans ─┬─ kind='text' ──────────────────────────┐
     (_split: seq numbered here)   └─ kind='media' (doc_id, seq, offset,    │
                                      media_ref) ──broadcast──┐             │
    media (media_ref, png) ─────────────────────────────── join             │
        └ mapInPandas(OCR kernel, keys pass through) (_ocr) ────────────────┤
                                                                            ▼
      text ∪ OCR ∪ missing-media error rows, a plain union (_assemble)
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
  * the media-span metadata (doc_id, seq, offset, media_ref) broadcasts onto
    the media table, so image bytes never shuffle: OCR runs on the media
    table's own size-balanced partitioning (parquet splits are bounded by
    maxPartitionBytes). ``extract_spans`` broadcasts the whole slice's
    metadata; ``ExtractRunner`` broadcasts only its current bucket group's
    share, which shrinks the broadcast by about n_buckets / group_size;
  * missing media is found by a metadata-only anti-join (no bytes move)
    and surfaces as an error row, never a silently dropped span;
  * everything before/after the UDF is plain DataFrame ops — Catalyst
    pushes the kind filter and column pruning into the parquet scan.

At 100 TB: the documents scan is columnar with only (doc_id, spans) read;
image bytes never shuffle; ``seq`` is numbered inside each documents row, so
no stage groups by doc_id and the only wide op is the metadata-only
missing-media anti-join — no skewed keys, no per-doc window.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.dedup import _attach_broadcasts
from ..model import FontModel

OCR_OUTPUT_SCHEMA = (
    "doc_id string, seq int, offset int, kind string, text string, media_ref string, "
    "glyph_count long, line_count int, font_size_pt double, error string"
)


def make_ocr_udf(broadcast_model):
    """mapInPandas generator: (key columns..., png) batches → the keys, passed
    through unnamed, + recognized spans + per-image metrics. Decode → binarize
    → kernel scan, all numpy inside the Arrow batch (north rule: no per-row
    Python at the DataFrame level — the per-image loop is the reference's own
    granularity)."""

    def ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs.bmp import decode_image
        from ..kernel.grid import binarize
        from ..kernel.metrics import font_size_of
        from ..kernel.scan import render_text, scan_grid
        from .session import skip_unchanged_zip_rescans

        skip_unchanged_zip_rescans()
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
            yield pdf.drop(columns="png").assign(
                kind="text", text=texts, glyph_count=glyphs, line_count=line_counts,
                font_size_pt=font_sizes, error=errors,
            )

    return ocr_batches


def _split(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """documents → (text spans (doc_id, seq, offset, kind, text), media-span
    metadata (doc_id, seq, offset, media_ref)).

    ``seq`` is numbered once, here: ``posexplode`` over each row's text and
    media spans sorted by (offset, kind, text, media_ref); later stages carry
    it, so the output needs no per-doc window. Tied offsets number in that
    order; ``seq`` depends only on the documents table (a media_ref twice in
    the media table gives two OCR rows with one ``seq``); two documents rows
    with one doc_id each number from 0; other kinds and null spans are
    dropped unnumbered."""
    spans = documents.select(
        "doc_id",
        F.posexplode(F.expr(
            "sort_array(transform(filter(spans, s -> s.kind IN ('text', 'media')),"
            " s -> struct(s.offset, s.kind, s.text, s.media_ref)))"
        )).alias("seq", "span"),
    ).select("doc_id", "seq", "span.*")
    text_spans = spans.filter(F.col("kind") == "text").drop("media_ref")
    meta = spans.filter(F.col("kind") == "media").drop("kind", "text")
    return text_spans, meta


def _ocr(media: DataFrame, meta: DataFrame, bmodel) -> DataFrame:
    """OCR rows for the media spans in ``meta`` whose bytes are in ``media``.
    The metadata slice broadcasts onto the media rows, so image bytes never
    shuffle and the UDF runs on the media table's own partitioning."""
    return (
        media.select("media_ref", "png")
        .join(F.broadcast(meta), "media_ref", "inner")
        .select("doc_id", "seq", "offset", "media_ref", "png")
        .mapInPandas(make_ocr_udf(bmodel), OCR_OUTPUT_SCHEMA)
    )


def _assemble(
    text_spans: DataFrame, ocr_spans: DataFrame, meta: DataFrame, media: DataFrame
) -> DataFrame:
    """text rows ∪ OCR rows ∪ missing-media error rows, each carrying the
    ``seq`` ``_split`` gave it; a column a row lacks is null, and its counts
    are 0. Missing media is found by a metadata-only anti-join: no bytes move."""
    missing = meta.join(media.select("media_ref"), "media_ref", "left_anti").select(
        "*", F.lit("text").alias("kind"), F.lit("ValueError: missing media bytes").alias("error")
    )
    return text_spans.unionByName(ocr_spans, True).unionByName(missing, True).select(
        "doc_id", "seq", "kind", "text", "media_ref", "offset",
        F.coalesce("glyph_count", F.lit(0)).alias("glyph_count"),
        F.coalesce("line_count", F.lit(0)).alias("line_count"), "font_size_pt", "error",
    )


def extract_spans(
    spark: SparkSession, documents: DataFrame, media: DataFrame, model: FontModel
) -> DataFrame:
    """documents (doc_id, spans) + media (media_ref, png) → extracted spans
    (doc_id, seq, kind, text, media_ref, offset, glyph_count, line_count,
    font_size_pt, error).

    The whole slice's media-span metadata is broadcast; a corpus whose
    metadata outgrows the broadcast budget goes through ExtractRunner
    (pipeline/state.py), which bounds it per bucket group. The model
    broadcast rides on the frame: ``release_broadcasts`` frees it after
    the last action (a stream does so per micro-batch)."""
    text_spans, meta = _split(documents)
    bmodel = spark.sparkContext.broadcast(model)
    ocr_spans = _ocr(media, meta, bmodel)
    return _attach_broadcasts(_assemble(text_spans, ocr_spans, meta, media), bmodel)


def assemble_documents(extracted: DataFrame) -> DataFrame:
    """O5: splice recognized spans back into per-doc ordered arrays.
    sort_array on struct sorts by the first field = ``seq``, the offset
    order ``_split`` numbered, ties included (SURVEY §2f O5)."""
    return extracted.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("seq", "offset", "kind", "text", "media_ref"))
        ).alias("spans"),
        F.sum("glyph_count").alias("glyph_count"),
        F.max(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("has_error"),
    )
