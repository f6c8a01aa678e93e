"""Resumable checkpointing with per-partition lineage + metrics.

Implements FIXTURES.md §6 / SURVEY §4 item 4: the extraction job over a
10^12-document table must survive restarts without duplicating or losing
documents. The checkpointed unit is the EXPENSIVE stage — per-image OCR —
keyed on the media table itself:

  * media rows get a deterministic bucket
    ``pmod(xxhash64(media_ref), n_buckets)`` — stable across runs and
    snapshots. Bucketing on the media key (not doc_id) means a bucket
    group touches only ITS OWN slice of the image bytes; with the media
    table stored partitioned/bucketed the same way, each group is a
    partition-pruned scan instead of a full pass (a doc-keyed bucket
    can reference media anywhere, forcing every group to rescan all
    media — measured 4.4x overhead before this design);
  * buckets are processed in groups. Each group runs the same OCR step
    as ``extract_spans`` (pipeline/extract.py ``_ocr``) on its own slice:
    the media rows AND the media-span metadata are both filtered to the
    group's buckets, so each group broadcasts about group_size /
    n_buckets of the corpus's span metadata (pick n_buckets to keep that
    within the broadcast budget);
  * each group's OCR output lands in an intermediate sink partitioned by
    bucket with dynamic partition overwrite (idempotent — re-running a
    group replaces exactly its own partitions); per-bucket metrics are
    aggregated from the WRITTEN rows (never by re-executing the OCR plan);
  * after a group commits, one state row per bucket is appended with
    lineage (input snapshot, doc-id range) and metrics (docs, glyphs,
    errors, wall ms, attempt);
  * resume = read the state table, skip buckets already committed for the
    same input snapshot; everything else is recomputed;
  * once all buckets are committed, the CHEAP assembly stage — the same
    ``_assemble`` as ``extract_spans``: a union of the text spans, the
    intermediate and missing-media error rows, each carrying the ``seq``
    numbered at split time — runs once, an idempotent full overwrite.

All writes and the state log go through the SpanSink / StateStore seam
(pipeline/sinks.py): the shipped implementation is Parquet (this sandbox
has no Iceberg runtime on the classpath), and the Iceberg classes there
are drop-ins — ``overwritePartitions()`` for the per-bucket sinks,
``createOrReplace()`` for the assembly, MERGE keyed on
(input_snapshot, partition_id) for the state commits. The unit of
idempotency is identical; sinks.py documents the mapping guarantee by
guarantee.
"""

from __future__ import annotations

import datetime
import hashlib
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import FontModel
from . import extract
from .sinks import ParquetSpanSink, SpanSink, StateStore


@dataclass
class ExtractRunner:
    """Bucketed, resumable driver for the extraction job."""

    spark: SparkSession
    model: FontModel
    output_path: str
    state: StateStore
    n_buckets: int = 16
    group_size: int = 4
    # test hook: raise after committing this many groups (simulated crash)
    fail_after_groups: int | None = None
    # sink seam: default parquet sinks derive from output_path; pass
    # IcebergSpanSink instances (sinks.py) on a catalog deployment — the
    # runner never touches paths or write modes itself
    ocr_sink: SpanSink | None = None
    out_sink: SpanSink | None = None

    def __post_init__(self) -> None:
        if self.ocr_sink is None:
            self.ocr_sink = ParquetSpanSink(self.spark, self.output_path + "_ocr")
        if self.out_sink is None:
            self.out_sink = ParquetSpanSink(self.spark, self.output_path)

    def _bucket_of(self, col: str):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def snapshot_key(self, input_snapshot: str) -> str:
        """Effective checkpoint key: the snapshot id, n_buckets and a digest
        of ``OCR_OUTPUT_SCHEMA``. Dynamic partition overwrite only replaces
        bucket partitions PRESENT in the current run's output, so a rerun
        against a changed input, bucketing or intermediate schema could
        otherwise resume from stale (or null-column) rows. Every intermediate
        row is tagged with this key and both the metrics read and the
        assembly filter on it — stale rows never reach the output."""
        schema = hashlib.blake2b(extract.OCR_OUTPUT_SCHEMA.encode(), digest_size=4)
        return f"{input_snapshot}#b{self.n_buckets}#s{schema.hexdigest()}"

    def _read_intermediate(self) -> DataFrame:
        return self.ocr_sink.read(
            extract.OCR_OUTPUT_SCHEMA + ", snapshot string, bucket int"
        )

    def run(self, documents: DataFrame, media: DataFrame, input_snapshot: str, run_id: str) -> dict:
        snap = self.snapshot_key(input_snapshot)
        done = self.state.completed_buckets(snap)
        attempt = self.state.attempts(snap) + 1
        todo = [b for b in range(self.n_buckets) if b not in done]
        groups = [
            todo[i : i + self.group_size]
            for i in range(0, len(todo), self.group_size)
        ]

        text_spans, meta = extract._split(documents)
        bmodel = self.spark.sparkContext.broadcast(self.model)
        try:
            stats = {"groups_run": 0, "buckets_done": len(done)}
            for group in groups:
                t0 = time.time()
                # media-keyed bucket filter on both join sides: only this
                # group's image bytes are read (a partition-pruned scan when
                # media is stored bucketed) and only its metadata broadcasts
                in_group = self._bucket_of("media_ref").isin(group)
                ocr = (
                    extract._ocr(media.filter(in_group), meta.filter(in_group), bmodel)
                    .withColumn("bucket", self._bucket_of("media_ref"))
                    .withColumn("snapshot", F.lit(snap))
                )
                # idempotent per-bucket intermediate: replaces exactly this
                # group's bucket partitions (dynamic overwrite / Iceberg
                # overwritePartitions, per the sink)
                self.ocr_sink.overwrite_partitions(ocr, "bucket")
                wall_ms = int((time.time() - t0) * 1000)
                # metrics from the WRITTEN rows — never re-execute the OCR plan;
                # explicit schema so an all-empty group (no data files yet)
                # reads as an empty frame instead of a schema-inference error
                metrics = (
                    self._read_intermediate()
                    .filter((F.col("snapshot") == snap) & F.col("bucket").isin(group))
                    .groupBy("bucket")
                    .agg(
                        F.countDistinct("doc_id").alias("docs_done"),
                        F.sum("glyph_count").alias("glyph_count"),
                        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                            "error_count"
                        ),
                        F.min("doc_id").alias("doc_id_min"),
                        F.max("doc_id").alias("doc_id_max"),
                    )
                    .collect()
                )
                by_bucket = {r.bucket: r.asDict() for r in metrics}
                now = datetime.datetime.now(datetime.timezone.utc)
                self.state.append([
                    {
                        "run_id": run_id, "partition_id": int(b), "input_snapshot": snap,
                        "doc_id_min": None, "doc_id_max": None,
                        "docs_done": 0, "glyph_count": 0, "error_count": 0,
                        **by_bucket.get(b, {}),
                        "wall_ms": wall_ms, "attempt": attempt, "committed_at": now,
                    }
                    for b in group
                ])
                stats["groups_run"] += 1
                stats["buckets_done"] += len(group)
                if self.fail_after_groups is not None and stats["groups_run"] >= self.fail_after_groups:
                    raise RuntimeError(
                        f"injected failure after {stats['groups_run']} group(s) (test hook)"
                    )

            # ---- assembly stage (cheap, idempotent): runs once all buckets are
            # committed, over the intermediate (never prior-snapshot rows)
            if stats["buckets_done"] >= self.n_buckets:
                ocr_all = (
                    self._read_intermediate()
                    .filter(F.col("snapshot") == snap)
                    .drop("bucket", "snapshot")
                )
                final = extract._assemble(text_spans, ocr_all, meta, media).withColumn(
                    "bucket", self._bucket_of("doc_id")
                )
                # FULL overwrite: the assembly is the one stage allowed to
                # rewrite everything — a dynamic/partition overwrite of a
                # shrunken snapshot would leave prior-run output partitions in
                # buckets this run doesn't touch. The runner's one exchange
                # gathers each bucket, so no union partition writes a file per bucket
                self.out_sink.overwrite_all(final.repartition("bucket"), "bucket")
            return stats
        finally:
            # also on the injected-failure path: a long-lived session that
            # runs many backfills keeps no model pickle per run
            bmodel.destroy()

    def read_output(self) -> DataFrame:
        return self.out_sink.read()
