"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch (SURVEY §2j: no watermarks/streaming state
exist to port); this wrapper is Spark-native infrastructure for continuous
ingestion of new document files: ``readStream`` over the documents
directory → ``foreachBatch`` → the same ``extract_spans`` plan per
micro-batch, with Spark's own checkpointLocation providing exactly-once
file-source progress (complementing the doc-bucket state table used for
batch backfills, pipeline/state.py).

Every stream here reuses the batch operators it mirrors instead of a copy
of them, and shares its wiring:

  * ``_source`` is the one file source (schema read from the files already
    there unless given), ``_start`` the one trigger policy and
    ``_append_parquet`` the one parquet sink;
  * ``_extract_stream`` is the one micro-batch body of ``stream_extract``
    and ``stream_web_extract``; the web stream maps ``html_to_documents``
    over the stream first;
  * ``stream_dedup_neardup`` keys on dedup.py's ``_windows``, ``_minhash``
    and ``_band_sig``, the expressions the batch LSH path runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..analytics.dedup import (
    N_BANDS, N_MINHASH, _band_sig, _minhash, _tokens, _windows, release_broadcasts,
)
from ..model import FontModel
from .extract import extract_spans


def _source(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """Streaming parquet source over ``path``; without a ``schema`` it is
    read from the files already there."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).options(**options).parquet(path)


def _start(writer, trigger_once: bool):
    """Start a stream writer; ``trigger_once`` drains the input available
    now and stops."""
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _append_parquet(
    stream: DataFrame, output_path: str, checkpoint_path: str, trigger_once: bool
):
    """Start ``stream`` appending its rows as parquet under ``output_path``."""
    writer = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    return _start(writer, trigger_once)


def _extract_stream(
    spark: SparkSession, docs: DataFrame, media: DataFrame, model: FontModel,
    output_path: str, checkpoint_path: str, trigger_once: bool,
):
    """Streaming documents frame → ``extract_spans`` per micro-batch,
    appended replay-safely; each batch's model broadcast is released once
    the batch is written."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        extracted = extract_spans(spark, batch_df, media, model)
        _idempotent_append(extracted, output_path, batch_id)
        release_broadcasts(extracted)

    writer = docs.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    return _start(writer, trigger_once)


def _epoch_ms_fn(session_tz: str):
    """Event-time → UTC epoch-ms converter for the stateful operators
    (ONE definition — stream_assemble and stream_dedup_neardup share the
    tz contract). Arrow hands applyInPandasWithState timestamps in the
    SESSION timezone while the GroupState APIs speak UTC epoch-ms;
    .timestamp() on a naive value assumes UTC, so a non-UTC session
    would shift every deadline by the tz delta. DST: an ambiguous local
    hour resolves to the DST side, a nonexistent hour shifts forward —
    the default `raise` would kill the whole query twice a year.
    Callers filter NULL event times upstream (one bad row must not
    poison the query); the assert here turns any slip into a clear
    message instead of pandas' opaque NaT ValueError."""
    import pandas as pd

    def _epoch_ms(ts) -> int:
        t = pd.Timestamp(ts)
        assert not pd.isna(t), (
            "null event time reached the stateful operator — upstream "
            "must filter NULL timestamps"
        )
        if t.tzinfo is None:
            t = t.tz_localize(
                session_tz, ambiguous=True, nonexistent="shift_forward"
            )
        return int(t.timestamp() * 1000)

    return _epoch_ms


def _idempotent_append(df: DataFrame, output_path: str, batch_id: int) -> None:
    """Replay-safe foreachBatch sink. The file-source checkpoint gives
    exactly-once PROGRESS, but a crash between a plain mode('append')
    write and the micro-batch's checkpoint commit would replay the batch
    and append its rows a second time. Structured Streaming replays an
    uncommitted batch under the SAME batch_id, so writing each batch to
    its own batch_id=N partition directory with overwrite makes the
    replay overwrite its previous (possibly partial) output instead —
    the standard idempotent-foreachBatch pattern. Readers of the output
    root see batch_id as an extra partition column."""
    df.write.mode("overwrite").parquet(f"{output_path}/batch_id={batch_id}")


def stream_extract(
    spark: SparkSession,
    documents_path: str,
    media: DataFrame,
    model: FontModel,
    output_path: str,
    checkpoint_path: str,
    schema=None,
    trigger_once: bool = True,
):
    """Start a streaming query: new document parquet files → extracted spans.

    Returns the StreamingQuery; callers await .awaitTermination(). With
    trigger_once=True this drains available input and stops — the pattern
    for incremental backfill jobs.
    """
    return _extract_stream(
        spark, _source(spark, documents_path, schema), media, model,
        output_path, checkpoint_path, trigger_once,
    )


def stream_web_extract(
    spark: SparkSession,
    corpus_path: str,
    media: DataFrame,
    model: FontModel,
    output_path: str,
    checkpoint_path: str,
    html_col: str | None = None,
    schema=None,
    trigger_once: bool = True,
):
    """Continuous ingestion for the round-2 web pipeline: new raw-page
    files → boilerplate strip → interleaved spans → OCR of media spans →
    extracted span rows, appended exactly-once per input file (file-source
    checkpoint). Same micro-batch composition as the batch job
    (jobs/web_extract_job.py): the HTML stage is stateless/narrow, so the
    streaming wrapper adds no state beyond the source progress log."""
    from ..web.extract import html_to_documents

    docs = html_to_documents(_source(spark, corpus_path, schema), html_col=html_col)
    return _extract_stream(
        spark, docs, media, model, output_path, checkpoint_path, trigger_once
    )


def stream_metrics(
    spark: SparkSession,
    extracted_path: str,
    output_path: str,
    checkpoint_path: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    schema=None,
    trigger_once: bool = True,
):
    """Watermarked event-time rollup over the extraction output stream:
    per-window doc/glyph/error counts, tolerating late rows up to the
    watermark (classic Structured Streaming state management — late data
    beyond the delay is dropped, state for closed windows is evicted, so
    the operator's memory is bounded on an unbounded stream).

    Expects rows with a `committed_at` timestamp column (the state-table
    sink writes one; batch outputs can synthesize it). Append output mode:
    a window emits once, when the watermark passes its end."""
    from pyspark.sql import functions as F

    stream = _source(spark, extracted_path, schema)
    agg = (
        stream.withWatermark("committed_at", watermark_delay)
        .groupBy(F.window("committed_at", window_duration).alias("win"))
        .agg(
            F.count("*").alias("spans"),
            # exact distinct is unsupported in streaming aggs; HLL sparse
            # mode is exact at per-window doc counts this small anyway
            F.approx_count_distinct("doc_id").alias("docs"),
            F.sum("glyph_count").alias("glyphs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "spans", "docs", "glyphs", "errors",
        )
    )
    return _append_parquet(agg, output_path, checkpoint_path, trigger_once)


def stream_assemble(
    spark: SparkSession,
    spans_path: str,
    output_path: str,
    checkpoint_path: str,
    gap_seconds: int = 300,
    watermark_delay: str = "10 seconds",
    schema=None,
    trigger_once: bool = True,
):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    cross-micro-batch per-document span assembly.

    Spans for one document can arrive across micro-batches (sharded
    extraction, multi-part uploads). Per ``doc_id``, arriving spans are
    buffered in group state; when the event-time watermark passes the
    document's last span + ``gap_seconds`` (an event-time *session gap*),
    the document is assembled in offset order, emitted once, and its state
    evicted — so state is bounded on an unbounded stream and a document is
    never emitted half-complete. This is the stateful pattern the built-in
    windowed aggregates can't express: the emission condition is per-KEY
    quiescence, not a fixed window boundary.

    Expects span rows with a ``committed_at`` timestamp (the state-table
    sink writes one). Output: one row per completed document with span
    counts and the offset-ordered text body.

    State layout: TYPED parallel arrays (seqs/offsets/is_media/texts), not
    a JSON blob — per-span state cost is the Arrow-encoded scalar width
    (no quoting/key overhead, no per-batch json parse/serialize of the
    whole buffer), bounded-tested with a multi-thousand-span document in
    tests/test_metrics_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Arrow renders committed_at as a tz-NAIVE pandas timestamp in the
    # SESSION timezone, while getCurrentWatermarkMs/setTimeoutTimestamp are
    # UTC epoch-ms; .timestamp() on a naive value assumes UTC, so on a
    # non-UTC session the quiesce deadline would shift by the tz delta
    # (early → duplicate half-complete docs; late → docs held past the
    # gap). Localize to the session tz before epoch conversion.
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    stream = (
        # one file = one micro-batch
        _source(spark, spans_path, schema, maxFilesPerTrigger=1)
        # a NULL event time would reach the stateful operator and kill
        # the whole query (NaT has no epoch); drop such rows here — one
        # bad upstream row must not poison continuous ingestion
        .filter("committed_at IS NOT NULL")
        .withWatermark("committed_at", watermark_delay)
        .select("doc_id", "seq", "kind", "text", "offset", "committed_at")
    )

    out_schema = "doc_id string, n_spans int, n_media int, text string"
    state_schema = (
        "seqs array<int>, offsets array<int>, is_media array<boolean>, "
        "texts array<string>, last_ms long"
    )

    _epoch_ms = _epoch_ms_fn(session_tz)

    def assemble(key, pdfs, state):
        if state.hasTimedOut:
            seqs, offsets, is_media, texts, _last = state.get
            order = sorted(range(len(seqs)), key=lambda i: (offsets[i], seqs[i]))
            body = [
                texts[i] for i in order if not is_media[i] and texts[i]
            ]
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "doc_id": key[0],
                        "n_spans": len(seqs),
                        "n_media": int(sum(1 for m in is_media if m)),
                        "text": "\n\n".join(body),
                    }
                ]
            )
            return
        seqs, offsets, is_media, texts = [], [], [], []
        last_ms = 0
        if state.exists:
            seqs, offsets, is_media, texts, last_ms = state.get
            seqs, offsets = list(seqs), list(offsets)
            is_media, texts = list(is_media), list(texts)
        for pdf in pdfs:
            for r in pdf.itertuples():
                seqs.append(int(r.seq))
                offsets.append(int(r.offset))
                is_media.append(str(r.kind) == "media")
                texts.append(None if pd.isna(r.text) else str(r.text))
                last_ms = max(last_ms, _epoch_ms(r.committed_at))
        state.update((seqs, offsets, is_media, texts, last_ms))
        # quiesce deadline; a timeout at-or-before the watermark would be
        # rejected, so clamp just past it (fires next micro-batch)
        state.setTimeoutTimestamp(
            max(last_ms + gap_seconds * 1000, state.getCurrentWatermarkMs() + 1)
        )

    assembled = stream.groupBy("doc_id").applyInPandasWithState(
        assemble,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _append_parquet(assembled, output_path, checkpoint_path, trigger_once)


def stream_dedup_neardup(
    spark: SparkSession,
    documents_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark_delay: str = "10 minutes",
    horizon: str = "10 minutes",
    ts_col: str = "ingested_at",
    n: int = 2,
    schema=None,
    trigger_once: bool = True,
):
    """Continuous NEAR-duplicate suppression at ingestion: the streaming
    subset of the batch MinHash+LSH path (`analytics/dedup.minhash_lsh_pairs`)
    — band-signature equality as the streaming dedup key.

    Per arriving document the MinHash signature is computed NARROWLY
    (per-row `array_min` over the salted hashes of its shingle array — no
    shuffle, no groupBy). The shingle window, salted hash and band
    signature are dedup.py's own `_windows`, `_minhash` and `_band_sig`, so
    the streaming key space is the batch `_band_rows` key space. Each doc
    explodes into its N_BANDS (band, sig) keys; a doc is suppressed iff ANY
    band signature was claimed by an earlier doc within the horizon — the
    exact LSH candidate condition, evaluated incrementally.

    This is semantically `dropDuplicatesWithinWatermark` keyed on band
    signatures, but the built-in can't express it: per (band, sig) bucket
    its surviving ROW is arbitrary, so two exact copies landing in one
    micro-batch could split the four buckets between them and BOTH be
    dropped. Instead a custom stateful operator (`applyInPandasWithState`
    keyed on (band, sig)) claims each bucket for a deterministic winner
    (earliest ts, then smallest doc_id), and a doc is emitted iff it won
    ALL of its bands. State per bucket is one long (last-seen epoch-ms):

      * bounded — EventTimeTimeout eviction when the watermark passes
        last-seen + horizon, exactly like dropDuplicatesWithinWatermark's
        state; at 100 TB state ≈ N_BANDS longs per distinct doc per
        horizon, hash-partitioned across executors;
      * horizon-exact on re-emission — a claim older than `horizon` in
        event time is treated as expired even if the eviction timeout
        hasn't fired yet, so a re-crawl after the horizon re-emits
        deterministically rather than whenever state cleanup ran.

    Docs too short to shingle (< n tokens) get a per-doc unique band key
    (they never pair in the batch path either) and always pass. The final
    keep-iff-all-bands-novel vote runs batch-locally in `foreachBatch`:
    a doc's band rows are exploded from one source row, so they always
    share a micro-batch. Emits (doc_id, text, ts) for kept docs.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    horizon_ms = int(pd.Timedelta(horizon).total_seconds() * 1000)
    session_tz = spark.conf.get("spark.sql.session.timeZone")

    stream = (
        _source(spark, documents_path, schema)
        # NULL event time would NaT-crash the stateful operator
        .filter(f"{ts_col} IS NOT NULL")
    )

    # narrow per-row shingling (dedup._shingles semantics, sans distinct —
    # min over a multiset equals min over its set). Project toks/shingles
    # into columns first: referencing the split() expression inside the
    # lambda defeats CSE across the lambda boundary (see dedup._shingles).
    shingled = stream.withColumn("toks", _tokens(F.col("text"))).withColumn(
        "shingles", _windows(F.col("toks"), n)
    )

    def _mh(i: int):
        # a closure per row i: F.transform reads a two-parameter lambda
        # (say one with an i=i default) as (element, index)
        return F.array_min(F.transform(F.col("shingles"), lambda s: _minhash(i, s)))

    sigs = shingled.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text",
        F.col(ts_col).alias("ts"),
        *[_mh(i).alias(f"mh{i}") for i in range(N_MINHASH)],
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.when(F.col("mh0").isNotNull(), _band_sig(b)).otherwise(
                    # sub-n-token docs have no signature and never pair
                    # (no shingle, so no _signatures_from row): key on
                    # (doc_id, ts) so the key never collides — not even
                    # with the SAME doc_id re-ingested later, which the
                    # batch path would also keep (doc_id alone would
                    # self-suppress a re-crawl of a short doc inside the
                    # horizon)
                    F.concat_ws(
                        ":", F.lit("uniq"), F.col("doc_id"),
                        F.col("ts").cast("long").cast("string"),
                    )
                ).alias("sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = (
        sigs.select("doc_id", "text", "ts", F.explode(band_structs).alias("bs"))
        .select(
            "doc_id",
            # the full document text rides ONLY its band-0 row through
            # the stateful shuffle — the other N_BANDS-1 rows carry a
            # NULL and the sink reassembles with first(ignorenulls), so
            # per-doc text bytes on the exchange stay 1x, not N_BANDS x
            F.when(F.col("bs.band") == 0, F.col("text")).alias("text"),
            "ts",
            F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
        )
        .withWatermark("ts", watermark_delay)
    )

    _epoch_ms = _epoch_ms_fn(session_tz)

    out_schema = "doc_id string, band int, text string, ts timestamp, novel boolean"
    state_schema = "last_ms long"

    def claim(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        arr_ms = rows["ts"].map(_epoch_ms)
        prev_ms = state.get[0] if state.exists else None
        # horizon-exact expiry, WITHIN the batch as well as across
        # batches: walk the bucket's rows in event-time order (doc_id
        # tie-break), claiming every row that arrives more than the
        # horizon after the latest arrival seen before it. An
        # availableNow backfill that drains days of files into one
        # micro-batch thereby re-emits past-horizon re-crawls exactly
        # like the same files drained batch-by-batch would (the
        # cross-batch contract the re-emission test pins).
        novel = [False] * len(rows)
        last_ms = prev_ms
        order = sorted(
            range(len(rows)),
            key=lambda i: (int(arr_ms.iloc[i]), rows["doc_id"].iloc[i]),
        )
        for i in order:
            m = int(arr_ms.iloc[i])
            if last_ms is None or m > last_ms + horizon_ms:
                novel[i] = True
            last_ms = m if last_ms is None else max(last_ms, m)
        state.update((last_ms,))
        state.setTimeoutTimestamp(
            max(last_ms + horizon_ms, state.getCurrentWatermarkMs() + 1)
        )
        out = rows[["doc_id", "band", "text", "ts"]].copy()
        out["novel"] = novel
        yield out

    claimed = bands.groupBy("band", "sig").applyInPandasWithState(
        claim,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

    def emit_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = (
            batch_df.groupBy("doc_id")
            .agg(
                F.sum(F.when(F.col("novel"), 1).otherwise(0)).alias("n_novel"),
                F.count("*").alias("n_bands"),
                # text rides band 0 only (NULL elsewhere)
                F.first("text", ignorenulls=True).alias("text"),
                F.first("ts").alias("ts"),
            )
            .filter(F.col("n_novel") == F.col("n_bands"))
            .select("doc_id", "text", "ts")
        )
        # replay-safe: a crash between a plain append and the checkpoint
        # commit would re-append the batch on restart (the defect
        # _idempotent_append exists for — same sink discipline as
        # stream_extract / stream_web_extract)
        _idempotent_append(kept, output_path, batch_id)

    writer = (
        claimed.writeStream.outputMode("append")
        .foreachBatch(emit_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    return _start(writer, trigger_once)


def stream_dedup_exact(
    spark: SparkSession,
    documents_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark_delay: str = "10 minutes",
    ts_col: str = "ingested_at",
    schema=None,
    trigger_once: bool = True,
):
    """Continuous exact dedup at ingestion: emit each document CONTENT
    (md5 of text) once within the watermark horizon — the streaming
    analogue of `analytics/dedup.exact_duplicates` for pipelines that
    dedup as data lands instead of in a batch pass.

    `dropDuplicatesWithinWatermark` keys state on the content hash and
    EVICTS an entry once the watermark passes its event time — bounded
    state on an unbounded stream, where a plain `dropDuplicates` would
    grow state forever. A duplicate arriving within the horizon is
    suppressed; a re-crawl after the horizon re-emits and the downstream
    batch dedup catches it. At 100 TB the horizon is the policy knob:
    state ≈ distinct hashes per horizon × ~16 bytes, partitioned by hash
    across executors. Expects rows carrying a `ts_col` event-time column
    (ingestion sinks stamp one)."""
    from pyspark.sql import functions as F

    deduped = (
        _source(spark, documents_path, schema).withColumn("text_hash", F.md5("text"))
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    return _append_parquet(deduped, output_path, checkpoint_path, trigger_once)
