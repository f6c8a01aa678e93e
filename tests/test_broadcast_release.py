"""The EAGER operators (ngram bitmap, embedding near-dup, LSH/IVF ANN)
create SparkContext broadcasts at DataFrame-construction time that live
until context GC — a long-lived session looping over them accumulates
pinned executor memory. `release_broadcasts` frees them deterministically
(VERDICT r3 #8)."""

import pytest

from newocr_spark.analytics.dedup import ngram_jaccard_pairs, release_broadcasts
from newocr_spark.analytics.similarity import embedding_neardup_pairs

SF_DIR = "/root/testdata/sf0.001"


def test_no_broadcast_leak_across_iterations(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    for _ in range(10):
        df = embedding_neardup_pairs(emb, threshold=0.4)
        assert df.count() >= 0
        released = release_broadcasts(df)
        assert released == 1  # the (ids, matrix, norms) triple
        assert release_broadcasts(df) == 0  # idempotent
    # a destroyed broadcast is actually gone: re-executing the frame fails
    with pytest.raises(Exception):
        df.count()


def test_ngram_bitmap_broadcasts_released(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = ngram_jaccard_pairs(docs, threshold=0.5, strategy="bitmap")
    assert df.count() > 0
    # only the packed matrix stays attached: the vocab->bit map is fully
    # drained by the executor-side pack collect and destroyed EAGERLY
    # inside the operator rather than riding until release
    assert release_broadcasts(df) == 1
    with pytest.raises(Exception):
        df.count()


def test_stream_extract_releases_model_broadcasts(spark, font_model, tmp_path):
    """Each micro-batch's extract_spans broadcasts the font model; the
    stream frees it once the batch is written, so a long-running stream
    keeps no broadcast pickle per batch in the driver's temp dir."""
    import os
    import shutil

    from newocr_spark.fixtures import synth_fixture
    from newocr_spark.pipeline.streaming import stream_extract

    d = str(tmp_path / "fx")
    synth_fixture(d, n_docs=8, seed=5, model=font_model, verify=False)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    docs_dir = str(tmp_path / "docs_stream")
    os.makedirs(docs_dir)
    for i, cond in enumerate(("doc_id < 'doc-000004'", "doc_id >= 'doc-000004'")):
        docs.filter(cond).coalesce(1).write.parquet(str(tmp_path / f"h{i}"))
    media = spark.read.parquet(f"{d}/media.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))

    for i in range(2):  # two trigger-once runs on one checkpoint: two micro-batches
        src = [f for f in os.listdir(str(tmp_path / f"h{i}")) if f.endswith(".parquet")][0]
        shutil.copy(str(tmp_path / f"h{i}" / src), f"{docs_dir}/part-{i}.parquet")
        stream_extract(spark, docs_dir, media, font_model, out, ckpt).awaitTermination(120)

    assert spark.read.parquet(out).select("batch_id").distinct().count() == 2
    assert len(os.listdir(temp_dir)) == before


def test_extract_runner_releases_model_broadcast(spark, font_model, tmp_path):
    """ExtractRunner.run broadcasts the font model once per run and frees
    it when the run returns and when it crashes, so a long-lived session
    that runs many backfills keeps no model pickle per run."""
    import os

    from newocr_spark.fixtures import synth_fixture
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    d = str(tmp_path / "fx")
    synth_fixture(d, n_docs=8, seed=5, model=font_model, verify=False)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    media = spark.read.parquet(f"{d}/media.parquet")
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))

    for i, fail_after in enumerate((None, 1, None)):
        runner = ExtractRunner(
            spark, font_model, str(tmp_path / f"out{i}"),
            ParquetStateStore(spark, str(tmp_path / f"state{i}")),
            n_buckets=2, group_size=1, fail_after_groups=fail_after,
        )
        if fail_after is None:
            assert runner.run(docs, media, "snap", f"run-{i}")["buckets_done"] == 2
        else:
            with pytest.raises(RuntimeError, match="injected failure"):
                runner.run(docs, media, "snap", f"run-{i}")

    assert len(os.listdir(temp_dir)) == before
