"""Spark end-to-end tests: span-sequence equality vs golden fixtures
(BASELINE.json per-row invariant: (kind, text, media_ref, order) per doc),
plus checkpoint/resume (no dup/loss after a simulated crash)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory, font_model):
    from newocr_spark.fixtures import synth_fixture

    d = str(tmp_path_factory.mktemp("fixture"))
    synth_fixture(d, n_docs=60, seed=42, model=font_model, verify=True)
    return d


def _spans_by_doc(df):
    rows = df.select("doc_id", "seq", "kind", "text", "media_ref").collect()
    out = {}
    for r in rows:
        out.setdefault(r.doc_id, []).append((r.seq, r.kind, r.text, r.media_ref))
    return {k: [t[1:] for t in sorted(v)] for k, v in out.items()}


def test_extract_matches_golden(spark, font_model, fixture_dir):
    from newocr_spark.pipeline.extract import extract_spans

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")

    extracted = extract_spans(spark, docs, media, font_model)
    got = _spans_by_doc(extracted)
    exp = _spans_by_doc(golden)
    assert got == exp  # exact span-sequence equality, every doc
    # no OCR errors on clean fixtures
    assert extracted.filter(F.col("error").isNotNull()).count() == 0


def test_assembled_documents_ordered(spark, font_model, fixture_dir):
    from newocr_spark.pipeline.extract import assemble_documents, extract_spans

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    assembled = assemble_documents(
        extract_spans(spark, docs, media, font_model)
    )
    row = assembled.filter(F.size("spans") > 1).first()
    offsets = [s.offset for s in row.spans]
    assert offsets == sorted(offsets)


def test_ocr_assembled_orders_tied_offsets_by_seq(spark, monkeypatch):
    """The O5 query assembles each doc in ``seq`` order: a media span and a
    text span at one offset come out media first, as ``_split`` numbers
    them ('media' < 'text'), not by the rendered span string."""
    import __spark_entry__ as e
    from newocr_spark import fixtures
    from newocr_spark.font.render import render_text_png

    docs = spark.createDataFrame(
        [("d1", [("text", "b", None, 5), ("media", None, "m1", 5), ("text", "z", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("m1", bytearray(render_text_png(["ok 1"], 2)))], "media_ref string, png binary"
    )
    monkeypatch.setattr(fixtures, "corpus_fixture_tables", lambda *a, **k: (docs, media))
    rows = [tuple(r) for r in e._ocr_assembled(spark, "unused").collect()]
    assert rows == [("d1", "text|-|z || text|m1|ok 1 || text|-|b", 3)]


def _make_state(spark, tmp_path, kind):
    """The resume guarantees must hold through the StateStore INTERFACE,
    not through parquet semantics — parameterizing the suite over a
    directory-of-parquet log and a transactional sqlite row store proves
    the seam is real (VERDICT r3 #7)."""
    if kind == "sqlite":
        from newocr_spark.pipeline.sinks import SqliteStateStore

        return SqliteStateStore(spark, str(tmp_path / "state.db"))
    from newocr_spark.pipeline.sinks import ParquetStateStore

    return ParquetStateStore(spark, str(tmp_path / "state"))


@pytest.mark.parametrize("store", ["parquet", "sqlite"])
def test_resume_no_dup_no_loss(spark, font_model, fixture_dir, tmp_path, store):
    from newocr_spark.pipeline.state import ExtractRunner

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")

    out = str(tmp_path / "out")
    state = _make_state(spark, tmp_path, store)
    runner = ExtractRunner(
        spark, font_model, out, state, n_buckets=8, group_size=2,
        fail_after_groups=1,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(docs, media, input_snapshot="snap-1", run_id="run-a")
    done_after_crash = state.completed_buckets(runner.snapshot_key("snap-1"))
    assert 0 < len(done_after_crash) < 8

    # resume: only the remaining buckets run
    runner.fail_after_groups = None
    stats = runner.run(docs, media, input_snapshot="snap-1", run_id="run-b")
    assert stats["buckets_done"] == 8

    result = runner.read_output()
    # no duplicates
    dup = result.groupBy("doc_id", "seq").count().filter("count > 1").count()
    assert dup == 0
    # no loss: exact golden equality
    assert _spans_by_doc(result) == _spans_by_doc(golden)
    # lineage + metrics recorded
    st = state.read()
    assert st.filter(F.col("glyph_count") > 0).count() > 0
    assert set(r.partition_id for r in st.collect()) == set(range(8))


def test_parquet_state_unreadable_log_raises(spark, tmp_path):
    """Only a state log never written reads as "nothing done": an empty
    directory reads as empty, and a corrupt file in the log raises instead
    of making every resume recompute all buckets."""
    from py4j.protocol import Py4JJavaError

    from newocr_spark.pipeline.sinks import ParquetStateStore

    path = tmp_path / "state"
    assert ParquetStateStore(spark, str(path)).completed_buckets("s") == set()
    path.mkdir()
    assert ParquetStateStore(spark, str(path)).completed_buckets("s") == set()
    (path / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="part-0.parquet"):
        ParquetStateStore(spark, str(path)).completed_buckets("s")


@pytest.mark.parametrize("store", ["parquet", "sqlite"])
def test_idempotent_rerun(spark, font_model, fixture_dir, tmp_path, store):
    """Re-running an already-complete snapshot does nothing."""
    from newocr_spark.pipeline.state import ExtractRunner

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    out = str(tmp_path / "out")
    state = _make_state(spark, tmp_path, store)
    runner = ExtractRunner(spark, font_model, out, state, n_buckets=4, group_size=4)
    runner.run(docs, media, input_snapshot="s", run_id="r1")
    n1 = runner.read_output().count()
    stats = runner.run(docs, media, input_snapshot="s", run_id="r2")
    assert stats["groups_run"] == 0
    assert runner.read_output().count() == n1


def test_no_stale_rows_across_snapshots(spark, font_model, fixture_dir, tmp_path):
    """Re-running the same output path against a SMALLER input snapshot must
    not leak prior-snapshot rows: buckets with zero media in the new run
    keep their old partition directories (dynamic overwrite never touches
    them), so the assembly's snapshot filter is what protects the output."""
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")

    out = str(tmp_path / "out")
    state = ParquetStateStore(spark, str(tmp_path / "state"))
    runner = ExtractRunner(spark, font_model, out, state, n_buckets=8, group_size=4)
    runner.run(docs, media, input_snapshot="snap-A", run_id="rA")
    assert runner.read_output().count() == golden.count()

    cutoff = "doc-000020"
    docs2 = docs.filter(F.col("doc_id") < cutoff)
    refs2 = docs2.select(
        F.explode("spans").alias("s")
    ).select(F.col("s.media_ref").alias("media_ref")).dropna().distinct()
    media2 = media.join(refs2, "media_ref")
    runner.run(docs2, media2, input_snapshot="snap-B", run_id="rB")

    result = runner.read_output()
    stale = result.filter(F.col("doc_id") >= cutoff).count()
    assert stale == 0  # nothing from snap-A's larger corpus leaks through
    exp = _spans_by_doc(golden.filter(F.col("doc_id") < cutoff))
    assert _spans_by_doc(result) == exp


def test_bucket_count_change_is_isolated(spark, font_model, fixture_dir, tmp_path):
    """Changing n_buckets over the same output path re-keys the checkpoint
    (snapshot_key folds it in), so old-bucketing intermediates are ignored
    rather than mixed in."""
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")

    out = str(tmp_path / "out")
    state = ParquetStateStore(spark, str(tmp_path / "state"))
    r8 = ExtractRunner(spark, font_model, out, state, n_buckets=8, group_size=8)
    r8.run(docs, media, input_snapshot="s", run_id="r1")
    r4 = ExtractRunner(spark, font_model, out, state, n_buckets=4, group_size=4)
    stats = r4.run(docs, media, input_snapshot="s", run_id="r2")
    assert stats["groups_run"] == 1  # distinct key → recomputed, not skipped
    assert _spans_by_doc(r4.read_output()) == _spans_by_doc(golden)


@pytest.mark.parametrize("entry", ["extract_spans", "ExtractRunner"])
def test_missing_media_error_rows(spark, font_model, fixture_dir, tmp_path, entry):
    """A media span whose media_ref has no media row must surface as an
    error row (never silently vanish) — the same row from both entry
    points, with every other span equal to golden."""
    from newocr_spark.pipeline.extract import extract_spans
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")
    # drop one referenced media row
    victim = media.select("media_ref").first().media_ref
    pruned = media.filter(F.col("media_ref") != victim)

    if entry == "extract_spans":
        extracted = extract_spans(spark, docs, pruned, font_model)
    else:
        runner = ExtractRunner(
            spark, font_model, str(tmp_path / "out"),
            ParquetStateStore(spark, str(tmp_path / "state")), n_buckets=4, group_size=2,
        )
        runner.run(docs, pruned, input_snapshot="missing", run_id="r1")
        extracted = runner.read_output()

    cols = ("doc_id", "seq", "kind", "text", "media_ref", "glyph_count", "error")
    errs = [tuple(r) for r in extracted.filter(F.col("error").isNotNull()).select(*cols).collect()]
    (gold,) = golden.filter(F.col("media_ref") == victim).collect()
    assert errs == [
        (gold.doc_id, gold.seq, "text", None, victim, 0, "ValueError: missing media bytes")
    ]
    # every other span still present and equal to golden
    others = F.col("media_ref").isNull() | (F.col("media_ref") != victim)
    assert _spans_by_doc(extracted.filter(others)) == _spans_by_doc(golden.filter(others))


def test_runner_broadcasts_only_its_groups_metadata(
    spark, font_model, fixture_dir, tmp_path, monkeypatch
):
    """Each bucket group's OCR join gets only the media-span metadata whose
    media_ref falls in that group's buckets, not the whole corpus's."""
    from newocr_spark.pipeline import extract
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    seen = []
    real_ocr = extract._ocr

    def spy(media, meta, bmodel):
        seen.append(sorted(tuple(r) for r in meta.select("doc_id", "offset", "media_ref").collect()))
        return real_ocr(media, meta, bmodel)

    monkeypatch.setattr(extract, "_ocr", spy)
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    runner = ExtractRunner(
        spark, font_model, str(tmp_path / "out"),
        ParquetStateStore(spark, str(tmp_path / "state")), n_buckets=4, group_size=2,
    )
    runner.run(docs, media, input_snapshot="bound", run_id="r1")

    spans = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", "s.offset", "s.media_ref")
        .withColumn("bucket", F.expr("pmod(xxhash64(media_ref), 4)"))
        .collect()
    )
    want = [
        sorted((r.doc_id, r.offset, r.media_ref) for r in spans if r.bucket in group)
        for group in ([0, 1], [2, 3])
    ]
    assert seen == want
    assert all(0 < len(g) < len(spans) for g in seen)


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_document_sources_roundtrip(spark, font_model, fixture_dir, tmp_path, fmt):
    """JSON / CSV document sources normalize to the canonical shape and
    extract identically to the parquet path."""
    from newocr_spark.pipeline.extract import extract_spans
    from newocr_spark.sources import read_documents, write_documents

    docs_pq = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    subset = docs_pq.filter("doc_id < 'doc-000020'")
    path = str(tmp_path / f"docs_{fmt}")
    write_documents(subset, path, fmt)
    docs_rt = read_documents(spark, path, fmt)
    assert [f.name for f in docs_rt.schema.fields] == ["doc_id", "spans"]

    base = extract_spans(spark, subset, media, font_model)
    via = extract_spans(spark, docs_rt, media, font_model)
    assert _spans_by_doc(via) == _spans_by_doc(base)


def test_runner_routes_through_sink_seam(spark, font_model, fixture_dir, tmp_path):
    """VERDICT r2 #5: every write the runner does goes through the
    SpanSink/StateStore interfaces (pipeline/sinks.py), so an Iceberg
    implementation is a drop-in. A recording wrapper proves the runner
    never writes around the seam and still produces the golden output."""
    from newocr_spark.pipeline.sinks import ParquetSpanSink, ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    calls = []

    class SpySink(ParquetSpanSink):
        def overwrite_partitions(self, df, partition_col):
            calls.append(("overwrite_partitions", self.path, partition_col))
            super().overwrite_partitions(df, partition_col)

        def overwrite_all(self, df, partition_col):
            calls.append(("overwrite_all", self.path, partition_col))
            super().overwrite_all(df, partition_col)

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")
    out = str(tmp_path / "out")
    runner = ExtractRunner(
        spark, font_model, out, ParquetStateStore(spark, str(tmp_path / "state")),
        n_buckets=4, group_size=2,
        ocr_sink=SpySink(spark, out + "_ocr"),
        out_sink=SpySink(spark, out),
    )
    runner.run(docs, media, input_snapshot="seam-test", run_id="r1")
    kinds = [c[0] for c in calls]
    assert kinds.count("overwrite_partitions") == 2  # 4 buckets / group 2
    assert kinds[-1] == "overwrite_all"  # assembly is the last write
    got = sorted(
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
        for r in runner.read_output().collect()
    )
    want = sorted(
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref) for r in golden.collect()
    )
    assert got == want


def _extract_via(entry, spark, font_model, docs, media, tmp_path):
    """``docs`` + ``media`` through ``extract_spans`` or a complete
    ``ExtractRunner`` run."""
    from newocr_spark.pipeline.extract import extract_spans
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    if entry == "extract_spans":
        return extract_spans(spark, docs, media, font_model)
    runner = ExtractRunner(
        spark, font_model, str(tmp_path / "out"),
        ParquetStateStore(spark, str(tmp_path / "state")), n_buckets=4, group_size=2,
    )
    runner.run(docs, media, input_snapshot="numbering", run_id="r1")
    return runner.read_output()


def _span_rows(df):
    cols = ("doc_id", "seq", "kind", "text", "media_ref")
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("entry", ["extract_spans", "ExtractRunner"])
def test_seq_of_unsorted_spans_matches_golden(spark, font_model, fixture_dir, tmp_path, entry):
    """``seq`` follows offset order, not the spans array's order: every
    document's spans reversed still number exactly as golden does."""
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")
    reversed_docs = docs.withColumn("spans", F.reverse("spans"))
    row = reversed_docs.filter(F.size("spans") > 1).first()
    assert row.spans[0].offset > row.spans[-1].offset
    got = _extract_via(entry, spark, font_model, reversed_docs, media, tmp_path)
    assert _span_rows(got) == _span_rows(golden)


@pytest.mark.parametrize("entry", ["extract_spans", "ExtractRunner"])
def test_seq_semantics_ties_duplicate_media_and_doc_rows(spark, font_model, tmp_path, entry):
    """The numbering ``_split`` states: tied offsets order by (kind, text,
    media_ref); a media_ref twice in the media table gives two rows with
    one seq; two documents rows with one doc_id each number from 0."""
    from newocr_spark.font.render import render_text_png

    png = bytearray(render_text_png(["ok 1"], 2))
    docs = spark.createDataFrame(
        [
            ("d1", [("text", "b", None, 5), ("media", None, "m1", 5),
                    ("text", "a", None, 5), ("text", "z", None, 0)]),
            ("d2", [("media", None, "m2", 3), ("text", "y", None, 1)]),
            ("d3", [("text", "first", None, 0)]),
            ("d3", [("text", "second", None, 0)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("m1", png), ("m2", png), ("m2", png)], "media_ref string, png binary"
    )
    got = _extract_via(entry, spark, font_model, docs, media, tmp_path)
    rows = sorted((r.doc_id, r.seq, r.offset, r.text, r.media_ref, r.error) for r in got.collect())
    assert rows == [
        ("d1", 0, 0, "z", None, None),
        ("d1", 1, 5, "ok 1", "m1", None),  # tie: 'media' < 'text'
        ("d1", 2, 5, "a", None, None),
        ("d1", 3, 5, "b", None, None),
        ("d2", 0, 1, "y", None, None),
        ("d2", 1, 3, "ok 1", "m2", None),  # one row per media copy, one seq
        ("d2", 1, 3, "ok 1", "m2", None),
        ("d3", 0, 0, "first", None, None),
        ("d3", 0, 0, "second", None, None),
    ]


def test_resume_ignores_intermediate_without_seq(
    spark, font_model, fixture_dir, tmp_path, monkeypatch
):
    """State and intermediate rows committed under the old key format, by
    an OCR output that had no ``seq`` column, are not resumed from: the
    schema digest in ``snapshot_key`` makes every bucket recompute, so the
    assembly never reads a null ``seq``."""
    from newocr_spark.pipeline import extract
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_spans.parquet")
    state = ParquetStateStore(spark, str(tmp_path / "state"))
    runner = ExtractRunner(
        spark, font_model, str(tmp_path / "out"), state, n_buckets=4, group_size=2,
        fail_after_groups=1,
    )
    real_ocr = extract._ocr
    with monkeypatch.context() as old:
        old.setattr(extract, "_ocr", lambda *a: real_ocr(*a).drop("seq"))
        old.setattr(ExtractRunner, "snapshot_key", lambda self, s: f"{s}#b{self.n_buckets}")
        with pytest.raises(RuntimeError, match="injected failure"):
            runner.run(docs, media, input_snapshot="snap", run_id="old")
    assert len(state.completed_buckets("snap#b4")) == 2

    runner.fail_after_groups = None
    stats = runner.run(docs, media, input_snapshot="snap", run_id="new")
    assert stats["groups_run"] == 2
    result = runner.read_output()
    assert result.filter(F.col("seq").isNull()).count() == 0
    assert _span_rows(result) == _span_rows(golden)
