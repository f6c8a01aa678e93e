"""Resumable web extraction: HTML → interleaved spans → bucketed OCR via
the same checkpoint/lineage machinery as the OCR job (jobs/web_extract_job
wiring, tested through its components)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
N_DOCS = 48


@pytest.fixture(scope="module")
def web_inputs(spark, font_model):
    from newocr_spark.fixtures import corpus_fixture_tables
    from newocr_spark.web.extract import html_to_documents

    _docs, media = corpus_fixture_tables(
        spark, SF_DIR, font_model, max_docs=N_DOCS
    )
    corpus = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < N_DOCS)
        .select("doc_id", "text")
    )
    docs = html_to_documents(corpus)
    return docs.cache(), media.cache()


def _rows(df):
    return sorted(
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref, r.offset)
        for r in df.select(
            "doc_id", "seq", "kind", "text", "media_ref", "offset"
        ).collect()
    )


def test_web_resume_no_dup_no_loss(spark, font_model, web_inputs, tmp_path):
    """Crash mid-run, resume, and the checkpointed pipeline's output equals
    the direct (single-shot) extraction of the same inputs."""
    from newocr_spark.pipeline.extract import extract_spans
    from newocr_spark.pipeline.sinks import ParquetStateStore
    from newocr_spark.pipeline.state import ExtractRunner

    docs, media = web_inputs
    out = str(tmp_path / "out")
    state = ParquetStateStore(spark, str(tmp_path / "state"))
    runner = ExtractRunner(
        spark, font_model, out, state, n_buckets=8, group_size=2,
        fail_after_groups=1,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(docs, media, input_snapshot="web-1", run_id="run-a")
    assert 0 < len(state.completed_buckets(runner.snapshot_key("web-1"))) < 8

    runner.fail_after_groups = None
    stats = runner.run(docs, media, input_snapshot="web-1", run_id="run-b")
    assert stats["buckets_done"] == 8

    result = runner.read_output()
    assert result.groupBy("doc_id", "seq").count().filter("count > 1").count() == 0
    direct = extract_spans(spark, docs, media, font_model)
    assert _rows(result) == _rows(direct)
    # recognized media spans carry the rendered source text
    st = state.read()
    assert st.filter(F.col("glyph_count") > 0).count() > 0


def test_html_col_path_matches_fixture_path(spark):
    """Stored-raw-HTML extraction (production shape) agrees with the
    fixture-synthesis path on the same pages."""
    from newocr_spark.web.extract import html_to_documents
    from newocr_spark.web.htmlgen import page_html

    corpus = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    via_fixture = html_to_documents(corpus).collect()

    rows = [
        (f"doc-{int(r.doc_id):06d}", page_html(int(r.doc_id), r.text))
        for r in corpus.collect()
    ]
    stored = spark.createDataFrame(rows, "doc_id string, html string")
    via_stored = html_to_documents(stored, html_col="html").collect()

    as_map = lambda rs: {r.doc_id: [tuple(s) for s in r.spans] for r in rs}
    assert as_map(via_fixture) == as_map(via_stored)


def test_html_col_fault_isolation(spark):
    """A page that fails to parse yields one error span; neighbours are
    unaffected (per-document isolation inside the Arrow batch)."""
    from newocr_spark.web.extract import html_to_documents

    good = "<body><article><p>" + " ".join(["word"] * 12) + "</p></article></body>"
    stored = spark.createDataFrame(
        [("d-good", good), ("d-bad", None)], "doc_id string, html string"
    )
    out = {r.doc_id: r.spans for r in html_to_documents(stored, html_col="html").collect()}
    assert [s.kind for s in out["d-good"]] == ["text"]
    assert [s.kind for s in out["d-bad"]] == ["error"]
    assert "TypeError" in out["d-bad"][0].text


def test_warc_ingest_job_end_to_end(spark, tmp_path):
    """WARC archive → documents(doc_id, spans): spans equal the direct
    fixture-mode extraction for the same docs (doc_id keyed by
    WARC-Target-URI), and the record inventory lands when asked."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
        ),
    )
    import warc_ingest_job
    from pyspark.sql import functions as F

    from newocr_spark.sources.warc import doc_uri
    from newocr_spark.web.extract import html_to_documents

    out = str(tmp_path / "docs_out")
    inv = str(tmp_path / "records_out")
    n = warc_ingest_job.main(
        ["--synthesize-from", "/root/testdata/sf0.001/documents.parquet",
         "--max-docs", "24", "--output", out, "--records-out", inv],
        spark=spark,
    )
    assert n == 24
    got = {r.doc_id: r.spans for r in spark.read.parquet(out).collect()}
    src = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 24).select("doc_id", "text")
    )
    want = {
        r.doc_id: r.spans for r in html_to_documents(src).collect()
    }
    assert len(got) == len(want) == 24
    for did_int in range(24):
        assert got[doc_uri(did_int)] == want[f"doc-{did_int:06d}"]
    # no error spans leaked
    assert all(
        all(s.kind in ("text", "media") for s in spans)
        for spans in got.values()
    )
    # inventory: 24 responses + one warcinfo per blob (24/4 = 6 blobs)
    recs = spark.read.parquet(inv)
    assert recs.filter(F.col("warc_type") == "response").count() == 24
    assert recs.filter(F.col("warc_type") == "warcinfo").count() == 6
    # misuse is loud
    import pytest as _pytest
    with _pytest.raises(SystemExit, match="exactly one"):
        warc_ingest_job.main(["--output", out], spark=spark)


def test_crawl_schedule_job_end_to_end(spark, tmp_path):
    """Merged link+sitemap schedule: link rows reproduce q_robots_gate's
    standalone fetch schedule EXACTLY (they sort first, so the dense
    Crawl-delay numbering agrees); sitemap rows are precisely the 'new'
    sitemap_delta URLs, gated by the same rules; and per domain the
    allowed fetch_at sequence is dense (k-1)*crawl_delay over the merged
    order with no slot for disallowed rows."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
        ),
    )
    import crawl_schedule_job

    from newocr_spark.web.extract import q_robots_gate, q_sitemap_delta

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "schedule")
    n = crawl_schedule_job.main(["--sf-dir", sf, "--output", out], spark=spark)
    rows = spark.read.parquet(out).collect()
    assert n == sum(1 for r in rows if r.allowed)

    link_rows = {(r.domain, r.url): r for r in rows if r.source == "link"}
    sm_rows = {(r.domain, r.url): r for r in rows if r.source == "sitemap"}

    gate = {(r.domain, r.url): r for r in q_robots_gate(spark, sf).collect()}
    assert set(link_rows) == set(gate)
    for k, r in link_rows.items():
        g = gate[k]
        assert (r.allowed, r.matched_rule, r.crawl_delay, r.fetch_at) == (
            g.allowed, g.matched_rule, g.crawl_delay, g.fetch_at
        )

    new = {
        (r.domain, r.url): r
        for r in q_sitemap_delta(spark, sf).collect()
        if r.status == "new"
    }
    assert set(sm_rows) == set(new)
    for k, r in sm_rows.items():
        assert r.priority == new[k].priority
        assert r.lastmod == new[k].lastmod
        # /p/ paths match no synthesized Allow/Disallow prefix
        assert r.allowed and r.matched_rule is None

    # dense politeness schedule per domain over the merged order
    by_dom = {}
    for r in rows:
        by_dom.setdefault(r.domain, []).append(r)
    for dom, rs in by_dom.items():
        slots = sorted(r.fetch_at for r in rs if r.allowed)
        delay = rs[0].crawl_delay
        assert slots == [i * delay for i in range(len(slots))]
        assert all(r.fetch_at is None for r in rs if not r.allowed)
        # link rows fill the FIRST slots: every allowed link row
        # schedules before every sitemap row of its domain (fetch_at is
        # only an ordering witness when crawl_delay > 0 — a delay-0
        # domain legitimately fetches everything at t=0)
        if delay > 0:
            link_max = max(
                (r.fetch_at for r in rs if r.source == "link" and r.allowed),
                default=-1,
            )
            sm_min = min(
                (r.fetch_at for r in rs
                 if r.source == "sitemap" and r.allowed),
                default=None,
            )
            if sm_min is not None:
                assert sm_min > link_max

    # --no-sitemap collapses to the gate alone
    out2 = str(tmp_path / "schedule2")
    crawl_schedule_job.main(
        ["--sf-dir", sf, "--output", out2, "--no-sitemap"], spark=spark
    )
    only = spark.read.parquet(out2)
    assert only.filter("source = 'sitemap'").count() == 0
    assert only.count() == len(link_rows)
