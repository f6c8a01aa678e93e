#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the OCR flagship and the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "cpus": n,
   "ocr": {"docs": n, "media_chars": n, "docs_per_sec": x, ...},
   "web": {...}, "dupheavy": {...},
   "noise": {"cycles": CYCLES, "flagged": {name: max/min}},
   "vs_prev": {"prev_round": n, "ratios": {name: cur/prev}}}

One protocol times every entry, OCR included: CYCLES full passes over the
whole entry list, each entry reporting the min over its cycles. Passes of
one entry are minutes apart, so a host noise window that inflates one
capture has usually passed by the next. Entries whose cycles differ by
more than 3x land in noise.flagged.

The OCR flagship measures end-to-end extraction throughput (decode →
binarize → segment → featurize → broadcast-NN → merge → space → assemble)
over media rendered from the scale factor's text corpus; every entry is
forced to full materialization via the noop sink.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _force(df) -> int:
    """Force full computation (noop sink keeps all columns alive)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


BENCH_QUERIES = (
    "grouped_agg", "broadcast_dim_join", "top1_per_group", "interval_join",
    "gaps_islands", "lag_arith", "ordered_stringagg", "anti_join",
    "grouped_avg_meta", "minmax_center", "running_max", "multi_dim_star",
    "rollup_agg", "corpus_curation",
    "dedup_exact", "ngram_jaccard", "minhash_lsh", "simhash", "dedup_clusters",
    "dedup_keep_best", "incremental_neardup",
    "lang_id", "doc_quality", "fingerprints", "winnow_fingerprints",
    "token_counts",
    "repetition_stats", "source_mix", "source_kl", "mixture_weights", "source_overlap",
    "unigram_logprob",
    "vocab_stats", "quality_buckets", "source_quota", "tfidf_topterms", "bm25_search",
    "crossdoc_substr", "crossdoc_cut", "html_tables", "html_links", "html_linkgraph", "url_canonical",
    "url_dedup", "domain_stats", "crawl_frontier", "warc_extract",
    "robots_gate", "anchor_text", "sitemap_delta", "sitemap_index",
    "pii_scrub", "line_dedup", "decontaminate", "decon_report",
    "lang_confusion", "stratified_sample", "pack_sequences",
    "pack_manifest", "pack_bucketed", "pack_efficiency", "dsir_weights",
    "c4_clean", "gopher_quality", "chunk_windows",
    "embed_neardup", "embed_lsh_neardup", "cosine_topk", "ann_lsh", "ann_ivf",
    "neardup_recall", "semdedup",
)

# full passes over every entry; each entry reports the min of its passes
CYCLES = 3


def run_bench(sf_dir: str, cpus: int, ocr_docs: int = 500, ocr_replicate: int = 24) -> dict:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from newocr_spark.analytics import dedup as D
    from newocr_spark.artifacts import get_model
    from newocr_spark.fixtures import corpus_fixture_tables
    from newocr_spark.pipeline.extract import extract_spans
    from newocr_spark.pipeline.session import build_session, warm_python_workers
    from newocr_spark.queries import QUERIES
    from newocr_spark.web import extract as W

    spark = build_session(
        app="newocr-bench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra={
            # keep stdout clean for the one-line JSON contract + avoid
            # GC-locker stalls on the image-heavy stages
            "spark.driver.memory": "24g",
            "spark.driver.extraJavaOptions": "-Xlog:disable -XX:+UseParallelGC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # ---- OCR flagship fixture (built once, untimed) ----
    model = get_model()
    docs0, media0 = corpus_fixture_tables(spark, sf_dir, model, max_docs=ocr_docs)
    # replicate with distinct media_refs so the timed section is long enough
    # that per-job fixed costs don't dominate the throughput figure; written
    # to parquet rather than cached, because every timed pass ends with
    # clearCache() and a cached input would be re-rendered inside the timing
    reps = spark.range(ocr_replicate).select(F.col("id").alias("rep"))
    fixture = tempfile.mkdtemp(prefix="newocr-bench-")
    docs_path, media_path = f"{fixture}/documents", f"{fixture}/media"
    (
        docs0.crossJoin(reps)
        .select(
            F.concat_ws("-", "doc_id", "rep").alias("doc_id"),
            F.expr(
                "transform(spans, s -> named_struct("
                "  'kind', s.kind, 'text', s.text,"
                "  'media_ref', CASE WHEN s.media_ref IS NULL THEN NULL"
                "                    ELSE concat_ws('-', s.media_ref, rep) END,"
                "  'offset', s.offset))"
            ).alias("spans"),
        )
        .repartition(cpus * 2)
        .write.parquet(docs_path)
    )
    (
        media0.crossJoin(reps)
        .select(F.concat_ws("-", "media_ref", "rep").alias("media_ref"), "png")
        .repartition(cpus * 2)
        .write.parquet(media_path)
    )

    warm_python_workers(spark, cpus)

    def _ocr():
        return extract_spans(
            spark, spark.read.parquet(docs_path), spark.read.parquet(media_path), model
        )

    no_cap = 1 << 40
    n_web_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    runnables = {"ocr_extract": _ocr}
    runnables.update(
        {name: (lambda n=name: QUERIES[n](spark, sf_dir)) for name in BENCH_QUERIES}
    )
    # duplicate-heavy dedup (hot-bucket evidence): every sf doc replicated
    # DUP_COPIES times with distinct ids — the 30-50%-exact-copy shape of a
    # real crawl, concentrated. Pre-collapse, banding raw docs emitted
    # copies^2/2 candidates per distinct text (the job that never finishes
    # at 100 TB); post-collapse (dedup._rep_pairs) candidate volume equals
    # the unreplicated corpus's, so this entry should track dedup_clusters
    # plus the linear exact-group/expansion cost of 20x the rows — NOT 400x
    # its wall. tests/test_dedup_hotbucket.py pins the candidate counts;
    # this entry records the wall-clock consequence every round.
    DUP_COPIES = 20

    def _dupheavy():
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        copies = spark.range(DUP_COPIES).select(F.col("id").alias("rep"))
        corpus = base.crossJoin(copies).select(
            (F.col("doc_id") * DUP_COPIES + F.col("rep")).alias("doc_id"),
            "text",
        ).repartition(cpus)
        return D.dup_clusters(corpus)

    runnables["dedup_dupheavy"] = _dupheavy
    # web extraction (north_rule): html/pdf run UNCAPPED over the sf's
    # whole documents table (narrow maps — the numbers scale with corpus
    # size); web_extract keeps its contract cap (OCR-bound end-to-end
    # path). partitions=cpus*2: the sf testdata is ONE parquet row group —
    # without an explicit spread the narrow extraction maps run on a single
    # task; a real crawl input arrives pre-split across thousands of files
    runnables.update(
        {
            "html_main_text": lambda: W.q_html_main_text(
                spark, sf_dir, max_docs=no_cap, partitions=cpus * 2
            ),
            "html_spans": lambda: W.q_html_spans(
                spark, sf_dir, max_docs=no_cap, partitions=cpus * 2
            ),
            "html_metadata": lambda: W.q_html_metadata(
                spark, sf_dir, max_docs=no_cap, partitions=cpus * 2
            ),
            "pdf_extract": lambda: W.q_pdf_extract(
                spark, sf_dir, max_docs=no_cap, partitions=cpus * 2
            ),
            "web_extract": lambda: W.q_web_extract(spark, sf_dir),
        }
    )

    def timed_pass(fn) -> float:
        t0 = time.time()
        _force(fn())
        sec = time.time() - t0
        # clear AFTER every pass: self-caching queries (e.g. the shingle
        # cache in ngram_lsh paths) must pay their plan's cost on every
        # timed pass, not reuse a previous pass's cache
        spark.catalog.clearCache()
        return sec

    try:
        cycles: dict[str, list[float]] = {name: [] for name in runnables}
        for _cycle in range(CYCLES):
            for name, fn in runnables.items():
                cycles[name].append(timed_pass(fn))
        # untimed: the OCR output's counts, for the throughput figures
        n_docs = spark.read.parquet(docs_path).count()
        stats = _ocr().agg(
            F.sum("glyph_count").alias("glyphs"),
            F.sum(F.when(F.col("media_ref").isNotNull(), F.length("text"))).alias("media_chars"),
        ).collect()[0]
    finally:
        shutil.rmtree(fixture, ignore_errors=True)

    timings: dict[str, float] = {}
    flagged: dict[str, float] = {}
    for name, obs in cycles.items():
        timings[name] = round(min(obs), 3)
        spread = max(obs) / max(min(obs), 1e-9)
        if spread > 3.0:
            flagged[name] = round(spread, 2)
    ocr_sec = timings["ocr_extract"]
    media_chars = int(stats.media_chars or 0)
    glyphs = int(stats.glyphs or 0)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf)
    except ValueError:
        pass
    result = {
        "metric": (
            f"total bench wall time (OCR extraction + {len(BENCH_QUERIES)} "
            "analytic queries + web extraction)"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "ocr": {
            "docs": int(n_docs),
            "media_chars": media_chars,
            "glyphs": glyphs,
            "docs_per_sec": round(n_docs / ocr_sec, 2),
            "chars_per_sec": round(media_chars / ocr_sec, 2),
            "glyphs_per_sec": round(glyphs / ocr_sec, 2),
        },
        "web": {
            "docs": int(n_web_docs),
            "html_docs_per_sec": round(n_web_docs / timings["html_main_text"], 2),
            "pdf_docs_per_sec": round(n_web_docs / timings["pdf_extract"], 2),
        },
        "dupheavy": {
            "docs": int(n_web_docs) * DUP_COPIES,
            "copies": DUP_COPIES,
            "docs_per_sec": round(
                n_web_docs * DUP_COPIES / timings["dedup_dupheavy"], 2
            ),
            "vs_dedup_clusters": round(
                timings["dedup_dupheavy"] / max(timings["dedup_clusters"], 1e-9), 2
            ),
        },
        # flagged: entries whose cycles differ by more than 3x (max/min);
        # their min is still the best repeatable estimate, the flag marks an
        # unstable host, not the plan
        "noise": {"cycles": CYCLES, "flagged": flagged},
    }
    spark.stop()
    result["vs_prev"] = _vs_prev(timings, sf)
    return result


def _load_prev(sf) -> tuple:
    """(round_n, per-query timings) of the latest BENCH_r{N}.json recorded
    at scale factor ``sf``, or (None, {}) when none exists/parses: timings
    at another scale factor say nothing about a regression."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    for n, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            continue
        # the driver wraps the bench line under "parsed"
        inner = data.get("parsed") or data
        if inner.get("sf", data.get("sf")) == sf:
            return n, inner.get("queries") or {}
    return None, {}


def _vs_prev(timings: dict[str, float], sf) -> dict:
    """Per-query ratio vs the latest BENCH_r{N}.json at the same scale
    factor (cur/prev; >1 slower, <1 faster) so round N+1's judge sees
    regressions at a glance. Empty when no such round file exists."""
    n, prev = _load_prev(sf)
    if not prev:
        return {}
    out = {"prev_round": n, "prev_sf": sf, "ratios": {}}
    for name, cur in timings.items():
        p = prev.get(name)
        if p:
            out["ratios"][name] = round(cur / p, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = run_bench(sf_dir, cpus)
    # Full artifact on disk; the stdout line keeps only the vs_prev ratios
    # that moved (>= 1.3x slower or <= 0.77x, i.e. 1.3x faster)
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_last_run.json"), "w") as f:
            json.dump(result, f, indent=1)
    except OSError:
        pass
    ratios = result.get("vs_prev", {}).get("ratios")
    if ratios:
        result["vs_prev"]["ratios"] = {
            k: v for k, v in ratios.items() if v >= 1.3 or v <= 0.77
        }
        result["vs_prev"]["note"] = "full ratio set in BENCH_last_run.json"
    print(json.dumps(result))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
