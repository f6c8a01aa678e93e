#!/usr/bin/env python
"""Capture `.explain("formatted")` for the headline queries → PLANS.md.

Evidence that the declarative plans compile to the physical strategies the
design intends (SURVEY §4): predicate pushdown + column pruning into the
parquet scans, broadcast-hash joins for the small dims, whole-stage codegen
around the narrow ops, a single exchange feeding the Arrow OCR UDF.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

CHECKS = {
    "ocr_extract": (
        "the tiny span-metadata side broadcasts "
        "onto media (image bytes never shuffle), MapInPandas runs on the "
        "media table's own partitioning; seq is numbered by posexplode at "
        "split time, so the assembly is a plain union — no window, no sort, "
        "no shuffle of output rows",
        ["MapInPandas", "BroadcastHashJoin"],
        ["Window", "- Exchange ("],
    ),
    "broadcast_dim_join": (
        "part dim broadcast, partial aggregation before the shuffle",
        ["BroadcastHashJoin", "HashAggregate"],
    ),
    "grouped_agg": (
        "partial (map-side) HashAggregate before the exchange; only the 5 "
        "needed columns in ReadSchema",
        ["HashAggregate", "Exchange"],
    ),
    "top1_per_group": ("single shuffle on l_orderkey for the window", ["Window"]),
    "anti_join": ("broadcast anti join, no shuffle of customer", ["Anti"]),
    "multi_dim_star": (
        "three chained broadcast joins, no shuffle until the final groupBy",
        ["BroadcastHashJoin"],
    ),
    "minhash_lsh": (
        "equi-joins only (band,sig) — no cross product; small sides "
        "broadcast at this sf, SMJ at scale",
        ["Join", "Exchange"],
    ),
    "embed_neardup": (
        "guard-bounded broadcast (ids, matrix, norms) + one BLAS matmul "
        "per Arrow batch in MapInPandas — no pair rows exist anywhere in "
        "the plan (the previous BroadcastNestedLoopJoin evaluated a "
        "per-pair interpreted dot: 56s -> 1s at sf0.1)",
        ["MapInPandas"],
    ),
    "ann_ivf": (
        "IVF probe is an equi-join on cell id; centroid assignment is a "
        "narrow ArrowEvalPython map, no cross product",
        ["ArrowEvalPython"],
    ),
    "html_main_text": (
        "boilerplate strip is ONE narrow MapInPandas over the pruned "
        "(doc_id, text) scan — zero exchanges anywhere in the plan",
        ["MapInPandas"],
        ["Exchange"],
    ),
    "web_extract": (
        "HTML→spans stage is narrow; span metadata broadcasts onto media "
        "(image bytes never shuffle); spans carry their split-time seq, so "
        "the assembly is a plain union — no window and no shuffle exchange",
        ["MapInPandas", "BroadcastHashJoin"],
        ["Window", "- Exchange ("],
    ),
    "html_metadata": (
        "page metadata is ONE narrow MapInPandas — zero exchanges",
        ["MapInPandas"],
        ["Exchange"],
    ),
    "ngram_jaccard": (
        "dense-vocab bitmap strategy: the pair stage is a MapInPandas "
        "against a broadcast bitset matrix — NO shingle-pair join exists "
        "in the plan (the sum(df^2) fanout never materializes)",
        ["MapInPandas"],
        ["SortMergeJoin"],
    ),
    "corpus_curation": (
        "composed dedup→lang→quality→stats pipeline: gates fuse into the "
        "scans, final rollup partially aggregates map-side",
        ["HashAggregate"],
    ),
    "pii_scrub": (
        "PII redaction is pure JVM regexp projection over the pruned "
        "(doc_id, text) scan — zero exchanges, whole-stage codegen "
        "('codegen id' spans in formatted mode)",
        ["codegen id", "Project"],
        ["Exchange"],
    ),
    "decontaminate": (
        "benchmark shingles broadcast; the corpus side never self-joins — "
        "one broadcast join + one count aggregate",
        ["BroadcastHashJoin", "HashAggregate"],
    ),
    "stratified_sample": (
        "hash-bucket sampling is a pure narrow filter — zero exchanges",
        ["Filter"],
        ["Exchange"],
    ),
    "pack_sequences": (
        "token counts computed before the shard exchange (only (doc_id, "
        "n_tok, shard, h) rides it); ONE exchange feeding the per-shard "
        "running-sum window",
        ["Window", "Exchange"],
    ),
    "pack_manifest": (
        "the (doc, sequence) fan-out is a Generate (explode of the "
        "seq_id..end_seq_id range) directly above the same single-exchange "
        "packing window — the manifest adds no shuffle",
        ["Generate", "Window"],
    ),
    "repetition_stats": (
        "two (doc_id, gram) hash-aggregates with map-side partials — only "
        "(doc_id, gram) rides the exchanges, never text; per-doc rollup "
        "joined on doc_id",
        ["HashAggregate", "Exchange"],
    ),
    "crossdoc_substr": (
        "ExactSubstr coverage: windows hashed in-codegen to longs, ONE "
        "global (g64) hash-aggregate + LeftSemi join back, one per-doc "
        "gaps-and-islands Window — no pairwise term, no cross product",
        ["HashAggregate", "LeftSemi", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "crossdoc_cut": (
        "ExactSubstr span cut: same hashed-window aggregate (now carrying "
        "the canonical owner) + interval-union Window; the cut is a JVM "
        "higher-order filter over the token array — no Python in the "
        "plan, no cross product",
        ["HashAggregate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "ArrowEvalPython",
         "BatchEvalPython"],
    ),
    "ann_lsh": (
        "multiprobe explodes probe buckets on the QUERY side only "
        "(Generate); candidates come from an equi-join on (table, bucket) "
        "— no cross product anywhere",
        ["Generate", "ArrowEvalPython"],
        ["CartesianProduct"],
    ),
    "embed_lsh_neardup": (
        "pairs scale path: (table, bucket) equi-self-join for candidates, "
        "id-only dedup, vectors rejoin only for the exact verify — no "
        "cross product, no corpus broadcast kernel",
        ["ArrowEvalPython", "Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "pack_bucketed": (
        "no-split layout: same ONE shuffle by shard as the contiguous "
        "mode plus per-(shard, length) row_number and a prefix-sum over "
        "the distinct slot list; only (doc_id, n_tok) rides exchanges — "
        "text never does",
        ["Window", "Exchange"],
    ),
    "pack_efficiency": (
        "scorecard over both layouts: per-shard max + global sums are "
        "partial hash-aggregates; the mode rows union",
        ["HashAggregate", "Union"],
    ),
    "neardup_lsh_precision": (
        "certification anti-join: LSH pairs minus exact pairs on id "
        "columns only — both kernels stay Arrow-batched, no cross "
        "product, no pair-row blowup outside the bounded kernels",
        ["Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "url_canonical": (
        "URL canonicalization is one narrow in-codegen projection — "
        "split/lower/higher-order filter + array_sort are all JVM "
        "expressions; no shuffle, no Python",
        ["Project", "codegen id"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"],
    ),
    "url_dedup": (
        "URL-level dedup (RefinedWeb stage order: collapse re-crawls "
        "BEFORE content dedup): both window functions share the "
        "canon_url partitioning so ONE Exchange feeds them; only "
        "(canon_url, doc_id, n_chars) ride it and the whole operator "
        "is JVM-side — no Python anywhere",
        ["Window", "Exchange"],
        ["BatchEvalPython", "ArrowEvalPython", "MapInPandas",
         "CartesianProduct"],
    ),
    "domain_stats": (
        "per-domain crawl rollup: the distinct-page count plans as the "
        "standard two-phase partial-distinct HashAggregate over "
        "(domain, canon_url) keys; text never leaves the scan and no "
        "Python runs",
        ["HashAggregate", "Exchange"],
        ["BatchEvalPython", "ArrowEvalPython", "MapInPandas", "Window"],
    ),
    "sitemap_delta": (
        "sitemap discovery delta: the XML parse is a narrow in-codegen "
        "regexp chain (block Generate + field extracts, protocol's "
        "50k-URL file cap bounds any cell); canonicalization is the "
        "shared shuffle-free projection; the only wide ops are the "
        "crawled-set distinct hash-aggregate and the status equi-join "
        "on canon_url — no Python anywhere",
        ["Generate", "HashAggregate", "Exchange"],
        ["BatchEvalPython", "ArrowEvalPython", "MapInPandas",
         "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "sitemap_index": (
        "sitemap index inventory: both syntheses are hash-aggregates "
        "over id-sized rows, both parses are narrow in-codegen regexp "
        "chains, and the index side of the shard join broadcasts — no "
        "Python anywhere",
        ["Generate", "HashAggregate", "BroadcastHashJoin"],
        ["BatchEvalPython", "ArrowEvalPython", "MapInPandas",
         "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "anchor_text": (
        "anchor harvest: ONE (href) hash-aggregate; collect_set's "
        "map-side partials bound hot-chrome-href skew (each task ships "
        "its distinct set, not its occurrence list) and slice() caps "
        "the cell width",
        ["MapInPandas", "HashAggregate", "Exchange"],
        ["Window", "SortMergeJoin", "CartesianProduct"],
    ),
    "robots_gate": (
        "RFC 9309 gate: robots rules are O(domains) so the rule join "
        "broadcasts; longest-match is one (domain, url) hash-aggregate "
        "argmax over the handful of matched candidate rows per URL; the "
        "tiny frontier materializes once at a localCheckpoint seam so "
        "the paths/matched branches never re-run the discovery subtree",
        ["BroadcastHashJoin", "HashAggregate", "Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "MapInPandas"],
    ),
    "warc_extract": (
        "WARC ingest: the ONE Exchange is the writer's groupBy(blob_id) "
        "record packer; the reader (framing walk + HTTP parse + strip) "
        "is a narrow FlatMapGroups/MapInPandas chain over binary cells",
        ["MapInPandas", "Exchange"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    "crawl_frontier": (
        "incremental frontier: the HTML parse materializes ONCE at the "
        "urls localCheckpoint seam (id-sized rows; without it the seen/"
        "cand branches would each re-run the Python parse), so the plan "
        "roots at an ExistingRDD scan with NO MapInPandas; (domain, "
        "url) hash-aggregate with map-side partials; the seen-set "
        "anti-join is NOT force-broadcast (unbounded at crawl scale) — "
        "the optimizer picks broadcast itself from the seam's real "
        "stats; the politeness window shuffles only capped "
        "(domain, url, n_refs) rows",
        ["Scan ExistingRDD", "HashAggregate", "BroadcastHashJoin",
         "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "MapInPandas"],
    ),
    "html_linkgraph": (
        "in-degree rollup: ONE (href) hash-aggregate with map-side "
        "partials above the narrow link extraction — hot chrome hrefs "
        "ride the exchange as O(tasks) partial rows, not O(links)",
        ["MapInPandas", "HashAggregate", "Exchange"],
        ["Window", "SortMergeJoin"],
    ),
    "html_links": (
        "anchor extraction is ONE narrow MapInPandas over the pruned "
        "(doc_id, text) scan — zero exchanges; the link-graph groupBy "
        "is the consumer's shuffle, not this operator's",
        ["MapInPandas"],
        ["Exchange"],
    ),
    "html_tables": (
        "data-table extraction is ONE narrow MapInPandas over the pruned "
        "(doc_id, text) scan — zero exchanges; the cell fan-out happens "
        "inside the Arrow batch",
        ["MapInPandas"],
        ["Exchange"],
    ),
    "decon_report": (
        "attribution keeps decontaminate's shape: the (bench_id, "
        "shingle) side is distinct + broadcast, the corpus side is one "
        "narrow shingle map + broadcast equi-join + one (doc_id, "
        "bench_id) hash-aggregate — the corpus never self-joins",
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "lang_confusion": (
        "lang_id is a narrow in-codegen projection; the matrix is ONE "
        "(lang, lang_pred) hash-aggregate over languages^2 keys and the "
        "denominators ride a broadcast join on the tiny matrix itself",
        ["HashAggregate", "BroadcastHashJoin"],
        ["CartesianProduct", "Window", "SortMergeJoin"],
    ),
    "source_kl": (
        "per-source KL drift: ONE (source, tok) hash-aggregate with "
        "map-side partials, vocab derived from the same reduced frame "
        "and equi-joined on tok; per-source totals and the corpus total "
        "ride broadcasts — no window, no sort, text never shuffles",
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "Window"],
    ),
    "source_quota": (
        "per-source cap via the value-histogram discipline: docs reduce "
        "to a (source, quality_score) histogram before the ONLY window, "
        "which runs over distinct values partitioned by source — never "
        "over docs; verdicts broadcast back onto the doc frame",
        ["HashAggregate", "Window", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "line_dedup": (
        "CCNet line dedup: lines reduce in-codegen to xxhash64 longs "
        "before any exchange (text never rides one); one (k64) "
        "hash-aggregate with map-side partials, one equi-join back, one "
        "(doc_id) cut-position aggregate, and the rebuild is a JVM "
        "indexed higher-order filter — no Python, no cross product",
        ["HashAggregate", "Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "ArrowEvalPython",
         "BatchEvalPython"],
    ),
    "dedup_keep_best": (
        "quality-aware canonical selection above dup_clusters' "
        "checkpointed labels: one equi-join on doc_id against the "
        "narrow quality projection, one window partitioned by "
        "cluster_id (clusters are tiny by construction) — no cross "
        "product, no global sort",
        ["Window", "Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "source_mix": (
        "quality expressions fuse into the scan; one (source) "
        "hash-aggregate with map-side partials; corpus totals arrive by "
        "broadcast single-row crossJoin, not a second scan-wide shuffle",
        ["HashAggregate", "BroadcastNestedLoopJoin"],
    ),
    "incremental_neardup": (
        "index side reduced to an id-free distinct then an equi-join on "
        "(band, sig); hit counting aggregates the increment's own band "
        "rows — no cross product, history never fans out",
        ["Join", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "tfidf_topterms": (
        "two hash-aggregates (per-doc tf, per-term df) with map-side "
        "partials; tf ⋈ df is an equi-join on term; the corpus count "
        "rides a broadcast 1-row crossJoin; ONE window partitioned by "
        "doc_id for the top-k — text never rides an exchange",
        ["HashAggregate", "Window", "BroadcastNestedLoopJoin"],
        ["CartesianProduct"],
    ),
    "bm25_search": (
        "query-term filter lands BEFORE the per-doc aggregate (only "
        "matching (doc_id, term) rows aggregate); df and corpus scalars "
        "broadcast; final top-k is TakeOrdered — distributed, never a "
        "single-partition window",
        ["HashAggregate", "TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "Window"],
    ),
    "source_overlap": (
        "member pairs never materialize: rep pairs (LSH over canonical "
        "docs) join the (canon, source, m) histogram by equi-keys and "
        "flows aggregate combinatorial weights — one (source_a, source_b) "
        "hash-aggregate at the top, no cross product anywhere",
        ["HashAggregate", "Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "unigram_logprob": (
        "tokens reduce to (doc_id, tok) counts BEFORE the vocab join so "
        "the stopword-skewed key carries distinct pairs, not occurrences; "
        "the corpus total rides a broadcast 1-row crossJoin",
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct"],
    ),
    "vocab_stats": (
        "two hash-aggregates: (source, tok) distinct-type reduction with "
        "map-side partials, then the tiny per-source rollup; text never "
        "survives past the in-codegen tokenize+explode",
        ["HashAggregate", "Generate"],
        ["CartesianProduct", "Window"],
    ),
    "quality_buckets": (
        "docs reduce to a (logprob, count) histogram before the only "
        "ORDER BY window, which runs over distinct 6-dp values, never "
        "docs; bucketed thresholds broadcast back onto the doc frame — "
        "no global sort of the corpus",
        ["HashAggregate", "Window", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "dsir_weights": (
        "grams hash-aggregate to (doc_id, bucket) counts and materialize "
        "ONCE at a localCheckpoint seam (raw/target models, totals and "
        "the per-doc score all branch off it — per-branch pruning makes "
        "exchange reuse impossible, so without the seam each branch "
        "re-runs the corpus tokenize); both bucket models (<= k rows) "
        "and the single-row totals ride broadcasts; the selection "
        "threshold comes from a (logweight, count) value histogram so "
        "the only ORDER BY window runs over distinct values, never docs",
        ["Scan ExistingRDD", "HashAggregate", "BroadcastHashJoin",
         "Window"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "mixture_weights": (
        "one (source) hash-aggregate with map-side partials over a narrow "
        "tokenize-and-count projection; both normalization totals ride "
        "broadcast single-row joins — no second corpus scan, no window "
        "over docs",
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["Window", "SortMergeJoin"],
    ),
    "c4_clean": (
        "one narrow in-codegen projection per doc — split / higher-order "
        "line filter / array_join / regexp_count are all JVM expressions; "
        "no shuffle, no Python, only (doc_id, text) in ReadSchema",
        ["Project"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "gopher_quality": (
        "Gopher table-A1 quality gates are one narrow in-codegen "
        "projection per doc — split / higher-order filter / aggregate / "
        "regexp_count are all JVM expressions; integer-exact gate "
        "arithmetic; no shuffle, no Python, only (doc_id, text) in "
        "ReadSchema",
        ["Project"],
        ["Exchange", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "winnow_fingerprints": (
        "k-gram hashing and window-min selection are transform(sequence)/"
        "array_min(slice) over per-doc arrays in one in-codegen projection "
        "+ one Generate — no shuffle, no Python",
        ["Generate", "Project"],
        ["Exchange", "Window", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "chunk_windows": (
        "every window is a token-array slice built by transform(sequence) "
        "inside whole-stage codegen, then ONE posexplode (Generate) emits "
        "chunk rows — no shuffle, no Python, no window function",
        ["Generate", "Project"],
        ["Exchange", "Window", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "semdedup": (
        "cell assignment is one narrow Arrow map against broadcast "
        "k-means centroids (trained on a bounded driver-side sample); "
        "the within-cell verify is one applyInPandas group per cell "
        "streaming row-blocked BLAS — pair rows never exist in the plan; "
        "exact-dup collapse (hash-agg on the vector bytes) bounds hot "
        "cells before any quadratic work",
        ["ArrowEvalPython", "FlatMapGroupsInPandas", "HashAggregate"],
        ["CartesianProduct"],
    ),
    "ann_cosine_check": (
        "score certification: ANN outputs rejoin embeddings (query side "
        "broadcast) and recompute the cosine in-plan; the two method "
        "branches union — no cross product",
        ["BroadcastHashJoin", "Union"],
        ["CartesianProduct"],
    ),
}


def main() -> None:
    from newocr_spark.pipeline.session import build_session
    import __spark_entry__ as e

    spark = build_session(app="explain", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = e.queries()

    out = ["# PLANS — physical-plan evidence (`.explain('formatted')`)\n"]
    out.append(
        f"Captured from `{SF}` with AQE on. Regenerate: "
        "`python scripts/explain_plans.py`.\n"
    )
    for name, spec in CHECKS.items():
        why, expect = spec[0], spec[1]
        forbid = spec[2] if len(spec) > 2 else []
        df = queries[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        missing = [tok for tok in expect if tok not in plan]
        present = [tok for tok in forbid if tok in plan]
        status = "OK" if not (missing or present) else (
            (f"MISSING {missing} " if missing else "")
            + (f"FORBIDDEN-PRESENT {present}" if present else "")
        ).strip()
        out.append(f"\n## {name}\n\n*Expectation:* {why}  \n*Check:* {status}\n")
        out.append("```\n" + plan.strip()[:6000] + "\n```\n")
        print(f"{name}: {status}")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
