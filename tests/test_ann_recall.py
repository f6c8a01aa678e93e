"""ANN quality harness: the approximate paths (hyperplane LSH, IVF) must
hit a recall floor against the exact cosine_topk ground truth — "25 rows"
alone proves plumbing, not quality. Floors are set from a parameter sweep
at the default settings (see test docstrings); raising n_tables/nprobe
raises recall monotonically without changing the join shape.

Also pins the quadratic-baseline scale guards: the exact all-pairs
operators refuse oversized inputs instead of silently becoming the
production path at scale.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
N_QUERIES = 8
K = 5


def _recall(approx_df, exact_df) -> float:
    """Mean fraction of exact top-k neighbor ids the approximate path
    recovered, per query."""
    exact = {}
    for r in exact_df.collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in approx_df.collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    scores = [
        len(approx.get(q, set()) & nbrs) / len(nbrs) for q, nbrs in exact.items()
    ]
    assert scores, "ground truth produced no queries"
    return sum(scores) / len(scores)


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def exact_topk(spark, embeddings):
    from newocr_spark.analytics.similarity import cosine_topk

    return cosine_topk(embeddings, n_queries=N_QUERIES, k=K).cache()


def test_lsh_recall_floor(spark, embeddings, exact_topk):
    """Multi-table hyperplane LSH at defaults (4 planes x 8 tables,
    1-bit-flip multiprobe). Measured sweep on this corpus (seed 42):
    exact-bucket only (multiprobe=0) 4 tables 0.375 / 8 tables 0.70 /
    16 tables 0.975; multiprobe=1 at 8 tables lifts 0.70 → 1.00 by
    probing the planes+1 query-side neighbor buckets. Floor 0.8 leaves
    margin under the seeded draw."""
    from newocr_spark.analytics.similarity import lsh_ann_topk

    approx = lsh_ann_topk(embeddings, n_queries=N_QUERIES, k=K)
    assert _recall(approx, exact_topk) >= 0.8


def test_lsh_multiprobe_widens_recall(spark, embeddings, exact_topk):
    """Multiprobe only ADDS query-side probe buckets → its candidate set
    is a superset of the exact-bucket set; recall must not drop."""
    from newocr_spark.analytics.similarity import lsh_ann_topk

    r0 = _recall(
        lsh_ann_topk(embeddings, n_queries=N_QUERIES, k=K, multiprobe=0),
        exact_topk,
    )
    r1 = _recall(
        lsh_ann_topk(embeddings, n_queries=N_QUERIES, k=K, multiprobe=1),
        exact_topk,
    )
    assert r1 >= r0


def test_ivf_recall_floor(spark, embeddings, exact_topk):
    """IVF on this SYNTHETIC corpus: the embeddings are near-uniform random
    vectors with weak cluster structure, so recall tracks the fraction of
    cells probed (measured: nprobe 1/2/3/4 → 0.375/0.525/0.675/0.775 of
    exact top-5) rather than the much steeper curve real clustered data
    gives. Floors pin that measured behavior: defaults (nprobe=2) ≥ 0.45,
    nprobe=4 (half the cells) ≥ 0.7."""
    from newocr_spark.analytics.similarity import ivf_ann_topk

    approx = ivf_ann_topk(embeddings, n_queries=N_QUERIES, k=K)
    assert _recall(approx, exact_topk) >= 0.45
    wider = ivf_ann_topk(embeddings, n_queries=N_QUERIES, k=K, nprobe=4)
    assert _recall(wider, exact_topk) >= 0.7


def test_ivf_nprobe_monotone(spark, embeddings, exact_topk):
    """More probes can only widen the candidate set → recall must not drop."""
    from newocr_spark.analytics.similarity import ivf_ann_topk

    r2 = _recall(
        ivf_ann_topk(embeddings, n_queries=N_QUERIES, k=K, nprobe=2), exact_topk
    )
    r8 = _recall(
        ivf_ann_topk(embeddings, n_queries=N_QUERIES, k=K, nprobe=8), exact_topk
    )
    assert r8 >= r2
    assert r8 >= 0.99  # nprobe == n_cells probes everything → exact


def test_ann_recall_query_agrees_with_harness(spark, embeddings, exact_topk):
    """The contract query ann_recall (rows-only in CORRECTNESS_r{N}) must
    report, per method, the same mean recall this harness computes — the
    driver artifact and the pytest floors can never drift apart."""
    from newocr_spark.analytics.similarity import (
        ann_recall, ivf_ann_topk, lsh_ann_topk,
    )

    out = ann_recall(embeddings, n_queries=N_QUERIES, k=K, nprobe=4).collect()
    assert {r.method for r in out} == {"lsh", "ivf"}
    assert len(out) == 2 * N_QUERIES
    by_method = {}
    for r in out:
        by_method.setdefault(r.method, []).append(r.recall_at_k)
    mean = {m: sum(v) / len(v) for m, v in by_method.items()}
    assert mean["lsh"] == pytest.approx(
        _recall(lsh_ann_topk(embeddings, n_queries=N_QUERIES, k=K), exact_topk),
        abs=1e-4,
    )
    assert mean["ivf"] == pytest.approx(
        _recall(
            ivf_ann_topk(embeddings, n_queries=N_QUERIES, k=K, nprobe=4),
            exact_topk,
        ),
        abs=1e-4,
    )
    assert mean["lsh"] >= 0.8 and mean["ivf"] >= 0.7


def test_quadratic_guard_ngram(spark):
    from newocr_spark.analytics.dedup import QuadraticScaleError, ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(10)], "doc_id long, text string"
    )
    with pytest.raises(QuadraticScaleError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(docs, max_rows=5).count()
    # explicit opt-out still works
    assert ngram_jaccard_pairs(docs, max_rows=None).count() >= 0


def test_quadratic_guard_embeddings(spark, embeddings):
    from newocr_spark.analytics.dedup import QuadraticScaleError
    from newocr_spark.analytics.similarity import embedding_neardup_pairs

    with pytest.raises(QuadraticScaleError, match="lsh_neardup_pairs"):
        embedding_neardup_pairs(embeddings, max_rows=10).count()


def test_ngram_jaccard_strategies_agree(spark):
    """The bitmap (dense-vocab) and equi-join (sparse-vocab) physical
    strategies must produce identical exact pairs."""
    from newocr_spark.analytics.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bm = ngram_jaccard_pairs(docs, threshold=0.5, strategy="bitmap").toPandas()
    jn = ngram_jaccard_pairs(docs, threshold=0.5, strategy="join").toPandas()
    key = lambda df: df.sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    bm, jn = key(bm), key(jn)
    assert len(bm) == len(jn) and len(bm) > 0
    assert (bm["doc_a"].to_numpy() == jn["doc_a"].to_numpy()).all()
    assert (bm["doc_b"].to_numpy() == jn["doc_b"].to_numpy()).all()
    assert (bm["jaccard"].to_numpy() == jn["jaccard"].to_numpy()).all()

    # threshold 0 boundary: the join strategy can only EMIT pairs that
    # share >= 1 shingle; the bitmap kernel must not invent
    # zero-intersection jaccard-0.0 pairs there (regression pin)
    few = docs.filter("doc_id < 20")
    bm0 = ngram_jaccard_pairs(few, threshold=0.0, strategy="bitmap").toPandas()
    jn0 = ngram_jaccard_pairs(few, threshold=0.0, strategy="join").toPandas()
    assert len(bm0) == len(jn0)
    assert set(map(tuple, bm0[["doc_a", "doc_b"]].to_numpy())) == set(
        map(tuple, jn0[["doc_a", "doc_b"]].to_numpy())
    )

    # unknown strategies fail loudly instead of silently running the
    # quadratic shuffle the caller opted out of
    with pytest.raises(ValueError, match="unknown strategy"):
        ngram_jaccard_pairs(few, threshold=0.5, strategy="Bitmap")


@pytest.mark.parametrize("bound", ["MAX_BITMAP_VOCAB", "MAX_BITMAP_BYTES"])
def test_ngram_bitmap_driver_collects_bounded(spark, monkeypatch, bound):
    """strategy='bitmap' with the row guard off: an oversized vocab, or a
    docs x vocab/8 matrix over the byte budget, raises before either
    driver collect runs and points at strategy='join'."""
    from pyspark.sql import DataFrame

    from newocr_spark.analytics import dedup

    docs = spark.createDataFrame(
        [(i, f"doc body {i} more words") for i in range(10)], "doc_id long, text string"
    )
    monkeypatch.setattr(dedup, bound, 4)

    def no_collect(self):
        raise AssertionError("collected past the bound")

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    with pytest.raises(ValueError, match="strategy='join'"):
        dedup.ngram_jaccard_pairs(docs, max_rows=None, strategy="bitmap")


def test_lsh_neardup_pairs_recall_and_precision(spark, embeddings):
    """The banded-LSH pairs scale path vs the exact quadratic baseline at
    threshold 0.4: precision must be EXACTLY 1.0 (every emitted pair is
    exactly verified — a false positive would be a bug, not a tuning
    artifact); recall is the bucketing's collision probability (measured
    0.77 / 0.94 / 0.99 at 8/16/24 tables, seed 42) — floor 0.85 at the
    16-table default."""
    from newocr_spark.analytics.similarity import (
        embedding_neardup_pairs, lsh_neardup_pairs,
    )

    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_pairs(embeddings, threshold=0.4).collect()
    }
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in lsh_neardup_pairs(embeddings, threshold=0.4).collect()
    }
    assert set(got) <= set(exact)  # precision 1.0
    assert len(got) / len(exact) >= 0.85
    for pair, cos in got.items():
        # the verify IS the exact formula, but the two sides sum in
        # different float orders (numpy BLAS matmul vs JVM sequential
        # fold) and emulate HALF_UP differently — a boundary cosine can
        # legitimately flip the 6th rounded digit by one ulp of 1e-6
        # (similarity.py docstring); compare with that half-ulp tolerance
        assert abs(cos - exact[pair]) <= 1e-6


def test_certification_queries_are_empty_and_not_vacuous(spark, embeddings):
    """The must-be-empty contract queries (neardup_lsh_precision,
    ann_cosine_check) certify invariants, so (a) they must be empty on the
    real operators, and (b) a CORRUPTED input must produce rows — the
    checks cannot be empty by construction of the query itself."""
    from newocr_spark.analytics.similarity import (
        _cosine_mismatches,
        _precision_violations,
        ann_cosine_violations,
        embedding_neardup_pairs,
        lsh_ann_topk,
        lsh_precision_violations,
    )

    assert lsh_precision_violations(embeddings, threshold=0.4).count() == 0
    assert ann_cosine_violations(embeddings, n_queries=N_QUERIES, k=K).count() == 0

    # negative control: a fabricated pair far above threshold must surface
    exact = embedding_neardup_pairs(embeddings, threshold=0.4)
    bogus = spark.createDataFrame(
        [(1, 2, 0.99)], "vec_a long, vec_b long, cosine double"
    )
    assert _precision_violations(bogus, exact, 0.4).count() == 1
    # ...but a boundary-cell pair (within one ulp of the threshold) is
    # excused — the two engines may legitimately disagree there
    boundary = spark.createDataFrame(
        [(1, 2, 0.400001)], "vec_a long, vec_b long, cosine double"
    )
    assert _precision_violations(boundary, exact, 0.4).count() == 0

    # negative control: nudging a reported cosine must surface as mismatch
    approx = lsh_ann_topk(embeddings, n_queries=N_QUERIES, k=K)
    corrupted = approx.withColumn(
        "cosine", F.col("cosine") + F.lit(0.001)
    )
    assert _cosine_mismatches(corrupted, embeddings, "lsh").count() > 0


def test_lsh_neardup_strategies_agree(spark, embeddings):
    """The bucket-kernel (BLAS within buckets, no candidate rows) and the
    pair-join (id self-join + JVM verify) strategies must emit the same
    pair set; cosines agree to the documented one-ulp-of-1e-6 tolerance
    (BLAS vs sequential-fold summation)."""
    from newocr_spark.analytics.similarity import lsh_neardup_pairs

    bk = {
        (r.vec_a, r.vec_b): r.cosine
        for r in lsh_neardup_pairs(
            embeddings, threshold=0.4, strategy="bucket-kernel"
        ).collect()
    }
    pj = {
        (r.vec_a, r.vec_b): r.cosine
        for r in lsh_neardup_pairs(
            embeddings, threshold=0.4, strategy="pair-join"
        ).collect()
    }
    assert set(bk) == set(pj) and len(bk) > 0
    for pair, cos in bk.items():
        assert abs(cos - pj[pair]) <= 1e-6


def test_neardup_recall_query_agrees_with_harness(spark, embeddings):
    """The rows-only contract query neardup_recall must report the same
    corpus-level recall/precision the pytest harness computes."""
    from newocr_spark.analytics.similarity import (
        embedding_neardup_pairs, lsh_neardup_pairs, neardup_recall,
    )

    row = neardup_recall(embeddings, threshold=0.4).collect()[0]
    exact = {(r.vec_a, r.vec_b) for r in embedding_neardup_pairs(embeddings, threshold=0.4).collect()}
    got = {(r.vec_a, r.vec_b) for r in lsh_neardup_pairs(embeddings, threshold=0.4).collect()}
    assert row.n_exact == len(exact) and row.n_approx == len(got)
    assert row.n_hit == len(got & exact)
    assert row.precision == 1.0
    assert row.recall >= 0.85
    assert not row.sampled and row.n_corpus == embeddings.count()


def test_neardup_recall_sample_bound(spark, embeddings):
    """Past the quadratic guard the recall diagnostic must keep working on
    a deterministic hash sample instead of raising: forcing sample_max
    below the corpus size at sf0.001 yields a sampled measurement whose
    recall approximates the full one (bucketing is exchangeable over
    vectors; the sample halves the corpus, quartering pair counts — the
    estimate is noisy but unbiased)."""
    from newocr_spark.analytics.similarity import neardup_recall

    full = neardup_recall(embeddings, threshold=0.4).collect()[0]
    samp = neardup_recall(embeddings, threshold=0.4, sample_max=250).collect()[0]
    assert samp.sampled and samp.n_corpus == full.n_corpus
    assert 0 < samp.n_exact < full.n_exact  # genuinely smaller measurement
    assert samp.precision == 1.0  # subset property holds on any sub-corpus
    assert abs(samp.recall - full.recall) <= 0.15
    # determinism: the hash sample reproduces bit-identically
    again = neardup_recall(embeddings, threshold=0.4, sample_max=250).collect()[0]
    assert again == samp
