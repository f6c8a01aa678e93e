"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)       — flagship OCR extraction on sf0.001: derive the
                     interleaved text+media documents table from the text
                     corpus, render media with the deterministic SparkGrid
                     font, run the mapInPandas OCR pipeline, return the
                     extracted spans.
queries()          — operator registry (SURVEY.md §2 relational analogues +
                     training-data pipeline ops + the OCR flagship).
oracle_sql()       — DuckDB-equivalent SQL per query. The OCR flagship IS
                     oracle-checked: the oracle reconstructs the expected
                     span table in pure SQL (recognized text must equal the
                     rendered source text), so CORRECTNESS_r{N} directly
                     gates recognition fidelity. The only rows-only
                     entries are the six seed-dependent approximate
                     paths (ann_lsh, ann_ivf, embed_lsh_neardup,
                     ann_recall, neardup_recall, semdedup); their
                     verifiable halves are oracle-green via the
                     must-be-empty certifications (neardup_lsh_precision,
                     ann_cosine_check, semdedup_check) and their recall
                     floors are pinned in pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

OCR_MAX_DOCS = 150


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from newocr_spark.artifacts import get_model
    from newocr_spark.fixtures import corpus_fixture_tables
    from newocr_spark.pipeline.extract import extract_spans

    model = get_model()
    docs, media = corpus_fixture_tables(
        spark, "/root/testdata/sf0.001", model, max_docs=64
    )
    return extract_spans(spark, docs, media, model)


OCR_WIDE_MAX_DOCS = 60


def _ocr_extract_face(
    spark: SparkSession, sf_dir: str, font: str, max_docs: int
) -> DataFrame:
    from newocr_spark.artifacts import get_model
    from newocr_spark.fixtures import corpus_fixture_tables
    from newocr_spark.pipeline.extract import extract_spans

    model = get_model(font)
    face = None
    if font != "SparkGrid":
        from newocr_spark.font.glyphs import FACES

        face = FACES[font]()
    docs, media = corpus_fixture_tables(
        spark, sf_dir, model, max_docs=max_docs, face=face
    )
    return extract_spans(spark, docs, media, model).select(
        "doc_id", "seq", "kind", "text", "media_ref", "offset"
    )


def _ocr_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ocr_extract_face(spark, sf_dir, "SparkGrid", OCR_MAX_DOCS)


def _ocr_assembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 oracle-checked: per-doc span re-assembly in ``seq`` order
    (``assemble_documents``); the assembled doc is rendered as one string
    so the DuckDB comparison is flat-typed."""
    from pyspark.sql import functions as F

    from newocr_spark.artifacts import get_model
    from newocr_spark.fixtures import corpus_fixture_tables
    from newocr_spark.pipeline.extract import assemble_documents, extract_spans

    model = get_model()
    docs, media = corpus_fixture_tables(spark, sf_dir, model, max_docs=OCR_MAX_DOCS)
    assembled = assemble_documents(extract_spans(spark, docs, media, model))

    def piece(s):
        return F.concat_ws(
            "|", s["kind"], F.coalesce(s["media_ref"], F.lit("-")), F.coalesce(s["text"], F.lit(""))
        )

    return assembled.select(
        "doc_id",
        F.array_join(F.transform("spans", piece), " || ").alias("doc_repr"),
        F.size("spans").cast("long").alias("n_spans"),
    )


OCR_ASSEMBLED_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {OCR_MAX_DOCS}
),
spans AS (
  SELECT printf('doc-%06d', doc_id) AS doc_id, 0 AS off,
         'text|-|' || text AS p FROM base
  UNION ALL
  SELECT printf('doc-%06d', doc_id) AS doc_id, 10 AS off,
         'text|' || printf('m-%06d', doc_id) || '|' || text AS p FROM base
)
SELECT doc_id, string_agg(p, ' || ' ORDER BY off) AS doc_repr,
       count(*) AS n_spans
FROM spans GROUP BY doc_id
"""


def _ocr_extract_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same end-to-end extraction, second trained font (SparkGridWide) —
    recognition must still be exact, so the same SQL oracle shape applies."""
    return _ocr_extract_face(spark, sf_dir, "SparkGridWide", OCR_WIDE_MAX_DOCS)


def _ocr_extract_serif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third trained font (SparkGridSerif): different glyph topology —
    thickness-3 serifed strokes, flat 2-row dots, re-proportioned piece
    gaps — so every trained distance ratio differs from both other faces
    and the mergence gates run at new operating points (the analogue of
    the reference's six metrically distinct certified fonts,
    test/fonts/Font*.java). Recognition must still be exact."""
    return _ocr_extract_face(spark, sf_dir, "SparkGridSerif", OCR_WIDE_MAX_DOCS)


def _ocr_extract_wideserif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth trained font (SparkGridWideSerif): the serif glyph set under
    the proven 1.5x horizontal stretch — one corner of the six-face
    {base, wide, tall} x {sans, serif} grid (parity with the reference's
    six fonts, test/fonts/Font*.java via Accuracy.java:34-77). Every X-based
    trained ratio (apostrophe gate, space insertion) runs at a fourth
    operating point. Recognition must still be exact."""
    return _ocr_extract_face(spark, sf_dir, "SparkGridWideSerif", OCR_WIDE_MAX_DOCS)


def _ocr_extract_tall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth trained font (SparkGridTall): the base glyph set under a 1.5x
    VERTICAL stretch (cell 24, face-parametric line gap) — the Y-axis dual
    of SparkGridWide. Every absolute Y-distance merge window scales 1.5x
    and the parity of odd-row duplication shifts most Y-ratios
    (colonDistance 0.8, semicolonDistance 0.5, apostropheRatio 3.5), so
    the mergence gates run at a fifth operating point. Recognition must
    still be exact."""
    return _ocr_extract_face(spark, sf_dir, "SparkGridTall", OCR_WIDE_MAX_DOCS)


def _ocr_extract_tallserif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sixth trained font (SparkGridTallSerif): the serif glyph set under
    the 1.5x vertical stretch — completing a {base, wide, tall} x
    {sans, serif} grid of SIX certified faces, exact parity with the
    reference's six certified fonts (test/fonts/Font*.java via
    fonts/Accuracy.java:34-77). Recognition must still be exact."""
    return _ocr_extract_face(spark, sf_dir, "SparkGridTallSerif", OCR_WIDE_MAX_DOCS)


def _ocr_sql(max_docs: int) -> str:
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {max_docs}
)
SELECT printf('doc-%06d', doc_id) AS doc_id, 0 AS seq, 'text' AS kind,
       text, CAST(NULL AS VARCHAR) AS media_ref, 0 AS "offset"
FROM base
UNION ALL
SELECT printf('doc-%06d', doc_id) AS doc_id, 1 AS seq, 'text' AS kind,
       text, printf('m-%06d', doc_id) AS media_ref, 10 AS "offset"
FROM base
"""


OCR_EXTRACT_SQL = _ocr_sql(OCR_MAX_DOCS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from newocr_spark.queries import QUERIES

    out = dict(QUERIES)
    out["ocr_extract"] = _ocr_extract
    out["ocr_extract_wide"] = _ocr_extract_wide
    out["ocr_extract_serif"] = _ocr_extract_serif
    out["ocr_extract_wideserif"] = _ocr_extract_wideserif
    out["ocr_extract_tall"] = _ocr_extract_tall
    out["ocr_extract_tallserif"] = _ocr_extract_tallserif
    out["ocr_assembled"] = _ocr_assembled
    return out


def oracle_sql() -> dict[str, str]:
    from newocr_spark.queries import ORACLES

    out = dict(ORACLES)
    out["ocr_extract"] = OCR_EXTRACT_SQL
    out["ocr_extract_wide"] = _ocr_sql(OCR_WIDE_MAX_DOCS)
    out["ocr_extract_serif"] = _ocr_sql(OCR_WIDE_MAX_DOCS)
    out["ocr_extract_wideserif"] = _ocr_sql(OCR_WIDE_MAX_DOCS)
    out["ocr_extract_tall"] = _ocr_sql(OCR_WIDE_MAX_DOCS)
    out["ocr_extract_tallserif"] = _ocr_sql(OCR_WIDE_MAX_DOCS)
    out["ocr_assembled"] = OCR_ASSEMBLED_SQL
    return out
