"""Spark queries + DuckDB oracles for the web-extraction subsystem.

Dataflow (north_rule: main-content extraction over interleaved docs):

    documents.parquet ──mapInPandas──▶ synthesized HTML page   (fixture)
        └──────────────mapInPandas──▶ DOM parse → boilerplate strip
                                      → interleaved spans (input_hint shape)
                                          ├─ text spans ──────────────┐
                                          └─ media spans ─ OCR kernel ┤
                                                                      ▼
                                            extracted per-doc span sequence

Scale shape: page synthesis, DOM parse, classification and PDF parse are
all *narrow* maps over Arrow batches — zero shuffles; the only wide op
is inside pipeline/extract.extract_spans (the metadata-only missing-media
anti-join; spans carry their split-time seq, so no per-doc window). Every query here
is oracle-checked: the fixtures are pure functions of (doc_id, text), so
the expected output — paragraph chunking, span offsets, page counts —
is reconstructed in DuckDB SQL over the same documents table.

Each page body exists once. ``html_to_documents`` is the one page →
spans map: ``q_html_spans`` explodes its output, and ``q_web_extract``
and the streaming front-end feed it to the OCR pipeline. ``_main_text``
is the one page → (title, main text, paragraph count) map, over
synthesized pages in ``extract_main_text`` and over WARC payloads in
``q_warc_extract``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .boilerplate import extract_content
from .htmlgen import MEDIA_EVERY, PARA_WORDS, page_html
from .pdf import LINE_WORDS, LINES_PER_COL, doc_pdf, extract_pdf_text

HTML_MAX_DOCS = 200
PDF_MAX_DOCS = 200
WEB_E2E_MAX_DOCS = 96

# span offsets advance by len(text)+2 for text, 3 for media (object
# replacement char + separator) — mirrored in the SQL oracles
TEXT_ADV = 2
MEDIA_ADV = 3


def _corpus(
    spark: SparkSession, sf_dir: str, max_docs: int, partitions: int | None = None
) -> DataFrame:
    """(doc_id, text) slice. ``partitions`` spreads a single-row-group
    parquet file (the small-sf testdata shape) across the cluster before
    the narrow extraction maps — a real crawl input arrives as thousands
    of splits and needs no such shuffle, so the default plan stays
    shuffle-free."""
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < max_docs)
        .select("doc_id", "text")
    )
    return df.repartition(partitions) if partitions else df


# ---------------------------------------------------------------------------
# HTML: main text + title
# ---------------------------------------------------------------------------


def _main_text(pages: DataFrame, src_col: str, page_of) -> DataFrame:
    """(doc_id:int, ``src_col``) rows → one (doc_id, title, main_text,
    n_paras) row per page, where ``page_of(doc_id, src)`` gives the page's
    HTML: the one page body behind extract_main_text and q_warc_extract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, src in zip(pdf["doc_id"], pdf[src_col]):
                out = extract_content(page_of(int(did), src))
                paras = [t for k, t, _ in out["items"] if k == "text"]
                rows.append(
                    (
                        f"doc-{int(did):06d}",
                        out["title"],
                        "\n\n".join(paras),
                        len(paras),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "title", "main_text", "n_paras"]
            )

    return pages.mapInPandas(
        run, "doc_id string, title string, main_text string, n_paras int"
    )


def extract_main_text(corpus: DataFrame) -> DataFrame:
    """(doc_id:int, text) corpus → synthesize page → strip boilerplate →
    clean article text. One narrow mapInPandas; no shuffle anywhere in
    the plan (also the unit the scaling bench measures)."""
    return _main_text(corpus, "text", page_html)


def q_html_main_text(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    return extract_main_text(_corpus(spark, sf_dir, max_docs, partitions))


def html_main_text_sql(max_docs: int = HTML_MAX_DOCS) -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {max_docs}
),
words AS (
  SELECT doc_id, w.word, w.pos FROM docs,
  LATERAL (SELECT UNNEST(string_split(text, ' ')) AS word,
                  generate_subscripts(string_split(text, ' '), 1) AS pos) w
),
paras AS (
  SELECT doc_id, CAST((pos - 1) // {PARA_WORDS} AS INT) AS para,
         string_agg(word, ' ' ORDER BY pos) AS ptext
  FROM words GROUP BY 1, 2
)
SELECT printf('doc-%06d', doc_id) AS doc_id,
       printf('Report %06d', doc_id) AS title,
       string_agg(ptext, chr(10) || chr(10) ORDER BY para) AS main_text,
       CAST(count(*) AS INT) AS n_paras
FROM paras GROUP BY doc_id
"""


def q_html_block_stats(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """Classifier certification: TOTAL block and boilerplate-block counts
    per page. The fixture page structure is closed-form — chrome
    contributes 21 blocks (19 boiler), a figure adds 2 (media+caption), an
    inline ad adds 1 boiler — so any block the classifier mislabels
    (a sidebar item leaking into content, a paragraph marked boiler) shifts
    a count and turns the oracle red. Stronger than the round-trip checks,
    which only see the content side."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                out = extract_content(page_html(int(did), text))
                n_paras = sum(1 for k, _, _ in out["items"] if k == "text")
                rows.append(
                    (f"doc-{int(did):06d}", n_paras, out["n_blocks"], out["n_boiler"])
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_paras", "n_blocks", "n_boiler"]
            )

    return _corpus(spark, sf_dir, max_docs, partitions).mapInPandas(
        run, "doc_id string, n_paras int, n_blocks int, n_boiler int"
    )


def html_block_stats_sql(max_docs: int = HTML_MAX_DOCS) -> str:
    """Chrome contributes 21 blocks (19 boiler) on the semantic template
    and 13 (12 boiler) on the tabular one; a figure adds media+caption, an
    inline ad one boiler block."""
    return f"""
WITH docs AS (
  SELECT doc_id, text,
         CAST((len(string_split(text, ' ')) + {PARA_WORDS - 1})
              // {PARA_WORDS} AS INT) AS p,
         doc_id % 2 = 0 AS semantic
  FROM documents WHERE doc_id < {max_docs}
)
SELECT printf('doc-%06d', doc_id) AS doc_id,
       p AS n_paras,
       CAST(p + CASE WHEN semantic THEN 21 ELSE 13 END
            + CASE WHEN doc_id % {MEDIA_EVERY} = 0 THEN 2 ELSE 0 END
            + CASE WHEN p > 2 THEN 1 ELSE 0 END AS INT) AS n_blocks,
       CAST(CASE WHEN semantic THEN 19 ELSE 12 END
            + CASE WHEN p > 2 THEN 1 ELSE 0 END AS INT) AS n_boiler
FROM docs
"""


# ---------------------------------------------------------------------------
# HTML: page metadata (clean title / author / published date)
# ---------------------------------------------------------------------------


def q_html_metadata(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """Readability/trafilatura-style metadata: de-branded <title>, byline
    author, ISO published date. Narrow map; generic heuristics
    (web/metadata.py), verified here against the closed-form fixture
    byline/title laws of BOTH page templates."""
    from .metadata import page_metadata

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                md = page_metadata(page_html(int(did), text))
                rows.append(
                    (f"doc-{int(did):06d}", md["title"], md["author"], md["published"])
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "title", "author", "published"]
            )

    return _corpus(spark, sf_dir, max_docs, partitions).mapInPandas(
        run, "doc_id string, title string, author string, published string"
    )


def html_metadata_sql(max_docs: int = HTML_MAX_DOCS) -> str:
    """semantic (doc_id%2=0): byline '<a>staff writer</a> — 2026-01-DD',
    branded title 'Report NNNNNN — Example Corpus'; tabular: byline
    'Posted by userK on 2026-02-DD', bare title."""
    return f"""
SELECT printf('doc-%06d', doc_id) AS doc_id,
       printf('Report %06d', doc_id) AS title,
       CASE WHEN doc_id % 2 = 0 THEN 'staff writer'
            ELSE 'user' || CAST(doc_id % 23 AS VARCHAR) END AS author,
       CASE WHEN doc_id % 2 = 0 THEN printf('2026-01-%02d', 1 + doc_id % 28)
            ELSE printf('2026-02-%02d', 1 + doc_id % 28) END AS published
FROM documents WHERE doc_id < {max_docs}
"""


# ---------------------------------------------------------------------------
# HTML: interleaved span extraction (input_hint shape)
# ---------------------------------------------------------------------------


def _items_to_spans(items) -> list[dict]:
    """(kind, text, media_ref) items → span dicts with running offsets.
    Headings ride separately (title); text/media become spans."""
    spans, offset = [], 0
    for kind, text, ref in items:
        if kind == "text":
            spans.append(
                {"kind": "text", "text": text, "media_ref": None, "offset": offset}
            )
            offset += len(text) + TEXT_ADV
        elif kind == "media":
            spans.append(
                {"kind": "media", "text": None, "media_ref": ref, "offset": offset}
            )
            offset += MEDIA_ADV
    return spans


def q_html_spans(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """One row per span of html_to_documents, numbered by its position."""
    docs = html_to_documents(_corpus(spark, sf_dir, max_docs, partitions))
    return docs.select("doc_id", F.posexplode("spans").alias("seq", "s")).select(
        "doc_id", "seq", "s.kind", "s.text", "s.media_ref", "s.offset"
    )


def html_spans_sql(max_docs: int = HTML_MAX_DOCS) -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {max_docs}
),
words AS (
  SELECT doc_id, w.word, w.pos FROM docs,
  LATERAL (SELECT UNNEST(string_split(text, ' ')) AS word,
                  generate_subscripts(string_split(text, ' '), 1) AS pos) w
),
paras AS (
  SELECT doc_id, CAST((pos - 1) // {PARA_WORDS} AS INT) AS para,
         string_agg(word, ' ' ORDER BY pos) AS ptext
  FROM words GROUP BY 1, 2
),
items AS (
  SELECT doc_id, para * 2 AS ord, 'text' AS kind, ptext AS text,
         CAST(NULL AS VARCHAR) AS media_ref,
         length(ptext) + {TEXT_ADV} AS adv
  FROM paras
  UNION ALL
  SELECT doc_id, 1 AS ord, 'media', CAST(NULL AS VARCHAR),
         printf('m-%06d', doc_id), {MEDIA_ADV}
  FROM docs WHERE doc_id % {MEDIA_EVERY} = 0
)
SELECT printf('doc-%06d', doc_id) AS doc_id,
       CAST(row_number() OVER w - 1 AS INT) AS seq, kind, text, media_ref,
       CAST(coalesce(sum(adv) OVER (PARTITION BY doc_id ORDER BY ord
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
         AS "offset"
FROM items WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
"""


# ---------------------------------------------------------------------------
# PDF: layout-aware text extraction
# ---------------------------------------------------------------------------


def q_pdf_extract(
    spark: SparkSession, sf_dir: str, max_docs: int = PDF_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """Synthesize a PDF per doc (1/2-column, Flate/raw per doc_id) and
    parse it back: object graph → content streams → text operators →
    reading-order layout. Narrow map, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n_pages, body = extract_pdf_text(doc_pdf(int(did), text))
                rows.append((f"doc-{int(did):06d}", n_pages, body))
            yield pd.DataFrame(rows, columns=["doc_id", "n_pages", "text"])

    return _corpus(spark, sf_dir, max_docs, partitions).mapInPandas(
        run, "doc_id string, n_pages int, text string"
    )


def pdf_extract_sql(max_docs: int = PDF_MAX_DOCS) -> str:
    two_col_cap = 2 * LINES_PER_COL
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {max_docs}
),
words AS (
  SELECT doc_id, w.word, w.pos FROM docs,
  LATERAL (SELECT UNNEST(string_split(text, ' ')) AS word,
                  generate_subscripts(string_split(text, ' '), 1) AS pos) w
),
lines AS (
  SELECT doc_id, CAST((pos - 1) // {LINE_WORDS} AS INT) AS line,
         string_agg(word, ' ' ORDER BY pos) AS ltext
  FROM words GROUP BY 1, 2
)
SELECT printf('doc-%06d', doc_id) AS doc_id,
       CAST(ceil(count(*) * 1.0 /
            CASE WHEN doc_id % 4 = 1 THEN {two_col_cap}
                 ELSE {LINES_PER_COL} END) AS INT) AS n_pages,
       string_agg(ltext, chr(10) ORDER BY line) AS text
FROM lines GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# End-to-end: HTML → interleaved spans → OCR → assembled span sequence
# ---------------------------------------------------------------------------

SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def html_to_documents(corpus: DataFrame, html_col: str | None = None) -> DataFrame:
    """HTML extraction emitting the exact input_hint table shape
    documents(doc_id, spans) — the bridge from raw web pages into the OCR
    extraction pipeline.

    Two input shapes:

    * ``html_col=None`` (fixture mode): corpus is (doc_id:int, text); the
      page is synthesized deterministically and doc_id is formatted
      ``doc-%06d`` — oracle-reconstructable.
    * ``html_col='html'`` (production shape): corpus is
      (doc_id:string, html); the stored page is extracted as-is and doc_id
      passes through. Per-document fault isolation: a page that fails to
      parse yields one ``kind='error'`` span carrying the exception (the
      downstream pipeline keeps only text/media kinds, so errors are
      queryable here without poisoning extraction)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, spans = [], []
            if html_col is None:
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    out = extract_content(page_html(int(did), text))
                    ids.append(f"doc-{int(did):06d}")
                    spans.append(_items_to_spans(out["items"]))
            else:
                for did, html in zip(pdf["doc_id"], pdf[html_col]):
                    try:
                        out = extract_content(html)
                        spans.append(_items_to_spans(out["items"]))
                    except Exception as exc:
                        spans.append(
                            [
                                {
                                    "kind": "error",
                                    "text": f"{type(exc).__name__}: {exc}",
                                    "media_ref": None,
                                    "offset": 0,
                                }
                            ]
                        )
                    ids.append(str(did))
            yield pd.DataFrame({"doc_id": ids, "spans": spans})

    return corpus.mapInPandas(run, SPANS_SCHEMA)


def q_web_extract(
    spark: SparkSession, sf_dir: str, max_docs: int = WEB_E2E_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """The round-2 flagship: synthesized web pages are boilerplate-
    stripped into interleaved text+media spans; embedded figures resolve
    against the rendered media table and run through the OCR kernel; the
    final output is the per-doc span sequence in offset order — the whole
    north_rule in one plan."""
    from ..artifacts import get_model
    from ..fixtures import corpus_fixture_tables
    from ..pipeline.extract import extract_spans

    model = get_model()
    _docs, media = corpus_fixture_tables(spark, sf_dir, model, max_docs=max_docs)
    corpus = _corpus(spark, sf_dir, max_docs, partitions)
    docs = html_to_documents(corpus)
    return extract_spans(spark, docs, media, model).select(
        "doc_id", "seq", "kind", "text", "media_ref", "offset"
    )


def web_extract_sql(max_docs: int = WEB_E2E_MAX_DOCS) -> str:
    """Expected spans: paragraphs at running offsets; for doc_id%3==0 a
    media span whose recognized text equals the full source text (the
    corpus media renders `text`, and recognition is exact)."""
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {max_docs}
),
words AS (
  SELECT doc_id, w.word, w.pos FROM docs,
  LATERAL (SELECT UNNEST(string_split(text, ' ')) AS word,
                  generate_subscripts(string_split(text, ' '), 1) AS pos) w
),
paras AS (
  SELECT doc_id, CAST((pos - 1) // {PARA_WORDS} AS INT) AS para,
         string_agg(word, ' ' ORDER BY pos) AS ptext
  FROM words GROUP BY 1, 2
),
items AS (
  SELECT doc_id, para * 2 AS ord, ptext AS text,
         CAST(NULL AS VARCHAR) AS media_ref,
         length(ptext) + {TEXT_ADV} AS adv
  FROM paras
  UNION ALL
  SELECT d.doc_id, 1 AS ord, d.text, printf('m-%06d', d.doc_id), {MEDIA_ADV}
  FROM docs d WHERE d.doc_id % {MEDIA_EVERY} = 0
)
SELECT printf('doc-%06d', doc_id) AS doc_id,
       CAST(row_number() OVER w - 1 AS INT) AS seq, 'text' AS kind, text,
       media_ref,
       CAST(coalesce(sum(adv) OVER (PARTITION BY doc_id ORDER BY ord
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
         AS "offset"
FROM items WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
"""


# ---------------------------------------------------------------------------
# HTML: data-table extraction
# ---------------------------------------------------------------------------


def _tables_of(root) -> list:
    """All <table> elements in document order (nested included)."""
    out = []

    def walk(el):
        for ch in el.children:
            if isinstance(ch, str):
                continue
            if ch.tag == "table":
                out.append(ch)
            walk(ch)

    walk(root)
    return out


def _is_data_table(tbl) -> bool:
    """DATA iff the table carries at least one <th> cell and no nested
    <table> — the classic layout/data heuristic (layout grids of the
    table-era web wrap other tables and never declare header cells;
    content tables do the reverse). Class names are deliberately NOT
    consulted: crawled markup lies about those far more often than about
    structure."""
    has_th = False
    for ch in tbl.children:
        stack = [ch]
        while stack:
            el = stack.pop()
            if isinstance(el, str):
                continue
            if el.tag == "table":
                return False
            if el.tag == "th":
                has_th = True
            stack.extend(el.children)
    return has_th


def _el_text(el) -> str:
    """Whitespace-normalized text of a subtree."""
    parts = []
    stack = [el]
    while stack:
        node = stack.pop()
        if isinstance(node, str):
            parts.append(node)
        else:
            stack.extend(reversed(node.children))
    return " ".join("".join(parts).split())


def _table_cells(tbl):
    """Yield (row_idx, col_idx, is_header, text) over the table's OWN
    rows (a data table has no nested tables by classification, so every
    descendant tr/td/th belongs to it; thead/tbody wrappers are
    transparent)."""
    rows = []

    def walk(el):
        for ch in el.children:
            if isinstance(ch, str):
                continue
            if ch.tag == "tr":
                rows.append(ch)
            else:
                walk(ch)

    walk(tbl)
    for ri, tr in enumerate(rows):
        ci = 0
        for ch in tr.children:
            if isinstance(ch, str):
                continue
            if ch.tag in ("td", "th"):
                yield ri, ci, ch.tag == "th", _el_text(ch)
                ci += 1


def q_html_tables(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """Structured data-table extraction: synthesize the table-fixture page
    (one data table buried in two layout tables — htmlgen.table_page_html),
    parse the real DOM, classify data vs layout tables by structure (th
    present, no nested table), and emit every data cell as a typed row —
    the table-to-rows path a training pipeline runs to turn crawled HTML
    tables into structured records.

    Output: (doc_id, table_idx, row_idx, col_idx, is_header, cell) —
    table_idx indexes DATA tables in document order.

    100 TB shape: one narrow mapInPandas over the pruned (doc_id, text)
    scan, exactly like the other extractors — no shuffle in the plan; the
    fan-out (cells per page) happens inside the Arrow batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .dom import parse_html
        from .htmlgen import table_page_html

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                root = parse_html(table_page_html(did, text))
                tidx = 0
                for tbl in _tables_of(root):
                    if not _is_data_table(tbl):
                        continue
                    for ri, ci, is_h, cell in _table_cells(tbl):
                        rows.append(
                            (f"doc-{did:06d}", tidx, ri, ci, is_h, cell)
                        )
                    tidx += 1
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "table_idx", "row_idx", "col_idx",
                    "is_header", "cell",
                ],
            )

    return _corpus(spark, sf_dir, max_docs, partitions).mapInPandas(
        run,
        "doc_id string, table_idx int, row_idx int, col_idx int, "
        "is_header boolean, cell string",
    )


def html_tables_sql(max_docs: int = HTML_MAX_DOCS) -> str:
    """Oracle: rebuild the one data table's cells from the same
    (doc_id, text) arithmetic — header row 'c0..c2' at row 0, then
    2 + doc_id % 3 token-derived rows (htmlgen.table_rows_of). Both
    layout tables must contribute NOTHING, so any layout cell the
    extractor leaks turns the compare red."""
    from .htmlgen import TABLE_COLS

    cols = list(range(TABLE_COLS))
    return f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE doc_id < {max_docs}
),
hdr AS (
  SELECT doc_id, 0 AS row_idx, c AS col_idx, TRUE AS is_header,
         'c' || c AS cell
  FROM docs, unnest({cols}) AS u(c)
),
body AS (
  SELECT doc_id, r AS row_idx, c AS col_idx, FALSE AS is_header,
         words[(((r - 1) * {TABLE_COLS} + c) % len(words)) + 1] AS cell
  FROM docs,
       unnest(range(1, 2 + doc_id % 3 + 1)) AS ur(r),
       unnest({cols}) AS uc(c)
)
SELECT printf('doc-%06d', doc_id) AS doc_id, 0 AS table_idx,
       CAST(row_idx AS INT) AS row_idx, CAST(col_idx AS INT) AS col_idx,
       is_header, cell
FROM (SELECT * FROM hdr UNION ALL SELECT * FROM body)
"""


# ---------------------------------------------------------------------------
# HTML: link / anchor-text extraction
# ---------------------------------------------------------------------------


def _anchors_of(root):
    """(href, anchor_text) for every <a href=...> in document order."""
    out = []

    def walk(el):
        for ch in el.children:
            if isinstance(ch, str):
                continue
            if ch.tag == "a" and "href" in ch.attrs:
                out.append((ch.attrs["href"], _el_text(ch)))
            walk(ch)

    walk(root)
    return out


def q_html_links(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """Link extraction: every <a href> with its anchor text, in document
    order, from the SAME synthesized pages the boilerplate stack parses —
    the edge list an anchor-text corpus or link-graph build consumes
    (anchor text is a first-class training signal: it describes the
    TARGET page, and crawl pipelines harvest it alongside main text).

    Output: (doc_id, link_idx, href, anchor).

    The oracle enumerates the complete closed-form anchor inventory of
    both page templates — nav/breadcrumbs/sidebar/ads/byline/footer for
    the semantic skeleton, topbar/menu/promo/byline for the tabular one,
    plus the conditional inline-ad link on long docs — so a single
    missed, duplicated, or reordered anchor anywhere in the DOM walk
    turns the compare red.

    100 TB shape: one narrow mapInPandas over the pruned (doc_id, text)
    scan, zero exchanges — link fan-out happens inside the Arrow batch;
    a downstream link-graph groupBy(href) is the consumer's shuffle, not
    this operator's."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .dom import parse_html
        from .htmlgen import page_html

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                root = parse_html(page_html(did, text))
                for idx, (href, anchor) in enumerate(_anchors_of(root)):
                    rows.append((f"doc-{did:06d}", idx, href, anchor))
            yield pd.DataFrame(
                rows, columns=["doc_id", "link_idx", "href", "anchor"]
            )

    return _corpus(spark, sf_dir, max_docs, partitions).mapInPandas(
        run, "doc_id string, link_idx int, href string, anchor string"
    )


def html_links_sql(max_docs: int = HTML_MAX_DOCS) -> str:
    """Oracle: the full anchor inventory of htmlgen's two templates,
    rebuilt row-for-row (junk anchor words via the same
    (doc_id*7 + salt*13 + i*3) % |vocab| arithmetic)."""
    from .htmlgen import _VOCAB

    v = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"
    nv = len(_VOCAB)

    def junk(salt: str, n: int) -> str:
        return (
            "array_to_string(list_transform(range(0, {n}), i -> "
            "{v}[(doc_id * 7 + ({salt}) * 13 + i * 3) % {nv} + 1]), ' ')"
        ).format(n=n, v=v, salt=salt, nv=nv)

    # ord bases leave room for each template's k-ranges
    return f"""
WITH docs AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_words
  FROM documents WHERE doc_id < {max_docs}
),
sem AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
tab AS (SELECT * FROM docs WHERE doc_id % 2 = 1),
anchors AS (
  -- semantic template: header nav
  SELECT doc_id, 1 AS ord, '/' AS href, 'Home' AS anchor FROM sem
  UNION ALL SELECT doc_id, 2, '/reports', 'Reports' FROM sem
  UNION ALL SELECT doc_id, 3, '/tags', {junk('31', 2)} FROM sem
  UNION ALL SELECT doc_id, 4, '/contact', 'Contact' FROM sem
  -- breadcrumbs
  UNION ALL SELECT doc_id, 5, '/', 'Home' FROM sem
  UNION ALL SELECT doc_id, 6, '/reports', 'Reports' FROM sem
  -- sidebar related links (k = 0..4)
  UNION ALL SELECT doc_id, 10 + k, '/r/' || ((doc_id + k) % 100),
                   {junk('k', 3)}
            FROM sem, unnest(range(0, 5)) AS u(k)
  -- sidebar ad box
  UNION ALL SELECT doc_id, 20, '#', 'Learn more' FROM sem
  -- article byline
  UNION ALL SELECT doc_id, 21, '/u/' || (doc_id % 17), 'staff writer' FROM sem
  -- inline ad only when the article has > 2 paragraphs (> 24 words)
  UNION ALL SELECT doc_id, 22, '#', 'click here' FROM sem WHERE n_words > 24
  -- footer
  UNION ALL SELECT doc_id, 30, '/tos', 'Terms' FROM sem
  UNION ALL SELECT doc_id, 31, '/privacy', 'Privacy' FROM sem

  -- tabular template: topbar (k = 0..5)
  UNION ALL SELECT doc_id, 1 + k, '/s/' || k, {junk('50 + k', 1)}
            FROM tab, unnest(range(0, 6)) AS u(k)
  -- menu cell (k = 0..5)
  UNION ALL SELECT doc_id, 10 + k, '/cat/' || ((doc_id + k) % 40),
                   {junk('40 + k', 2)}
            FROM tab, unnest(range(0, 6)) AS u(k)
  -- promo
  UNION ALL SELECT doc_id, 20, '#', 'buy' FROM tab
  -- byline
  UNION ALL SELECT doc_id, 21, '/u/' || (doc_id % 23),
                   'user' || (doc_id % 23) FROM tab
  -- inline ad on long docs
  UNION ALL SELECT doc_id, 22, '#', 'click here' FROM tab WHERE n_words > 24
  -- footer
  UNION ALL SELECT doc_id, 30, '/tos', 'Terms' FROM tab
  UNION ALL SELECT doc_id, 31, '/priv', 'Privacy' FROM tab
)
SELECT printf('doc-%06d', doc_id) AS doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS INT)
         AS link_idx,
       href, anchor
FROM anchors
"""


def q_html_linkgraph(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """Link-graph rollup over `q_html_links`: per target href, total
    in-links and distinct linking documents — the in-degree table a
    crawl-frontier ranker or anchor-text aggregator starts from.

    Output: (href, n_links, n_docs).

    100 TB shape: the one (href) hash-aggregate with map-side partials
    is exactly the consumer shuffle the extractor's docstring defers; a
    handful of chrome hrefs ('/', '/tos', '#') dominate — the classic
    skewed key — but the map-side partial collapses each task's copies
    to one row per href before the exchange, so the hot keys ride as
    O(tasks) partial rows, not O(links)."""
    links = q_html_links(spark, sf_dir, max_docs, partitions)
    return links.groupBy("href").agg(
        F.count("*").cast("long").alias("n_links"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


def html_linkgraph_sql(max_docs: int = HTML_MAX_DOCS) -> str:
    """Oracle: the links inventory grouped the same way."""
    return f"""
WITH links AS ({html_links_sql(max_docs)})
SELECT href, CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM links GROUP BY href
"""


def _with_urls(docs: DataFrame) -> DataFrame:
    """Deterministically synthesize a messy crawl URL per doc (the
    documents table carries none): mixed-case scheme/host, an explicit
    default port, tracking params out of order, and a fragment — every
    defect the canonicalizer must fix, as a pure function of
    (doc_id, source) so the oracle rebuilds the identical input."""
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper(F.col("source")),
            F.lit(".Example.COM:443/reports/"),
            did.cast("string"),
            F.when(F.pmod(did, F.lit(4)) == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=feed&z=2&a="),
            F.pmod(did, F.lit(5)).cast("string"),
            F.when(
                F.pmod(did, F.lit(3)) == 0, F.lit("&utm_campaign=x&m=1")
            ).otherwise(F.lit("")),
            F.lit("#section-"),
            F.pmod(did, F.lit(7)).cast("string"),
        ).alias("url"),
    )


def url_canonical(pages: DataFrame, extra: tuple = ()) -> DataFrame:
    """Crawl-URL canonicalization — the normalization every dedup /
    frontier / join-on-URL stage runs first (RFC 3986 §6 normalizations
    plus the tracking-param strip crawl pipelines add):

    * scheme + host lowercased, leading ``www.`` dropped
    * the scheme's OWN explicit default port dropped (``:443`` for
      https, ``:80`` for http — RFC 3986 §6.2.3 default-port elision is
      scheme-relative; ``https://h:80`` is a different origin than
      ``https://h`` and stays distinct)
    * trailing slash trimmed from non-root paths
    * fragment dropped
    * query: ``utm_*`` tracking params removed, the rest SORTED (param
      order is transport noise), empty query dropped

    Output: (doc_id, url, canon_url, *extra) — ``extra`` names input
    columns threaded through unchanged so consumers (url_dedup) avoid a
    join back to the source table.

    100 TB shape: one narrow in-codegen projection — split / lower /
    higher-order filter + array_sort / concat are all JVM expressions, so
    there is no shuffle and no Python anywhere; a downstream
    dedup-by-canon_url is the consumer's hash-aggregate."""
    url = F.col("url")
    no_frag = F.split(url, "#", 2).getItem(0)
    scheme = F.lower(F.split(no_frag, "://", 2).getItem(0))
    rest = F.get(F.split(no_frag, "://", 2), 1)
    hostpath = F.split(rest, r"\?", 2).getItem(0)
    query = F.get(F.split(rest, r"\?", 2), 1)  # NULL when no '?'
    host = F.lower(F.split(hostpath, "/", 2).getItem(0))
    host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .otherwise(host)
    )
    path = F.get(F.split(hostpath, "/", 2), 1)  # NULL when bare host
    path = F.when(
        path.isNull() | (path == ""), F.lit("")
    ).otherwise(F.concat(F.lit("/"), F.regexp_replace(path, r"/$", "")))
    params = F.array_sort(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    qpart = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    # schemeless / malformed URLs (no '://') leave rest NULL and concat
    # would propagate NULL — a NULL canon_url is catastrophic downstream
    # (url_dedup's window puts every NULL in ONE partition and keeps a
    # single doc, silently dropping the rest), so fall back to the raw
    # URL: an unparseable URL canonicalizes to itself and stays distinct
    canon = F.when(
        rest.isNull(), url
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qpart))
    return pages.select("doc_id", "url", canon.alias("canon_url"), *extra)


def url_canonical_sql() -> str:
    """Oracle: the identical synthesis and normalization in DuckDB
    (list_filter/list_sort mirror the Spark higher-order pipeline; the
    CTE chain is shared with the url_dedup/domain_stats oracles)."""
    return _canon_chain_sql("""
  SELECT doc_id,
         'HTTPS://WWW.' || upper(source) || '.Example.COM:443/reports/'
         || doc_id
         || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
         || '?utm_source=feed&z=2&a=' || (doc_id % 5)
         || CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=x&m=1' ELSE '' END
         || '#section-' || (doc_id % 7) AS url
  FROM documents
""") + """
SELECT doc_id, url, canon_url FROM canon
"""


def _canon_chain_sql(pages_cte: str, carry: str = "") -> str:
    """DuckDB CTE chain mirroring ``url_canonical`` exactly (same split /
    lower / filter / sort steps); ``pages_cte`` must yield
    (doc_id, url[, carry...]) and ``carry`` is a ', col'-prefixed list
    threaded through every stage. Ends with a ``canon`` CTE of
    (doc_id, url, canon_url[, carry...]) — callers append their SELECT."""
    return f"""
WITH pages AS ({pages_cte}),
parts AS (
  SELECT doc_id, url{carry},
         string_split(url, '#')[1] AS no_frag
  FROM pages
),
sp AS (
  -- keep everything after the FIRST '://' (limit-2 split on the Spark
  -- side): string_split(...)[2] would truncate a rest that itself
  -- contains '://' (e.g. a redirect-style ?next=https://... param)
  SELECT doc_id, url{carry},
         lower(string_split(no_frag, '://')[1]) AS scheme,
         CASE WHEN strpos(no_frag, '://') > 0
              THEN substr(no_frag, strpos(no_frag, '://') + 3) END AS rest
  FROM parts
),
hq AS (
  -- same limit-2 semantics for '?': the query is everything after the
  -- first one, later '?'s included
  SELECT doc_id, url{carry}, scheme,
         CASE WHEN strpos(rest, '?') > 0
              THEN left(rest, strpos(rest, '?') - 1)
              ELSE rest END AS hostpath,
         CASE WHEN strpos(rest, '?') > 0
              THEN substr(rest, strpos(rest, '?') + 1) END AS query
  FROM sp
),
hp AS (
  SELECT doc_id, url{carry}, scheme, query,
         CASE scheme
           WHEN 'https' THEN regexp_replace(h, ':443$', '')
           WHEN 'http'  THEN regexp_replace(h, ':80$', '')
           ELSE h END AS host,
         rawpath
  FROM (
    SELECT doc_id, url{carry}, scheme, query,
           regexp_replace(lower(string_split(hostpath, '/')[1]),
                          '^www\\.', '') AS h,
           CASE WHEN len(string_split(hostpath, '/')) > 1
                THEN array_to_string(string_split(hostpath, '/')[2:], '/')
                END AS rawpath
    FROM hq
  )
),
norm AS (
  SELECT doc_id, url{carry}, scheme, host, query,
         CASE WHEN rawpath IS NULL OR rawpath = '' THEN ''
              ELSE '/' || regexp_replace(rawpath, '/$', '') END AS path,
         list_sort(list_filter(string_split(coalesce(query, ''), '&'),
                               p -> p <> '' AND NOT starts_with(p, 'utm_')))
           AS params
  FROM hp
),
canon AS (
  -- host IS NULL iff the URL had no '://' (schemeless/malformed):
  -- such URLs canonicalize to THEMSELVES so they stay distinct rows
  -- downstream instead of collapsing into one NULL partition
  SELECT doc_id, url{carry},
         CASE WHEN host IS NULL THEN url
              ELSE scheme || '://' || host || path ||
                   CASE WHEN len(params) > 0
                        THEN '?' || array_to_string(params, '&')
                        ELSE '' END
         END AS canon_url
  FROM norm
)
"""


# crawl fixture law, single-sourced for the whole family (recrawl
# synthesis, frontier, robots, sitemap): page p = doc_id // RECRAWL_FANOUT
# is hosted on domain site{p % N_CRAWL_DOMAINS}.example.com.
# sources/warc.doc_uri shares the DOMAIN half of this law but keys its
# path by the raw doc_id (/p/{doc_id}, one archived fetch per document,
# URIs unique by construction) — an archive of fetches, not the
# page-collapsed view; joining the two requires the page mapping, not
# string equality
RECRAWL_FANOUT = 3
N_CRAWL_DOMAINS = 20


def _page_of(doc_id: "F.Column") -> "F.Column":
    """Page id hosting this fetch (the recrawl fanout collapse)."""
    return F.floor(doc_id / F.lit(RECRAWL_FANOUT)).cast("long")


def _domain_of(pid: "F.Column") -> "F.Column":
    """Canonical (lower-case, bare) host for a page id."""
    return F.concat(
        F.lit("site"),
        F.pmod(pid, F.lit(N_CRAWL_DOMAINS)).cast("string"),
        F.lit(".example.com"),
    )


def _with_recrawl_urls(docs: DataFrame) -> DataFrame:
    """Re-crawl URL synthesis: page ``p = doc_id // 3`` is fetched up to
    three times (variant ``v = doc_id % 3``), each fetch differing ONLY in
    the noise canonicalization strips — scheme/host case, ``www.``, an
    explicit default port, a trailing slash, ``utm_*`` params, non-utm
    param ORDER, and the fragment. All three variants canonicalize to
    ``https://site{p%20}.example.com/p/{p}?a={p%5}&z=2``, giving the
    URL-dedup stage real collision groups while staying a pure function
    of doc_id the oracle rebuilds byte-identically. ~20 synthetic domains
    host the pages (for the per-domain rollup)."""
    did = F.col("doc_id")
    p = _page_of(did)
    v = F.pmod(did, F.lit(RECRAWL_FANOUT))
    dom = F.pmod(p, F.lit(N_CRAWL_DOMAINS)).cast("string")
    ps = p.cast("string")
    a = F.pmod(p, F.lit(5)).cast("string")
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://www.site"), dom, F.lit(".example.com/p/"), ps,
            F.lit("?a="), a, F.lit("&z=2")))
        .when(v == 1, F.concat(
            F.lit("HTTPS://Site"), dom, F.lit(".Example.COM:443/p/"), ps,
            F.lit("/?utm_source=feed&z=2&a="), a))
        .otherwise(F.concat(
            F.lit("https://WWW.SITE"), dom, F.lit(".example.com/p/"), ps,
            F.lit("?z=2&utm_campaign=x&a="), a))
    )
    url = F.concat(url, F.lit("#c"), did.cast("string"))
    return docs.select("doc_id", url.alias("url"), "n_chars")


_RECRAWL_PAGES_SQL = """
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN 'https://www.site' || ((doc_id // 3) % 20)
                || '.example.com/p/' || (doc_id // 3)
                || '?a=' || ((doc_id // 3) % 5) || '&z=2'
           WHEN 1 THEN 'HTTPS://Site' || ((doc_id // 3) % 20)
                || '.Example.COM:443/p/' || (doc_id // 3)
                || '/?utm_source=feed&z=2&a=' || ((doc_id // 3) % 5)
           ELSE 'https://WWW.SITE' || ((doc_id // 3) % 20)
                || '.example.com/p/' || (doc_id // 3)
                || '?z=2&utm_campaign=x&a=' || ((doc_id // 3) % 5)
         END || '#c' || doc_id AS url,
         n_chars
  FROM documents
"""


def url_dedup(docs: DataFrame) -> DataFrame:
    """URL-level dedup — the stage RefinedWeb (Penedo et al. 2023, §3.2)
    runs BEFORE content dedup: re-crawls of the same page are collapsed by
    canonical URL, keeping the longest fetch (ties → lowest doc_id), so
    the expensive MinHash stage never sees N copies of one page.

    Output: (canon_url, keep_doc_id, keep_chars, n_crawls).

    100 TB shape: ONE shuffle — both window functions share the
    canon_url partitioning, so Catalyst plans a single Exchange; only
    (canon_url, doc_id, n_chars) ride it (never text), and the
    canonicalization above it is a narrow in-codegen projection."""
    return url_dedup_pages(_with_recrawl_urls(docs))


def url_dedup_pages(pages: DataFrame) -> DataFrame:
    """Core of ``url_dedup`` over a REAL (doc_id, url, n_chars) table —
    the shape a crawl corpus actually carries (jobs/curate_job.py's
    --url-dedup stage feeds it directly; the contract query above feeds
    it the deterministic re-crawl synthesis so DuckDB can certify it)."""
    canon = url_canonical(pages, extra=("n_chars",))
    wkey = Window.partitionBy("canon_url")
    w = wkey.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        canon.select(
            "canon_url", "doc_id", "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wkey).alias("n_crawls"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "canon_url",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").alias("keep_chars"),
            F.col("n_crawls").cast("long").alias("n_crawls"),
        )
        .orderBy("canon_url")
    )


def url_dedup_sql() -> str:
    """Oracle: identical synthesis + canon chain, then QUALIFY keeps the
    longest fetch per canonical URL."""
    return _canon_chain_sql(_RECRAWL_PAGES_SQL, carry=", n_chars") + """
SELECT canon_url,
       doc_id AS keep_doc_id,
       n_chars AS keep_chars,
       CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_crawls
FROM canon
QUALIFY row_number() OVER (
  PARTITION BY canon_url ORDER BY n_chars DESC, doc_id ASC) = 1
ORDER BY canon_url
"""


def domain_stats(docs: DataFrame) -> DataFrame:
    """Per-domain crawl rollup over canonicalized URLs — the frontier /
    politeness / quota view every crawl operator keeps: fetches, distinct
    pages, and byte volume per registered host.

    Output: (domain, n_crawls, n_pages, total_chars, avg_chars).

    100 TB shape: one hash-aggregate on ~|domains| keys; the distinct-page
    count plans as Spark's standard two-phase partial-distinct aggregate
    (keys are (domain, canon_url) partials, never rows), and text never
    leaves the scan (only n_chars is read)."""
    canon = url_canonical(_with_recrawl_urls(docs), extra=("n_chars",))
    host = F.split(F.split(F.col("canon_url"), "://", 2).getItem(1), "/", 2) \
        .getItem(0)
    return (
        canon.select(host.alias("domain"), "canon_url", "n_chars")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_crawls"),
            F.countDistinct("canon_url").alias("n_pages"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 3).alias("avg_chars"),
        )
        .orderBy("domain")
    )


def domain_stats_sql() -> str:
    """Oracle: same chain, host split from canon_url, grouped rollup
    (sum cast to BIGINT — DuckDB widens BIGINT sums to HUGEINT)."""
    return _canon_chain_sql(_RECRAWL_PAGES_SQL, carry=", n_chars") + """
SELECT split_part(split_part(canon_url, '://', 2), '/', 1) AS domain,
       count(*) AS n_crawls,
       count(DISTINCT canon_url) AS n_pages,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 3) AS avg_chars
FROM canon
GROUP BY 1
ORDER BY 1
"""


# incremental-frontier defaults: wave-1 (already crawled) = doc_id < split
CRAWL_WAVE_SPLIT = 100
FRONTIER_PER_DOMAIN = 8


def q_crawl_frontier(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    split: int = CRAWL_WAVE_SPLIT, per_domain: int = FRONTIER_PER_DOMAIN,
    partitions: int | None = None,
) -> DataFrame:
    """Incremental crawl-frontier discovery — the loop-closing stage of a
    crawl pipeline: which URLs did the LATEST wave's pages link to that
    no earlier wave has seen, and which should each domain fetch next?

    Wave 1 (doc_id < split) is the already-crawled increment; its outlink
    set is the seen-set (the persisted frontier index on a real crawl,
    same pattern as incremental_neardup's band index). Wave 2's anchors
    resolve against the linking page's domain (the recrawl-synthesis
    host, web/extract._with_recrawl_urls), are counted per (domain, url)
    by distinct linking doc, anti-joined against the seen-set, and
    politeness-capped to the top ``per_domain`` per host by reference
    count (ties → url asc). Chrome links ('/', '/tos', nav, topbar) are
    all seen in wave 1, so the frontier is exactly the doc-dependent
    discovery tail ('/r/{n}', '/cat/{n}', '/u/{n}') — the realistic
    shape. Fragment-only '#' anchors never enter the frontier.

    Output: (domain, url, n_refs, rank), rank 1..per_domain per domain.

    100 TB shape: anchors leave the narrow MapInPandas as (doc, href)
    ids only and materialize ONCE at a localCheckpoint seam (the seen
    and cand branches below both consume them — without the seam each
    branch re-plans the subtree and the Python HTML parse runs twice);
    the (domain, url) hash-aggregate collapses duplicates map-side; the
    seen-set anti-join on url is left to the optimizer — the seen side
    is unbounded at crawl scale so it is never force-broadcast, and AQE
    picks broadcast at runtime when the wave is small; the politeness
    window shuffles only (domain, url, n_refs) rows already capped to
    distinct URLs. Anchor text never rides any exchange."""
    links = q_html_links(spark, sf_dir, max_docs, partitions)
    did = F.substring("doc_id", 5, 10).cast("long")
    dom = _domain_of(_page_of(did))
    urls = links.filter(F.col("href") != "#").select(
        did.alias("did"),
        dom.alias("domain"),
        F.concat(F.lit("https://"), dom, F.col("href")).alias("url"),
    )
    # seen and cand BOTH consume `urls`: without a materialization seam
    # Spark re-plans the whole subtree per branch and the Python HTML
    # parse (q_html_links' mapInPandas) runs twice — and 4x under
    # q_robots_gate, which branches again above the frontier. The seam
    # materializes only id-sized (did, domain, url) rows once; reliable
    # checkpoint when the context has a checkpoint dir (cluster case —
    # survives executor loss / dynamic deallocation), localCheckpoint
    # otherwise (local/test sessions, blocks freed by ContextCleaner).
    from ..analytics.dedup import stage_checkpoint

    urls = stage_checkpoint(urls)
    seen = urls.filter(F.col("did") < split).select("url").distinct()
    cand = (
        urls.filter(F.col("did") >= split)
        .groupBy("domain", "url")
        .agg(F.countDistinct("did").alias("n_refs"))
    )
    # NO forced broadcast: the seen-set is every URL the crawl has ever
    # linked — unbounded at crawl scale, so a F.broadcast hint here
    # would collect it to the driver and OOM. Left to the optimizer:
    # AQE converts the anti-join to broadcast at runtime whenever the
    # wave actually fits under the threshold (as it does at fixture sf)
    fresh = cand.join(seen, "url", "left_anti")
    w = Window.partitionBy("domain").orderBy(F.desc("n_refs"), F.asc("url"))
    return (
        fresh.select(
            "domain", "url", "n_refs", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= per_domain)
        .orderBy("domain", "rank")
    )


def crawl_frontier_sql(
    max_docs: int = HTML_MAX_DOCS, split: int = CRAWL_WAVE_SPLIT,
    per_domain: int = FRONTIER_PER_DOMAIN,
) -> str:
    """Oracle: the full closed-form anchor inventory (html_links_sql,
    nested), resolved/aggregated/anti-joined/capped with the same rules."""
    return f"""
WITH links AS (SELECT * FROM (
{html_links_sql(max_docs)}
)),
l AS (
  SELECT CAST(substr(doc_id, 5) AS BIGINT) AS did, href
  FROM links WHERE href <> '#'
),
u AS (
  SELECT did,
         'site' || ((did // 3) % 20) || '.example.com' AS domain,
         'https://site' || ((did // 3) % 20) || '.example.com' || href AS url
  FROM l
),
seen AS (SELECT DISTINCT url FROM u WHERE did < {split}),
cand AS (
  SELECT domain, url, CAST(count(DISTINCT did) AS BIGINT) AS n_refs
  FROM u WHERE did >= {split} GROUP BY 1, 2
),
fresh AS (
  SELECT * FROM cand WHERE url NOT IN (SELECT url FROM seen)
)
SELECT domain, url, n_refs,
       CAST(row_number() OVER (
         PARTITION BY domain ORDER BY n_refs DESC, url ASC) AS INT) AS rank
FROM fresh
QUALIFY rank <= {per_domain}
ORDER BY domain, rank
"""


def q_warc_extract(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    partitions: int | None = None,
) -> DataFrame:
    """Main-content extraction over a WARC crawl archive — the full
    ingest path a real crawl corpus takes: documents → WARC/1.0 blobs
    (sources/warc.synth_warc_blobs: warcinfo + grouped response records,
    ISO 28500 framing) → record parser (parse_warc) → HTTP payload →
    boilerplate strip → clean article text.

    Output is IDENTICAL to q_html_main_text — same columns, same rows —
    so the same closed-form oracle certifies the whole WARC round trip:
    any framing bug (a Content-Length off by one, a missed CRLFCRLF, a
    record misordered or dropped in the blob packer) breaks the compare.

    100 TB shape: the ONE shuffle is the writer's groupBy(blob_id) that
    packs records into files; the reader side (record walk + HTTP parse
    + DOM strip) is a narrow mapInPandas chain over opaque binary cells,
    with framing state never crossing a batch — how a real record-aligned
    WARC split reader behaves."""
    from ..sources.warc import parse_warc, synth_warc_blobs

    docs = _corpus(spark, sf_dir, max_docs, partitions)
    recs = parse_warc(synth_warc_blobs(docs))
    pages = recs.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    ).select(
        F.regexp_extract("target_uri", r"/p/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "payload",
    )
    return _main_text(pages, "payload", lambda _did, html: html)


def _robots_txt(d: "F.Column") -> "F.Column":
    """Per-domain robots.txt synthesis (pure function of the domain
    index): a single ``User-agent: *`` group with a crawl-delay and a
    domain-dependent Allow/Disallow mix that exercises every RFC 9309
    rule the gate implements — prefix match, longest-match-wins, and
    allow-beats-disallow on equal length."""
    return F.concat(
        F.lit("User-agent: *\nCrawl-delay: "),
        F.pmod(d, F.lit(5)).cast("string"),
        F.lit("\n"),
        F.when(F.pmod(d, F.lit(3)) == 0, F.lit("Disallow: /cat/\n"))
        .otherwise(F.lit("")),
        F.when(F.pmod(d, F.lit(2)) == 0, F.lit("Disallow: /u/\n"))
        .otherwise(F.lit("")),
        F.when(F.pmod(d, F.lit(4)) == 0, F.lit("Allow: /u/1\n"))
        .otherwise(F.lit("")),
        F.lit("Disallow: /private/\n"),
        # RFC 9309 §2.4 non-group Sitemap directive — how crawlers
        # DISCOVER the domain's sitemap index; ignored by the
        # allow/disallow rule parse, read by robots_sitemaps
        F.lit("Sitemap: https://site"),
        d.cast("string"),
        F.lit(".example.com/sitemap-index.xml\n"),
    )


def _robots_directives(domains: DataFrame) -> DataFrame:
    """Each domain's (synthesized) robots.txt exploded into parsed
    directive rows (domain, verb, value) — declaratively (split →
    explode → limit-2 colon split, so URL values keep their own colons),
    no Python. Tiny (O(|domains| × lines)); the shared base of the
    rule / crawl-delay / sitemap extractors below."""
    d = F.regexp_extract("domain", r"site(\d+)\.", 1).cast("int")
    doms = domains.select("domain").distinct().select(
        "domain", _robots_txt(d).alias("robots")
    )
    lines = doms.select(
        "domain", F.explode(F.split("robots", "\n")).alias("line")
    )
    return lines.select(
        "domain",
        F.lower(F.trim(F.split("line", ":", 2).getItem(0))).alias("verb"),
        F.trim(F.get(F.split("line", ":", 2), 1)).alias("value"),
    )


def robots_rules(domains: DataFrame) -> DataFrame:
    """Allow/Disallow path-prefix rules per domain: (domain, rule_path,
    is_allow). Consumers broadcast it. Shared by q_robots_gate and the
    crawl-schedule job, which gates sitemap-advertised URLs with the
    SAME rule set."""
    return _robots_directives(domains).filter(
        F.col("verb").isin("allow", "disallow") & (F.col("value") != "")
    ).select(
        "domain",
        F.col("value").alias("rule_path"),
        (F.col("verb") == "allow").alias("is_allow"),
    )


def robots_delays(domains: DataFrame) -> DataFrame:
    """Crawl-delay directive per domain: (domain, crawl_delay seconds) —
    PARSED from the robots text like every other directive, never
    recomputed from a naming convention, so the gate honors whatever a
    real robots.txt declares."""
    return _robots_directives(domains).filter(
        (F.col("verb") == "crawl-delay") & (F.col("value") != "")
    ).select(
        "domain", F.col("value").cast("int").alias("crawl_delay")
    )


def robots_sitemaps(domains: DataFrame) -> DataFrame:
    """Advertised ``Sitemap:`` URLs per domain (RFC 9309 §2.4 — the
    discovery hook that leads a crawler from robots.txt to the sitemap
    index and on to the urlsets). Output: (domain, sitemap_url)."""
    return _robots_directives(domains).filter(
        (F.col("verb") == "sitemap") & (F.col("value") != "")
    ).select("domain", F.col("value").alias("sitemap_url"))


def robots_gate_urls(
    urls: DataFrame, rules: DataFrame, delays: DataFrame | None = None
) -> DataFrame:
    """RFC 9309 verdict per (domain, url) row: match every URL's path
    against its domain's rules, LONGEST match deciding — allow beating
    disallow on equal length (§2.2.2 least-restrictive tie-break);
    unmatched URLs are allowed. Input: (domain, url, *extra — threaded
    through); output adds (allowed, matched_rule, crawl_delay).
    ``delays`` is the robots_delays frame; a domain with no Crawl-delay
    directive (or delays=None) gets 0 — fetch immediately, the
    directive's absence semantics.

    100 TB shape: rules and delays broadcast; the longest-match argmax
    is one (domain, url) hash-aggregate over the handful of matched
    candidate rows per URL."""
    # scheme-general authority strip (RFC 3986 scheme grammar) — this
    # helper gates arbitrary URL frames, not just the https fixture; a
    # hard-coded https prefix would leave non-https URLs with the full
    # URL as "path", silently bypassing every Disallow rule
    paths = urls.withColumn(
        "path",
        F.regexp_replace("url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+", ""),
    )
    matched = (
        paths.select("domain", "url", "path")
        .join(F.broadcast(rules), "domain")
        .filter(F.col("path").startswith(F.col("rule_path")))
        .groupBy("domain", "url")
        .agg(
            F.max(
                F.struct(
                    F.length("rule_path").alias("l"),
                    F.col("is_allow").alias("a"),
                    F.col("rule_path").alias("p"),
                )
            ).alias("m")
        )
        .select(
            "domain", "url", F.col("m.a").alias("best_allow"),
            F.col("m.p").alias("matched_rule"),
        )
    )
    gated = paths.join(matched, ["domain", "url"], "left").withColumn(
        "allowed", F.coalesce(F.col("best_allow"), F.lit(True))
    )
    if delays is not None:
        gated = gated.join(F.broadcast(delays), "domain", "left")
        gated = gated.withColumn(
            "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(0))
        )
    else:
        gated = gated.withColumn("crawl_delay", F.lit(0))
    return gated.drop("best_allow", "path")


def q_robots_gate(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    split: int = CRAWL_WAVE_SPLIT, per_domain: int = FRONTIER_PER_DOMAIN,
) -> DataFrame:
    """Robots-politeness gate over the crawl frontier (RFC 9309): each
    domain's robots.txt is parsed into (path-prefix, allow) rules, every
    frontier URL is matched against its domain's rules, and the
    LONGEST-matching rule decides — allow beating disallow on equal
    length (RFC 9309 §2.2.2, least-restrictive tie-break). URLs with no
    matching rule are allowed. The robots text itself is parsed
    declaratively (split → explode → prefix tests), not in Python.

    Output: (domain, url, n_refs, rank, allowed, matched_rule,
    crawl_delay, fetch_at) — the fetch schedule itself: the k-th ALLOWED
    url per domain fetches at (k-1)*crawl_delay seconds, disallowed rows
    get no slot. Ordered like the frontier.

    100 TB shape: rules are O(|domains| × rules-per-domain) — tiny — so
    the rule join broadcasts; the longest-match argmax is one
    (domain, url) hash-aggregate over matched candidate rows (a handful
    per URL); the frontier's own exchanges dominate."""
    # paths and matched both branch off the frontier; it is tiny
    # (<= per_domain x |domains| rows), so materialize it once instead
    # of re-planning the whole discovery subtree per branch (reliable
    # checkpoint under a configured dir, localCheckpoint otherwise)
    from ..analytics.dedup import stage_checkpoint

    frontier = stage_checkpoint(
        q_crawl_frontier(spark, sf_dir, max_docs, split, per_domain)
    )
    doms = frontier.select("domain")
    gated = robots_gate_urls(
        frontier.select("domain", "url", "n_refs", "rank"),
        robots_rules(doms),
        robots_delays(doms),
    ).select(
        "domain", "url", "n_refs", "rank", "allowed", "matched_rule",
        "crawl_delay",
    )
    # fetch schedule: the k-th ALLOWED url per domain fetches at
    # (k-1)*crawl_delay seconds (RFC 9309 Crawl-delay politeness);
    # disallowed rows never get a slot. A running sum over the existing
    # rank order numbers the allowed subset densely without a second
    # join — same partitioning as the frontier window, no new exchange.
    wseq = Window.partitionBy("domain").orderBy("rank") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fetch_seq = F.sum(F.col("allowed").cast("long")).over(wseq)
    return (
        gated.select(
            "*",
            F.when(
                F.col("allowed"),
                ((fetch_seq - 1) * F.col("crawl_delay")).cast("long"),
            ).alias("fetch_at"),
        )
        .orderBy("domain", "rank")
    )


def robots_gate_sql(
    max_docs: int = HTML_MAX_DOCS, split: int = CRAWL_WAVE_SPLIT,
    per_domain: int = FRONTIER_PER_DOMAIN,
) -> str:
    """Oracle: the frontier oracle nested, the rule set in closed form
    (the synthesis law, skipping the text round trip the Spark side
    exercises), longest-match via row_number with the same tie-break."""
    return f"""
WITH f AS (SELECT * FROM (
{crawl_frontier_sql(max_docs, split, per_domain)}
)),
dom AS (
  SELECT DISTINCT domain,
         CAST(regexp_extract(domain, 'site(\\d+)\\.', 1) AS INT) AS d
  FROM f
),
rules AS (
  SELECT domain, '/cat/' AS p, FALSE AS a FROM dom WHERE d % 3 = 0
  UNION ALL SELECT domain, '/u/', FALSE FROM dom WHERE d % 2 = 0
  UNION ALL SELECT domain, '/u/1', TRUE FROM dom WHERE d % 4 = 0
  UNION ALL SELECT domain, '/private/', FALSE FROM dom
),
paths AS (
  SELECT f.*,
         regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+', '')
           AS path
  FROM f
),
m AS (
  SELECT paths.domain, paths.url, r.p, r.a,
         row_number() OVER (
           PARTITION BY paths.domain, paths.url
           ORDER BY len(r.p) DESC, r.a DESC, r.p DESC) AS rn
  FROM paths JOIN rules r
    ON paths.domain = r.domain AND starts_with(paths.path, r.p)
),
gated AS (
  SELECT p2.domain, p2.url, p2.n_refs, p2.rank,
         coalesce(m.a, TRUE) AS allowed,
         m.p AS matched_rule,
         CAST(d.d % 5 AS INT) AS crawl_delay
  FROM paths p2
  LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
    ON p2.domain = m.domain AND p2.url = m.url
  JOIN dom d ON p2.domain = d.domain
)
SELECT *,
       CASE WHEN allowed THEN
         CAST((sum(CASE WHEN allowed THEN 1 ELSE 0 END) OVER (
                 PARTITION BY domain ORDER BY rank
                 ROWS UNBOUNDED PRECEDING) - 1) * crawl_delay AS BIGINT)
       END AS fetch_at
FROM gated
ORDER BY domain, rank
"""


ANCHOR_MAX_TERMS = 16


def q_anchor_text(
    spark: SparkSession, sf_dir: str, max_docs: int = HTML_MAX_DOCS,
    max_terms: int = ANCHOR_MAX_TERMS, partitions: int | None = None,
) -> DataFrame:
    """Anchor-text harvesting per target URL — the training signal crawl
    pipelines aggregate alongside main text (anchor text describes the
    TARGET page; it is the classic relevance signal from the original
    PageRank-era indexes onward): per href, the distinct anchor strings
    collected, sorted, capped at ``max_terms``, and joined into one
    anchor corpus line.

    Output: (href, n_anchor_variants, anchor_corpus).

    100 TB shape: one (href) hash-aggregate; collect_set's map-side
    partials bound the hot-chrome-href skew the same way linkgraph's
    counts do (each task contributes its distinct set, not its
    occurrence list), and slice() caps the row width so one wildly
    polysemous target cannot produce an unbounded cell."""
    links = q_html_links(spark, sf_dir, max_docs, partitions)
    anchors = F.slice(
        F.array_sort(F.collect_set("anchor")), 1, max_terms
    )
    return (
        links.groupBy("href")
        .agg(
            F.countDistinct("anchor").cast("long")
            .alias("n_anchor_variants"),
            F.array_join(anchors, " | ").alias("anchor_corpus"),
        )
        .orderBy("href")
    )


def anchor_text_sql(
    max_docs: int = HTML_MAX_DOCS, max_terms: int = ANCHOR_MAX_TERMS,
) -> str:
    """Oracle: the links inventory, distinct anchors sorted/capped per
    href with the same separator."""
    return f"""
WITH links AS ({html_links_sql(max_docs)}),
d AS (SELECT DISTINCT href, anchor FROM links)
SELECT href,
       CAST(count(*) AS BIGINT) AS n_anchor_variants,
       array_to_string(
         (list_sort(list(anchor)))[1:{max_terms}], ' | ') AS anchor_corpus
FROM d GROUP BY href
ORDER BY href
"""


# sitemaps.org protocol: at most 50,000 URLs per sitemap file; larger
# domains shard into sitemap-0.xml, sitemap-1.xml, ... behind an index
SITEMAP_URLS_PER_FILE = 50_000
# phantom (listed-but-never-crawled) pages live past every real page id:
# max real page id is |documents|/3, far below this at any tested sf
SITEMAP_PHANTOM_BASE = 100_000


def _sitemap_xml(docs: DataFrame) -> DataFrame:
    """Per-(domain, shard) sitemap XML synthesis — the FIXTURE side (a
    real crawl fetches these files; the documents table carries none, so
    the corpus is rebuilt as a pure function of doc_id exactly like
    _with_recrawl_urls). Each domain lists every page it hosts
    (p = doc_id // 3, domain p % 20 — the recrawl law) plus a phantom
    page p + SITEMAP_PHANTOM_BASE for every p % 7 == 0: URLs the site
    advertises that no crawl wave has fetched. <loc> values carry the
    noise url_canonical strips (www., trailing slash, unsorted params)
    so the parse→canonicalize path is exercised end to end; <lastmod>
    and <priority> are closed-form functions of the page id. Entries are
    sorted and files shard at the protocol's 50k-URL cap.

    Generation is one (domain, shard) hash-aggregate over id-sized rows
    — fixture-only cost; the OPERATOR under test is the parser below."""
    pages = docs.select(_page_of(F.col("doc_id")).alias("pid")).distinct()
    phantom = pages.filter(F.pmod("pid", F.lit(7)) == 0).select(
        (F.col("pid") + F.lit(SITEMAP_PHANTOM_BASE)).alias("pid")
    )
    listed = pages.unionByName(phantom)
    pid = F.col("pid")
    entry = F.concat(
        F.lit("<url><loc>https://www."),
        _domain_of(pid),
        F.lit("/p/"),
        pid.cast("string"),
        F.lit("/?z=2&a="),
        F.pmod(pid, F.lit(5)).cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format(
            F.date_add(
                F.to_date(F.lit("2026-01-01")),
                F.pmod(pid, F.lit(365)).cast("int"),
            ),
            "yyyy-MM-dd",
        ),
        F.lit("</lastmod><priority>"),
        F.format_string(
            "%.1f", F.lit(0.5) + F.pmod(pid, F.lit(5)) / F.lit(10.0)
        ),
        F.lit("</priority></url>\n"),
    )
    return (
        listed.select(
            F.pmod(pid, F.lit(N_CRAWL_DOMAINS)).alias("d"),
            F.floor(pid / F.lit(SITEMAP_URLS_PER_FILE)).alias("shard"),
            entry.alias("e"),
        )
        .groupBy("d", "shard")
        .agg(
            F.concat(
                F.lit(
                    '<?xml version="1.0" encoding="UTF-8"?>\n'
                    '<urlset xmlns='
                    '"http://www.sitemaps.org/schemas/sitemap/0.9">\n'
                ),
                F.array_join(F.array_sort(F.collect_list("e")), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )


def parse_sitemap(files: DataFrame) -> DataFrame:
    """Parse sitemap XML blobs (column ``xml``) into one row per
    advertised URL: (doc_id, url, lastmod, priority), doc_id being the
    page id embedded in the /p/{id} path. Format-tolerant the way real
    sitemaps demand: ``(?s)`` lets a <url> block span pretty-printed
    lines and ``\\s*`` trims intra-tag whitespace, so both the fixture's
    single-line entries and an indented real-world file parse
    identically. A narrow in-codegen chain — block Generate + field
    extracts, no Python, no exchange; the protocol's 50k-URL-per-file
    cap bounds any single cell/task."""
    blocks = files.select(
        F.explode(
            F.regexp_extract_all("xml", F.lit(r"(?s)<url>(.*?)</url>"), 1)
        ).alias("b")
    )
    return blocks.select(
        F.regexp_extract("b", r"/p/(\d+)", 1).cast("long").alias("doc_id"),
        F.regexp_extract("b", r"<loc>\s*([^<\s][^<]*?)\s*</loc>", 1)
        .alias("url"),
        F.regexp_extract("b", r"<lastmod>\s*([^<\s][^<]*?)\s*</lastmod>", 1)
        .alias("lastmod"),
        F.regexp_extract("b", r"<priority>\s*([^<]*?)\s*</priority>", 1)
        .cast("double").alias("priority"),
    )


def q_sitemap_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven discovery delta — the scheduled-discovery
    complement to the link-driven crawl_frontier: parse every domain's
    sitemap files, canonicalize the advertised URLs, and classify each
    against the URL-deduped crawl (``crawled`` = some fetch of the page
    exists; ``new`` = advertised but never fetched — the rows a
    sitemap-aware scheduler feeds into the next wave, with the
    freshness/priority hints the site itself published).

    Output: (domain, url, lastmod, priority, status) per advertised URL,
    url in canonical form, ordered by (domain, url).

    100 TB shape: the parse is a narrow in-codegen chain per sitemap
    file — regexp_extract_all block split (Generate, no exchange) then
    per-block field extracts — and the protocol's 50k-URL-per-file cap
    bounds any single cell/task; canonicalization is the same shuffle-
    free projection url_canonical compiles everywhere else. The only
    wide ops are the crawled-set distinct (one hash-aggregate whose
    map-side partials collapse the 3x recrawl fanout before the
    exchange) and the status equi-join on canon_url — sort-merge at
    crawl scale, never a cartesian; text never rides either."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    parsed = parse_sitemap(_sitemap_xml(docs))
    adv = url_canonical(parsed, extra=("lastmod", "priority"))
    crawled = (
        url_canonical(_with_recrawl_urls(docs))
        .select("canon_url").distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        adv.join(crawled, "canon_url", "left")
        .select(
            _domain_of(F.col("doc_id")).alias("domain"),
            F.col("canon_url").alias("url"),
            "lastmod",
            "priority",
            F.when(F.col("hit"), F.lit("crawled"))
            .otherwise(F.lit("new")).alias("status"),
        )
        .orderBy("domain", "url")
    )


def _sitemap_files_sql() -> str:
    """Subquery yielding (d, shard, xml) — the sitemap file synthesis
    shared by the sitemap_delta and sitemap_index oracles (identical
    entry law, sort, and 50k sharding as `_sitemap_xml`)."""
    return f"""
      SELECT d, shard,
             '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
             '<urlset xmlns='
             || '"http://www.sitemaps.org/schemas/sitemap/0.9">'
             || chr(10) || string_agg(e, '' ORDER BY e) || '</urlset>'
               AS xml
      FROM (
        SELECT pid % 20 AS d,
               pid // {SITEMAP_URLS_PER_FILE} AS shard,
               '<url><loc>https://www.site' || (pid % 20)
               || '.example.com/p/' || pid || '/?z=2&a=' || (pid % 5)
               || '</loc><lastmod>'
               || strftime(DATE '2026-01-01'
                           + (pid % 365) * INTERVAL 1 DAY, '%Y-%m-%d')
               || '</lastmod><priority>'
               || printf('%.1f', 0.5 + (pid % 5) / 10.0)
               || '</priority></url>' || chr(10) AS e
        FROM (
          SELECT pid FROM (
            SELECT DISTINCT doc_id // 3 AS pid FROM documents)
          UNION ALL
          SELECT pid + {SITEMAP_PHANTOM_BASE} AS pid FROM (
            SELECT DISTINCT doc_id // 3 AS pid FROM documents)
          WHERE pid % 7 = 0
        )
      )
      GROUP BY d, shard
"""


def sitemap_delta_sql() -> str:
    """Oracle: the identical synthesis (same entry law, same sort, same
    50k sharding), the identical regexp block parse, the shared
    canonicalization chain over the PARSED <loc> text (full round trip —
    nothing is closed-formed away), and the same crawled-set join. The
    crawled side uses the canon law directly (url_dedup_sql already
    certifies that the messy recrawl variants canonicalize to it)."""
    parse_cte = f"""
  SELECT CAST(regexp_extract(b, '/p/(\\d+)', 1) AS BIGINT) AS doc_id,
         regexp_extract(b, '<loc>\\s*([^<\\s][^<]*?)\\s*</loc>', 1) AS url,
         regexp_extract(b, '<lastmod>\\s*([^<\\s][^<]*?)\\s*</lastmod>', 1)
           AS lastmod,
         CAST(regexp_extract(b, '<priority>\\s*([^<]*?)\\s*</priority>', 1)
              AS DOUBLE) AS priority
  FROM (
    SELECT unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
    FROM ({_sitemap_files_sql()})
  )
"""
    return _canon_chain_sql(parse_cte, carry=", lastmod, priority") + """
, crawled AS (
  SELECT DISTINCT
         'https://site' || ((doc_id // 3) % 20) || '.example.com/p/'
         || (doc_id // 3) || '?a=' || ((doc_id // 3) % 5) || '&z=2'
           AS canon_url
  FROM documents
)
SELECT 'site' || (c.doc_id % 20) || '.example.com' AS domain,
       c.canon_url AS url,
       c.lastmod,
       c.priority,
       CASE WHEN cr.canon_url IS NOT NULL THEN 'crawled' ELSE 'new' END
         AS status
FROM canon c LEFT JOIN crawled cr ON c.canon_url = cr.canon_url
ORDER BY domain, url
"""


def _sitemap_index_xml(files: DataFrame) -> DataFrame:
    """Per-domain ``<sitemapindex>`` synthesis (fixture side of the
    sitemaps.org two-level protocol): once a domain shards past one
    file, crawlers discover the shards through an index document listing
    each ``sitemap-{shard}.xml``. One (d) hash-aggregate over the
    already-tiny file frame."""
    entry = F.concat(
        F.lit("<sitemap><loc>https://"),
        _domain_of(F.col("d")),
        F.lit("/sitemap-"),
        F.col("shard").cast("string"),
        F.lit(".xml</loc></sitemap>\n"),
    )
    return (
        files.select("d", entry.alias("e"))
        .groupBy("d")
        .agg(
            F.concat(
                F.lit(
                    '<?xml version="1.0" encoding="UTF-8"?>\n'
                    '<sitemapindex xmlns='
                    '"http://www.sitemaps.org/schemas/sitemap/0.9">\n'
                ),
                F.array_join(F.array_sort(F.collect_list("e")), ""),
                F.lit("</sitemapindex>"),
            ).alias("ixml")
        )
    )


def parse_sitemap_index(index_files: DataFrame) -> DataFrame:
    """Parse ``<sitemapindex>`` blobs (column ``ixml``) into one row per
    listed sitemap file: (domain, sitemap_url, shard). Same tolerant
    in-codegen regexp chain as `parse_sitemap` — (?s) blocks, trimmed
    intra-tag whitespace, no Python, no exchange."""
    blocks = index_files.select(
        F.explode(
            F.regexp_extract_all(
                "ixml", F.lit(r"(?s)<sitemap>(.*?)</sitemap>"), 1
            )
        ).alias("b")
    )
    loc = F.regexp_extract("b", r"<loc>\s*([^<\s][^<]*?)\s*</loc>", 1)
    return blocks.select(
        loc.alias("sitemap_url"),
        F.regexp_extract(loc, r"https://([^/]+)/", 1).alias("domain"),
        F.regexp_extract(loc, r"sitemap-(\d+)\.xml", 1)
        .cast("long").alias("shard"),
    ).select("domain", "sitemap_url", "shard")


def q_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap INDEX inventory — the discovery layer above the urlsets:
    parse every domain's ``<sitemapindex>``, and report each listed
    shard file with the number of URLs it advertises (counted by
    re-parsing the shard's own XML, so the two-level round trip —
    index synthesis → index parse → shard join → urlset parse — is
    value-certified end to end).

    Output: (domain, sitemap_url, shard, n_urls), ordered.

    100 TB shape: both syntheses are fixture-side hash-aggregates over
    id-sized rows; the parses are narrow in-codegen regexp chains; the
    index↔shard equi-join broadcasts the tiny index side. The protocol's
    50k-URL cap bounds every cell."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    # counts and the index synthesis BOTH consume the file frame — same
    # two-branch shape as crawl_frontier, same seam so the synthesis
    # (documents scan + distinct + (d, shard) aggregate) runs once
    from ..analytics.dedup import stage_checkpoint

    files = stage_checkpoint(_sitemap_xml(docs))
    counts = files.select(
        _domain_of(F.col("d")).alias("domain"),
        "shard",
        F.size(
            F.regexp_extract_all("xml", F.lit(r"(?s)<url>(.*?)</url>"), 1)
        ).cast("long").alias("n_urls"),
    )
    listed = parse_sitemap_index(_sitemap_index_xml(files))
    return (
        F.broadcast(listed)
        .join(counts, ["domain", "shard"])
        .select("domain", "sitemap_url", "shard", "n_urls")
        .orderBy("domain", "shard")
    )


def sitemap_index_sql() -> str:
    """Oracle: the shared file synthesis, the identical index synthesis
    and block parse, and the same per-shard URL recount — an inner join,
    so a shard missing from the index (or an index entry with no file)
    turns the compare red."""
    return f"""
WITH xmlf AS ({_sitemap_files_sql()}),
counts AS (
  SELECT 'site' || d || '.example.com' AS domain, shard,
         CAST(len(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1))
              AS BIGINT) AS n_urls
  FROM xmlf
),
ie AS (
  SELECT d,
         '<sitemap><loc>https://site' || d || '.example.com/sitemap-'
         || shard || '.xml</loc></sitemap>' || chr(10) AS e
  FROM xmlf
),
ix AS (
  SELECT d,
         '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
         '<sitemapindex xmlns='
         || '"http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10)
         || string_agg(e, '' ORDER BY e) || '</sitemapindex>' AS ixml
  FROM ie GROUP BY d
),
blocks AS (
  SELECT unnest(regexp_extract_all(ixml, '(?s)<sitemap>(.*?)</sitemap>', 1))
           AS b
  FROM ix
),
listed AS (
  SELECT regexp_extract(b, '<loc>\\s*([^<\\s][^<]*?)\\s*</loc>', 1)
           AS sitemap_url,
         regexp_extract(
           regexp_extract(b, '<loc>\\s*([^<\\s][^<]*?)\\s*</loc>', 1),
           'https://([^/]+)/', 1) AS domain,
         CAST(regexp_extract(
           regexp_extract(b, '<loc>\\s*([^<\\s][^<]*?)\\s*</loc>', 1),
           'sitemap-(\\d+)\\.xml', 1) AS BIGINT) AS shard
  FROM blocks
)
SELECT l.domain, l.sitemap_url, l.shard, c.n_urls
FROM listed l JOIN counts c ON l.domain = c.domain AND l.shard = c.shard
ORDER BY l.domain, l.shard
"""
