"""Seeded inputs for the extraction benchmark and their expected outputs.

Every table is generated here from the workload seed and written to
parquet under the run's work directory; the program under test only ever
receives the tables (as DataFrames read from that parquet), never the seed.

* ``lines``  - an sf0.1-shaped text corpus (31-word vocabulary, 10-100
  words per doc) shaped by ``newocr_spark.fixtures.corpus_fixture_tables``:
  one text span plus one single-line media span per doc, scale 1 + doc % 2.
* ``salted`` - the same corpus lines rendered at scale 4 with ink dropout
  (``interior_salt``) in numbered versions; every image of every version
  has its own salt seed, so no two versions share a bitmap.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

SALT_RATE = 0.02
SALT_SCALE = 4


def corpus_texts(seed: int, n_docs: int) -> list[str]:
    """sf0.1-like doc texts. Word counts are a seeded permutation of an even
    spread over 10..100, so every seed carries about the same glyph volume
    while the words and their order differ."""
    rng = np.random.default_rng(seed)
    counts = rng.permutation(np.linspace(10, 100, n_docs).round().astype(int))
    return [" ".join(rng.choice(VOCAB, size=int(k))) for k in counts]


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``
    so a Spark scan of it splits into at least that many tasks."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).round().astype(int)
    for i in range(n_files):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        if hi > lo:
            pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i:05d}.parquet")


def expected_lines(texts: list[str]) -> dict[str, list[tuple]]:
    """doc_id -> [(kind, text, media_ref, seq)] for the corpus-lines shape."""
    return {
        f"doc-{d:06d}": [("text", t, None, 0), ("text", t, f"m-{d:06d}", 1)]
        for d, t in enumerate(texts)
    }


def write_corpus(spark, texts: list[str], work: str, n_files: int, model, scale_media: bool):
    """Write documents (and, unless ``scale_media`` is False, the scale
    1 + doc % 2 media) through ``corpus_fixture_tables``.

    Returns (docs_path, media_path or None, text_path); ``text_path`` holds
    (media_ref, text) for rendering salted media versions."""
    from newocr_spark.fixtures import corpus_fixture_tables

    src = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts})
    write_files(src, f"{work}/src/documents.parquet", n_files)
    docs, media = corpus_fixture_tables(spark, f"{work}/src", model, max_docs=len(texts))
    docs.coalesce(n_files).write.parquet(f"{work}/docs")
    media_path = None
    if scale_media:
        media_path = f"{work}/media"
        media.repartition(n_files).write.parquet(media_path)
    text_path = f"{work}/texts"
    refs = [f"m-{d:06d}" for d in range(len(texts))]
    write_files(pa.table({"media_ref": refs, "text": texts}), text_path, n_files)
    return f"{work}/docs", media_path, text_path


def interior_salt(img: np.ndarray, rate: float, seed: int) -> np.ndarray:
    """``font.perturb.salt`` restricted to ink pixels whose 8 neighbours are
    all ink. A void there can neither split a stroke nor detach a piece, so
    the text stays exactly readable while almost every glyph bitmap becomes
    unique. Plain salt at rate 0.0075-0.01 misreads about 0.1-0.5% of
    these docs ("merge" -> "mer.ge"), which would make runs fail at random."""
    from newocr_spark.font.perturb import salt

    black = img == 0
    padded = np.pad(black, 1)
    h, w = black.shape
    interior = black.copy()
    for dy in range(3):
        for dx in range(3):
            interior &= padded[dy : dy + h, dx : dx + w]
    return np.where(interior, salt(img, rate, seed), img)


def salted_render(seed: int, n_docs: int):
    """mapInPandas body: (version, media_ref, text) batches -> (version,
    media_ref, png) with each line rendered at SALT_SCALE and salted with
    its own seed."""

    def render(batches):
        import pandas as pd

        from newocr_spark.codecs.png import encode_png
        from newocr_spark.font.render import render_text_image

        for pdf in batches:
            pngs = [
                encode_png(interior_salt(render_text_image([t], scale=SALT_SCALE), SALT_RATE,
                                         salt_seed(seed, int(v), n_docs) + int(ref[2:])))
                for v, ref, t in zip(pdf["version"], pdf["media_ref"], pdf["text"])
            ]
            yield pdf[["version", "media_ref"]].assign(png=pngs)

    return render


def salt_seed(seed: int, version: int, n_docs: int) -> int:
    """Base of the per-image salt seeds of one media version; images of
    different versions (and seeds) never share a salt seed."""
    return ((seed * 1_000_003 + version) * (n_docs + 1)) % (2**62)


def salted_path(out_path: str, version: int) -> str:
    return f"{out_path}/version={version}"


def write_salted_media(spark, text_path: str, out_path: str, seed: int, versions: range,
                       n_docs: int, n_files: int) -> None:
    """Render salted media versions in one parallel job and append them
    under ``out_path``, version ``v`` in ``salted_path(out_path, v)`` as
    ``n_files`` parquet files."""
    (
        spark.read.parquet(text_path)
        # spark.range, not createDataFrame: that would fork a second set of Python workers
        .crossJoin(spark.range(versions.start, versions.stop).selectExpr("int(id) AS version"))
        .repartition(n_files)
        .mapInPandas(salted_render(seed, n_docs), "version int, media_ref string, png binary")
        .write.mode("append").partitionBy("version").parquet(out_path)
    )


def blank_media(media_path: str, out_path: str, n_files: int) -> None:
    """The same media refs with every image replaced by one blank 1x1 PNG."""
    from newocr_spark.codecs.png import encode_png

    refs = pq.read_table(media_path, columns=["media_ref"]).column(0)
    blank = encode_png(np.full((1, 1), 255, dtype=np.uint8))
    write_files(pa.table({"media_ref": refs, "png": pa.array([blank] * len(refs), pa.binary())}),
                out_path, n_files)


def count_failed(rows, expected: dict[str, list[tuple]]) -> int:
    """Docs whose (kind, text, media_ref, seq) sequence differs from the
    expected one or that carry any error row; docs missing from ``rows``
    count as failed too. ``rows`` are (doc_id, kind, text, media_ref, seq,
    error) tuples."""
    got = defaultdict(list)
    errored = set()
    for doc_id, kind, text, media_ref, seq, error in rows:
        got[doc_id].append((kind, text, media_ref, seq))
        if error is not None:
            errored.add(doc_id)
    failed = 0
    for doc_id, want in expected.items():
        if doc_id in errored or sorted(got.get(doc_id, []), key=lambda s: s[3]) != want:
            failed += 1
    return failed + len(set(got) - set(expected))
