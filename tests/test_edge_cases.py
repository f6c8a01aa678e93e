"""Degenerate-input robustness: the kernel and pipeline must handle the
shapes a 10^12-doc crawl actually contains — blank images, tiny images,
all-black scans, huge aspect ratios — without crashing, and the pipeline
must isolate any per-image failure into an error row."""

import numpy as np
import pytest

from newocr_spark.artifacts import get_model
from newocr_spark.codecs.png import decode_png, encode_png
from newocr_spark.kernel.grid import binarize
from newocr_spark.kernel.scan import render_text, scan_grid, scan_image_bytes


@pytest.fixture(scope="module")
def model():
    return get_model()


def _scan_gray(img: np.ndarray, model) -> str:
    return render_text(scan_grid(binarize(img), model))


def test_all_white_image(model):
    assert _scan_gray(np.full((40, 60), 255, dtype=np.uint8), model) == ""


def test_all_black_image(model):
    # one giant component; must classify as SOMETHING without crashing
    out = _scan_gray(np.zeros((40, 60), dtype=np.uint8), model)
    assert isinstance(out, str)


def test_single_pixel_images(model):
    assert _scan_gray(np.full((1, 1), 255, dtype=np.uint8), model) == ""
    out = _scan_gray(np.zeros((1, 1), dtype=np.uint8), model)
    assert isinstance(out, str)


def test_extreme_aspect_ratios(model):
    wide = np.full((2, 5000), 255, dtype=np.uint8)
    wide[0, ::7] = 0  # dotted 1px noise line
    assert isinstance(_scan_gray(wide, model), str)
    tall = np.full((5000, 2), 255, dtype=np.uint8)
    tall[::11, 0] = 0
    assert isinstance(_scan_gray(tall, model), str)


def test_noise_speckle_does_not_crash(model):
    rng = np.random.RandomState(7)
    img = np.where(rng.rand(64, 200) < 0.02, 0, 255).astype(np.uint8)
    assert isinstance(_scan_gray(img, model), str)


def test_png_roundtrip_degenerate():
    for shape in ((1, 1), (1, 500), (500, 1)):
        img = np.full(shape, 255, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)


def test_scan_bytes_garbage_raises(model):
    with pytest.raises(Exception):
        scan_image_bytes(b"\x89PNG\r\n\x1a\ngarbage", model)


def test_pipeline_isolates_bad_images(spark, model):
    """Blank, garbage, and valid images in one batch: valid rows recognized,
    bad bytes become error rows, blank becomes an empty text span."""
    from newocr_spark.font.render import render_text_png
    from newocr_spark.pipeline.extract import extract_spans

    blank = encode_png(np.full((10, 10), 255, dtype=np.uint8))
    good = render_text_png(["ok 1"], 2)
    docs = spark.createDataFrame(
        [
            ("d1", [("media", None, "m-good", 0)]),
            ("d2", [("media", None, "m-blank", 0)]),
            ("d3", [("media", None, "m-garbage", 0)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [
            ("m-good", bytearray(good)),
            ("m-blank", bytearray(blank)),
            ("m-garbage", bytearray(b"not a png at all")),
        ],
        "media_ref string, png binary",
    )
    rows = {r.doc_id: r for r in extract_spans(spark, docs, media, model).collect()}
    assert rows["d1"].text == "ok 1" and rows["d1"].error is None
    assert rows["d2"].text == "" and rows["d2"].error is None
    assert rows["d3"].error is not None and rows["d3"].text is None


def _png_with_stream(h: int, w: int, rows: int) -> bytes:
    """A grayscale PNG whose header declares h x w pixels and whose IDAT
    inflates to ``rows`` white scanlines."""
    import struct
    import zlib

    from newocr_spark.codecs.png import _PNG_SIG, _chunk

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    idat = zlib.compress((b"\x00" + b"\xff" * w) * rows, 9)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def test_png_inflation_bounded_by_header(model):
    """A stream shorter than the header's h * (1 + stride) bytes, or one
    that would inflate past it (here 1000x), is a ValueError; through the
    OCR UDF each becomes an error row and the rest of the batch is read."""
    import pandas as pd

    from newocr_spark.font.render import render_text_png
    from newocr_spark.pipeline.extract import make_ocr_udf

    truncated = _png_with_stream(20, 30, 19)
    oversized = _png_with_stream(20, 30, 20_000)
    assert decode_png(_png_with_stream(20, 30, 20)).shape == (20, 30)
    with pytest.raises(ValueError, match="too short"):
        decode_png(truncated)
    with pytest.raises(ValueError, match="longer than"):
        decode_png(oversized)

    class _Broadcast:
        value = model

    batch = pd.DataFrame({
        "doc_id": ["d1", "d2", "d3"],
        "offset": [0, 0, 0],
        "media_ref": ["m-trunc", "m-good", "m-big"],
        "png": [truncated, render_text_png(["ok 1"], 2), oversized],
    })
    (out,) = list(make_ocr_udf(_Broadcast())(iter([batch])))
    assert out["text"].tolist() == [None, "ok 1", None]
    assert out["error"][0].startswith("ValueError: PNG data too short")
    assert out["error"][1] is None
    assert out["error"][2].startswith("ValueError: PNG data longer than")


def test_png_chunk_crc_checked():
    """Every single-bit flip and every truncation of a PNG is a ValueError:
    each chunk's stored CRC is checked, and a stream must reach IEND."""
    png = encode_png(np.full((5, 7), 200, dtype=np.uint8))
    for pos in range(len(png)):
        for bit in range(8):
            b = bytearray(png)
            b[pos] ^= 1 << bit
            with pytest.raises(ValueError):
                decode_png(bytes(b))
    for cut in range(len(png)):
        with pytest.raises(ValueError):
            decode_png(png[:cut])
    idat_crc = len(png) - 12 - 4  # last byte of the IDAT chunk's CRC
    b = bytearray(png)
    b[idat_crc] ^= 1
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(b))


def _declare_dims(buf: bytes, w: int, h: int) -> bytes:
    """``buf`` (PNG or BMP) with its header's width and height replaced;
    a PNG keeps a valid IHDR CRC, so only the size is wrong."""
    import struct
    import zlib

    b = bytearray(buf)
    if b[:2] == b"BM":
        struct.pack_into("<ii", b, 18, w, h)
    else:
        struct.pack_into(">II", b, 16, w, h)
        struct.pack_into(">I", b, 29, zlib.crc32(bytes(b[12:29])) & 0xFFFFFFFF)
    return bytes(b)


def test_declared_pixels_over_budget_is_image_too_large(model):
    """A header declaring 100000 x 100000 pixels is rejected before any
    inflation or allocation: ``ImageTooLarge`` (a ``ValueError``), an error
    row through the OCR UDF, and the good image in the batch still scans."""
    import pandas as pd

    from newocr_spark.codecs import MAX_PIXELS, ImageTooLarge
    from newocr_spark.codecs.bmp import decode_image, encode_bmp
    from newocr_spark.font.render import render_text_image, render_text_png
    from newocr_spark.pipeline.extract import make_ocr_udf

    assert 4961 * 7016 <= MAX_PIXELS  # a 600 dpi A4 page fits
    img = render_text_image(["ok 1"], 2)
    huge_png = _declare_dims(encode_png(img), 100_000, 100_000)
    huge_bmp = _declare_dims(encode_bmp(img), 100_000, -100_000)
    for buf in (huge_png, huge_bmp):
        with pytest.raises(ImageTooLarge, match="exceeds"):
            decode_image(buf)
    assert issubclass(ImageTooLarge, ValueError)

    class _Broadcast:
        value = model

    batch = pd.DataFrame({
        "doc_id": ["d1", "d2", "d3"],
        "offset": [0, 0, 0],
        "media_ref": ["m-png", "m-good", "m-bmp"],
        "png": [huge_png, render_text_png(["ok 1"], 2), huge_bmp],
    })
    (out,) = list(make_ocr_udf(_Broadcast())(iter([batch])))
    assert out["text"].tolist() == [None, "ok 1", None]
    assert out["error"][0].startswith("ImageTooLarge: 100000x100000")
    assert out["error"][1] is None
    assert out["error"][2].startswith("ImageTooLarge: 100000x100000")


def _letter_page(face) -> np.ndarray:
    """RAW_STRING wrapped over a US Letter page at 96 dpi (816 x 1056 px)
    at scale 1: as many lines as fit, each as many characters as fit."""
    from newocr_spark.font.glyphs import MARGIN_LEFT
    from newocr_spark.font.render import RAW_STRING, render_line, render_text_image

    text, lines, pos = RAW_STRING * 100, [], 0
    for _ in range((1056 - 2 + face.line_gap) // (face.cell_height + face.line_gap)):
        lo, hi = 1, len(RAW_STRING) * 2
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if render_line(text[pos : pos + mid], face).shape[1] + MARGIN_LEFT + 1 <= 816:
                lo = mid
            else:
                hi = mid - 1
        lines.append(text[pos : pos + lo])
        pos += lo
    return render_text_image(lines, 1, face)


def test_component_budget_is_ten_full_pages():
    """``MAX_COMPONENTS`` is ten times the densest full page of text, and
    no golden, face or fuzz case comes within a tenth of it: the full
    pages of every face, RAW_STRING at every trained scale, the training
    images, and the fuzz and salted-noise images."""
    from newocr_spark.codecs.limits import MAX_COMPONENTS
    from newocr_spark.font.glyphs import FACES
    from newocr_spark.font.perturb import salt
    from newocr_spark.font.render import (
        RAW_STRING, TRAIN_SCALES, render_text_image, render_train_image,
    )
    from newocr_spark.kernel.ccl import connected_components

    def count(img):
        return len(connected_components(binarize(img)))

    pages = {name: count(_letter_page(face())) for name, face in FACES.items()}
    assert max(pages.values()) == pages["SparkGrid"] == 4_686
    assert MAX_COMPONENTS >= 10 * max(pages.values())
    cases = list(pages.values())
    for face in FACES.values():
        f = face()
        cases.append(count(render_train_image(f)))
        cases += [count(render_text_image([RAW_STRING], s, f)) for s in TRAIN_SCALES]
    cases.append(count(render_text_image(["fuzz 42"], 2)))
    cases.append(count(salt(render_text_image([RAW_STRING], 4), 0.03, 0)))
    assert max(cases) <= MAX_COMPONENTS / 10


def test_noise_page_over_component_budget_is_error_row(model):
    """A 2000 x 2000 page of random ink (density 0.3, blank bottom row)
    holds 190,000 components: ``ImageTooComplex`` (a ``ValueError``) is
    raised right after labelling, so the page becomes an error row in
    seconds on one core, and the good image in the batch still scans."""
    import time

    import pandas as pd

    from newocr_spark.codecs import ImageTooComplex
    from newocr_spark.font.render import render_text_png
    from newocr_spark.pipeline.extract import make_ocr_udf

    black = np.random.default_rng(0).random((2000, 2000)) < 0.3
    black[-1] = False
    noise = encode_png(np.where(black, np.uint8(0), np.uint8(255)))
    assert issubclass(ImageTooComplex, ValueError)

    class _Broadcast:
        value = model

    batch = pd.DataFrame({
        "doc_id": ["d1", "d2"], "offset": [0, 0], "media_ref": ["m-noise", "m-good"],
        "png": [noise, render_text_png(["ok 1"], 2)],
    })
    t0 = time.perf_counter()
    (out,) = list(make_ocr_udf(_Broadcast())(iter([batch])))
    elapsed = time.perf_counter() - t0
    assert out["text"].tolist() == [None, "ok 1"]
    assert out["error"][0].startswith("ImageTooComplex: 190000 connected components exceed")
    assert out["error"][1] is None
    assert elapsed < 10.0


def test_hostile_media_fuzz_through_map_in_pandas(spark, model):
    """Mutated PNG and BMP bytes (truncated, byte-flipped, huge declared
    dimensions) through the real ``mapInPandas`` OCR plan: every output row
    is a text row or an error row, the unmutated images read exactly, and
    no task fails (the collect returns)."""
    from newocr_spark.codecs.bmp import encode_bmp
    from newocr_spark.font.render import render_text_image
    from newocr_spark.pipeline.extract import OCR_OUTPUT_SCHEMA, make_ocr_udf

    img = render_text_image(["fuzz 42"], 2)
    rng = np.random.RandomState(2024)
    rows = []
    for kind, good in (("png", encode_png(img)), ("bmp", encode_bmp(img))):
        variants = [("good", good)]
        for cut in sorted(rng.randint(1, len(good), size=6)) + [8, 30, 60]:
            variants.append((f"trunc{cut}", good[:cut]))
        for i in range(16):
            b = bytearray(good)
            # bias flips into the headers, where the decoders branch
            pos = rng.randint(0, 70) if i % 2 else rng.randint(0, len(b))
            b[pos] ^= 1 << rng.randint(0, 8)
            variants.append((f"flip{i}", bytes(b)))
        for w, h in ((100_000, 100_000), (2**31 - 1, 1), (7000, 7000), (60, 2**16)):
            variants.append((f"dims{w}x{h}", _declare_dims(good, w, h)))
        rows += [(f"{kind}-{name}", 0, 0, f"m-{kind}-{name}", bytearray(b)) for name, b in variants]

    media = spark.createDataFrame(
        rows, "doc_id string, seq int, offset int, media_ref string, png binary"
    ).repartition(3)
    bmodel = spark.sparkContext.broadcast(model)
    out = media.mapInPandas(make_ocr_udf(bmodel), OCR_OUTPUT_SCHEMA).collect()

    assert sorted(r.doc_id for r in out) == sorted(r[0] for r in rows)
    for r in out:
        assert (r.text is None) != (r.error is None), r
    by_id = {r.doc_id: r for r in out}
    assert by_id["png-good"].text == "fuzz 42" and by_id["bmp-good"].text == "fuzz 42"
    for kind in ("png", "bmp"):
        assert by_id[f"{kind}-dims100000x100000"].error.startswith("ImageTooLarge: ")
        assert by_id[f"{kind}-dims7000x7000"].error.startswith("ImageTooLarge: ")
        assert by_id[f"{kind}-trunc8"].error is not None
    # every PNG byte lies in a CRC-checked chunk or the signature
    png_flips = [r for r in out if r.doc_id.startswith("png-flip")]
    assert len(png_flips) == 16 and all(r.error is not None for r in png_flips)


# ---------------------------------------------------------------------------
# BMP container + magic-byte decode dispatch (reference parity: multiple
# image read strategies, train/ImageReadMethod.java:18-67)
# ---------------------------------------------------------------------------

def test_bmp_roundtrip():
    from newocr_spark.codecs.bmp import decode_bmp, encode_bmp

    rng = np.random.RandomState(3)
    gray = (rng.rand(13, 37) * 255).astype(np.uint8)  # odd width → padding
    assert np.array_equal(decode_bmp(encode_bmp(gray)), gray)
    rgb = (rng.rand(7, 5, 3) * 255).astype(np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(rgb)), rgb)


def test_decode_image_dispatch(model):
    from newocr_spark.codecs.bmp import decode_image, encode_bmp
    from newocr_spark.font.render import render_text_image

    img = render_text_image(["Mixed 42"], 2)
    assert np.array_equal(decode_image(encode_png(img)), img)
    assert np.array_equal(decode_image(encode_bmp(img)), img)


def test_pipeline_mixed_containers(spark, model):
    """One media table mixing PNG and BMP bytes: both recognized exactly."""
    from newocr_spark.codecs.bmp import encode_bmp
    from newocr_spark.font.render import render_text_image
    from newocr_spark.pipeline.extract import extract_spans

    png = encode_png(render_text_image(["png row 1"], 2))
    bmp = encode_bmp(render_text_image(["bmp row 2"], 2))
    docs = spark.createDataFrame(
        [
            ("d1", [("media", None, "m-png", 0)]),
            ("d2", [("media", None, "m-bmp", 0)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("m-png", bytearray(png)), ("m-bmp", bytearray(bmp))],
        "media_ref string, png binary",
    )
    rows = {r.doc_id: r for r in extract_spans(spark, docs, media, model).collect()}
    assert rows["d1"].text == "png row 1" and rows["d1"].error is None
    assert rows["d2"].text == "bmp row 2" and rows["d2"].error is None


def test_half_up_rounding_emulation_on_exact_ties():
    """The numpy kernels emulate HALF_UP with floor(x*1e6+0.5)/1e6 so that
    6-digit boundary decisions match F.round / DuckDB round. Pin the
    emulation on exactly-representable .5 ties, where np.round (banker's)
    demonstrably flips the other way — the class of value the ADVICE r2
    ulp note is about."""
    import duckdb
    import numpy as np

    ties = [1 / 128, 3 / 256, 5 / 128, 0.4999995]
    emulated = [float(np.floor(x * 1e6 + 0.5) / 1e6) for x in ties]
    oracle = [
        float(r[0])
        for x in ties
        for r in duckdb.sql(f"select round({x!r}::double, 6)").fetchall()
    ]
    assert emulated == oracle
    # banker's rounding disagrees on the even-tie cases — the emulation is
    # load-bearing, not cosmetic
    assert float(np.round(1 / 128, 6)) != emulated[0]
