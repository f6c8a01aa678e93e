"""End-to-end recognition tests: self-scan accuracy + mergence behavior.

Mirrors the reference's test strategy — train on the generated alphabet
image, scan it back, compare to RAW_STRING
(src/test/java/com/uddernetworks/newocr/fonts/Accuracy.java:34-107) — but
with exact equality (the ≥98% floor is the reference's bar; our fixtures
are built to be exact, FIXTURES.md §5).
"""

import pytest

from newocr_spark.font.render import RAW_STRING, TRAIN_SCALES, render_text_image, render_text_png
from newocr_spark.kernel.grid import binarize
from newocr_spark.kernel.scan import render_text, scan_grid, scan_image_bytes


@pytest.mark.parametrize("scale", TRAIN_SCALES)
def test_self_scan_exact(font_model, scale):
    img = render_text_image([RAW_STRING], scale=scale)
    got = render_text(scan_grid(binarize(img), font_model))
    assert got == RAW_STRING


def test_multiline_png_roundtrip(font_model):
    lines = ["Hello World", "foo bar baz!", "i j ! ? % : ; = \" '"]
    png = render_text_png(lines, scale=2)
    assert scan_image_bytes(png, font_model) == "\n".join(lines)


def test_merge_rules_end_to_end(font_model):
    # every multi-part glyph must survive as one character at every scale
    for scale in (1, 3, 5):
        text = 'i j ! ? % : ; = "'
        got = scan_image_bytes(render_text_png([text], scale), font_model)
        assert got == text, f"scale {scale}"


def test_vertical_relations_only_piece_neighbourhoods(font_model, monkeypatch):
    """Only letters whose x-overlap holds a dot or horizontal-line letter
    get a vertical relation; the others (plain letters, the '%' pieces) get
    no entry, and the merged text is the golden text."""
    from newocr_spark.kernel import mergence, scan

    seen = {}
    real = scan.run_mergence

    def spy(sorted_lines, model):
        ctx = mergence._Ctx(model)
        letters = [l for _y, line in sorted_lines for l in line]
        seen["letters"] = [(l.letter, l.mod) for l in letters]
        rel = mergence.vertical_relations(ctx, letters)
        seen["related"] = [(l.letter, l.mod) for i, l in enumerate(letters) if i in rel]
        return real(sorted_lines, model)

    monkeypatch.setattr(scan, "run_mergence", spy)
    text = "ab i j ! ? % : ; = xyz"
    assert scan_image_bytes(render_text_png([text], 2), font_model) == text
    plain = [lm for lm in seen["letters"] if lm[0] in "abxyz"]
    assert len(plain) == 5 and not any(lm in seen["related"] for lm in plain)
    # the two pieces of each of i j ! ? : ; = and nothing else
    assert len(seen["related"]) == 14


def test_apostrophe_vs_quote(font_model):
    # two adjacent apostrophe-height bars merge to '"', a lone one stays "'"
    text = "a'b \"c"
    got = scan_image_bytes(render_text_png([text], 2), font_model)
    assert got == text


def test_trained_metadata_values(font_model):
    # geometry-derived trained distances (see font/glyphs.py docstring)
    m = font_model.meta
    assert m["distancei"] == pytest.approx(2 / 9)
    assert m["distancej"] == pytest.approx(2 / 9)
    assert m["colonDistance"] == pytest.approx(1.0)
    assert m["semicolonDistance"] == pytest.approx(0.6)
    assert m["equalsDistance"] == pytest.approx(1.0)
    assert m["distanceQuestion"] == pytest.approx(2 / 11)
    assert m["distanceExclamation"] == pytest.approx(2 / 11)
    assert m["apostropheRatio"] == pytest.approx(2.5)
    assert font_model.custom_spaces["`"] == pytest.approx(0.5)


def test_model_parquet_roundtrip(font_model, tmp_path):
    d = str(tmp_path / "model")
    font_model.save(d)
    from newocr_spark.model import FontModel

    loaded = FontModel.load(d)
    assert loaded.letters == font_model.letters
    import numpy as np

    assert np.allclose(loaded.segments, font_model.segments)
    assert loaded.meta == pytest.approx(font_model.meta)
    # the reloaded model recognizes identically
    got = scan_image_bytes(render_text_png(["Round Trip 42!"], 2), loaded)
    assert got == "Round Trip 42!"


def test_untrained_model_guard(tmp_path):
    """Loading a never-trained model dir fails with intent (the analogue of
    the reference's UntrainedDatabaseException), not a low-level IO error."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from newocr_spark.model import FontModel, UntrainedModelError

    with pytest.raises(UntrainedModelError, match="no trained font model"):
        FontModel.load(str(tmp_path / "nope"))

    # present-but-empty trained table is equally untrained
    d = tmp_path / "empty"
    d.mkdir()
    empty = pa.table(
        {
            "font": pa.array([], pa.string()),
            "letter": pa.array([], pa.string()),
            "modifier": pa.array([], pa.int32()),
            "segments": pa.array([], pa.list_(pa.float64())),
            "avg_width": pa.array([], pa.float64()),
            "avg_height": pa.array([], pa.float64()),
            "min_center": pa.array([], pa.float64()),
            "max_center": pa.array([], pa.float64()),
        }
    )
    pq.write_table(empty, str(d / "font_model.parquet"))
    with pytest.raises(UntrainedModelError, match="zero trained letters"):
        FontModel.load(str(d))
