"""perfbench's kernel hooks (``perfbench/tracing.py``) rebind kernel
functions by module attribute name and count what they return. A kernel
change that renames one of them, or changes a signature or a return shape,
would silently break ``perfbench/run.py --trace 1``; this pins the contract
by running the hooks around the OCR UDF and checking every span and count
against an untraced scan of the same images."""

import os

import pandas as pd

from newocr_spark.artifacts import get_model
from newocr_spark.codecs.bmp import decode_image
from newocr_spark.font.render import render_text_png
from newocr_spark.kernel import scan
from newocr_spark.kernel.ccl import connected_components
from newocr_spark.kernel.grid import binarize
from newocr_spark.pipeline.extract import make_ocr_udf

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")

# the texts exercise every hook: spaces, dot and bar merges, a percent sign
TEXTS = ["Hello, World! 42", 'i; j: a=b 50% "q" ok?', "the value of a big column"]

SPANS = {
    "codecs.decode", "kernel.grid.binarize", "kernel.scan", "kernel.grid.rows_populated",
    "kernel.lines.line_bounds", "kernel.ccl", "kernel.features.featurize",
    "kernel.spacing", "kernel.scan.render_text", "kernel.metrics.font_size",
    "kernel.mergence",
}


class _Broadcast:
    def __init__(self, value):
        self.value = value


def _ocr(pngs, model):
    pdf = pd.DataFrame({"media_ref": [str(i) for i in range(len(pngs))], "png": pngs})
    return pd.concat(list(make_ocr_udf(_Broadcast(model))(iter([pdf]))))


def test_kernel_hooks_record_every_span_and_exact_counts(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    from tracing import Tracer, kernel_wrappers

    model = get_model()
    pngs = [render_text_png([t], scale) for t in TEXTS for scale in (1, 2)]

    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    tracer = Tracer()
    with kernel_wrappers(tracer):
        traced = _ocr(pngs, model)
    assert traced.error.isna().all()
    assert traced.text.tolist() == [t for t in TEXTS for _ in (1, 2)]
    assert {name for name, *_ in tracer.spans} == SPANS
    assert tracer.image == len(pngs) - 1

    # the same images untraced, from a cleared glyph cache
    monkeypatch.setattr(scan, "_CAND_CACHE", type(scan._CAND_CACHE)())
    grids = [binarize(decode_image(png)) for png in pngs]
    letters = [l for grid in grids for _y, line in scan.scan_grid(grid, model) for l in line]
    want = {
        "codecs.decoded_px": sum(grid.size for grid in grids),
        "kernel.ccl.components": sum(len(connected_components(grid)) for grid in grids),
        "kernel.features.glyphs_featurized": len(scan._CAND_CACHE),
        "kernel.spacing.spaces": sum(l.letter == " " for l in letters),
        "kernel.mergence.merges": sum(l.amount_of_merges for l in letters),
    }
    assert dict(tracer.counts) == want
    assert want["kernel.mergence.merges"] > 0 and want["kernel.spacing.spaces"] > 0
    font_size_calls = sum(name == "kernel.metrics.font_size" for name, *_ in tracer.spans)
    assert font_size_calls == sum(l.letter != " " for l in letters)
    assert traced.glyph_count.sum() == len(letters)
    assert (traced.line_count == 1).all()
