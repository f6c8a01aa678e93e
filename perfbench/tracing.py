"""Spans recorded from outside the program.

The tracer rebinds public functions of the program's modules to timing
wrappers (in this process only, restored on exit) and wraps sink and
state-store instances handed to ``ExtractRunner``. Spans are kept in
memory as (name, start_ns, end_ns, parent, image) and written out once at
the end; a span's self time is its duration minus its children's.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
from collections import defaultdict

from newocr_spark.pipeline.sinks import SpanSink, StateStore


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start_ns, end_ns, parent, image]
        self.counts: defaultdict[str, int] = defaultdict(int)
        self.image = -1
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else -1
        self.spans.append([name, time.perf_counter_ns(), 0, parent, self.image])
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx][2] = time.perf_counter_ns()

    def wrap(self, name: str, fn, count=None):
        """``fn`` timed as span ``name``; ``count(args, result)`` adds to
        ``self.counts`` after the call."""

        spans, stack, clock = self.spans, self._open, time.perf_counter_ns

        def traced(*args, **kwargs):
            # the body of span() inlined: this runs once per glyph for font_size_of
            idx = len(spans)
            spans.append([name, clock(), 0, stack[-1] if stack else -1, self.image])
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][2] = clock()
            if count is not None:
                for key, n in count(args, result).items():
                    self.counts[key] += n
            return result

        return traced

    def self_seconds(self) -> dict[str, float]:
        """Total self time per span name."""
        child = [0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: defaultdict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            out[name] += (end - start - child[i]) / 1e9
        return dict(out)

    def durations(self, name: str) -> list[tuple[int, int]]:
        return [(s, e) for n, s, e, _, _ in self.spans if n == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, image in self.spans:
                f.write(json.dumps({"name": name, "start_ns": start, "end_ns": end,
                                    "parent": parent, "image": image}) + "\n")


def _letters(lines) -> int:
    return sum(len(line) for _y, line in lines)


@contextlib.contextmanager
def kernel_wrappers(tracer: Tracer):
    """Rebind the decode and kernel entry points the OCR UDF and
    ``scan_grid`` call to traced versions for the duration of the block."""

    def on_decode(fn):
        def decode(buf):
            tracer.image += 1
            return fn(buf)

        return decode

    plan = [
        ("newocr_spark.codecs.bmp", "decode_image", "codecs.decode",
         lambda a, r: {"codecs.decoded_px": int(r.shape[0]) * int(r.shape[1])}),
        ("newocr_spark.kernel.grid", "binarize", "kernel.grid.binarize", None),
        ("newocr_spark.kernel.scan", "scan_grid", "kernel.scan", None),
        ("newocr_spark.kernel.scan", "rows_populated", "kernel.grid.rows_populated", None),
        ("newocr_spark.kernel.scan", "line_bounds", "kernel.lines.line_bounds", None),
        ("newocr_spark.kernel.scan", "connected_components", "kernel.ccl",
         lambda a, r: {"kernel.ccl.components": len(r)}),
        ("newocr_spark.kernel.scan", "featurize_many", "kernel.features.featurize",
         lambda a, r: {"kernel.features.glyphs_featurized": len(a[0])}),
        ("newocr_spark.kernel.scan", "insert_spaces", "kernel.spacing",
         lambda a, r: {"kernel.spacing.spaces": len(r)}),
        ("newocr_spark.kernel.scan", "render_text", "kernel.scan.render_text", None),
        ("newocr_spark.kernel.metrics", "font_size_of", "kernel.metrics.font_size", None),
    ]
    saved = []
    try:
        for module, attr, name, count in plan:
            mod = importlib.import_module(module)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            traced = tracer.wrap(name, fn, count)
            setattr(mod, attr, on_decode(traced) if attr == "decode_image" else traced)
        scan = importlib.import_module("newocr_spark.kernel.scan")
        mergence = scan.run_mergence
        saved.append((scan, "run_mergence", mergence))

        def run_mergence(sorted_lines, model):
            before = _letters(sorted_lines)
            with tracer.span("kernel.mergence"):
                out = mergence(sorted_lines, model)
            tracer.counts["kernel.mergence.merges"] += before - _letters(out)
            return out

        scan.run_mergence = run_mergence
        yield tracer
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


class TracedSink(SpanSink):
    """A ``SpanSink`` whose writes and reads are recorded as spans."""

    def __init__(self, inner: SpanSink, tracer: Tracer, name: str) -> None:
        self.inner, self.tracer, self.name = inner, tracer, name

    def overwrite_partitions(self, df, partition_col):
        with self.tracer.span(f"{self.name}.overwrite_partitions"):
            self.inner.overwrite_partitions(df, partition_col)

    def overwrite_all(self, df, partition_col):
        with self.tracer.span(f"{self.name}.overwrite_all"):
            self.inner.overwrite_all(df, partition_col)

    def read(self, schema=None):
        with self.tracer.span(f"{self.name}.read"):
            return self.inner.read(schema)


class TracedState(StateStore):
    """A ``StateStore`` whose commits and resume probes are recorded."""

    def __init__(self, inner: StateStore, tracer: Tracer) -> None:
        self.inner, self.tracer = inner, tracer

    def read(self):
        with self.tracer.span("pipeline.state.read"):
            return self.inner.read()

    def append(self, rows):
        with self.tracer.span("pipeline.state.append"):
            self.inner.append(rows)

    def completed_buckets(self, input_snapshot):
        with self.tracer.span("pipeline.state.resume_probe"):
            return self.inner.completed_buckets(input_snapshot)

    def attempts(self, input_snapshot):
        with self.tracer.span("pipeline.state.resume_probe"):
            return self.inner.attempts(input_snapshot)
