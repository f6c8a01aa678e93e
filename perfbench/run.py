"""OCR-extraction benchmark.

    python3 perfbench/run.py --workload lines_warm --seed 1 --seconds 10 --trace 0

Run from the repository root. Each workload is a closed loop on
``local[<cores>]`` from this one driver process: one extraction job at a
time, the next pass starting when the previous one has finished. Inputs
are generated from ``--seed`` and written to parquet before any pass is
timed (see ``inputs.py``); every pass reads them back as
``jobs/extract_job.py`` does and is checked against the expected spans.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
per-layer measurements instead (see ``DESIGN.md``). The last stdout line
is one JSON object: correct, attempted, failed and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import types

WORKLOADS = ("lines_warm", "salted_cold")
N_DOCS = {"lines_warm": 400, "salted_cold": 80}
SETUPS = 3         # set-ups per end-to-end run; setup_s is their median
MIN_PASSES = 3     # timed passes per run, at least
TRACE_PASSES = 3   # passes per median in a traced run
REPLAY_IMAGES = {"lines_warm": 384, "salted_cold": 64}
N_BUCKETS, GROUP_SIZE, CRASH_AFTER = 4, 2, 1


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One workload at one seed: set-up, passes, checks, metrics."""

    def __init__(self, workload: str, seed: int, work: str) -> None:
        from newocr_spark.artifacts import get_model

        self.workload, self.seed, self.work = workload, seed, work
        self.n = cores()
        self.n_files = 2 * self.n
        self.n_docs = N_DOCS[workload]
        self.model = get_model()
        self.spark = None
        self.attempted = 0
        self.failed = 0

    # -- session ------------------------------------------------------------

    def start_session(self) -> None:
        from newocr_spark.pipeline.session import build_session

        self.spark = build_session(
            app="perfbench", master=f"local[{self.n}]", shuffle_partitions=self.n,
            extra={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, the JVM and every worker, and wait for them to end."""
        from pyspark import SparkContext

        from procmem import descendants

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)

    # -- set-up -------------------------------------------------------------

    def setup(self, tag: str) -> float:
        """Session start, fixture render + parquet write, worker warm-up.
        salted_cold's media versions are per-pass inputs, rendered later
        by render_ahead."""
        import inputs
        from newocr_spark.pipeline.session import warm_python_workers

        t0 = time.perf_counter()
        self.start_session()
        self.dir = f"{self.work}/{tag}"
        self.texts = inputs.corpus_texts(self.seed, self.n_docs)
        lines = self.workload == "lines_warm"
        self.docs, self.media, self.text_path = inputs.write_corpus(
            self.spark, self.texts, self.dir, self.n_files, self.model, scale_media=lines)
        self.expected = inputs.expected_lines(self.texts)
        self.version, self.rendered = -1, 0  # salted_cold: last media version used; rendered
        warm_python_workers(self.spark, self.n)
        return time.perf_counter() - t0

    def render_ahead(self, count: int) -> None:
        """salted_cold: render the next ``count`` media versions in one job."""
        import inputs

        if self.workload != "salted_cold":
            return
        inputs.write_salted_media(self.spark, self.text_path, f"{self.dir}/salted", self.seed,
                                  range(self.rendered, self.rendered + count), self.n_docs,
                                  self.n_files)
        self.rendered += count

    def next_media(self) -> str:
        """Path of the media the next pass reads. On salted_cold that is
        the next salted version, so no pass repeats a bitmap; versions not
        rendered ahead are rendered here, one at a time."""
        if self.workload != "salted_cold":
            return self.media
        import inputs

        self.version += 1
        if self.version == self.rendered:
            self.render_ahead(1)
        return inputs.salted_path(f"{self.dir}/salted", self.version)

    # -- passes -------------------------------------------------------------

    def check(self, rows) -> None:
        import inputs

        self.attempted += len(self.expected)
        self.failed += inputs.count_failed(
            [(r.doc_id, r.kind, r.text, r.media_ref, r.seq, r.error) for r in rows],
            self.expected)

    def extract_pass(self, media: str, check: bool = True) -> float:
        from newocr_spark.pipeline.extract import extract_spans

        spark = self.spark
        t0 = time.perf_counter()
        rows = extract_spans(spark, spark.read.parquet(self.docs),
                             spark.read.parquet(media), self.model).collect()
        wall = time.perf_counter() - t0
        if check:
            self.check(rows)
        return wall

    def runner(self, out: str, tracer, **kw):
        """An ExtractRunner whose sinks and state store record spans."""
        from newocr_spark.pipeline.sinks import ParquetSpanSink, ParquetStateStore
        from newocr_spark.pipeline.state import ExtractRunner

        from tracing import TracedSink, TracedState

        spark = self.spark
        return ExtractRunner(
            spark, self.model, f"{out}/spans",
            TracedState(ParquetStateStore(spark, f"{out}/state"), tracer),
            n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
            ocr_sink=TracedSink(ParquetSpanSink(spark, f"{out}/spans_ocr"), tracer,
                                "pipeline.sinks.ocr"),
            out_sink=TracedSink(ParquetSpanSink(spark, f"{out}/spans"), tracer,
                                "pipeline.sinks.out"),
            **kw)

    def run_runner(self, runner, media: str, run_id: str) -> tuple[float, dict]:
        spark = self.spark
        t0 = time.perf_counter()
        stats = runner.run(spark.read.parquet(self.docs), spark.read.parquet(media),
                           input_snapshot=f"seed-{self.seed}", run_id=run_id)
        return time.perf_counter() - t0, stats

    def resume_cycle(self, media: str, out: str, tracer) -> float:
        """Crash a run after CRASH_AFTER groups, resume it, check the output;
        returns the resumed run's wall time."""
        runner = self.runner(out, tracer, fail_after_groups=CRASH_AFTER)
        try:
            self.run_runner(runner, media, "crashed")
        except RuntimeError:
            pass
        else:
            raise RuntimeError("the injected crash did not happen")
        runner.fail_after_groups = None
        wall, _ = self.run_runner(runner, media, "resumed")
        self.check(runner.read_output().collect())
        return wall

    # -- end-to-end run -----------------------------------------------------

    def run_e2e(self, seconds: float) -> dict:
        from procmem import WorkerRssSampler

        setups = []
        for i in range(SETUPS):
            if i:
                self.stop_session()
                shutil.rmtree(self.dir, ignore_errors=True)
            setups.append(self.setup(f"setup{i}"))
        log(f"setup_s {[round(s, 3) for s in setups]}")
        # the versions of the warm pass and the sampled passes: no render
        # runs in the workers while they are sampled
        self.render_ahead(1 + MIN_PASSES)
        self.extract_pass(self.next_media())  # warm: JIT, glyph cache, broadcasts

        sampler = WorkerRssSampler()
        walls: list[float] = []
        while len(walls) < MIN_PASSES or sum(walls) < seconds:
            media = self.next_media()
            # memory over a fixed amount of work: salted_cold's glyph cache
            # grows with every pass, so a longer run would read higher
            if len(walls) < MIN_PASSES:
                sampler.start()
            walls.append(self.extract_pass(media))
            sampler.stop()
        rates = [self.n_docs / w for w in walls]
        log(f"{len(walls)} timed passes of {self.n_docs} docs, docs/s "
            f"{[round(r, 1) for r in rates]}")
        return {
            "docs_per_s": {"value": statistics.median(rates), "unit": "docs/s"},
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "worker_peak_rss_mb": {"value": sampler.peak / 2**20, "unit": "MB"},
        }

    # -- traced run ---------------------------------------------------------

    def run_traced(self) -> dict:
        import inputs
        from tracing import Tracer

        self.setup("setup0")
        # warm pass, timed passes, full run, resumed run
        self.render_ahead(1 + TRACE_PASSES + 2)
        warm_media = self.next_media()
        self.extract_pass(warm_media)
        pass_s = statistics.median(self.extract_pass(self.next_media()) for _ in range(TRACE_PASSES))
        blank = f"{self.dir}/media-blank"
        inputs.blank_media(warm_media, blank, self.n_files)
        blank_s = statistics.median(self.extract_pass(blank, check=False)
                                    for _ in range(TRACE_PASSES))
        m = {
            "pipeline.extract.pass_s": (pass_s, "s"),
            "pipeline.extract.blank_media_s": (blank_s, "s"),
            "pipeline.extract.kernel_share": (1 - blank_s / pass_s, "ratio"),
        }
        tracer = Tracer()
        m.update(self.traced_runner(tracer))
        m.update(self.traced_replay(tracer))
        tracer.write(os.path.join(os.path.dirname(self.work),
                                  f"trace-{self.workload}-seed{self.seed}.jsonl"))
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def traced_runner(self, tracer) -> dict:
        """A full ExtractRunner run and a crash + resume cycle on this
        workload's inputs, with traced sinks and state store."""
        out = f"{self.dir}/traced-full"
        runner, media = self.runner(out, tracer), self.next_media()
        with tracer.span("pipeline.state.run"):
            _, stats = self.run_runner(runner, media, "full")
        self.check(runner.read_output().collect())
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        resume_s = self.resume_cycle(self.next_media(), f"{self.dir}/traced-resume", tracer)

        (run_start, run_end), = tracer.durations("pipeline.state.run")

        def within(name):
            return [(s, e) for s, e in tracer.durations(name) if run_start <= s and e <= run_end]

        probes = within("pipeline.state.resume_probe")
        appends = within("pipeline.state.append")
        marks = [probes[-1][1]] + [e for _, e in appends]
        groups = [(b - a) / 1e9 for a, b in zip(marks, marks[1:])]
        return {
            "pipeline.state.group_s": (statistics.median(groups), "s"),
            "pipeline.state.groups_run": (stats["groups_run"], "count"),
            "pipeline.state.resume_probe_s": (sum(e - s for s, e in probes) / 1e9, "s"),
            "pipeline.state.assembly_s": ((run_end - marks[-1]) / 1e9, "s"),
            "pipeline.state.resume_s": (resume_s, "s"),
            "pipeline.sinks.ocr_write_s": (
                sum(e - s for s, e in within("pipeline.sinks.ocr.overwrite_partitions")) / 1e9, "s"),
            "pipeline.sinks.state_append_s": (sum(e - s for s, e in appends) / 1e9, "s"),
            "pipeline.sinks.files_written": (len(files), "count"),
            "pipeline.sinks.bytes_written_mb": (sum(map(os.path.getsize, files)) / 2**20, "MB"),
        }

    def replay_batches(self, sample: int, version: int) -> tuple[list, dict]:
        """Seeded sample number ``sample`` of this workload's media as UDF
        input batches (salted_cold: salted afresh as ``version``), plus
        media_ref -> expected text."""
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq
        from newocr_spark.pipeline.session import DEFAULTS

        import inputs

        refs = [f"m-{d:06d}" for d in range(self.n_docs)]
        want = dict(zip(refs, self.texts))
        media = pd.DataFrame({"media_ref": refs, "text": self.texts})
        rng = np.random.default_rng([self.seed, sample])
        k = min(REPLAY_IMAGES[self.workload], len(media))
        rows = media.iloc[np.sort(rng.choice(len(media), size=k, replace=False))]
        if self.workload == "salted_cold":
            render = inputs.salted_render(self.seed, self.n_docs)
            rows = next(render(iter([rows.assign(version=10_000 + version)])))
        else:
            pngs = pq.read_table(self.media).to_pandas().set_index("media_ref")["png"]
            rows = rows.assign(png=pngs.loc[rows["media_ref"]].values)
        batch = pd.DataFrame({
            "doc_id": ["doc-" + r[2:] for r in rows["media_ref"]],
            "offset": 10,
            "media_ref": rows["media_ref"].values,
            "png": rows["png"].values,
        })
        # the Arrow batch size the program's sessions hand to mapInPandas
        size = int(DEFAULTS["spark.sql.execution.arrow.maxRecordsPerBatch"])
        return [batch.iloc[i : i + size] for i in range(0, len(batch), size)], want

    def replay(self, batches, want, tracer=None) -> float:
        """make_ocr_udf's generator run locally on pandas batches, as
        mapInPandas would run it on one core; returns its wall time."""
        from newocr_spark.pipeline.extract import make_ocr_udf

        gen = make_ocr_udf(types.SimpleNamespace(value=self.model))(iter(batches))
        outs = []
        t0 = time.perf_counter()
        while True:
            if tracer is None:
                out = next(gen, None)
            else:
                with tracer.span("pipeline.extract.udf"):
                    out = next(gen, None)
            if out is None:
                break
            outs.append(out)
        wall = time.perf_counter() - t0
        for out in outs:
            self.attempted += len(out)
            self.failed += sum(e is not None or t != want[r] for t, r, e in
                               zip(out["text"], out["media_ref"], out["error"]))
        return wall

    def traced_replay(self, tracer) -> dict:
        """Per-layer kernel figures from a traced replay on a glyph cache
        warmed by an untraced replay of another sample, as the workers'
        caches are by the timed passes, then the tracing overhead from an
        untraced and a traced replay of that other sample."""
        from tracing import Tracer, kernel_wrappers

        self.replay(*self.replay_batches(1, 3))
        batches, want = self.replay_batches(0, 0)
        with kernel_wrappers(tracer):
            self.replay(batches, want, tracer)
        plain_s = self.replay(*self.replay_batches(1, 1))
        with kernel_wrappers(Tracer()) as overhead_tracer:
            traced_s = self.replay(*self.replay_batches(1, 2), overhead_tracer)
        images = sum(len(b) for b in batches)
        self_s = tracer.self_seconds()
        c = tracer.counts

        def ms(name):
            return (self_s.get(name, 0.0) * 1000 / images, "ms")

        def per_image(key, unit="count"):
            return (c[key] / images, unit)

        return {
            "codecs.decode_ms": ms("codecs.decode"),
            "codecs.decoded_mpix": (c["codecs.decoded_px"] / 1e6 / images, "Mpix"),
            "kernel.grid.binarize_ms": ms("kernel.grid.binarize"),
            "kernel.grid.rows_populated_ms": ms("kernel.grid.rows_populated"),
            "kernel.lines.line_bounds_ms": ms("kernel.lines.line_bounds"),
            "kernel.ccl.ms": ms("kernel.ccl"),
            "kernel.ccl.components": per_image("kernel.ccl.components"),
            "kernel.features.featurize_ms": ms("kernel.features.featurize"),
            "kernel.features.glyphs_featurized": per_image("kernel.features.glyphs_featurized"),
            "kernel.scan.self_ms": ms("kernel.scan"),
            "kernel.scan.render_text_ms": ms("kernel.scan.render_text"),
            "kernel.scan.glyph_cache_hit_ratio": (
                1 - c["kernel.features.glyphs_featurized"] / max(1, c["kernel.ccl.components"]),
                "ratio"),
            "kernel.mergence.ms": ms("kernel.mergence"),
            "kernel.mergence.merges": per_image("kernel.mergence.merges"),
            "kernel.spacing.ms": ms("kernel.spacing"),
            "kernel.spacing.spaces": per_image("kernel.spacing.spaces"),
            "kernel.metrics.font_size_ms": ms("kernel.metrics.font_size"),
            "pipeline.extract.udf_ms": (plain_s * 1000 / images, "ms"),
            "pipeline.extract.udf_self_ms": ms("pipeline.extract.udf"),
            "trace.replay_images": (images, "count"),
            "trace.overhead_share": ((traced_s - plain_s) / plain_s, "ratio"),
        }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import newocr_spark  # noqa: F401
    except ImportError as exc:
        log(f"run from the repository root: {exc}")
        return 2
    # workers import newocr_spark too; temp files stay inside the checkout
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    here = os.path.dirname(os.path.abspath(__file__))  # inputs.py renders in workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [root, here, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"  # overrides spark.local.dir
    # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata_* file.
    # C1 only: in a run this short, C2 compiler threads take CPU from the Python
    # workers for the whole run, so passes sped up by ~30% from first to last
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work}/tmp")

    bench = Bench(args.workload, args.seed, work)
    try:
        metrics = bench.run_traced() if args.trace else bench.run_e2e(args.seconds)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
