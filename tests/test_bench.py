"""bench.py's output contract: one JSON line on stdout that keeps the
vs_prev ratios that moved, and the full result on disk."""

import copy
import json
import os

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _r05_shaped_result() -> dict:
    """The recorded round-5 line plus a vs_prev over every entry, with
    ratios on both sides of the trim thresholds."""
    with open(os.path.join(ROOT, "BENCH_r05.json")) as f:
        result = json.load(f)["parsed"]
    steps = [0.5, 0.77, 0.78, 1.0, 1.29, 1.3, 2.0]
    result["vs_prev"] = {
        "prev_round": 4,
        "prev_sf": result["sf"],
        "ratios": {name: steps[i % len(steps)] for i, name in enumerate(result["queries"])},
    }
    return result


def test_main_prints_one_line_with_trimmed_vs_prev(monkeypatch, capsys, tmp_path):
    result = _r05_shaped_result()
    monkeypatch.setattr(bench, "run_bench", lambda sf_dir, cpus: copy.deepcopy(result))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    bench.main()

    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    line = json.loads(lines[0])
    assert len(lines[0]) > 2000 and "vs_prev" in line
    ratios = result["vs_prev"]["ratios"]
    want = {k: v for k, v in ratios.items() if v >= 1.3 or v <= 0.77}
    assert line["vs_prev"]["ratios"] == want
    assert 0 < len(want) < len(ratios)
    assert line["queries"] == result["queries"]

    with open(tmp_path / "BENCH_last_run.json") as f:
        assert json.load(f) == result


def test_vs_prev_compares_only_at_the_same_scale_factor(monkeypatch, tmp_path):
    """Timings at another scale factor give no ratios; the newest round
    recorded at this run's scale factor gives them, even when a newer
    round ran at another one."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    def record(n, sf, seconds):
        line = {"sf": sf, "queries": {"q1": seconds, "q2": 2 * seconds}}
        with open(tmp_path / f"BENCH_r{n:02d}.json", "w") as f:
            json.dump({"n": n, "sf": sf, "parsed": line}, f)

    record(5, 0.1, 8.0)
    assert bench._vs_prev({"q1": 2.0, "q2": 2.0}, 0.001) == {}

    record(4, 0.001, 1.0)
    record(3, 0.001, 4.0)
    assert bench._vs_prev({"q1": 2.0, "q2": 2.0}, 0.001) == {
        "prev_round": 4, "prev_sf": 0.001, "ratios": {"q1": 2.0, "q2": 1.0},
    }
