#!/usr/bin/env python
"""Paired A/B of the OCR benchmark: a parent revision against this checkout.

The host's speed swings by up to 2x within minutes (perfbench/DESIGN.md),
so only paired, alternating runs cancel it out. For each pair this runs
``perfbench/run.py --trace 0`` once on each side with the same seed; the
seed changes from pair to pair, which side runs first alternates, and the
two sides never run at the same time. Both sides run from temporary
copies, extracted from a tar the same way and removed at exit, so they
differ only in code: the parent is ``git archive`` of its revision, the
change is the working tree this script lives in (tracked files with
their uncommitted edits, plus untracked files that are not ignored).

For every metric it prints each side's median and IQR, the median of the
paired ratios (change / parent), how many pairs the change won, whether
its median is worse than the parent's by more than the metric's
``BENCHMARK.json`` bound, and whether that bound is unresolved: the
parent's IQR is wider than the bound and not every change run beats every
parent run. Just before each run, never during one, it pauses 1 s and
times a fixed single-core loop five times in this process, keeping the
fastest; each pair's host-speed ratio is the
parent's loop time over the change's (above 1: the host ran faster for the
change), so a pair in which the host moved shows. The last stdout line is
the summary as JSON, with the median host-speed ratio. Exits 1 if any run
is not ``correct`` or does not finish.

Usage:
  python3 scripts/perf_ab.py <parent-rev> --workload W --pairs N [--seconds 10] [--seed0 S]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def summarize(pairs: list[dict], bounds: dict[str, tuple[str, float]]) -> dict:
    """Per-metric summary of ``pairs``: each pair is ``{"parent": metrics,
    "change": metrics}`` with ``metrics`` a ``{name: value}`` dict, and
    ``bounds`` maps a metric to ``(better, bound)`` as in BENCHMARK.json
    ("higher" or "lower", a fraction). Metrics without a bound get
    ``"better": None`` and are never judged worse or unresolved."""
    out = {}
    for name in sorted(set.intersection(*(set(p[s]) for p in pairs for s in SIDES))):
        parent = [p["parent"][name] for p in pairs]
        change = [p["change"][name] for p in pairs]
        better, bound = bounds.get(name, (None, None))
        ratios = [c / p if p else float("nan") for p, c in zip(parent, change)]
        won = sum((c > p) if better == "higher" else (c < p)
                  for p, c in zip(parent, change)) if better else None
        pm, cm = statistics.median(parent), statistics.median(change)
        if better == "higher":
            worse = cm < pm * (1 - bound)
            separated = min(change) > max(parent)
        elif better == "lower":
            worse = cm > pm * (1 + bound)
            separated = max(change) < min(parent)
        else:
            worse = separated = False
        parent_iqr = _iqr(parent)
        unresolved = bool(better) and parent_iqr > bound * pm and not separated
        out[name] = {
            "parent_median": pm, "parent_iqr": parent_iqr,
            "change_median": cm, "change_iqr": _iqr(change),
            "ratio_median": statistics.median(ratios),
            "won": won, "pairs": len(pairs),
            "better": better, "bound": bound, "worse_past_bound": worse,
            "unresolved": unresolved,
        }
    return out


def _bounds() -> dict[str, tuple[str, float]]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}


def _git(repo: str, *args: str) -> bytes:
    return subprocess.run(["git", "-C", repo, *args], check=True,
                          capture_output=True).stdout


def _worktree_tar(repo: str) -> bytes:
    """The working tree of ``repo`` as a tar: tracked files as they are on
    disk (a deleted one is left out) and untracked files that are not
    ignored."""
    names = _git(repo, "ls-files", "-z", "--cached", "--others", "--exclude-standard")
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as t:
        for name in sorted(set(names.decode().split("\0")) - {""}):
            if os.path.lexists(os.path.join(repo, name)):
                t.add(os.path.join(repo, name), arcname=name, recursive=False)
    return buf.getvalue()


def _extract(tar: bytes, into: str) -> None:
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(into, filter="data")


def _host_probe_s() -> float:
    """The host's speed just before a run: after a 1 s pause, so the
    previous run's teardown has settled, the fastest of five wall timings
    of a fixed pure-Python loop on one core."""
    time.sleep(1.0)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(600_000):
            x ^= i * i
        times.append(time.perf_counter() - t0)
    return min(times)


def _run(root: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One ``perfbench/run.py`` run in ``root``: its result JSON, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        return None
    return json.loads(lines[-1])


def _print_table(workload: str, summary: dict) -> None:
    print(f"{workload}: metric  parent median (IQR)  change median (IQR)  "
          f"ratio  won  worse past bound  unresolved")
    for name, s in summary.items():
        won = "-" if s["won"] is None else f"{s['won']}/{s['pairs']}"
        print(f"  {name}  {s['parent_median']:.4g} ({s['parent_iqr']:.3g})  "
              f"{s['change_median']:.4g} ({s['change_iqr']:.3g})  "
              f"{s['ratio_median']:.3f}  {won}  {s['worse_past_bound']}  "
              f"{s['unresolved']}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent_rev")
    p.add_argument("--workload", choices=("lines_warm", "salted_cold"), required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--seed0", type=int, default=1, help="seed of the first pair")
    args = p.parse_args()

    roots = {side: tempfile.mkdtemp(prefix=f"perf_ab_{side}_") for side in SIDES}
    try:
        _extract(_git(REPO, "archive", "--format=tar", args.parent_rev), roots["parent"])
        _extract(_worktree_tar(REPO), roots["change"])
        pairs, host_ratios, all_correct = [], [], True
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair, probe = {}, {}
            for side in order:
                probe[side] = _host_probe_s()
                result = _run(roots[side], args.workload, seed, args.seconds)
                ok = result is not None and result["correct"] and result["failed"] == 0
                all_correct &= ok
                if result is not None:
                    pair[side] = {k: v["value"] for k, v in result["metrics"].items()}
                print(f"pair {i + 1} seed {seed} {side}: correct={ok} "
                      f"{pair.get(side)}", file=sys.stderr, flush=True)
            host_ratios.append(probe["parent"] / probe["change"])
            print(f"pair {i + 1} host-speed ratio {host_ratios[-1]:.3f} (probe parent "
                  f"{probe['parent']:.3f} s, change {probe['change']:.3f} s)",
                  file=sys.stderr, flush=True)
            if len(pair) == 2:
                pairs.append(pair)
    finally:
        for root in roots.values():
            shutil.rmtree(root, ignore_errors=True)

    summary = summarize(pairs, _bounds()) if pairs else {}
    _print_table(args.workload, summary)
    host_ratio = statistics.median(host_ratios) if host_ratios else None
    print(f"host-speed ratio (parent probe / change probe), median over pairs: {host_ratio}")
    print(json.dumps({"workload": args.workload, "parent_rev": args.parent_rev,
                      "pairs": len(pairs), "all_correct": all_correct,
                      "host_speed_ratio_median": host_ratio, "metrics": summary}))
    return 0 if all_correct else 1


if __name__ == "__main__":
    sys.exit(main())
