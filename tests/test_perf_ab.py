"""The paired A/B summary of scripts/perf_ab.py, on hand-made pairs."""

import pytest

from scripts.perf_ab import summarize

BOUNDS = {"docs_per_s": ("higher", 0.25), "setup_s": ("lower", 0.25)}


def _pairs(parent, change, name="docs_per_s"):
    return [{"parent": {name: p}, "change": {name: c}} for p, c in zip(parent, change)]


def test_medians_iqr_ratio_and_won_pairs():
    s = summarize(_pairs([100, 200, 120, 110], [110, 180, 150, 121]), BOUNDS)["docs_per_s"]
    assert s["parent_median"] == 115 and s["change_median"] == 135.5
    # inclusive quartiles of 100, 110, 120, 200: 107.5 and 140
    assert s["parent_iqr"] == pytest.approx(32.5)
    # ratios 1.1, 0.9, 1.25, 1.1
    assert s["ratio_median"] == pytest.approx(1.1)
    assert s["won"] == 3 and s["pairs"] == 4
    assert not s["worse_past_bound"]


def test_worse_past_bound_follows_the_direction():
    down = summarize(_pairs([100, 100, 100], [74, 74, 80]), BOUNDS)["docs_per_s"]
    assert down["worse_past_bound"] and down["won"] == 0
    inside = summarize(_pairs([100, 100, 100], [76, 76, 76]), BOUNDS)["docs_per_s"]
    assert not inside["worse_past_bound"]
    slower_setup = summarize(_pairs([4, 4, 4], [5.1, 5.1, 5.1], "setup_s"), BOUNDS)["setup_s"]
    assert slower_setup["worse_past_bound"] and slower_setup["won"] == 0
    faster_setup = summarize(_pairs([4, 4, 4], [3, 3, 3], "setup_s"), BOUNDS)["setup_s"]
    assert not faster_setup["worse_past_bound"] and faster_setup["won"] == 3


def test_parent_spread_wider_than_the_bound_is_unresolved():
    # parent IQR 40 (inclusive quartiles 80 and 120) on a median 100 > 0.25 * 100
    wide = summarize(_pairs([60, 80, 100, 120, 140], [70, 90, 95, 130, 150]),
                     BOUNDS)["docs_per_s"]
    assert wide["parent_iqr"] == pytest.approx(40)
    assert wide["unresolved"] and not wide["worse_past_bound"]
    narrow = summarize(_pairs([95, 100, 105], [90, 95, 100]), BOUNDS)["docs_per_s"]
    assert not narrow["unresolved"]


def test_full_separation_resolves_a_wide_spread():
    """Every change run beats every parent run: resolved however wide the
    parent's spread, in either direction."""
    up = summarize(_pairs([60, 80, 100, 120, 140], [141, 150, 160, 170, 180]),
                   BOUNDS)["docs_per_s"]
    assert not up["unresolved"]
    setup = summarize(_pairs([3, 4, 5, 6, 7], [1, 2, 2.5, 2, 2.9], "setup_s"),
                      BOUNDS)["setup_s"]
    assert not setup["unresolved"]
    tie = summarize(_pairs([3, 4, 5, 6, 7], [1, 2, 2.5, 2, 3], "setup_s"), BOUNDS)["setup_s"]
    assert tie["unresolved"]


def test_unbounded_metric_is_reported_but_never_judged():
    s = summarize(_pairs([1.0, 2.0], [9.0, 9.0], "pass_s"), BOUNDS)["pass_s"]
    assert s["better"] is None and s["won"] is None
    assert not s["worse_past_bound"] and not s["unresolved"]
    assert s["parent_iqr"] == pytest.approx(0.5) and s["change_iqr"] == 0


def test_only_metrics_present_on_both_sides_of_every_pair():
    pairs = [{"parent": {"a": 1, "b": 2}, "change": {"a": 1}},
             {"parent": {"a": 1}, "change": {"a": 2, "c": 3}}]
    assert list(summarize(pairs, {})) == ["a"]


def test_change_side_is_the_working_tree_extracted_like_an_archive(tmp_path):
    """The change side is a copy of the working tree: tracked files with
    their uncommitted edits and untracked files that are not ignored;
    ignored and deleted files stay out."""
    import subprocess

    from scripts.perf_ab import _extract, _worktree_tar

    repo = tmp_path / "repo"
    (repo / "pkg").mkdir(parents=True)
    files = {".gitignore": "*.log\nbuild/\n", "pkg/kept.py": "v = 1\n",
             "pkg/edited.py": "v = 1\n", "gone.py": "v = 1\n"}
    for name, text in files.items():
        (repo / name).write_text(text)
    git = ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "-A"], check=True)
    subprocess.run([*git, "commit", "-q", "-m", "base"], check=True)
    (repo / "pkg/edited.py").write_text("v = 2\n")
    (repo / "gone.py").unlink()
    (repo / "pkg/new.py").write_text("v = 3\n")
    (repo / "run.log").write_text("ignored\n")
    (repo / "build").mkdir()
    (repo / "build/out.bin").write_text("ignored\n")

    copy = tmp_path / "copy"
    _extract(_worktree_tar(str(repo)), str(copy))

    got = {str(p.relative_to(copy)): p.read_text() for p in copy.rglob("*") if p.is_file()}
    assert got == {".gitignore": "*.log\nbuild/\n", "pkg/kept.py": "v = 1\n",
                   "pkg/edited.py": "v = 2\n", "pkg/new.py": "v = 3\n"}
