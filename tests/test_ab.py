"""scripts/ab.py: the pair verdict rule and worktree cleanup (no Spark)."""

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import ab  # noqa: E402

WALL = {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.25}
DOCS = {"name": "docs_per_s", "unit": "1/s", "better": "higher", "bound": 0.25}
BASE = [10.0 + 0.1 * i for i in range(10)]  # median 10.45, IQR 0.45


def test_nine_of_ten_wins_with_gap_over_iqr_is_gain():
    change = [9.0] * 9 + [11.0]
    s = ab.judge(WALL, BASE, change)
    assert (s["wins"], s["losses"]) == (9, 1)
    assert s["base_iqr"] == pytest.approx(0.45)
    assert s["verdict"] == "gain"


def test_eight_of_ten_wins_is_not_gain():
    s = ab.judge(WALL, BASE, [9.0] * 8 + [11.0] * 2)
    assert s["wins"] == 8
    assert s["verdict"] == "neutral"


def test_nine_wins_within_iqr_is_not_gain():
    s = ab.judge(WALL, BASE, [b - 0.01 for b in BASE[:9]] + [11.0])
    assert s["wins"] == 9
    assert s["verdict"] == "neutral"


def test_ties_count_for_neither_side():
    s = ab.judge(WALL, BASE, list(BASE[:5]) + [b - 1 for b in BASE[5:]])
    assert (s["wins"], s["losses"]) == (5, 0)
    assert s["verdict"] == "neutral"


def test_docs_per_s_is_higher_is_better():
    s = ab.judge(DOCS, BASE, [12.0] * 10)
    assert (s["wins"], s["losses"], s["verdict"]) == (10, 0, "gain")
    s = ab.judge(DOCS, BASE, [7.0] * 10)
    assert (s["wins"], s["losses"], s["verdict"]) == (0, 10, "worse")


def test_wider_base_spread_than_bound_is_unresolved():
    base = [10.0, 10.0, 14.0, 14.0, 6.0, 6.0]  # IQR 6 > 0.25 × median 10
    assert ab.judge(WALL, base, [11.0] * 6)["verdict"] == "unresolved"
    # ... unless every change run beats every base run
    assert ab.judge(WALL, base, [1.0] * 6)["verdict"] == "gain"


def test_bad_run_raises(tmp_path):
    with pytest.raises(RuntimeError, match="exit 0"):
        ab.run_once([sys.executable, "-c", "print('{\"failed\": 1, \"correct\": false}')"],
                    str(tmp_path))
    with pytest.raises(RuntimeError, match="exit 3"):
        ab.run_once([sys.executable, "-c", "raise SystemExit(3)"], str(tmp_path))


def _worktrees() -> str:
    return subprocess.run(
        ["git", "worktree", "list", "--porcelain"],
        cwd=os.path.dirname(__file__), capture_output=True, text=True,
    ).stdout


def _skip_outside_git_work_tree():
    inside = subprocess.run(
        ["git", "rev-parse", "--is-inside-work-tree"],
        cwd=os.path.dirname(__file__), capture_output=True, text=True,
    )
    if inside.stdout.strip() != "true":
        pytest.skip("not inside a git work tree")


def test_worktrees_removed_when_runner_raises():
    _skip_outside_git_work_tree()
    before = _worktrees()
    seen = []

    class Boom(Exception):
        pass

    def runner(cmd, cwd):
        seen.append(cwd)
        assert _worktrees().count("worktree ") == before.count("worktree ") + 2
        assert os.path.isfile(os.path.join(cwd, "BENCHMARK.json"))
        raise Boom

    with pytest.raises(Boom):
        ab.main(["HEAD", "HEAD", "--workload", "stream", "--pairs", "1"], runner=runner)
    assert _worktrees() == before
    assert seen and not os.path.exists(os.path.dirname(seen[0]))


def test_warm_up_runs_reach_no_summary(capsys):
    """One untimed run per side comes before pair 1; its values are
    printed as ``warm-up`` and left out of every median, IQR and count."""
    _skip_outside_git_work_tree()
    calls = []

    def runner(cmd, cwd):
        calls.append(cwd)
        v = 1000.0 if len(calls) <= 2 else 10.0
        return {"wall_s": v, "docs_per_s": v, "setup_s": v, "latency_p50_s": v}

    assert ab.main(["HEAD", "--workload", "batch", "--pairs", "2"], runner=runner) == 0
    out = capsys.readouterr().out
    assert len(calls) == 6 and calls[0] != calls[1]
    assert [line.split()[0] for line in out.splitlines()[:2]] == ["warm-up"] * 2
    assert "1000" not in out.split("\n\n", 1)[1]
    assert out.count("median 10 -> 10") == 4


def test_working_tree_change_side_runs_from_a_snapshot_checkout():
    """Without a change ref both sides run from fresh checkouts: the change
    side holds the working tree (untracked files included), the base side
    does not, and the repo's status is the same before and after."""
    _skip_outside_git_work_tree()
    top = ab.git("rev-parse", "--show-toplevel", cwd=os.path.dirname(__file__))
    probe = os.path.join(top, "ab_probe_untracked.txt")
    seen = {}

    def runner(cmd, cwd):
        seen.setdefault(cwd, os.path.isfile(os.path.join(cwd, "ab_probe_untracked.txt")))
        return {"wall_s": 1.0, "docs_per_s": 1.0, "setup_s": 1.0, "latency_p50_s": 1.0}

    try:
        with open(probe, "w") as f:
            f.write("probe\n")
        status = ab.git("status", "--porcelain", cwd=top)
        assert ab.main(["HEAD", "--workload", "batch", "--pairs", "2"], runner=runner) == 0
        assert ab.git("status", "--porcelain", cwd=top) == status
    finally:
        os.remove(probe)
    assert len(seen) == 2 and top not in seen
    assert sorted(seen.values()) == [False, True]  # the probe: change side only
    assert all(os.path.basename(cwd) == ("change" if has else "base")
               for cwd, has in seen.items())
