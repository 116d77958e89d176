"""Interleaved A/B of the repo benchmark between two git refs.

    python scripts/ab.py <base-ref> [<change-ref>] --workload {batch,stream} \\
        --pairs N [--seed S]

Each ref is checked out with ``git worktree add --detach`` into one temp
dir. Without ``change-ref`` the change side is the working tree
(uncommitted and untracked files included, ignored ones not), snapshot
as a commit on top of HEAD through a temporary index, so both sides run
from fresh checkouts; the repo's own index, HEAD and stash are left
untouched. The command and ``run_seconds`` come from
``BENCHMARK.json``, which must be identical on both sides. Runs go one at
a time, each with its own checkout as cwd; pair i runs seed S+i on both
sides, and the side that runs first alternates between pairs. Use an even
N so an order effect (on a shared host the second run of a pair is often
the faster) falls on both sides alike. Before pair 1 each side runs once
untimed (printed as ``warm-up``, left out of every summary), so the
bytecode compilation and cold caches of a fresh checkout's first run
land on neither side's numbers.

Per end-to-end metric it prints every run, both medians, the base IQR,
wins out of N (ties count for neither side) and a verdict: ``unresolved``
when the base IQR / median exceeds the metric's ``bound`` (unless every
change run beats every base run), ``worse`` when the change median is
worse by more than ``bound`` (relative), ``gain`` when the change wins
>= 9/10 of pairs and the medians differ by more than the base IQR, else
``neutral``. A run that exits non-zero, prints a malformed last line, or
reports ``failed > 0`` / ``correct: false`` is printed and ends the tool
with exit status 1.
"""

from __future__ import annotations

import argparse
import json
import operator
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

def judge(metric: dict, base: list[float], change: list[float]) -> dict:
    """Summary of one end-to-end ``metric`` (a BENCHMARK.json entry) over
    paired runs: ``base[i]`` and ``change[i]`` ran with the same seed."""
    better = operator.lt if metric["better"] == "lower" else operator.gt
    b_med, c_med = statistics.median(base), statistics.median(change)
    q = statistics.quantiles(base, n=4, method="inclusive") if len(base) > 1 else [0, 0, 0]
    iqr = q[2] - q[0]
    wins = sum(better(c, b) for b, c in zip(base, change))
    losses = sum(better(b, c) for b, c in zip(base, change))
    worse_by = abs(c_med - b_med) / b_med if b_med and better(b_med, c_med) else 0.0
    if b_med and iqr / b_med > metric["bound"] and not all(
        better(c, b) for c in change for b in base
    ):
        verdict = "unresolved"
    elif worse_by > metric["bound"]:
        verdict = "worse"
    elif wins * 10 >= 9 * len(base) and better(c_med, b_med) and abs(c_med - b_med) > iqr:
        verdict = "gain"
    else:
        verdict = "neutral"
    return dict(base_median=b_med, change_median=c_med, base_iqr=iqr, wins=wins,
                losses=losses, verdict=verdict)


def run_once(cmd: list[str], cwd: str) -> dict:
    """One benchmark run; returns the metric values of its last-line JSON by
    name, or raises RuntimeError with the run's output when it failed."""
    with subprocess.Popen(
        cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
    ) as p:
        try:
            stdout, stderr = p.communicate()
        except BaseException:  # Ctrl-C: let the run stop Spark and clean up
            p.terminate()
            p.communicate()
            raise
    try:
        out = json.loads(stdout.strip().splitlines()[-1])
        ok = p.returncode == 0 and out["failed"] == 0 and out["correct"] is True
        values = {k: float(v["value"]) for k, v in out["metrics"].items()}
    except (IndexError, ValueError, KeyError, TypeError, AttributeError):
        ok, values = False, None
    if not ok:
        raise RuntimeError(
            f"bad run in {cwd} (exit {p.returncode}): {' '.join(cmd)}\n"
            f"{stdout[-2000:]}{stderr[-2000:]}"
        )
    return values


def git(*args: str, cwd: str | None = None, env: dict | None = None) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, env=env, check=True, capture_output=True, text=True
    ).stdout.strip()


def snapshot_working_tree(top: str, tmp: str) -> str:
    """Commit the working tree of ``top`` (child of HEAD) through a
    temporary index under ``tmp`` and return its id; nothing the repo's
    user sees (index, HEAD, refs, stash) changes."""
    env = {
        **os.environ,
        "GIT_INDEX_FILE": os.path.join(tmp, "index"),
        "GIT_AUTHOR_NAME": "ab", "GIT_AUTHOR_EMAIL": "ab@localhost",
        "GIT_COMMITTER_NAME": "ab", "GIT_COMMITTER_EMAIL": "ab@localhost",
    }
    git("add", "-A", cwd=top, env=env)
    tree = git("write-tree", cwd=top, env=env)
    return git("commit-tree", tree, "-p", "HEAD", "-m", "ab: working tree", cwd=top, env=env)


def main(argv=None, runner=run_once) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("base_ref")
    p.add_argument("change_ref", nargs="?")
    p.add_argument("--workload", required=True, choices=["batch", "stream"])
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    top = git("rev-parse", "--show-toplevel", cwd=os.path.dirname(os.path.abspath(__file__)))
    tmp = tempfile.mkdtemp(prefix="ab-")
    added: list[str] = []
    try:
        sides = {}
        for side, ref in (("base", args.base_ref), ("change", args.change_ref)):
            if ref is None:
                ref = snapshot_working_tree(top, tmp)
            path = os.path.join(tmp, side)
            added.append(path)
            git("worktree", "add", "--detach", path, ref, cwd=top)
            sides[side] = path
        specs = [Path(path, "BENCHMARK.json").read_text() for path in sides.values()]
        if specs[0] != specs[1]:
            print("ab: BENCHMARK.json differs between the two sides", file=sys.stderr)
            return 2
        spec = json.loads(specs[0])

        def run(label: str, side: str, seed: int) -> dict | None:
            cmd = spec["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]),
            ]
            try:
                v = runner(cmd, sides[side])
            except RuntimeError as e:
                print(f"{label} {side}: {e}", file=sys.stderr)
                return None
            shown = " ".join(f"{m['name']}={v[m['name']]:.4g}" for m in spec["end_to_end"])
            print(f"{label} seed {seed} {side:6} {shown}", flush=True)
            return v

        for side in ("base", "change"):
            if run("warm-up", side, args.seed) is None:
                return 1
        values: dict[str, list[dict]] = {"base": [], "change": []}
        for i in range(args.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                v = run(f"pair {i + 1}", side, args.seed + i)
                if v is None:
                    return 1
                values[side].append(v)
        print(f"\n{args.workload}: {args.pairs} pairs, base {args.base_ref}, "
              f"change {args.change_ref or 'working tree'}")
        for m in spec["end_to_end"]:
            base = [v[m["name"]] for v in values["base"]]
            change = [v[m["name"]] for v in values["change"]]
            s = judge(m, base, change)
            print(f"{m['name']} ({m['unit']}, {m['better']} is better, bound {m['bound']})\n"
                  f"  base   {' '.join(f'{x:.4g}' for x in base)}\n"
                  f"  change {' '.join(f'{x:.4g}' for x in change)}\n"
                  f"  median {s['base_median']:.4g} -> {s['change_median']:.4g}  "
                  f"base IQR {s['base_iqr']:.4g}  wins {s['wins']}/{args.pairs} "
                  f"(losses {s['losses']})  {s['verdict']}")
        return 0
    finally:
        for path in added:
            subprocess.run(["git", "worktree", "remove", "--force", path], cwd=top,
                           capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
