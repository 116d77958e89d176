"""Quiet-window capture supervisor — one probe loop, several tasks.

The shared host's memory bandwidth swings 2-3× on multi-minute windows
(BENCH/BASELINE.md); several kinds of evidence are only worth recording
in quiet ones. Running independent retry loops for each would make them
fire into the SAME quiet window and contend with each other, so this
supervisor owns the probe and rotates a priority list:

  1. bench — a full bench.py artifact captured in a quiet window
     (its per-section gates re-probe, so sections stay labeled).
  2. scaling — one more N→4N scaling attempt (needs the long, very
     quiet window: higher thresholds).

(The earlier ratio_pair task — paired fold profiles at 9:1 and 19:1
corpus:batch — ran to exhaustion on 2026-08-19; its evidence is in
BENCH/ratio_profile.log and BENCH/BASELINE.md.)

Each task runs at most ``max_runs`` times; the loop exits when all are
exhausted. Every probe and every launch is logged as one JSON line.

Usage: python scripts/quiet_window_supervisor.py [log_suffix]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from scaling_autoretry import probe  # noqa: E402


def sh(cmd: str) -> int:
    # a task overrunning the cap must not kill the supervisor loop —
    # log a sentinel rc and rotate to the next capture
    try:
        return subprocess.run(
            ["bash", "-c", cmd], cwd=REPO, timeout=7200, check=False
        ).returncode
    except subprocess.TimeoutExpired:
        return -9


def foreground_busy() -> bool:
    """True when an interactive heavy job (tests, oracle check, bench,
    profile) is running OUTSIDE this supervisor — the bandwidth probe can
    read quiet while the CPUs are loaded with Spark work, and a capture
    fired into that would both pollute and be polluted.

    Two signals, because the r04j capture proved the name filter alone is
    not enough (an AD-HOC foreground Spark script matched no pattern and
    the capture launched straight into it): known heavy job names, OR the
    1-min load average above a threshold a quiet box never reaches."""
    out = subprocess.run(
        ["pgrep", "-f", "pytest|bench\\.py|check_oracle"],
        capture_output=True,
        text=True,
        check=False,
    ).stdout.split()
    me = str(os.getpid())
    if any(pid != me for pid in out):
        return True
    # threshold scales with core count (ADVICE r04: a hardcoded 2.0 would
    # never fire on a box whose routine background load exceeds it, and
    # meant different sensitivity on different hosts); override via env.
    thresh = float(
        os.environ.get("SUPERVISOR_LOAD_THRESH", max(2.0, 0.10 * (os.cpu_count() or 32)))
    )
    load1 = os.getloadavg()[0]
    if load1 > thresh:
        print(
            json.dumps(
                {"t": time.strftime("%H:%M:%S"), "load_gate": round(load1, 2),
                 "thresh": thresh}
            ),
            flush=True,
        )
        return True
    return False


# the documented [log_suffix] argument names the bench artifact, so a
# rerun never silently overwrites a previous capture referenced by docs
LOG_SUFFIX = sys.argv[1] if len(sys.argv) > 1 else "r04i"

# per-task run budgets are env-tunable so a session can e.g. accumulate
# scaling evidence all day while deferring the bench capture until the
# round's code is final (SUPERVISOR_BENCH_RUNS=0 disables the task)
TASKS = [
    {
        "name": "bench",
        "min_eff": 0.6,
        "min_rate": 15.0,
        "max_runs": int(os.environ.get("SUPERVISOR_BENCH_RUNS", "1")),
        "cmd": "{py} bench.py > BENCH/bench_local_"
        + LOG_SUFFIX
        + ".json 2>/dev/null",
    },
    {
        "name": "scaling",
        "min_eff": 0.85,
        "min_rate": 20.0,
        "max_runs": int(os.environ.get("SUPERVISOR_SCALING_RUNS", "2")),
        "cmd": "SCALING_REPS=2 {py} scripts/scaling_bench.py 500000 1 4",
    },
]


def main() -> None:
    runs = {t["name"]: 0 for t in TASKS}
    while any(runs[t["name"]] < t["max_runs"] for t in TASKS):
        if foreground_busy():
            print(
                json.dumps({"t": time.strftime("%H:%M:%S"), "busy": True}),
                flush=True,
            )
            time.sleep(300)
            continue
        r1, eff4 = probe()
        pick = next(
            (
                t
                for t in TASKS
                if runs[t["name"]] < t["max_runs"]
                and eff4 >= t["min_eff"]
                and r1 >= t["min_rate"]
            ),
            None,
        )
        print(
            json.dumps(
                {
                    "t": time.strftime("%H:%M:%S"),
                    "probe_1p": round(r1, 1),
                    "probe_eff4": round(eff4, 3),
                    "task": pick["name"] if pick else None,
                }
            ),
            flush=True,
        )
        if pick is None:
            time.sleep(480)
            continue
        runs[pick["name"]] += 1
        t0 = time.time()
        rc = sh(pick["cmd"].format(py=sys.executable))
        print(
            json.dumps(
                {
                    "t": time.strftime("%H:%M:%S"),
                    "done": pick["name"],
                    "rc": rc,
                    "wall_s": round(time.time() - t0, 1),
                }
            ),
            flush=True,
        )
        time.sleep(120)
    print(json.dumps({"t": time.strftime("%H:%M:%S"), "exhausted": runs}), flush=True)


if __name__ == "__main__":
    main()
