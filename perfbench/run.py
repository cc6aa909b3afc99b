"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload sweep --seed 1 --seconds 12 --trace 0

Run from the repository root.  The Spark work runs in a child process in
its own process group, with its stdout sent to stderr; this parent prints
the result line only after the child and everything it started (the
local-mode JVM, Python workers) have ended, so the JSON line is the last
line of stdout.  Every file the run writes lands under ``.perfbench_work/``
in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: budget for the child; the result must arrive well inside 180 s
CHILD_TIMEOUT_S = 170
SLOTS = 4


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# parent: run the child in its own process group and reap all of it
# ---------------------------------------------------------------------------


def _group_alive(pgid: int) -> bool:
    for stat in os.listdir("/proc"):
        if not stat.isdigit():
            continue
        try:
            with open(f"/proc/{stat}/stat") as fh:
                data = fh.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the process group; return once it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def parent(args: argparse.Namespace, argv: list[str]) -> int:
    work = os.path.abspath(".perfbench_work")
    os.makedirs(work, exist_ok=True)
    result = os.path.join(work, f"result-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv, "--result", result],
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: child timed out", file=sys.stderr)
        rc = -1
    finally:
        _stop_group(child.pid)
        child.wait()
    if rc != 0 or not os.path.exists(result):
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1
    with open(result) as fh:
        line = fh.read().strip()
    print(line, flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if args.result:
        from perfbench.runner import run_child

        return run_child(args, T_START)
    return parent(args, argv)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
