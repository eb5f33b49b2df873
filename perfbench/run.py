"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the input sets if they are not
cached yet (``perfbench/gen.py``, in a JVM of its own), then starts one
worker interpreter (``perfbench/worker.py``) in its own process group with
the session sized for this host, waits for it, and prints as the last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``.  The run's manifest, per-query
records and spans are written to ``.perfbench_runs/``.  Exits non-zero,
printing no result, when the checkout lacks the library or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import gen, host  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# A run must end within 180 s; keep room to stop the children's process
# trees.  Input generation happens once per checkout, in its first run, which
# may take longer.
WORKER_TIMEOUT_S = 165
GEN_TIMEOUT_S = 600
REQUIRED = ("BENCHMARK.json", "compss_python_spark/__init__.py", "tools/gen_sf.py")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def stop_group(pgid: int, timeout: float = 10.0) -> None:
    """SIGKILL whatever is left of the worker's process group and wait until
    none of it remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_child(cmd, cwd: str, env: dict, deadline: float) -> str | None:
    """Run ``cmd`` in its own process group until ``deadline``; return None
    on success, else what went wrong.  Its output (and its JVM's) goes to
    stderr: stdout carries the result."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid)
        proc.wait()
    if code == 0:
        return None
    return "timed out" if code is None else f"exited with {code}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # A terminated run still stops its children (run_child's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        return fail(f"not a checkout of the library (missing {', '.join(missing)})")
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    out_dir = os.path.join(root, ".perfbench_runs")
    work_dir = os.path.join(root, ".perfbench_work")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    env = {**os.environ, **host.session_env(root)}
    mult = WORKLOADS[args.workload].mult
    if gen.missing_sets(root, mult):
        cmd = [sys.executable, "-m", "perfbench.gen", root, str(mult)]
        if (err := run_child(cmd, work_dir, env, time.monotonic() + GEN_TIMEOUT_S)) is not None:
            return fail(f"input generation {err}")
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", root, "--out", out,
    ]
    if (err := run_child(cmd, work_dir, env, deadline)) is not None:
        return fail(f"worker {err}")

    with open(out, encoding="utf-8") as fh:
        res = json.load(fh)
    metrics = {}
    for m in wanted:
        if m["name"] not in res["metrics"]:
            return fail(f"worker did not report {m['name']}")
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    print(json.dumps(res["manifest"]), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
