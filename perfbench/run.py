#!/usr/bin/env python3
"""The repository benchmark: one workload per call, its outputs checked.

    python3 perfbench/run.py --workload follow --seed 1 --seconds 15 --trace 0

Workloads (see METRICS.md): ``follow`` keeps a warehouse at the tip of a
generated chain feed; ``analytics`` runs the 17 headline queries. With
``--trace 0`` the last line of standard output is a JSON object with the
end-to-end metrics; with ``--trace 1`` the workload runs a second time with
wrappers around the engine's public functions and the object holds the
per-layer metrics instead. Lines before it name the same numbers in the
workload's own terms, with the run's load stamp.

The workload runs in a child process of its own session, on ``local[N]``
with N the usable core count; its output goes to ``worker.log`` in the
run's state directory under ``.perfbench/``, where the ERROR lines are
counted. The exit status is 0 when every correctness check passed, 1 when
one failed or the workload broke, and 2 when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKER_TIMEOUT_S = 165.0
ERROR_LINE = re.compile(r"\bERROR\b")


def _engine_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "allora_indexer_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "bench.py"))


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (the worker and its JVM) and
    wait until every member has ended."""
    for sig, grace in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        if proc.poll() is not None and not _group_alive(proc.pid):
            break
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        deadline = time.time() + grace
        while time.time() < deadline:
            proc.poll()
            if not _group_alive(proc.pid):
                break
            time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (analytics sf0.001, a few dozen blocks); "
                    "for the benchmark's own tests")
    args = ap.parse_args()
    if not _engine_present():
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    state = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    shutil.rmtree(state, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(state, d))
    out = os.path.join(state, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([HERE, ROOT]),
        TMPDIR=os.path.join(state, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(state, "local"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--state", state, "--out", out,
    ] + (["--tiny"] if args.tiny else [])
    with open(os.path.join(state, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=state, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
        finally:
            _stop_group(proc)

    with open(os.path.join(state, "worker.log"), errors="replace") as fh:
        lines = fh.readlines()
    error_lines = sum(1 for line in lines if ERROR_LINE.search(line))
    if proc.returncode != 0 or not os.path.isfile(out):
        sys.stderr.writelines(lines[-40:])
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    with open(out) as fh:
        res = json.load(fh)
    # keep the log, the result and the spans; drop feeds, warehouses, data
    for entry in os.listdir(state):
        if os.path.isdir(os.path.join(state, entry)):
            shutil.rmtree(os.path.join(state, entry), ignore_errors=True)

    correct = res["failed"] == 0
    for msg in res.get("failures", []):
        print(f"check failed: {msg}")
    if any(k not in res["e2e"] for k in metrics.E2E):
        print("perfbench: the workload did not finish; see worker.log", file=sys.stderr)
        return 1
    if args.trace:
        values = metrics.per_layer(res, error_lines)
    else:
        values = {k: res["e2e"][k] for k in metrics.E2E}
        aliases = metrics.ALIASES[args.workload]
        for k, v in values.items():
            print(f"{aliases.get(k, k)} = {v:.6g} {metrics.E2E[k]}")
        print(f"ops_failed_frac = {res['failed'] / max(res['attempted'], 1):.6g} ratio")
    print("info " + json.dumps(res.get("info", {}), default=str))
    print("stamp " + json.dumps({**res.get("stamp", {}), "error_lines": error_lines}))
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            k: {"value": float(v), "unit": metrics.unit_of(k)}
            for k, v in values.items()
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
