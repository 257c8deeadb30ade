"""Query-sweep A/B: adjudicate the r11->r13 core12 drift (BENCH_r11
8.73 s -> BENCH_r12 9.45 s -> BENCH_r13 10.20 s) the same way the r6->r8
ingest drift was settled (tools/ab_ingest.py): each side in its own
FRESH JVM, sides alternating so machine drift cancels, enough reps to
beat the shared container's scheduler noise. Three consecutive committed
rises with only same-box pre/post evidence against them is exactly the
situation this harness family exists for (round-13 verdict, What's
wrong #2).

Method: each SIDE (HEAD, or a git ref checked out into a temp worktree)
runs `bench.HEADLINE[:12]` — its own checkout's like-for-like core12
list — with the noop sink after one uncounted warmup pass; a SAMPLE is
one full 12-query sweep total (the committed series' unit), so per-query
jitter averages out inside each sample. No ingest fixture, no streaming,
no concurrent work in the timed window.

Usage (--ref is required: the side HEAD is compared against):
  python tools/ab_queries.py --ref <sha>     # HEAD vs <sha>, 2x4 reps/side
  python tools/ab_queries.py --ref <sha> --rounds 2 --reps 4

Prints one JSON line with per-side samples/median/IQR and a verdict:
"real regression" when the median delta exceeds both sides' IQRs,
"noise" otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import importlib.util, json, os, sys, time
root, reps = sys.argv[1], int(sys.argv[2])
os.chdir(root)
sys.path.insert(0, root)
spec = importlib.util.spec_from_file_location("bench_mod", os.path.join(root, "bench.py"))
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
from allora_indexer_spark.registry import all_queries
from allora_indexer_spark.session import get_spark
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="ab-queries")
spark.sparkContext.setLogLevel("ERROR")
registry = all_queries()
core12 = bench.HEADLINE[:12]

def sweep() -> float:
    t0 = time.perf_counter()
    for name in core12:
        bench._noop(registry[name].fn(spark, sf_dir))
    return time.perf_counter() - t0

sweep()  # warmup: JIT/codegen + parquet footer caches, not counted
out = [sweep() for _ in range(reps)]
print("ABRESULT " + json.dumps(out), flush=True)
"""


def run_side(root: str, reps: int) -> list[float]:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(_CHILD)
        child = fh.name
    try:
        proc = subprocess.run(
            [sys.executable, child, root, str(reps)],
            capture_output=True,
            text=True,
            timeout=2400,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("ABRESULT "):
                return json.loads(line[len("ABRESULT "):])
        raise RuntimeError(
            f"side {root} produced no result:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
        )
    finally:
        os.unlink(child)


def iqr(xs: list[float]) -> float:
    if len(xs) >= 4:
        q = statistics.quantiles(xs, n=4)
        return q[2] - q[0]
    return max(xs) - min(xs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", required=True)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--reps", type=int, default=4)
    args = ap.parse_args()

    wt = tempfile.mkdtemp(prefix="ab_wt_")
    os.rmdir(wt)
    subprocess.run(
        ["git", "-C", REPO, "worktree", "add", "--detach", wt, args.ref],
        check=True,
        capture_output=True,
    )
    try:
        head_s: list[float] = []
        ref_s: list[float] = []
        for _ in range(args.rounds):  # alternate so machine drift cancels
            head_s += run_side(REPO, args.reps)
            ref_s += run_side(wt, args.reps)
        h_med, r_med = statistics.median(head_s), statistics.median(ref_s)
        h_iqr, r_iqr = iqr(head_s), iqr(ref_s)
        delta = h_med - r_med
        real = abs(delta) > max(h_iqr, r_iqr)
        print(
            json.dumps(
                {
                    "metric": "core12_sweep_sec",
                    "head": {
                        "median": round(h_med, 3),
                        "iqr": round(h_iqr, 3),
                        "samples": [round(x, 3) for x in head_s],
                    },
                    args.ref: {
                        "median": round(r_med, 3),
                        "iqr": round(r_iqr, 3),
                        "samples": [round(x, 3) for x in ref_s],
                    },
                    "delta_sec": round(delta, 3),
                    "delta_pct": round(100.0 * delta / r_med, 1),
                    "verdict": (
                        "real regression" if (real and delta > 0)
                        else "real improvement" if real
                        else "noise (delta inside IQR)"
                    ),
                }
            )
        )
        return 0
    finally:
        subprocess.run(
            ["git", "-C", REPO, "worktree", "remove", "--force", wt],
            capture_output=True,
        )


if __name__ == "__main__":
    sys.exit(main())
