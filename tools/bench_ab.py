"""Same-day interleaved A/B of named bench queries between two code
trees — the box-weather arbitration protocol (SCALE.md "Round-12
close"). Absolute seconds on this host drift ±25 % with hypervisor
weather, so cross-round comparisons of committed artifacts conflate
code with host state; this tool removes the host term by alternating
the two trees under the SAME weather, with full-demand steal probes
between phases.

Usage:
    python tools/bench_ab.py TREE_A TREE_B QUERY [QUERY ...]
        [--reps N (default 3)]

Results are keyed by arm ("A", "B"), each with its tree path, so an
A/A calibration run (TREE_A == TREE_B) keeps both arms apart. A twin
that exits non-zero stops the run with its stderr and the arm named,
and the tool exits non-zero unless every query has N samples per arm.

Per phase (tree × rep): a FRESH interpreter/session in that tree,
sf0.001 warm of each query, then best-of-3 at $SPARK_GRAFT_SF_DIR with
no release between the 3 reps — bench.py's exact per-query regime, so
the numbers are bench-comparable. Trees alternate A,B,A,B,… so drift
hits both arms. Include an UNTOUCHED query as a control: if the
control moves as much as the touched queries, the box — not the code —
is talking.

TREE_A is typically a `git worktree add <dir> <prev-close-sha>` of the
baseline; both trees must contain tensei_agent_spark + testdata paths
resolve via the usual env contract.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_TWIN = r"""
import os, sys, time
sys.path.insert(0, ".")
from tensei_agent_spark.cache import release_all
from tensei_agent_spark.queries import REGISTRY
from tensei_agent_spark.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
spark = get_spark("bench-ab-twin")
spark.sparkContext.setLogLevel("ERROR")
for name in sys.argv[1:]:
    REGISTRY[name].build(spark, warm_dir).count()
    release_all(); spark.catalog.clearCache()
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        REGISTRY[name].build(spark, sf_dir).count()
        reps.append(round(time.perf_counter() - t0, 3))
    print("RESULT %s best=%.4f reps=%s" % (name, min(reps), reps), flush=True)
    release_all(); spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
"""


def probe() -> str:
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "steal_probe.py")],
        capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    return lines[-1] if lines else "{}"


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Same-day interleaved A/B of bench queries between two trees."
    )
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)
    arms = {"A": args.tree_a, "B": args.tree_b}
    results: dict = {
        arm: {"tree": tree, "queries": {q: [] for q in args.queries}}
        for arm, tree in arms.items()
    }
    probes = []
    for i in range(args.reps):
        for arm, tree in arms.items():
            p = probe()
            probes.append(p)
            print(f"=== rep {i + 1} arm {arm} tree {tree}\n{p}", flush=True)
            out = subprocess.run(
                [sys.executable, "-c", _TWIN, *args.queries],
                cwd=tree, capture_output=True, text=True,
            )
            if out.returncode != 0:
                sys.stderr.write(out.stderr)
                sys.exit(
                    f"arm {arm} ({tree}) rep {i + 1}: twin exited "
                    f"{out.returncode}"
                )
            for line in out.stdout.splitlines():
                if line.startswith("RESULT "):
                    print(line, flush=True)
                    _, name, best, _ = line.split(None, 3)
                    results[arm]["queries"][name].append(
                        float(best.split("=")[1])
                    )
    print(json.dumps({"arms": results, "steal_probes": probes}))
    short = [
        f"arm {arm} ({r['tree']}) {q}: {len(v)}/{args.reps}"
        for arm, r in results.items()
        for q, v in r["queries"].items()
        if len(v) != args.reps
    ]
    if short:
        sys.exit("missing samples: " + "; ".join(short))


if __name__ == "__main__":
    main()
