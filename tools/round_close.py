"""Round-close runbook: the checks every round must end green on,
in order, stopping at the first failure.

    python tools/round_close.py <round-number>

1. bench at sf0.1 — behind a load-average settle gate, so the
   recorded number measures the engine on an idle box, not the close
   pipeline's own pytest/sweep load; then the
   per-query comparison against the previous round's BENCH artifact
   (fails on >1.5x regressions or dropped queries)
2. full pytest (tests/)
3. strict full-registry oracle sweep at sf0.01
   → commits-ready CORRECTNESS_LOCAL_r<N>.json
4. registry-wide plan audit (cartesian products / global windows /
   build-time actions) → PLAN_AUDIT_r<N>.json
5. scale smoke (x1/x2/x4 curves + hostile-boilerplate LSH leg)
   → SCALE_SMOKE_r<N>.json

Artifacts land in the repo root; commit them LAST, after the round's
code work."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str], **kw) -> subprocess.CompletedProcess:
    print(f"\n=== {label}: {' '.join(cmd)}", flush=True)
    proc = subprocess.run(cmd, cwd=REPO, **kw)
    if proc.returncode != 0:
        sys.exit(f"{label} FAILED (rc={proc.returncode}) — fix before closing")
    return proc


def settle(threshold: float = 1.5, max_wait: int = 600) -> None:
    """Block until 1-min load average drops below *threshold* (or give
    up after *max_wait* s, loudly): a bench taken while a previous
    pytest/sweep JVM is still draining measures the box, not the
    engine. Threshold 1.5, not 4.0: a close started right after
    a 32-thread Spark session recorded 22.4s where three isolated
    idle runs measured 17.2-17.5s — the 1-min loadavg lags JVM
    teardown by minutes, so a loose gate lets the tail contaminate
    the first timed queries."""
    t0 = time.time()
    while time.time() - t0 < max_wait:
        load = os.getloadavg()[0]
        if load < threshold:
            print(f"load settled at {load:.1f}", flush=True)
            return
        print(f"load {load:.1f} >= {threshold} — settling…", flush=True)
        time.sleep(10)
    print(
        f"WARNING: load still {os.getloadavg()[0]:.1f} after {max_wait}s; "
        "bench number may be contaminated", flush=True,
    )


def steal_gate(threshold: float = 5.0, max_wait: int = 600) -> None:
    """Block while hypervisor steal under full demand exceeds
    *threshold* percent (give up after *max_wait* s, loudly). The
    loadavg settle gate only sees load INSIDE the guest; this box is a
    Firecracker microVM and host contention is invisible to it —
    full-demand steal probes on an idle guest measured 1.5-22.4%
    within minutes (2026-08-17), exactly the ±8-19% bench-total wander
    every round-over-round comparison has fought. The probe saturates
    all cores for 3 s, so it runs AFTER settle() and never during a
    bench."""
    t0 = time.time()
    while True:
        probe = subprocess.run(
            [sys.executable, "tools/steal_probe.py", "3"],
            cwd=REPO, capture_output=True, text=True,
        )
        try:
            # Last stdout line only: a stray numpy/BLAS
            # warning on stdout must not fail the gate open.
            steal = json.loads(
                probe.stdout.strip().splitlines()[-1]
            )["steal_pct"]
        except (ValueError, KeyError, IndexError):
            print("steal probe unavailable — proceeding", flush=True)
            return
        if steal <= threshold:
            print(f"steal settled at {steal:.1f}%", flush=True)
            return
        if time.time() - t0 >= max_wait:
            print(
                f"WARNING: steal still {steal:.1f}% after {max_wait}s; "
                "bench number will be host-contaminated (the stamp in "
                "the artifact records it)", flush=True,
            )
            return
        print(f"steal {steal:.1f}% > {threshold}% — waiting…", flush=True)
        time.sleep(30)


def main() -> None:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        sys.exit(__doc__)
    n = int(sys.argv[1])

    settle()
    steal_gate()
    bench = run(
        "bench sf0.1",
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
    )
    line = [ln for ln in bench.stdout.splitlines() if ln.strip()][-1]
    payload = json.loads(line)
    # Persist as BENCH_LOCAL (the external driver owns the BENCH_r<N>
    # name) so the NEXT round's compare has this round's baseline even
    # if the driver's artifact lands later/differently.
    local = os.path.join(REPO, f"BENCH_LOCAL_r{n:02d}.json")
    with open(local, "w") as f:
        json.dump({"parsed": payload}, f, indent=1)
    print(line)

    # Prefer the builder's own BENCH_LOCAL twin over the driver's
    # BENCH_r artifact for the same round: the local twin carries the
    # protocol stamp and was measured by this tool under the same
    # settle gate, so the comparison never crosses methodologies when
    # a same-protocol baseline exists.
    prev = sorted(
        (
            int(re.search(r"r(\d+)", p).group(1)),
            "LOCAL" in os.path.basename(p),
            p,
        )
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        + glob.glob(os.path.join(REPO, "BENCH_LOCAL_r*.json"))
        if int(re.search(r"r(\d+)", p).group(1)) < n
    )
    if prev:
        run("bench compare", [
            sys.executable, "tools/bench_compare.py", prev[-1][2], local,
        ])

    run("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"])
    run(
        "oracle sweep sf0.01",
        [
            sys.executable,
            "tools/verify_sweep.py",
            "/root/testdata/sf0.01",
            "--out",
            f"CORRECTNESS_LOCAL_r{n:02d}.json",
        ],
    )
    # Per-round audit artifact: without the env override the tool's
    # default name would clobber a PRIOR round's committed audit.
    run(
        "plan audit",
        [sys.executable, "tools/plan_audit.py"],
        env={**os.environ, "PLAN_AUDIT_OUT": f"PLAN_AUDIT_r{n:02d}.json"},
    )
    run(
        "scale smoke",
        [sys.executable, "tools/scale_smoke.py"],
        env={**os.environ, "SCALE_SMOKE_OUT": f"SCALE_SMOKE_r{n:02d}.json"},
    )
    print("\nround-close: ALL GREEN — commit the refreshed artifacts.")


if __name__ == "__main__":
    main()
