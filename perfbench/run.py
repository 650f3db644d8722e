"""Benchmark of the cookbook engine: one seeded workload per run.

    python3 perfbench/run.py --workload cookbook_files --seed 1 --seconds 20 --trace 0

Run from the repository root. One process starts one Spark session
(``local[<cores>]``, with the program's own session settings),
generates the workload's inputs from ``--seed``, warms up at the timed
input size, then runs passes back to back (a closed loop with one
client): as many as fit ``--seconds`` at the workload's nominal pass
time, a count that does not depend on how fast the passes turn out.
Every pass is checked against a DuckDB re-derivation outside the timed
region; a pass that raises, exceeds its wall-clock cap or writes a
wrong output counts as failed. A traced run then ends with passes over
a few registry queries (``registry.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of BENCHMARK.json with
``--trace 1``. A human-readable summary goes to standard error.

Everything the run writes stays under ``.perfbench/`` in the working
directory: inputs, outputs, Spark scratch space, the event log, and
the spans of a traced run (``.perfbench/<workload>-<seed>.spans.json``,
the only file kept).
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import procstat  # noqa: E402

WORKLOADS = ("cookbook_files", "cookbook_derby")
# Passes run before timing starts, at the timed input size. On 4 cores
# file-cookbook passes ran 20.5, 8.6, then 6.9, 6.2 s, and Derby passes
# 16.6, 7.1, then 6.9, 6.8 s. Passes keep getting a little
# faster for about a dozen passes, which no run can afford, so every
# run times the same pass indices (WARM_PASSES on, a fixed count set by
# --seconds): two builds are compared at the same point of the curve,
# however fast each is.
WARM_PASSES = 2
PASS_CAP_S = 60.0  # wall-clock cap of one pass
# No timed pass starts past RUN_DEADLINE_S into the run; runs took
# 48-70 s on 4 cores, so only heavy host steal cuts the loop short.
# No pass runs past HARD_DEADLINE_S, so the run reports within 180 s.
RUN_DEADLINE_S = 80.0
HARD_DEADLINE_S = 160.0
DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
# recipe -> the target it writes, for the per-recipe layer metrics
RECIPES = {
    "customers": "customers_out", "orders": "orders_out", "profiles": "profiles_out",
    "accounts": "ACCOUNTS", "txns": "TXNS",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# --- workloads --------------------------------------------------------------


class FilesWorkload:
    """The paper's job: CSV and JSON sources to parquet, CSV and JSON
    targets, with the Spark-side layers doing nearly all the work."""

    # 280k source rows a pass (customers, orders and as many scores as
    # customers). Twice that ran no slower a pass (6.1 s against 6.4 s
    # on 4 cores) but made a run take 69 s, too long for repeated runs;
    # the extra rows showed only in cpu_s.
    sizes = {"customers": 80_000, "orders": 120_000}
    pass_s = 6.5  # nominal pass time on 4 cores: --seconds / pass_s passes are timed

    def __init__(self, rng, work: str, scale: float):
        import cookbooks
        import gen

        self.cookbooks = cookbooks
        n = {k: max(50, int(v * scale)) for k, v in self.sizes.items()}
        self.src = gen.cookbook_files(rng, work, n["customers"], n["orders"])
        self.oracle = cookbooks.FileOracle(self.src)

    def reset(self, spark) -> None:
        pass

    def run_pass(self, spark, out: str) -> None:
        from tensei_agent_spark.plans import run_pipeline

        run_pipeline(spark, self.cookbooks.files_pipeline(self.src, out))

    def check(self, spark, out: str) -> dict:
        return self.oracle.mismatches(out)

    def close(self) -> None:
        self.oracle.close()


class DerbyWorkload:
    """A small cookbook into embedded Derby: parent overwrite with
    generated keys, child upsert through staging plus MERGE, then a
    delta upsert against the existing keys. The JDBC sink does most of
    the work; Spark computes little."""

    # About 3k rows pushed into Derby a pass (the parent twice, the base
    # batch and the delta). Row pushing dominates at this size: traced,
    # sinks.jdbc.push_s read 2.8, 4.9 and 10.5 s a pass at 0.4k, 2k and
    # 6k pushed rows, about 1.4 ms a row on top of a fixed 2.2 s.
    sizes = {"accounts": 450, "txns": 1_800, "delta": 450}
    pass_s = 7.5

    def __init__(self, rng, work: str, scale: float):
        import cookbooks
        import gen

        self.cookbooks = cookbooks
        n = {k: max(10, int(v * scale)) for k, v in self.sizes.items()}
        self.src = gen.cookbook_derby(rng, work, n["accounts"], n["txns"], n["delta"])
        self.oracle = cookbooks.DerbyOracle(self.src)

    def reset(self, spark) -> None:
        # The parent is dropped by its own overwrite; the child table is
        # dropped here, so every pass upserts into the same empty state.
        from tensei_agent_spark.sinks.jdbc import dialect_for, drop_table_jvm

        drop_table_jvm(spark, DERBY_URL, self.cookbooks.CHILD,
                       dialect_for(DERBY_URL), self.cookbooks.DERBY_DRIVER)

    def run_pass(self, spark, out: str) -> None:
        # Never run_pipeline(metrics=...) here: with an embedded-Derby
        # target the Observation blocks forever (jvm_write_rows drains
        # the rows through toLocalIterator); rows are counted outside.
        from tensei_agent_spark.plans import run_pipeline

        cb = self.cookbooks
        for txns in (self.src["txns"], self.src["txns_delta"]):
            run_pipeline(spark, cb.derby_pipeline(self.src, txns, DERBY_URL, "upsert"))

    def check(self, spark, out: str) -> dict:
        from tensei_agent_spark.sinks.jdbc import dialect_for, jvm_query

        cb = self.cookbooks
        q = dialect_for(DERBY_URL).quote
        actual = {
            t: jvm_query(
                spark, DERBY_URL,
                f"SELECT {', '.join(q(c) for c in cols)} FROM {q(t)}", cb.DERBY_DRIVER,
            )
            for t, cols in cb.DERBY_COLUMNS.items()
        }
        return self.oracle.mismatches(actual)

    def close(self) -> None:
        self.oracle.close()


# --- session ------------------------------------------------------------------


def start_spark(work: str, trace: bool):
    from tensei_agent_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Fixed JIT compiler threads: by default the JVM retires idle
        # ones, and a retired thread's CPU time could no longer be told
        # apart from the pass's own (procstat.cpu_between). The heap is
        # left to the program's own session settings.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')} "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the JVM's Python workers, and wait
    until every one of them has exited."""
    me = os.getpid()
    children = procstat.descendants(me)
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


# --- the run --------------------------------------------------------------------


class Run:
    def __init__(self, work: str, t_start: float):
        self.work, self.t_start = work, t_start
        self.attempted = self.failed = 0
        self.wedged = False
        self.pool = concurrent.futures.ThreadPoolExecutor(max_workers=1)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def fail(self, msg: str) -> None:
        log(msg)
        self.failed += 1

    def capped(self, spark, what: str, fn):
        """One operation: ``fn()`` on the worker thread under the wall-
        clock cap. Its result, or None if it raised or overran (counted
        as failed; an overrun leaves the thread wedged)."""
        cap = max(1.0, min(PASS_CAP_S, HARD_DEADLINE_S - self.elapsed()))
        self.attempted += 1
        fut = self.pool.submit(fn)
        try:
            return fut.result(timeout=cap)
        except concurrent.futures.TimeoutError:
            spark.sparkContext.cancelAllJobs()
            self.wedged = True
            self.fail(f"{what} exceeded its {cap:.0f} s cap")
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted
            self.fail(f"{what} raised {exc!r}")
        return None

    def one_pass(self, spark, wl, idx: int, rec=None,
                 held: list | None = None) -> tuple[float, float] | None:
        """Run, time and check pass ``idx``; (wall s, CPU s) or None.
        ``held`` gets the heap the pass left held, before the pass's
        caches are released."""
        from tensei_agent_spark.cache import release_all

        out = os.path.join(self.work, "out", f"p{idx}")
        wl.reset(spark)
        me = os.getpid()

        def body():
            if rec is not None:
                rec.pass_id = f"p{idx}"
                rec.describe("pass")
            c0, t0 = procstat.cpu_reading(me), time.perf_counter()
            if rec is not None:
                with rec.span("pass"):
                    wl.run_pass(spark, out)
            else:
                wl.run_pass(spark, out)
            wall = time.perf_counter() - t0
            return wall, procstat.cpu_between(c0, procstat.cpu_reading(me))

        r = self.capped(spark, f"pass {idx}", body)
        if self.wedged:
            return None
        if held is not None:
            held.append(heap_held_mb(spark))
        release_all()
        spark.catalog.clearCache()
        if r is None:
            return None
        bad = wl.check(spark, out)
        shutil.rmtree(out, ignore_errors=True)
        if bad:
            self.fail(f"pass {idx} wrote wrong rows: {bad}")
            return None
        return r


def heap_held_mb(spark) -> float:
    """Heap the JVM still holds after a full collection, in MB.

    Reported as ``peak_rss_mb``, taken once, after the last timed pass
    and before its caches are released: the memory the program holds
    (cached frames, the in-memory Derby tables, Spark's own state).
    Resident memory is not reported: under the program's adaptive heap
    it followed how far G1 chose to grow the heap (2.5-4.7 GB on the
    file cookbook across seeds) more than what the program kept. The
    collection runs after timing, so it slows no timed pass.
    """
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(rec, traced: dict[str, float], untraced: list[float],
                  events: dict, wl, cores: int) -> dict[str, float]:
    """Per-pass medians, over the traced passes, of span times (from the
    recorder) and Spark work (from the event log)."""
    import eventlog
    import spans

    own = spans.self_times(rec.spans)
    per_pass: dict[str, dict[str, float]] = {p: {} for p in traced}
    for s, own_s in zip(rec.spans, own):
        acc = per_pass.get(s.pass_id)
        if acc is None:
            continue
        dur = s.end - s.start
        if s.name == "pass":
            key, dur = "unattributed", own_s
        elif s.name == "sinks.jdbc.execute":
            key = f"sinks.jdbc.{s.tag}"  # merge or ddl
        else:
            key = s.name
        acc[key] = acc.get(key, 0.0) + dur
        if s.name == "sinks.write":
            acc["sinks.write_self"] = acc.get("sinks.write_self", 0.0) + own_s
            acc[f"target:{s.tag}"] = acc.get(f"target:{s.tag}", 0.0) + dur

    def span_med(key: str) -> float:
        return _median([acc.get(key, 0.0) for acc in per_pass.values()])

    stats = {
        p: eventlog.merge([v for tag, v in events.items() if tag.startswith(p + "|")])
        for p in traced
    }

    def ev_med(attr: str) -> float:
        return _median([getattr(st, attr) for st in stats.values()])

    job_s = _median(list(traced.values()))
    plain_s = _median(untraced)
    m = {
        "plans.compile_s": span_med("plans.compile"),
        "plans.build_s": span_med("plans.build"),
        "sources.read_s": span_med("sources.read"),
        "functions.sequential_id_s": span_med("functions.sequential_id"),
        "sinks.prepare_s": span_med("sinks.prepare"),
        "sinks.write_s": span_med("sinks.write"),
        "sinks.write_self_s": span_med("sinks.write_self"),
        "sinks.kept_ratio": wl.oracle.rows_written / wl.oracle.rows_processed,
        "sinks.jdbc.push_s": span_med("sinks.jdbc.push"),
        "sinks.jdbc.push_rows": float(wl.oracle.rows_written)
        if span_med("sinks.jdbc.push") else 0.0,
        "sinks.jdbc.merge_s": span_med("sinks.jdbc.merge"),
        "sinks.jdbc.ddl_s": span_med("sinks.jdbc.ddl"),
    }
    write_s = m["sinks.write_s"]
    m["sinks.jdbc.push_share"] = m["sinks.jdbc.push_s"] / write_s if write_s else 0.0
    for attr in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "scan_s", "scan_rows"):
        m[f"spark.{attr}"] = ev_med(attr)
    m["spark.task_skew"] = _median([st.task_skew() for st in stats.values()])
    m["spark.busy_share"] = m["spark.executor_run_s"] / (job_s * cores) if job_s else 0.0
    for recipe, target in RECIPES.items():
        tag = f"|plans.build:{recipe}"
        per = [eventlog.merge([v for t, v in events.items() if t == p + tag])
               for p in traced]
        m[f"recipe.{recipe}.stages"] = _median([st.stages for st in per])
        m[f"recipe.{recipe}.executor_run_s"] = _median([st.executor_run_s for st in per])
        m[f"recipe.{recipe}.write_s"] = span_med(f"target:{target}")
    m.update({
        "trace.job_s": job_s,
        "trace.untraced_job_s": plain_s,
        "trace.overhead_s": job_s - plain_s,
        "trace.unattributed_s": span_med("unattributed"),
    })
    return m


def query_metrics(timed: dict[str, dict[str, tuple[float, float]]],
                  events: dict) -> dict[str, float]:
    """Per query, medians over the timed query passes of the time in
    ``REGISTRY[name].build`` and in executing its result, and of the
    Spark work its jobs did."""
    import eventlog
    import registry

    m = {}
    for q in registry.QUERIES:
        stats = [events.get(f"{p}|query:{q}", eventlog.TagStats()) for p in timed]
        m[f"queries.{q}.build_s"] = _median([t[q][0] for t in timed.values()])
        m[f"queries.{q}.exec_s"] = _median([t[q][1] for t in timed.values()])
        m[f"queries.{q}.jobs"] = _median([st.jobs for st in stats])
        m[f"queries.{q}.stages"] = _median([st.stages for st in stats])
        m[f"queries.{q}.executor_run_s"] = _median([st.executor_run_s for st in stats])
        m[f"queries.{q}.task_skew"] = _median([st.task_skew() for st in stats])
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's row counts (self-test only)")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    # Metric names and units come from the benchmark's declaration.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, d))
    # Spark's Python workers import the package from the checkout, and
    # every temporary file stays inside the run's directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Both JVMs spark-submit starts would keep a perf-data file in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)
    try:
        import tensei_agent_spark  # noqa: F401 - fail before any work without it
        code, wedged = _run(args, spec, work, base, cores, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if wedged:
        # The thread of the pass that exceeded its cap cannot be joined;
        # the JVM and its workers are already stopped.
        sys.stdout.flush()
        os._exit(code)
    return code


def _run(args, spec: dict, work: str, base: str, cores: int,
         t_start: float) -> tuple[int, bool]:
    import numpy as np

    import bench  # the repository's /proc/stat host-steal stamp
    import registry
    import spans

    run = Run(work, t_start)
    cls = FilesWorkload if args.workload == "cookbook_files" else DerbyWorkload
    # A fixed number of timed passes, set by --seconds and the nominal
    # pass time, not by how fast passes turn out. A traced run times
    # untraced and traced passes in the order U T T U, repeated: passes
    # still get faster, and this order cancels a steady drift out of
    # their difference, the tracing overhead.
    n_timed = max(1, round(args.seconds / cls.pass_s))
    if args.trace:
        n_timed = 4 * -(-n_timed // 4)
    # Inputs and their expected outputs are generated while the JVM
    # starts; neither needs the session.
    inputs = run.pool.submit(
        cls, np.random.default_rng(args.seed), os.path.join(work, "tmp"), args.scale)
    spark = start_spark(work, bool(args.trace))
    try:
        wl = inputs.result()
        rec = None
        if args.trace:
            rec = spans.Recorder(spark.sparkContext)
            spans.install(rec)
        warm = []
        for i in range(WARM_PASSES):
            r = run.one_pass(spark, wl, i, rec)
            warm.append(r[0] if r else float("nan"))
            if run.wedged:
                break
        setup_s = run.elapsed()
        log(f"setup {setup_s:.2f} s, warm-up passes {[round(w, 2) for w in warm]}")

        walls, cpus, traced, untraced, held = [], [], {}, [], []
        ticks0 = bench._cpu_ticks()
        for idx in range(WARM_PASSES, WARM_PASSES + n_timed):
            if run.wedged:
                break
            if run.elapsed() > RUN_DEADLINE_S:
                log(f"run deadline reached; {len(walls)} of {n_timed} passes timed")
                break
            if rec is not None:
                rec.enabled = (idx - WARM_PASSES) % 4 in (1, 2)
            last = idx == WARM_PASSES + n_timed - 1
            r = run.one_pass(spark, wl, idx, rec, held if last else None)
            if r is not None:
                walls.append(r[0])
                cpus.append(r[1])
                if rec is None or not rec.enabled:
                    untraced.append(r[0])
                else:
                    traced[f"p{idx}"] = r[0]
        steal, _busy = bench._steal_pct(ticks0, bench._cpu_ticks())
        if not held and not run.wedged:
            held.append(heap_held_mb(spark))  # the deadline cut the last pass
        queries = {}
        if rec is not None and not run.wedged:
            rec.enabled = False
            queries = registry.measure(
                spark, rec, run, np.random.default_rng((args.seed, 1)), work)
        wl.close()
    finally:
        # A pass past its cap still holds the worker thread.
        run.pool.shutdown(wait=not run.wedged)
        stop_spark(spark)

    if not walls:
        log("no pass completed")
        print(json.dumps({"correct": False, "attempted": max(run.attempted, 1),
                          "failed": max(run.failed, 1), "metrics": {}}))
        return 0, run.wedged
    job_s = statistics.median(walls)
    log(f"{args.workload} seed {args.seed}: {len(walls)} timed passes "
        f"{[round(w, 3) for w in walls]}, host steal {steal}%, "
        f"error_rate {run.failed / run.attempted:.3f} "
        f"({run.failed}/{run.attempted})")
    if args.trace:
        import eventlog

        events = eventlog.parse(os.path.join(work, "eventlog"))
        metrics = layer_metrics(rec, traced, untraced, events, wl, cores)
        metrics.update(query_metrics(queries, events))
        metrics["host.steal_pct"] = steal or 0.0
        rec.dump(os.path.join(base, f"{args.workload}-{args.seed}.spans.json"))
        declared = spec["per_layer"]
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": wl.oracle.rows_written / job_s,
            "cpu_s": statistics.median(cpus),
            # Missing only if a pass overran its cap (the run failed).
            "peak_rss_mb": held[0] if held else 0.0,
        }
        declared = spec["end_to_end"]
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in declared
        },
    }))
    return 0, run.wedged


if __name__ == "__main__":
    sys.exit(main())
