"""Registry-wide physical-plan audit: the scale invariants, checked on
EVERY registered query, not just the hand-picked ones in
tests/test_plan_quality.py.

Invariants (violations = the plans that die first at 100 TB):

- no ``CartesianProduct`` anywhere (scalar attachments must plan as
  broadcast nested-loop, pair generation as equi-joins);
- no unpartitioned window: a ``windowspecdefinition`` whose argument
  list holds only ordering specs funnels the whole input through ONE
  task — the repo's global-rank formulation (operators/windows.py)
  exists precisely to avoid this;
- no SinglePartition exchange that collapses DATA through one task:
  only the per-_pid offsets aggregate and with_bounded_rank's explicit
  bounded repartition(1) qualify (see :func:`single_partition_collapses`);
- no unpinned range exchange under a ``_pid``-keyed join: the r9
  rank-corruption class — two independent executions of one range
  exchange sample different partition bounds and desynchronize the
  positional match (see :func:`pid_join_unpinned_range`).

Writes PLAN_AUDIT_r<N>.json ({query: {cartesian, global_windows}}),
prints violations, exits nonzero if any. Run from the repo root:

    python tools/plan_audit.py            # sf0.001 plans, ~3 min

Notes: building a plan never executes it EXCEPT for the eagerly-trained
operators (k-means / IVF / PQ codebooks — documented in their
modules), which run their small training jobs; this is why the audit
uses the sf0.001 tables.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, ".")

from tensei_agent_spark.queries import REGISTRY  # noqa: E402
from tensei_agent_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
# Default to a scratch name: ad-hoc runs must not overwrite a committed
# round artifact (round_close sets PLAN_AUDIT_OUT to the round's name).
OUT = os.environ.get("PLAN_AUDIT_OUT", "PLAN_AUDIT_LOCAL.json")

WINDOW_SPEC = re.compile(r"windowspecdefinition\((.*?)specifiedwindowframe")
ORDER_SUFFIXES = (
    "ASC NULLS FIRST",
    "ASC NULLS LAST",
    "DESC NULLS FIRST",
    "DESC NULLS LAST",
)


def _top_level_args(s: str) -> list[str]:
    """Split a rendered argument list at top-level commas only —
    ordering expressions may themselves contain commas (CASE, calls)."""
    args, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return [a for a in args if a]


# The engine's prefix-sum/prefix-max helpers (operators/windows.py
# _w_prev) run ONE intentional orderings-only window: a
# cumulative sum over the groupBy(_pid) per-partition stats frame. That
# frame is O(shuffle partitions) rows (~32-1000), never O(rows), so the
# single task is bounded by construction. Exempt exactly that shape —
# ordering is the lone column `_pid` AND the window's plan subtree
# contains the HashAggregate keyed on _pid that proves the input is the
# per-partition aggregate — and keep flagging every other
# orderings-only window.
PID_ONLY_ORDER = re.compile(r"^_pid#\d+ (ASC|DESC) NULLS (FIRST|LAST)$")
PID_KEYED_AGG = re.compile(r"HashAggregate\(keys=\[_pid#\d+")


def _indent(line: str) -> int:
    """Depth of a plan-tree line = width of its drawing prefix
    (spaces, ':', '+', '-', '|'); node names (incl. the codegen
    '*(n)' star) start right after it."""
    return re.match(r"^[\s:+|-]*", line).end()


def global_windows(plan: str) -> list[str]:
    """Window specs whose argument list holds only ordering expressions
    (no partition columns). Checks EVERY windowspecdefinition on a
    line — one Window operator can carry several specs, and a
    partitioned first spec must not mask a global second one.

    A spec ordering solely on `_pid` is exempt IFF the window's subtree
    holds a ``HashAggregate(keys=[_pid…])`` (the bounded offsets frame);
    a `_pid`-ordered window over anything else still flags."""
    lines = plan.splitlines()
    bad = []
    for idx, line in enumerate(lines):
        if "windowspecdefinition(" not in line:
            continue
        hard = 0  # orderings-only, not the offsets shape
        exemptable = 0  # orderings-only on _pid alone
        for m in WINDOW_SPEC.finditer(line):
            args = _top_level_args(m.group(1).rstrip(", "))
            if not (
                args
                and all(a.rstrip().endswith(ORDER_SUFFIXES) for a in args)
            ):
                continue  # partitioned spec
            if len(args) == 1 and PID_ONLY_ORDER.match(args[0].strip()):
                exemptable += 1
            else:
                hard += 1
        if not hard and exemptable:
            base = _indent(line)
            subtree_ok = False
            for nxt in lines[idx + 1 :]:
                if _indent(nxt) <= base:
                    break
                if PID_KEYED_AGG.search(nxt):
                    subtree_ok = True
                    break
            if subtree_ok:
                continue  # bounded offsets window: O(partitions) rows
            hard = exemptable
        if hard:
            bad.append(line.strip()[:160])
    return bad


# The positional-corruption class, as a permanent gate: the prefix
# helpers (operators/windows.py) read ONE range exchange from two
# branches and match rows on the physical partition id (_pid).
# RangePartitioner samples its bounds per EXECUTION, so if the shared
# frame is not pinned by a persist, the two branches can materialize
# two independent range exchanges with DIFFERENT bounds —
# desynchronized _pid, duplicated + dropped rows (an unpinned
# offsets-based row index once produced 1022 rows from a 1000-row
# positional merge). Plan signature of the broken shape: a join keyed
# on _pid whose subtree contains a RAW `Exchange rangepartitioning`
# (i.e. one NOT nested inside an InMemoryRelation — the persist pins
# exactly one materialization, so in the safe shape every range
# exchange under a _pid join renders inside the cached relation).
PID_JOIN_KEY = re.compile(r"Join [^\n]*?\[[^\]]*_pid#\d+")
RANGE_EXCHANGE = re.compile(r"Exchange rangepartitioning\(")


# SinglePartition exchanges funnel their whole input through ONE task —
# the shape that dies at 100× (a global sort/window collapse). Two
# deliberate shapes are allowed (r11):
#   (a) the offsets branch of the rank/prefix helpers — its first
#       aggregate is keyed on _pid, O(shuffle partitions) rows;
#   (b) an EXPLICIT repartition(1) (shuffle origin REPARTITION_BY_NUM),
#       which only with_bounded_rank plants — its subtree must contain
#       an aggregate / limit / TakeOrdered node. The node does not
#       PROVE boundedness (a high-cardinality groupBy is corpus-sized
#       — that contract is the caller's, audited in SCALE.md), but it
#       rules out the raw-data funnel this rule exists to catch, and a
#       planner-forced ENSURE_REQUIREMENTS collapse never qualifies.
BOUNDED_NODE = re.compile(
    r"HashAggregate|ObjectHashAggregate|SortAggregate"
    r"|TakeOrderedAndProject|GlobalLimit|CollectLimit"
)


# A planner SinglePartition exchange is bounded when its immediate
# child is a PARTIAL aggregate that collapses each input partition to
# O(1) rows pre-shuffle: a scalar aggregate (keys=[]) or the rank
# helpers' per-_pid offsets aggregate. The shuffle then moves
# O(partitions) rows however big the corpus — the standard
# scalar-aggregate plan, not a data funnel.
# keys? — SortAggregate renders the singular "key=[" on Spark 4.1
# (code review r11: the keys-only regex false-flagged scalar
# SortAggregate plans, e.g. partial_max over a string column).
_BOUNDED_CHILD = re.compile(
    r"(Hash|ObjectHash|Sort)Aggregate\(keys?=\[(\]|_pid#\d+)"
)


def single_partition_collapses(plan: str) -> list[str]:
    """SinglePartition exchanges outside the allowed shapes above."""
    lines = plan.splitlines()
    bad = []
    for idx, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        base = _indent(line)
        subtree = []
        for nxt in lines[idx + 1 :]:
            if _indent(nxt) <= base:
                break
            subtree.append(nxt)
        if "REPARTITION_BY_NUM" in line:
            if not any(BOUNDED_NODE.search(ln) for ln in subtree):
                bad.append(line.strip()[:160])
            continue
        if subtree and _BOUNDED_CHILD.search(subtree[0]):
            continue  # partial scalar/_pid agg: O(partitions) rows move
        bad.append(line.strip()[:160])
    return bad


def pid_join_unpinned_range(plan: str) -> list[str]:
    """Joins keyed on `_pid` whose subtree holds a range exchange that
    is NOT pinned under an InMemoryRelation — the desynchronized-
    bounds corruption signature (see comment above)."""
    lines = plan.splitlines()
    bad = []
    for idx, line in enumerate(lines):
        if not PID_JOIN_KEY.search(line):
            continue
        base = _indent(line)
        imr_depth: int | None = None  # inside a cached-relation subtree
        for nxt in lines[idx + 1 :]:
            d = _indent(nxt)
            if d <= base:
                break  # left the join's subtree
            if imr_depth is not None and d <= imr_depth:
                imr_depth = None  # left the InMemoryRelation subtree
            if imr_depth is None and "InMemoryRelation" in nxt:
                imr_depth = d
                continue
            if imr_depth is None and RANGE_EXCHANGE.search(nxt):
                bad.append(
                    f"unpinned range exchange under _pid join: "
                    f"{line.strip()[:120]}"
                )
                break
    return bad


# Runtime full-postings-exchange audit (VERDICT r10 #3): the ngram
# prefix-filter pipeline regroups the postings stream per doc
# (groupBy doc_id) on top of the hash(doc_id)-partitioned tok_sets
# cache. Spark 4.1's AQE wraps cache scans in TableCacheQueryStage
# and re-plans the regroup EXCHANGE-FREE once the cache materializes
# — but only the FINAL plan shows that (the initial plan carries a
# conservative EnsureRequirements exchange that never executes), so
# this invariant is checked at RUNTIME: execute the query, then scan
# the final-plan sections of the rendered tree for a doc_id-keyed
# ENSURE_REQUIREMENTS hash exchange — the regroup-reshuffle
# signature (the deliberate tok_sets repartition renders as
# REPARTITION_BY_NUM and is exempt by construction).
RUNTIME_REGROUP_QUERIES = ("dedup_ngram_jaccard", "dedup_ngram_jaccard_fast")
REGROUP_EXCHANGE = re.compile(
    r"Exchange hashpartitioning\(doc_id#\d+L?,\s*\d+\), ENSURE_REQUIREMENTS"
)


def runtime_regroup_exchanges(plan: str) -> list[str]:
    """doc_id-keyed ENSURE_REQUIREMENTS exchanges inside executed
    (final) plan sections of a rendered tree.

    Section tracking is a line toggler: drop lines after an
    ``== Initial Plan ==`` marker until the next ``== Final Plan ==``.
    With nested cached-relation printouts this is approximate — lines
    of an outer section that follow a nested relation's markers can
    inherit the inner state — but the regroup exchange, when present,
    renders BETWEEN the final aggregate and the broadcast join,
    i.e. strictly before any nested relation's markers, so the
    signature position itself is classified exactly. The top of an
    UNEXECUTED adaptive plan (no markers) is kept conservatively; the
    audited queries carry no doc_id-keyed operator there (outputs are
    renamed id_a/id_b)."""
    keep, bad = True, []
    for line in plan.splitlines():
        if "== Initial Plan ==" in line:
            keep = False
            continue
        if "== Final Plan ==" in line:
            keep = True
            continue
        if keep and REGROUP_EXCHANGE.search(line):
            bad.append(line.strip()[:160])
    return bad


# Build-time Spark-action budget (the "double-action smell", VERDICT
# r7 #8 / r8 #6): building a registry plan should run ZERO non-metadata
# jobs — a build that collects intermediate results recomputes that
# lineage again at action time unless it persists first (the r8
# rank-helper bug). The exceptions are the eagerly-trained / iterative
# operators, whose small bounded driver loops are documented in their
# modules; each gets its MEASURED job count (sf0.001 tree, r9) as an
# explicit allowance. Anything over its allowance is a violation — a
# regression that adds a build-time action to any other query flags
# immediately.
EAGER_BUILD_JOBS: dict[str, int] = {
    # k-means / IVF / PQ codebook training (operators/{clustering,pq}.py):
    # k-iteration Lloyd loops, each iteration one bounded job
    "ann_ivf_pq_topk": 26,
    "ann_ivf_topk": 14,
    "ann_pq_topk": 12,
    "embedding_kmeans": 11,
    "coreset_kcenter": 9,  # k greedy max-distance probes
    # connected-components fixpoint (operators/dedup.py): 1-row xor+count
    # signature collect per large/small-star round
    "dedup_components": 18,
    "dedup_keep_best": 18,
    "leakage_safe_split": 18,
    "customer_golden_records": 7,
    # Fellegi-Sunter EM (operators/linkage.py): ONE <=2^f-row
    # pattern-count collect (EM iterates in pure Python on the counts);
    # the job count is that single action's AQE shuffle-stage jobs.
    # Re-measured +2 each after e1cc473 spread blocked_pairs' probe
    # side: the deliberate repartition adds one exchange — hence one
    # AQE stage-job — per blocking pass.
    "record_linkage_em": 6,
    "record_linkage_scores": 7,
    # PCA eigendecomposition of the d*d gram matrix (operators/projection.py)
    "embedding_pca_variance": 4,
    "embedding_pca_project": 4,
    # skew.differential_join: bounded hot-key frequency sample
    "differential_join_priority_revenue": 4,
    # capped-vocab collects (20k) / bounded sketch materializations
    "heavy_hitter_words": 3,
    "t_closeness_report": 3,
    "bpe_vocab_merges": 2,  # driver merge loop over capped vocab
    "bpe_token_counts": 2,
}


def _is_metadata_job(tracker, job_id: int) -> bool:
    """True for the parquet footer/schema-inference probes that EVERY
    ``spark.read.parquet`` fires (1 stage, stage name 'parquet at …'):
    bounded metadata reads, not double-computed lineage. Unknown or
    expired job/stage info counts as NOT metadata — fail toward
    flagging."""
    info = tracker.getJobInfo(job_id)
    if info is None:
        return False
    names = []
    for sid in info.stageIds:
        si = tracker.getStageInfo(sid)
        if si is None:
            return False
        names.append(si.name or "")
    return bool(names) and all(n.startswith("parquet at") for n in names)


def audit_query(spark, name: str, build, sf: str) -> dict:
    """Build one registry query under a dedicated job group and report
    {cartesian, global_windows, build_jobs} for it — build_jobs counts
    the NON-metadata Spark jobs the build triggered (the double-action
    smell; schema probes are excluded by :func:`_is_metadata_job`)."""
    sc = spark.sparkContext
    group = f"plan-audit:{name}"
    sc.setJobGroup(group, "build-time action detector", False)
    try:
        df = build(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = [
        j
        for j in tracker.getJobIdsForGroup(group)
        if not _is_metadata_job(tracker, j)
    ]
    return {
        "cartesian": "CartesianProduct" in plan,
        "global_windows": global_windows(plan),
        "pid_unpinned_range": pid_join_unpinned_range(plan),
        "single_partition": single_partition_collapses(plan),
        "build_jobs": len(jobs),
    }


def main() -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # Spark truncates long operator renderings ("... N more fields"),
    # which could cut a windowspecdefinition before its ordering
    # suffixes and let a global window silently escape the regex
    # detector. Raise the limit so plans render in full.
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    report: dict[str, dict] = {}
    violations = []
    t_all = time.time()
    for name, q in REGISTRY.items():
        t0 = time.time()
        try:
            r = audit_query(spark, name, q.build, SF)
        except Exception as exc:
            report[name] = {"error": repr(exc)[:200]}
            violations.append(f"{name}: build failed {exc!r}")
            continue
        r["sec"] = round(time.time() - t0, 2)
        report[name] = r
        if r["cartesian"]:
            violations.append(f"{name}: CartesianProduct")
        for line in r["global_windows"]:
            violations.append(f"{name}: global window: {line}")
        for line in r["pid_unpinned_range"]:
            violations.append(f"{name}: {line}")
        for line in r["single_partition"]:
            violations.append(
                f"{name}: SinglePartition data collapse: {line}"
            )
        allowance = EAGER_BUILD_JOBS.get(name, 0)
        if r["build_jobs"] > allowance:
            violations.append(
                f"{name}: build ran {r['build_jobs']} Spark job(s) "
                f"(allowance {allowance}) — double-action smell"
            )
    # Runtime leg (VERDICT r10 #3): the build-time audit above reads
    # plans BEFORE execution, where AQE's conservative initial plan
    # still carries the never-executed regroup exchange. For the ngram
    # queries the invariant is about the FINAL plan, so execute them
    # (cheap at sf0.001) and scan only final-plan sections.
    for name in RUNTIME_REGROUP_QUERIES:
        q = REGISTRY.get(name)
        if q is None:
            continue
        t0 = time.time()
        try:
            df = q.build(spark, SF)
            df.count()  # materialize so AQE finalizes every stage
            plan = df._jdf.queryExecution().executedPlan().toString()
            hits = runtime_regroup_exchanges(plan)
        except Exception as exc:
            violations.append(f"{name}: runtime regroup leg failed {exc!r}")
            continue
        report[name]["runtime_regroup_exchanges"] = hits
        report[name]["runtime_sec"] = round(time.time() - t0, 2)
        for line in hits:
            violations.append(
                f"{name}: FINAL-plan full-postings regroup exchange "
                f"(the one-exchange-end-to-end invariant): {line}"
            )
    with open(OUT, "w") as f:
        json.dump(
            {
                "sf": SF,
                "queries": len(report),
                "violations": violations,
                "detail": report,
            },
            f,
            indent=1,
        )
    print(f"{len(report)} plans audited in {time.time()-t_all:.0f}s; "
          f"{len(violations)} violation(s)")
    for v in violations:
        print(" ", v)
    print(f"wrote {OUT}")
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
