"""Optimization measurement harness (guide §1) — r17 edition.

Times registry queries with the NOOP SINK (guide §1.4 — computes every
column of every row, no optimizer pruning, no driver transfer) and writes
each query's .explain('formatted') to plans/<round>/<name>_<tag>.txt so
plan claims are auditable without running Spark.

r17 upgrade (r16 VERDICT item 8): static formatted explains duplicate
InMemoryRelation subtrees, so a query that got FASTER by pinning can show
MORE static Exchange nodes. Each timed run now also records RUNTIME
evidence over everything the run started, frame build included: the
Exchange / ReusedExchange / Python-eval node counts of every SQL
execution's final (post-AQE) plan, and the jobs, stages, tasks and
executor CPU seconds of every job — the numbers a "fewer exchanges"
claim is checked against.

Usage:
  python tools/opt_measure.py <tag> [query ...]        # default top set
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 ...          # data dir
  SPARK_GRAFT_PLANS_ROUND=r17 ...                      # plans subdir

Prints one JSON line: {"tag": ..., "queries": {name: {"first": s,
"min2": s, "exchanges": n, "reused_exchanges": n, "python_evals": n,
"jobs": n, "stages": n, "tasks": n, "cpu_s": s}}, "total_min2": s}.
Timing is cold-first + second-run (the bench's own rationale: a cold
query really pays plan/codegen floors; the second run shows the
steady-state plan). Plans are captured AFTER the timed runs so explain
cost never pollutes the timing.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError

import __spark_entry__ as entry_mod
from indexlab_spark.session import get_spark
from perfbench.trace import spark_jobs, spark_stages

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r17")

# The suite's priciest rows at r16 close — the additive tail this round
# targets (driver bench_full.json + VERDICT's untouched-block list).
DEFAULT = [
    "part_kcore", "assoc_brands", "part_assortativity",
    "dedup_clusters", "theta_users", "quantile_map_events",
    "lonely_late_supplier", "sliding_windows", "stateful_sessions",
    "trigram_logprob", "spearman_lineitem", "dedup_survival",
    "minhash_lsh", "conformal_orders", "contingency_events",
    "cross_source_dups", "rake_docs", "bloom_decontaminate",
]

# Runtime node names that mean "a Python boundary ran here"
_PY_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "AggregateInPandas",
)


def _marks(spark) -> tuple[int, int]:
    """Highest job id and SQL execution id so far: a row's evidence is
    every job and execution after them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last_exec = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    return max((j["id"] for j in spark_jobs(spark)), default=-1), last_exec


def _row_evidence(spark, marks: tuple[int, int]) -> dict:
    """Runtime evidence of everything a row ran since ``marks``: the
    jobs, completed stages, tasks and executor CPU seconds of every job
    (the eager probes, checkpoints and collects run while the frame is
    built, and the noop write), and the Exchange / ReusedExchange /
    Python-eval node counts summed over the final (post-AQE) plans of
    every SQL execution. Read from the driver's status stores, which
    the always-registered listeners fill even with the UI disabled."""
    job0, exec0 = marks
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [j for j in spark_jobs(spark) if j["id"] > job0]
    stages = {}
    for sid in {s for j in jobs for s in j["stages"]}:
        # a job also lists the stages it skipped, which ran nothing;
        # past spark.ui.retainedStages the store evicts by completion
        # time, so those (no completion time) go first
        try:
            stages.update(spark_stages(spark, {sid}))
        except Py4JJavaError:
            continue
    ev = {"exchanges": 0, "reused_exchanges": 0, "python_evals": 0}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= exec0:
            continue
        desc = e.physicalPlanDescription()
        # operator lines look like "+- Exchange hashpartitioning(...)";
        # count node NAMES so "ReusedExchange" is not double-counted by
        # the "Exchange" pattern
        ev["exchanges"] += len(re.findall(r"(?<![A-Za-z])Exchange ", desc))
        ev["reused_exchanges"] += desc.count("ReusedExchange")
        ev["python_evals"] += sum(desc.count(n) for n in _PY_NODES)
    ev.update(
        jobs=len(jobs),
        stages=len(stages),
        tasks=sum(s["tasks"] for s in stages.values()),
        cpu_s=round(sum(s["cpu_s"] for s in stages.values()), 3),
    )
    return ev


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT
    spark = get_spark("opt-measure")
    qs = entry_mod.queries()
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", PLANS_ROUND,
    )
    os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"opt-measure:{name}")
        marks = _marks(spark)
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        first = time.time() - t0
        ev = _row_evidence(spark, marks)
        marks = _marks(spark)
        t0 = time.time()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        second = time.time() - t0
        ev2 = _row_evidence(spark, marks)
        rec = {"first": round(first, 3),
               "min2": round(min(first, second), 3)}
        rec.update(ev)
        # warm-run evidence differs when pins kick in on re-scan (cpu_s
        # differs run to run, so it does not count as a difference)
        if {**ev2, "cpu_s": 0} != {**ev, "cpu_s": 0}:
            rec["warm"] = ev2
        out[name] = rec
        # plan capture (post-timing)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF_DIR).explain("formatted")
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(
            f"{name}: first={first:.2f}s min2={rec['min2']:.2f}s "
            f"ex={rec.get('exchanges')} reuse={rec.get('reused_exchanges')} "
            f"py={rec.get('python_evals')} jobs={rec.get('jobs')} "
            f"stages={rec.get('stages')} tasks={rec.get('tasks')}",
            file=sys.stderr,
        )
    spark.sparkContext.setJobDescription(None)
    total = round(sum(v["min2"] for v in out.values()), 3)
    print(json.dumps({"tag": tag, "sf_dir": SF_DIR, "queries": out,
                      "total_min2": total}))


if __name__ == "__main__":
    main()
