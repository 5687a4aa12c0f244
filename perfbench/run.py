"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipeline,registry} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One client drives one
Spark driver process on local[<cpus>] in a closed loop: each timed
operation starts after the previous one has finished and its whole output
has been collected. Passes over the workload's operation list repeat until
``--seconds`` have been measured. Every timed output is checked after the
loop; the last stdout line is the JSON result. With ``--trace 1`` the
engine's layer functions are wrapped, operations alternate untraced and
traced (each operation is traced in every other pass), and the per-layer
metrics are reported instead of the end-to-end ones. A human-readable
summary goes to stderr; the trace file is written under ``.bench_work/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREPARE_ROUNDS = 3
#: passes of a traced run: each operation runs once untraced and once
#: traced, in alternating order (op i is traced in pass p when i + p is odd)
TRACE_PASSES = 2
ENGINE_FILES = ("indexlab_spark/pipeline.py", "__spark_entry__.py", "tools/driver_sim.py")


def log(*a, sep: str = " ") -> None:
    print(*a, sep=sep, file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Core count, scratch directories and worker import path, all inside
    the checkout, before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM="2g",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session(work: str):
    from indexlab_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).write.format("noop").mode("overwrite").save()
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate to a kill
            proc.kill()
            proc.wait()


_TICK = os.sysconf("SC_CLK_TCK")
#: JVM just-in-time compiler threads (their CPU is warm-up, see tree_cpu_s)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers, reaped children included), minus the
    JVM's JIT compiler threads. Compilation is a warm-up cost whose amount
    varies from run to run by more than the work measured; the compiler
    threads are kept alive for the whole run (see _session), so their CPU
    can be taken out thread by thread."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        st = _stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st:
            parent[int(pid)] = int(st[1][1])
            cpu[int(pid)] = sum(int(x) for x in st[1][11:15])
    me, ticks = os.getpid(), 0
    for pid in cpu:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        ticks += cpu[pid]
        if pid == me:
            continue
        for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else ():
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st and st[0].startswith(_JIT_THREADS):
                ticks -= int(st[1][11]) + int(st[1][12])
    return ticks / _TICK


def _pct(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return q, n
    return 0, n


def _summary(records: list[dict]) -> list[str]:
    lines = []
    for name in dict.fromkeys(r["name"] for r in records):
        xs = sorted(r["wall"] for r in records if r["name"] == name)
        q, n = _pct(xs)
        tail = f" p{q} {xs[min(n - 1, int(n * q / 100))]:.3f}s" if q else ""
        lines.append(f"  {name:<18} median {statistics.median(xs):.3f}s{tail} n={n}")
    return lines


def run_pass(spark, wl, p: int, tracer, trace: bool) -> list[dict]:
    wl.before_pass(spark)
    records = []
    for i, op in enumerate(wl.ops(spark, p)):
        traced = trace and (i + p) % 2 == 1
        tracer.enabled = traced
        tracer.op = (p, i)
        rec = {"pass": p, "op": i, "name": op.name, "traced": traced, "out": None, "error": None}
        cpu0 = tree_cpu_s()
        rec["t0"] = time.time()
        try:
            if op.build is None:
                res = None
            elif traced and wl.name == "registry":
                res = tracer.call("registry", op.name, op.build)
            else:
                res = op.build()
            rec["t_action"] = time.time()
            rec["out"] = op.action(res)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            rec["error"] = traceback.format_exc(limit=3)
            rec.setdefault("t_action", time.time())
        rec["t1"] = time.time()
        rec["wall"] = rec["t1"] - rec["t0"]
        rec["cpu"] = tree_cpu_s() - cpu0
        rec["check"] = op.check
        records.append(rec)
    tracer.enabled = False
    tracer.op = None
    return records


def trace_overhead(records: list[dict]) -> float:
    """Traced over untraced wall time of the same operations: the sum over
    operation names of the median traced wall over the sum of the median
    untraced wall."""
    on, off = 0.0, 0.0
    for name in dict.fromkeys(r["name"] for r in records):
        t = [r["wall"] for r in records if r["name"] == name and r["traced"]]
        u = [r["wall"] for r in records if r["name"] == name and not r["traced"]]
        if t and u:
            on, off = on + statistics.median(t), off + statistics.median(u)
    return on / off


def trace_metrics(spark, tracer, records: list[dict]) -> tuple[dict, dict]:
    from perfbench import trace

    traced = [r for r in records if r["traced"]]
    # per-pass figures: traced operations over the operations of one pass
    passes = len(traced) / len({r["op"] for r in records})
    wall = sum(r["wall"] for r in traced)
    jobs = [j for j in trace.spark_jobs(spark)
            if j["t0"] is not None and any(r["t0"] <= j["t0"] <= r["t1"] for r in traced)]
    spans = [s for s in tracer.spans if s[4] is not None]
    layers = trace.layer_table(spans, jobs)
    # the forcing action of each operation: every job submitted after its
    # result was built (the whole call for eager operations)
    action_jobs = {}
    for j in jobs:
        for r in traced:
            if r["t_action"] <= j["t0"] <= r["t1"]:
                action_jobs.setdefault((r["pass"], r["op"]), []).append(j)
    stage_ids = {s for js in action_jobs.values() for j in js for s in j["stages"]}
    stages = trace.spark_stages(spark, stage_ids)
    ex = dict.fromkeys(("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 0.0)
    shares = []
    for r in traced:
        js = action_jobs.get((r["pass"], r["op"]), [])
        ss = [stages[s] for s in {s for j in js for s in j["stages"]} if s in stages]
        ex["jobs"] += len(js)
        ex["stages"] += len(ss)
        for key in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            ex[key] += sum(s[key] for s in ss)
        action_wall = r["t1"] - r["t_action"]
        shares.append(max((s["longest_task_s"] for s in ss), default=0.0) / action_wall if action_wall > 0 else 0.0)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "run_s": "s", "cpu_s": "s", "gc_s": "s"}
    metrics = {}
    for layer in trace.ALL_LAYERS:
        row = layers[layer]
        metrics[f"{layer}.calls"] = (row["calls"] / passes, "count")
        metrics[f"{layer}.jobs"] = (row["jobs"] / passes, "count")
        metrics[f"{layer}.self_frac"] = (row["self_s"] / wall, "frac")
        metrics[f"{layer}.driver_frac"] = (row["driver_s"] / wall, "frac")
    for key, val in ex.items():
        metrics[f"exec.{key}"] = (val / passes, units.get(key, "MB"))
    metrics["exec.max_task_share"] = (statistics.fmean(shares), "frac")
    metrics["trace.overhead"] = (trace_overhead(records), "ratio")
    detail = {
        "layers": layers,
        "ops": [{k: r[k] for k in ("pass", "op", "name", "t0", "t_action", "t1")} for r in traced],
        "spans": tracer.spans,
        "jobs": jobs,
    }
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        log(f"perfbench: engine files missing under {ROOT}: {missing}")
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    from perfbench import trace, workloads
    from perfbench.tests import test_checks

    bad = test_checks.run_all()
    if bad:
        log("perfbench: checker self-test failed:", *bad, sep="\n  ")
        return 3
    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    tracer = trace.Tracer()
    if args.trace:
        import __spark_entry__  # noqa: F401 - imported so its name bindings get wrapped
        import indexlab_spark.pipeline  # noqa: F401

        log(f"perfbench: traced {trace.install(tracer)} engine functions")
    spark = _session(work)
    try:
        session_s = time.time() - T_PROCESS
        wl = workloads.WORKLOADS[args.workload](args.seed)
        prep = []
        for r in range(PREPARE_ROUNDS):
            t = time.time()
            wl.prepare(spark, os.path.join(work, f"round{r}"))
            prep.append(time.time() - t)
        t = time.time()
        wl.warmup(spark)
        warmup_s = time.time() - t
        setup_s = session_s + statistics.median(prep) + warmup_s

        records: list[dict] = []
        start, p = time.time(), 0
        min_passes = max(wl.spec["min_passes"], TRACE_PASSES if args.trace else 1)
        # a traced run ends on an even pass count, so every operation is
        # traced as often as it runs untraced
        while p < min_passes or time.time() - start < args.seconds or (args.trace and p % 2):
            records += run_pass(spark, wl, p, tracer, bool(args.trace))
            p += 1

        failed, t_check = 0, time.time()
        for rec in records:
            try:
                errs = [rec["error"]] if rec["error"] else rec["check"](rec["out"])
            except Exception:  # noqa: BLE001 - an output the checker cannot read fails
                errs = [traceback.format_exc(limit=3)]
            if errs:
                failed += 1
                log(f"perfbench: FAILED {rec['name']} (pass {rec['pass']}):", *errs, sep="\n  ")

        check_s = time.time() - t_check
        wall = [sum(r["wall"] for r in records if r["pass"] == i) for i in range(p)]
        cpu = [sum(r["cpu"] for r in records if r["pass"] == i) for i in range(p)]
        log(f"perfbench: {args.workload} seed {args.seed}: session {session_s:.2f}s, "
            f"prepare {' '.join(f'{x:.2f}' for x in prep)}s, warm-up {warmup_s:.2f}s, "
            f"{p} passes {' '.join(f'{v:.2f}' for v in wall)}s wall, "
            f"{' '.join(f'{v:.2f}' for v in cpu)}s cpu, checks {check_s:.2f}s")
        log(*_summary([r for r in records if not r["traced"]]), sep="\n")

        if args.trace:
            metrics, detail = trace_metrics(spark, tracer, records)
            path = os.path.join(ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "setup_s": setup_s, **detail}, f)
            log(f"perfbench: trace written to {os.path.relpath(path, ROOT)}")
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "run_cpu_s": (statistics.median(cpu), "s"),
                "driver_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
            }
    finally:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)

    for name, (val, unit) in metrics.items():
        log(f"  {name:<24} {val:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
