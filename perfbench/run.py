"""The repo benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

The run checks its input tables (fixture.py), times the set-up of the
Spark session (in this process and in one more fresh process), runs
the workload's operations once cold, then in untimed warm-up passes, then
in warm passes for ``--seconds``, checks every output against DuckDB, and
prints one JSON object as its last line. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same workload with spans, job
tags and Spark's event log and reports the per-layer metrics instead.
README.md defines every metric.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

import fixture
from measure import (
    Tracer,
    cpu_delta,
    cpu_seconds,
    cpu_steal,
    descendants,
    median,
    process_age_s,
    rss_mb,
    run_pass,
    self_times,
    tail,
    unattributed,
    wait_for_group,
)
from workloads import WARMUP_PASSES, WORKLOADS, Context, install_probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SETUP_CHILDREN = 1
MIN_WARM_PASSES = 3
READY = "perfbench-setup-ready"
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _spec["end_to_end"] + _spec["per_layer"]}


def _environment(out: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``out``;
    returns the Spark conf that does the same for the JVM."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # half the usable cores run tasks, the rest are left to the JIT, GC,
    # py4j and Python workers: on tiny inputs two task threads finish as
    # fast as four, and the run shares its host with others
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts first: no /tmp perf data
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
    }


def _setup(workload, conf: dict, data_dir: str, out: str, seed: int, tracer: Tracer, inject=False):
    """What a one-shot run pays before its first operation: the registry,
    the session and the workload's own set-up (the stream config)."""
    from data_bridge_spark.registry import load_all
    from data_bridge_spark.session import get_spark

    registry = load_all()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{workload.name}", extra_conf=conf)
    ctx = Context(spark, registry, data_dir, out, seed, tracer, inject)
    wl = workload(ctx)
    wl.setup()
    return ctx, wl


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)


def _setup_child(args, conf: dict, out: str) -> int:
    workload = WORKLOADS[args.workload]
    ctx, _ = _setup(workload, conf, fixture.DIR, out, args.seed, Tracer(enabled=False))
    print(READY, flush=True)
    _stop(ctx.spark)
    return 0


def _child_setup_s(args, log: str) -> float:
    """Wall time from spawning a fresh process to its session being ready.
    The child and its JVM are then killed, and waited for, as a group."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0", "--setup-child"]
    t0 = time.perf_counter()
    with open(log, "a") as err, subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=err, text=True, start_new_session=True
    ) as p:
        ready = None
        for line in p.stdout:
            if line.strip() == READY:
                ready = time.perf_counter() - t0
                break
        os.killpg(p.pid, signal.SIGKILL)
        p.wait(timeout=60)
    wait_for_group(p.pid, timeout=60)
    if ready is None:
        raise RuntimeError(f"set-up child failed (see {log})")
    return ready


def _host(spark, loadavg: float, steal: float) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_1m_at_start": loadavg,
        # share of CPU time the hypervisor took while the passes ran: a
        # run with a high share measured a slower machine
        "cpu_steal_share": steal,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
    }


@contextmanager
def _instrumented(ctx: Context, on: bool):
    """Spans, job tags and layer probes for one pass of a traced run."""
    ctx.tracer.enabled = on
    undo = install_probes(ctx) if on else (lambda: None)
    try:
        yield
    finally:
        undo()
        if on:
            ctx.untag()
        ctx.tracer.enabled = False


def _measure(ctx: Context, wl, seconds: float, traced: bool) -> list[dict]:
    """The cold pass, WARMUP_PASSES untimed warm-up passes, then warm
    passes until ``seconds`` have passed, at least MIN_WARM_PASSES. A
    traced run's warm passes go instrumented, plain, plain, instrumented,
    in whole rounds of four, so that a steady drift (the JIT's warm-up)
    cancels out of the difference between the two kinds."""
    jvm = ctx.spark.sparkContext._gateway.proc.pid
    passes: list[dict] = []

    def cpu_now() -> dict[int, float]:
        return cpu_seconds(descendants(jvm) + [os.getpid()])

    def one(role: str, instrumented: bool) -> None:
        p = len(passes)
        cpu = {"s": 0.0}

        def before_op(name: str) -> None:
            wl.before_op(name)
            cpu["start"] = cpu_now()

        def run_op(name: str) -> None:
            ctx.op_id = ctx.tracer.op = f"{wl.name}/{p}/{name}"
            wl.run_op(name)

        def after_op(name: str) -> list[str]:
            # CPU of the operation alone: the clean-up before it and the
            # saving of outputs for the check are the benchmark's own work
            cpu["s"] += cpu_delta(cpu["start"], cpu_now())
            return wl.after_op(name)

        with _instrumented(ctx, instrumented):
            results = run_pass(wl.ops(p), run_op, before_op, after_op)
        passes.append({"wl": wl.name, "pass": p, "role": role, "instrumented": instrumented,
                       "ops": results, "cpu_s": cpu["s"]})

    one("cold", traced)
    for _ in range(WARMUP_PASSES):
        one("warmup", False)
    t0, n = time.perf_counter(), 0
    while (n < MIN_WARM_PASSES or time.perf_counter() - t0 < seconds
           or (traced and n % 4)):
        one("warm", traced and n % 4 in (0, 3))
        n += 1
    return passes


def _warm(passes: list[dict]) -> list[dict]:
    return [p for p in passes if p["role"] == "warm"]


def _retained_mb(ctx: Context, wl) -> tuple[float, float]:
    """(JVM heap in use after full GCs, this process's RSS), in MB."""
    wl.before_op("")
    gc.collect()
    # py4j frees the JVM objects behind collected Python handles a little
    # later; then GC until two readings agree
    time.sleep(0.5)
    jvm = ctx.spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = None
    for _ in range(8):
        jvm.System.gc()
        time.sleep(0.25)
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if heap is not None and abs(heap - used) < 1:
            break
        heap = used
    return used, rss_mb()


def _end_to_end(setups, passes, retained) -> tuple[dict, dict]:
    warm = _warm(passes)
    walls = [sum(r.wall for r in p["ops"]) for p in warm]
    per_op: dict[str, list[float]] = {}
    for p in warm:
        for r in p["ops"]:
            per_op.setdefault(r.op, []).append(r.wall)
    pct, tail_s, n = tail(per_op)
    metrics = {
        "setup_s": median(setups),
        "cold_pass_s": sum(r.wall for r in passes[0]["ops"]),
        "warm_pass_s": median(walls),
        # each operation's median, then the median over operations: with
        # a handful of distinct operations the pooled median would fall
        # in the gap between two of them and jump from run to run
        "op_p50_s": median(median(w) for w in per_op.values()),
        "cpu_s": median(p["cpu_s"] for p in warm),
        "retained_mb": sum(retained),
    }
    detail = {"setup_samples_s": setups, "warm_pass_walls_s": walls, "op_tail_s": tail_s,
              "op_tail_percentile": pct, "op_tail_samples": n,
              "retained_jvm_heap_mb": retained[0],
              "retained_python_rss_mb": retained[1]}
    return metrics, detail


def _per_op(ctx: Context, passes: list[dict], exec_by_op: dict) -> dict[str, dict]:
    """Per instrumented op: wall, span self times, counters, event-log
    roll-up and the wall time no top-level span covers."""
    spans = ctx.tracer.spans
    selfs = self_times(spans)
    per_op: dict[str, dict] = {}
    for p in passes:
        if not p["instrumented"]:
            continue
        for r in p["ops"]:
            op = _op_id(p, r)
            d = per_op[op] = {"wall_s": r.wall,
                              "unattributed_s": unattributed(spans, op, r.wall, r.start)}
            for s, t in zip(spans, selfs):
                if s.op == op:
                    d[s.name] = d.get(s.name, 0.0) + t
                    if s.name == "plans.run":
                        d["plans.run_total"] = d.get("plans.run_total", 0.0) + s.end - s.start
            for key, v in ctx.counters.items():
                o, _, name = key.partition("|")
                if o == op:
                    d[name] = v
            for name, v in exec_by_op.get(op, {}).items():
                d[f"operators.{name}"] = v
    return per_op


def _per_layer(ctx: Context, passes: list[dict], event_log: str) -> tuple[dict, dict]:
    """Per-layer metrics: for each instrumented warm pass, the sum over
    its ops (the max for peaks and skew), then the median over passes;
    plus the set-up spans and the tracing overhead."""
    import eventlog

    per_op = _per_op(ctx, passes, eventlog.rollup_file(event_log))
    warm = [p for p in _warm(passes) if p["instrumented"]]

    def per_pass(key: str, how=sum) -> float:
        return median(how(per_op[_op_id(p, r)].get(key, 0.0) for r in p["ops"]) for p in warm)

    setup = {s.name: t for s, t in zip(ctx.tracer.spans, self_times(ctx.tracer.spans))
             if s.op == ""}
    m = {
        "session.start_s": setup.get("session.start", 0.0),
        "plans.config_s": setup.get("plans.config", 0.0),
        "plans.run_s": per_pass("plans.run_total"),
        "plans.self_s": per_pass("plans.run"),
    }
    for span in ("catalog.table", "operators.build", "operators.plan", "operators.exec",
                 "functions.render", "sources.read", "sinks.lake", "sinks.fileshare",
                 "sinks.smtp", "sinks.upsert"):
        m[f"{span}_s"] = per_pass(span)
    for name in ("catalog.table_calls", "functions.render_calls", "sources.read_calls",
                 "plans.cached_outputs", "plans.collect_rows", "sinks.rows_written",
                 "sinks.files_written", "sinks.bytes_written", "sinks.failed"):
        m[name] = per_pass(name)
    calls = m["catalog.table_calls"]
    m["catalog.raw_read_hit_ratio"] = (calls - per_pass("catalog.raw_reads")) / calls if calls else 0.0
    rows = m["sinks.rows_written"]
    m["sinks.bytes_per_row"] = m["sinks.bytes_written"] / rows if rows else 0.0
    updates = per_pass("sinks.update_rows")
    m["sinks.upsert_write_amp"] = per_pass("sinks.upsert_rows") / updates if updates else 0.0
    for name in eventlog.EXEC_FIELDS:
        how = max if name in ("exec.peak_exec_mem_mb", "exec.task_skew") else sum
        m[f"operators.{name}"] = per_pass(f"operators.{name}", how)
    m["trace.unattributed_s"] = per_pass("unattributed_s")
    inst = [sum(r.wall for r in p["ops"]) for p in warm]
    plain = [sum(r.wall for r in p["ops"]) for p in _warm(passes) if not p["instrumented"]]
    m["trace.overhead_s"] = median(inst) - median(plain)
    return m, per_op


@contextmanager
def _timed(phases: dict[str, float], name: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        phases[name] = time.perf_counter() - t0


def _op_id(p: dict, r) -> str:
    return f"{p['wl']}/{p['pass']}/{r.op}"


def main(argv: list[str] | None = None) -> int:
    age_at_main = process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-result", action="store_true",
                    help="self-test: one operation returns one row too few")
    ap.add_argument("--setup-child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(OUT, name + ("-setup" if args.setup_child else ""))
    shutil.rmtree(out, ignore_errors=True)
    conf = _environment(out)
    if args.setup_child:
        return _setup_child(args, conf, out)
    if traced:
        events = os.path.join(out, "eventlog")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
        })
    try:
        import data_bridge_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from a checkout of the repo ({exc})", file=sys.stderr)
        return 2
    loadavg = os.getloadavg()[0]
    workload = WORKLOADS[args.workload]
    phases: dict[str, float] = {}  # wall time of each step of this run
    with _timed(phases, "fixture"):
        fixture.verify()
    # setup_s is an end-to-end metric: the traced run does not need it
    with _timed(phases, "setup_children"):
        log = os.path.join(out, "setup-children.log")
        setups = [] if traced else [_child_setup_s(args, log) for _ in range(SETUP_CHILDREN)]
    with _timed(phases, "setup"):
        tracer = Tracer(enabled=traced)
        ctx, wl = _setup(workload, conf, fixture.DIR, out, args.seed, tracer,
                         args.inject_wrong_result)
    setups.append(age_at_main + phases["setup"])
    tracer.enabled = False
    try:
        steal0 = cpu_steal()
        with _timed(phases, "passes"):
            passes = _measure(ctx, wl, args.seconds, traced)
        steal = cpu_steal(steal0)
        with _timed(phases, "retained"):
            retained = _retained_mb(ctx, wl)
        host = _host(ctx.spark, loadavg, steal)
        with _timed(phases, "check"):
            wrong = wl.final_check([_op_id(p, r) for p in passes for r in p["ops"]])
    finally:
        with _timed(phases, "stop"):
            _stop(ctx.spark)

    ops = [(_op_id(p, r), r) for p in passes for r in p["ops"]]
    failed = [(o, r.error or r.problems or wrong[o]) for o, r in ops if r.failed or o in wrong]
    report = {"workload": wl.name, "seed": args.seed, "trace": args.trace, "host": host,
              "fixture": {"dir": fixture.DIR, "verify_s": phases["fixture"]},
              "attempted": len(ops), "failed": len(failed),
              "fail_ratio": len(failed) / len(ops),
              "failures": [{"op": o, "why": w} for o, w in failed[:20]],
              "phases_s": phases, "op_walls": {o: r.wall for o, r in ops}}
    if traced:
        logs = glob.glob(os.path.join(out, "eventlog", "*"))
        metrics, per_op = _per_layer(ctx, passes, logs[0])
        report["per_op"] = per_op
    else:
        metrics, detail = _end_to_end(setups, passes, retained)
        report.update(detail)
    report["metrics"] = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for o, why in failed[:5]:
        print(f"FAILED {o}: {why}", file=sys.stderr)
    summary = {k: report[k] for k in ("attempted", "failed", "fail_ratio", "host")}
    if traced:
        summary["unattributed_s"] = {o: d["unattributed_s"] for o, d in report["per_op"].items()}
    summary.update({k: report[k] for k in ("setup_samples_s", "warm_pass_walls_s", "op_tail_s",
                                           "op_tail_percentile", "op_tail_samples",
                                           "retained_jvm_heap_mb", "retained_python_rss_mb")
                    if k in report})
    print("perfbench " + json.dumps(summary, default=str))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": report["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
