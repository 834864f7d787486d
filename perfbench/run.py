#!/usr/bin/env python3
"""Closed-loop benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The run generates its fixture tables from
``--seed`` (``perfbench/datagen.py``), starts one ``local[$SPARK_GRAFT_CPUS]``
session through the package's ``get_session`` (``SPARK_GRAFT_CPUS`` set
to half the usable cores), stages and warms up the workload, then
issues operations one at a time: one whole pass, then on until
``--seconds`` seconds have passed.  Afterwards it checks every result
against DuckDB.

The last line of standard output is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics for
``--trace 1``.  The end-to-end metrics are set-up time (wall) and the CPU
time one pass of the workload's operation mix costs, each operation at its
kind's median (see ``trace.CpuClock``): ``pass_cpu_s`` for the whole pass,
``query_cpu_s`` for its reads.  Wall-time latencies — median and tail of
reads and commits, ops per second — are in the record and on standard
error; on a shared host they follow the neighbours' load too closely to
bound a regression.  A traced run records spans around the benchmark's calls
into each layer and reads Spark's status tracker and QueryExecution after
each operation; ``trace.overhead_ms`` is the time those reads cost per
operation, and the traced run's end-to-end numbers (in its record) show the
total overhead against an untraced run of the same seed.  The full record —
host facts, both metric sets, the tail percentile, span self times — is
written to ``.perfbench/results/``.  Scratch files live in
``.perfbench/run-<pid>/`` under the repository root and are removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sql_query_optimizer_cpp_spark"
#: Scale factor of the generated fixtures (TESTDATA.md's t2 scale).
SF = 0.01


def phase(name: str) -> None:
    """Log the end of a run phase, in seconds since process start."""
    print(f"# {time.perf_counter() - T0:7.2f}s {name}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work_dir``.
    Must run before pyspark is imported."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # half the usable cores run Spark tasks; the rest stay free for what
    # competes with them in one process tree — the JIT compiler threads
    # (about two cores busy through the whole run), GC and the Python
    # driver.  With every core given to tasks a lakehouse_rw pass took
    # about twice as long on a 4-core host.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat`` (jiffies:
    user nice system idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other machines between
    two :func:`cpu_times` readings."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def host_facts(args) -> dict:
    import duckdb
    import pyspark

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(ref_path):
                with open(ref_path) as f:
                    ref = f.read().strip()
        commit = ref
    # a checkout without .git still identifies its code by this digest
    source = hashlib.md5()
    for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            source.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                source.update(f.read())
    return {
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "sf": SF,
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": commit,
        "source_digest": source.hexdigest(),
    }


def execute(ctx, op, op_id: int, traced: bool, record: bool) -> None:
    """Run one operation under its own job group and record its sample."""
    from perfbench.trace import job_group_stats
    from perfbench.workloads import Sample

    sc = ctx.spark.sparkContext
    tr = ctx.tracer
    tr.enabled, tr.op = traced, op_id
    ctx.check = None
    group = f"perfbench-op-{op_id}"
    sc.setJobGroup(group, op.kind)
    c0 = ctx.cpu.start() if record else 0.0
    t0 = time.perf_counter()
    ok = True
    try:
        with tr.span(f"op.{op.category}"):
            ok = op.fn(group) is not False
    except Exception:  # an op that raises is a failed op, the run goes on
        ok = False
        traceback.print_exc(file=sys.stderr)
    wall = time.perf_counter() - t0
    cpu = ctx.cpu.stop() - c0 if record else 0.0
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    if traced:
        with tr.overhead():
            counts = job_group_stats(ctx.spark, group)
        for k, v in counts.items():
            tr.count(f"exec.{k}", v)
    if op.after is not None:
        try:
            op.after()
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
    if record:
        ctx.samples.append(
            Sample(op.kind, op.category, wall, ok, ctx.check, cpu)
        )


def timed_ops(passes, whole: int, start: float, seconds: float):
    """The ops of the first ``whole`` passes, then those of later passes
    until ``seconds`` have passed since ``start``."""
    for i, ops in enumerate(passes):
        for op in ops:
            if i >= whole and time.perf_counter() - start >= seconds:
                return
            yield op


def warm_up(ctx, workload, next_op_id) -> float:
    """Run the workload's warm-up pass — on a thread per core when its ops
    are independent, since compiling and class-loading is the bulk of a
    cold pass and overlaps well.  Nothing is recorded.  Returns seconds."""
    from concurrent.futures import ThreadPoolExecutor

    traced = ctx.tracer.enabled
    t0 = time.perf_counter()
    ops = workload.warmup_pass(ctx)
    if workload.parallel_warmup:
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            futures = [pool.submit(execute, ctx, op, next_op_id(), False, False)
                       for op in ops]
            for f in futures:
                f.result()
    else:
        for op in ops:
            execute(ctx, op, next_op_id(), False, False)
    ctx.tracer.enabled = traced
    return time.perf_counter() - t0


def layer_metrics(ctx, workload) -> dict[str, float]:
    from perfbench.workloads import MODES, VERBS

    tr = ctx.tracer

    def med_ms(name):
        d = tr.durations(name)
        return 1000 * statistics.median(d) if d else 0.0

    def one_s(name):
        d = tr.durations(name)
        return d[0] if d else 0.0

    def counter(name, how=statistics.fmean):
        v = tr.counters.get(name)
        return how(v) if v else 0.0

    m = {
        "session.get_session_s": one_s("session.get_session"),
        "catalog.views_ms": 1000 * one_s("catalog.views"),
        "inventory.build_ms": med_ms("inventory.build"),
        "inventory.eager_jobs": counter("inventory.eager_jobs"),
        "catalyst.analysis_ms": counter("catalyst.analysis_ms", statistics.median),
        "catalyst.optimization_ms": counter("catalyst.optimization_ms", statistics.median),
        "catalyst.planning_ms": counter("catalyst.planning_ms", statistics.median),
        "exec.action_ms": med_ms("exec.action"),
        "exec.jobs": counter("exec.jobs"),
        "exec.stages": counter("exec.stages"),
        "exec.tasks": counter("exec.tasks"),
        "exec.shuffle_write_bytes": counter("exec.shuffle_write_bytes"),
        "exec.spill_bytes": counter("exec.spill_bytes"),
        "exec.failed_tasks": counter("exec.failed_tasks", sum),
    }
    for verb in VERBS:
        for mode in MODES:
            m[f"dml.commit_ms.{verb}.{mode}"] = med_ms(f"dml.commit.{verb}.{mode}")
    m["dml.files_rewritten_per_commit"] = counter("dml.files_rewritten_per_commit")
    m["mor.read_ms"] = med_ms("mor.read")
    m["versioning.read_version_ms"] = med_ms("versioning.read_version")
    m["cdf.read_changes_ms"] = med_ms("cdf.read_changes")
    m["mor.materialize_ms"] = med_ms("mor.materialize")
    m["cache.hot_survival_ratio"] = 0.0
    for call in ("optimize", "explain", "transform_log", "cost"):
        m[f"plans.{call}_ms"] = med_ms(f"plans.{call}")
    m["plans.join_advice_ms"] = med_ms("plans.join_order_advice")
    m.update(workload.layer_metrics(ctx))
    m["trace.overhead_ms"] = 1000 * tr.overhead_s / len(ctx.samples)
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work_dir: str, rss) -> dict:
    from perfbench import stats
    from perfbench.datagen import write_fixtures
    from perfbench.trace import CpuClock, Tracer, jvm_gc_jit_s
    from perfbench.workloads import WORKLOADS, Context

    from sql_query_optimizer_cpp_spark.catalog import register_views
    from sql_query_optimizer_cpp_spark.session import get_session

    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("datagen"):
        sf_dir = write_fixtures(os.path.join(work_dir, "data"), args.seed, SF)
    phase("fixtures written")
    with tracer.span("session.get_session"):
        # the warehouse location is the only conf the benchmark sets: it
        # keeps catalog writes inside the run directory
        spark = get_session(
            app_name="perfbench",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse")},
        )
    try:
        with tracer.span("catalog.views"):
            register_views(spark, sf_dir)
        phase("session and views")
        ctx = Context(spark, sf_dir, work_dir, args.seed, tracer)
        ctx.cpu = CpuClock(spark)
        workload = WORKLOADS[args.workload]()
        with tracer.span("workload.setup"):
            workload.setup(ctx)
        phase("workload staged")
        ids = iter(range(1, 1 << 30))
        warmup_s = warm_up(ctx, workload, lambda: next(ids))
        phase("warmed up")
        # the timed op order must not depend on how warm-up threads drew
        ctx.rng = random.Random(args.seed)

        setup_s = time.perf_counter() - T0
        gc0, jit0 = jvm_gc_jit_s(spark)
        cpu0 = cpu_times()
        start = time.perf_counter()
        passes = workload.passes(ctx)
        first = next(passes)
        # a traced run covers every op kind the workload has, so each
        # per-layer span is measured
        whole = workload.traced_passes if args.trace else 1
        for op in timed_ops(itertools.chain([first], passes), whole, start, args.seconds):
            execute(ctx, op, next(ids), bool(args.trace), record=True)
        elapsed = time.perf_counter() - start
        gc1, jit1 = jvm_gc_jit_s(spark)
        steal = steal_share(cpu0, cpu_times())
        peak_rss_mb = rss.peak_mb  # the oracle checks below are not counted
        tracer.enabled = False

        phase("timed loop done")
        problems = workload.verify(ctx)
        phase("verified")
        for p in problems:
            print(f"# check failed: {p}", file=sys.stderr)
        samples = ctx.samples
        queries = [s for s in samples if s.category == "query"]
        commits = [s for s in samples if s.category == "commit"]
        # one pass of the mix, each op at its kind's median: a per-op median
        # of a mix jumps between kinds, and a mean follows its outliers
        kind_cpu = {k: statistics.median(s.cpu_s for s in samples if s.kind == k)
                    for k in {s.kind for s in samples}}
        end_to_end = {
            "setup_s": setup_s,
            "pass_cpu_s": sum(kind_cpu[op.kind] for op in first),
            "query_cpu_s": sum(kind_cpu[op.kind] for op in first if op.category == "query"),
        }
        failed = sum(not s.ok for s in samples)

        def latency(of: list, attr: str) -> dict | None:
            if not of:
                return None
            values = [getattr(s, attr) for s in of]
            p, v = stats.tail(values)
            return {"samples": len(values), "p50_s": statistics.median(values),
                    "tail_percentile": p, "tail_s": v}

        detail = {
            # wall time: what a caller waits, but on a shared host it moves
            # with the neighbours' load (see CpuClock)
            "query_wall": latency(queries, "wall_s"),
            "commit_wall": latency(commits, "wall_s"),
            "query_cpu": latency(queries, "cpu_s"),
            "commit_cpu": latency(commits, "cpu_s"),
            "ops_per_s": len(samples) / elapsed,
            "cpu_per_op_s": statistics.fmean(s.cpu_s for s in samples),
            "kind_cpu_p50_s": dict(sorted(kind_cpu.items())),
            "error_rate": failed / len(samples),
            "peak_rss_mb": peak_rss_mb,
            "warmup_s": warmup_s,
            "timed_s": elapsed,
            "timed_jvm_gc_s": gc1 - gc0,
            "timed_jvm_jit_s": jit1 - jit0,
            "timed_cpu_steal_share": steal,
            "problems": problems,
            "kind_p50_s": {k: statistics.median([s.wall_s for s in samples if s.kind == k])
                           for k in sorted({s.kind for s in samples})},
            "samples": [(s.kind, s.wall_s, s.ok, s.cpu_s) for s in samples],
        }
        per_layer = ({**layer_metrics(ctx, workload), "peak_rss_mb": peak_rss_mb}
                     if args.trace else {})
        record = {
            "host": host_facts(args),
            "end_to_end": end_to_end,
            "per_layer": per_layer,
            "detail": detail,
        }
        out_dir = os.path.join(ROOT, ".perfbench", "results")
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if args.trace and os.path.exists(untraced):
            # tracing overhead on the user-visible numbers: this run against
            # the last untraced run of the same seed
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["trace_overhead_e2e"] = {k: end_to_end[k] - base[k] for k in base}
        if args.trace:
            tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"), record)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1)
        summary = {k: v for k, v in detail.items() if k != "samples"}
        print(f"# {json.dumps({**end_to_end, **summary})}", file=sys.stderr)
        return {
            "correct": not problems and failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": per_layer if args.trace else end_to_end,
        }
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import RssSampler
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {', '.join(WORKLOADS)})", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_env(work_dir)
    try:
        with RssSampler() as rss:
            result = run(args, work_dir, rss)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = result["metrics"]
    print(json.dumps({
        **result,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
