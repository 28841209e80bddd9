"""Benchmark entry point: one workload, one fresh process, one JSON result line.

    python3 perfbench/run.py --workload dsl_nested --seed 1 --seconds 12 \
        --trace 0

Run from the root of a checkout.  The run makes its inputs from the seed
(``datagen``), starts a Spark session on ``local[<cpus>]``, sets the
workload up, runs one untimed warm-up round, then times whole rounds of
the same ops, one client, closed loop.  The number of rounds is fixed by
``--seconds`` and the workload's nominal round length (``round_s``), not
by the clock, so every run of a workload does the same work however fast
the host is, and its CPU time per op repeats; a run measures for about
``--seconds`` on a 4-vCPU host with some CPU steal.  Outputs are checked
outside the timed region; the last line of stdout is the result object.  With
``--trace 1`` the metrics are the per-layer ones and the spans are
written to ``.bench_out/``.  ``--quick`` runs a tiny input (sf0.001)
and a single round, for the benchmark's own tests.

Everything a run writes lives under ``.bench_work/`` in the checkout
and is removed at the end, except the trace file.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUICK_SF = 0.001


def _metric(value, unit):
    return {"value": value, "unit": unit}


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


class Ctx:
    """What an op needs: the session, the paths, the tracer, counters."""

    def __init__(self, spark, data_dir, work_dir, tracer, counters, rng):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.counters = counters
        self.rng = rng
        self.op_counts = dict.fromkeys(counters.FIELDS, 0.0)

    @contextmanager
    def phase(self, name):
        """A layer span; traced runs also read the Spark counters at its
        end (in a ``trace.probe`` span) and book them to the layer."""
        with self.tracer.span(name):
            yield
        if self.tracer.on:
            with self.tracer.span("trace.probe"):
                got = self.counters.read()
            for k, v in got.items():
                self.tracer.add(f"{name}.{k}", v)
                self.op_counts[k] += v

    def plan(self, df):
        """Force analysis, optimization and physical planning."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        if self.tracer.on:
            self.tracer.add("catalyst.plan_nodes",
                            len(qe.optimizedPlan().treeString().splitlines()))

    def duck(self):
        from perfbench.check import duck

        return duck(self.data_dir)


def make_workload(name):
    from perfbench.wl_dsl import DslNested
    from perfbench.wl_registry import RegistryExec
    from perfbench.wl_table import TableMerge
    from perfbench.workload import Mix

    if name == "dsl_nested":
        return DslNested()
    return Mix("registry_table", sf=0.1, round_s=6.0,
               registry=RegistryExec(), table=TableMerge())


def _prepare_env(work_dir):
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work_dir, "store"), exist_ok=True)
    os.environ["SPARK_GRAFT_STORE_ROOT"] = os.path.join(work_dir, "store")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed 2 GB heap (initial = maximum) with a fixed young generation
    # keeps the JVM's resident size (and the machine's memory) alike from
    # run to run: get_spark's default heap is 16g, sized adaptively, and a
    # heap grown on demand moved peak RSS by 13% between runs of the same
    # ops.  The JIT compiler threads are kept alive so ProcessCpu can read
    # them.
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    java_opts = shlex.quote(
        f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -Xms2g -Xmn256m"
        " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} pyspark-shell")
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited
    (it exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def run(args, work_dir) -> "tuple[dict, dict]":
    """Returns (result, diagnostics)."""
    import numpy as np

    from perfbench import datagen
    from perfbench.probe import (HostState, ProcessCpu, SparkCounters,
                                 Tracer, peak_rss_mb)

    host = HostState()
    _prepare_env(work_dir)
    data_dir = os.path.join(work_dir, "data")
    t, cpu_t = time.perf_counter(), time.process_time()
    wl = make_workload(args.workload)
    datagen.write_tables(data_dir, args.seed,
                         QUICK_SF if args.quick else wl.sf)
    datagen_s = time.perf_counter() - t
    datagen_cpu_s = time.process_time() - cpu_t

    tracer = Tracer(bool(args.trace))
    tracer.op_id = "setup"
    from dataframe_expressions_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}")
        spark.range(1).count()
    try:
        counters = SparkCounters(spark)
        cpu = ProcessCpu(counters.jvm_pid())
        rng = np.random.default_rng(args.seed)
        ctx = Ctx(spark, data_dir, work_dir, tracer, counters, rng)
        wl.setup(ctx)
        ops = wl.ops()

        failed, errors = 0, []
        seq = itertools.count()

        def one(op):
            """Run one op; return (seconds, counts) or None if it raised.
            The counts include the op's Python and JVM CPU seconds."""
            nonlocal failed
            wl.before(ctx, op)
            tracer.op_id = next(seq)
            ctx.op_counts = dict.fromkeys(SparkCounters.FIELDS, 0.0)
            try:
                cpu0 = cpu.read()
                t0 = time.perf_counter()
                with tracer.span("op"):
                    out = wl.run(ctx, op)
                dt = time.perf_counter() - t0
                cpu1 = cpu.read()
            except Exception:  # noqa: BLE001 — a failed op is counted
                failed += 1
                errors.append(traceback.format_exc(limit=4))
                counters.read()
                return None
            counts = ctx.op_counts
            for k, v in counters.read().items():
                counts[k] += v
            for k, v0, v1 in zip(CPU_FIELDS, cpu0, cpu1):
                counts[k] = v1 - v0
            errors.extend(wl.after(ctx, op, out))
            return dt, counts

        # warm-up: one untimed round, counted in set-up time
        samples = []
        for op in ops:
            one(op)
        wl.end_round(ctx)
        warm_failed, failed = failed, 0
        tracer.counts.clear()  # per-layer counts cover the timed rounds
        # set-up cost in CPU seconds, for the reason cpu_s_per_op is: its
        # wall time moved with the host's load by more than any bound
        setup_wall_s = time.perf_counter() - T_PROCESS - datagen_s
        py, jvm, _jit = cpu.read()
        setup_s = py - datagen_cpu_s + jvm

        totals = dict.fromkeys(SparkCounters.FIELDS + CPU_FIELDS, 0.0)
        gc0 = counters.gc_s()
        t_measure = time.perf_counter()
        attempted, op_ids = 0, []
        rounds = 1 if args.quick else max(1, round(args.seconds / wl.round_s))
        for rnd in range(rounds):
            for op in ops:
                attempted += 1
                got = one(op)
                if got is not None:
                    samples.append(got[0])
                    op_ids.append(tracer.op_id)
                    for k, v in got[1].items():
                        totals[k] += v
            wl.end_round(ctx)
        measure_s = time.perf_counter() - t_measure
        gc_s = counters.gc_s() - gc0

        errors.extend(wl.check(ctx))
        rss = peak_rss_mb(counters.jvm_pid())
        sink_tables = wl.sink_tables(spark)
    finally:
        _stop(spark)
        wl.cleanup()

    n = len(samples)
    if not n:
        raise RuntimeError("every timed op failed: " + "".join(errors[:1]))
    result = {
        "correct": not errors and warm_failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    cpu_s_per_op = (totals["py_cpu_s"] + totals["jvm_cpu_s"]) / n
    if not args.trace:
        result["metrics"] = {
            "setup_s": _metric(setup_s, "s"),
            "cpu_s_per_op": _metric(cpu_s_per_op, "s"),
            "peak_rss_mb": _metric(rss, "MB"),
            "jobs_per_op": _metric(totals["jobs"] / n, "jobs"),
            "tasks_per_op": _metric(totals["tasks"] / n, "tasks"),
            "input_mb_per_op": _metric(totals["input_mb"] / n, "MB"),
        }
    else:
        result["metrics"] = per_layer(tracer, op_ids, totals, gc_s, n,
                                      sink_tables)
        os.makedirs(os.path.join(os.getcwd(), ".bench_out"), exist_ok=True)
        tracer.dump(os.path.join(os.getcwd(), ".bench_out",
                                 f"trace-{args.workload}-{args.seed}.jsonl"))
    diagnostics = {
        "ops": n, "rounds": rounds, "ops_per_round": len(ops),
        # wall times are what a user waits for, but on a shared host they
        # move with the CPU steal by more than any bound allows, so they
        # are diagnostics; also in traced runs (traced minus untraced is
        # the trace overhead)
        "op_p50_s": round(median(samples), 5),
        "ops_per_s": round(n / sum(samples), 5),
        "cpu_s_per_op": round(cpu_s_per_op, 5),
        "jit_cpu_s_per_op": round(totals["jit_cpu_s"] / n, 5),
        "setup_wall_s": round(setup_wall_s, 3),
        "measure_s": round(measure_s, 3), "datagen_s": round(datagen_s, 3),
        "host": host.finish(),
        "errors": errors[:5],
    }
    if args.trace:
        worst, med = tracer.coverage(op_ids)
        diagnostics["span_coverage"] = {"min": round(worst, 4),
                                        "median": round(med, 4)}
    return result, diagnostics


# per-layer metric: (name, unit, how it is derived)
PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.tables.view_build_s", "s"),
    ("plans.capture_s", "s"),
    ("plans.capture_nodes", "count"),
    ("plans.lower_s", "s"),
    ("plans.persisted_frames", "count"),
    ("catalyst.plan_s", "s"),
    ("catalyst.plan_nodes", "count"),
    ("operators.build_s", "s"),
    ("operators.build_jobs", "jobs"),
    ("exec.run_s", "s"),
    ("exec.jobs", "jobs"),
    ("exec.tasks", "tasks"),
    ("exec.input_mb", "MB"),
    ("exec.shuffle_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.task_cpu_s", "s"),
    ("jvm.gc_s", "s"),
    ("python.cpu_s", "s"),
    ("jvm.cpu_s", "s"),
    ("jvm.jit_cpu_s", "s"),
    ("mergetable.merge_s", "s"),
    ("mergetable.buckets_rewritten", "count"),
    ("mergetable.written_mb", "MB"),
    ("mergetable.read_s", "s"),
    ("mergetable.feed_s", "s"),
    ("mergetable.files_read", "count"),
    ("mergetable.travel_s", "s"),
    ("mergetable.compact_s", "s"),
    ("streaming.run_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("streaming.sink_tables", "count"),
)


# CPU seconds read around every op: this process, the JVM without its JIT
# compiler threads, and those threads
CPU_FIELDS = ("py_cpu_s", "jvm_cpu_s", "jit_cpu_s")
CPU_METRICS = dict(zip(("python.cpu_s", "jvm.cpu_s", "jvm.jit_cpu_s"),
                       CPU_FIELDS))


def per_layer(tracer, op_ids, totals, gc_s, n, sink_tables) -> dict:
    """Per-layer metrics of a traced run.  Times and counts are per timed
    op (summed over the measured rounds, divided by the op count);
    ``session.start_s`` and ``view_build_s`` are one-time set-up costs;
    ``sink_tables`` is the memory-sink views left at the end."""
    spans = tracer.totals(op_ids)
    setup = tracer.totals(["setup"])
    counts = tracer.counts
    out = {}
    for name, unit in PER_LAYER:
        if name in ("session.start_s", "sources.tables.view_build_s"):
            v = setup.get(name[:-2], 0.0)
        elif name == "streaming.sink_tables":
            v = float(sink_tables)
        elif name == "jvm.gc_s":
            v = gc_s / n
        elif name in CPU_METRICS:
            v = totals[CPU_METRICS[name]] / n
        elif name.startswith("exec.") and name != "exec.run_s":
            v = totals[name[5:]] / n
        elif name == "operators.build_jobs":
            v = counts.get("operators.build.jobs", 0.0) / n
        elif name in counts:  # accumulated at a boundary, not a span
            v = counts[name] / n
        elif name.endswith("_s"):
            v = spans.get(name[:-2], 0.0) / n
        else:
            v = counts.get(name, 0.0) / n
        out[name] = _metric(v, unit)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("dsl_nested", "registry_table"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--quick", action="store_true",
                   help="sf0.001 input and a single measured round")
    args = p.parse_args(argv)

    # the package under test must come from this checkout
    sys.path.insert(0, ROOT)
    try:
        import dataframe_expressions_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}",
              file=sys.stderr)
        return 2
    work_dir = os.path.join(os.getcwd(), ".bench_work",
                            f"{args.workload}-{os.getpid()}")
    try:
        result, diagnostics = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass
    print("diagnostics: " + json.dumps(diagnostics))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
