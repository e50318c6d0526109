#!/usr/bin/env python3
"""Benchmark of the nebula_importer_spark package, one workload per run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run starts one Spark session on
``local[4]`` through the program's own ``session.get_spark``, sets up the
workload from the seed, runs one cold op and one untimed warm-up op, then
runs a closed loop (one client, next op after the previous one returns) for
``--seconds`` and at least ``MIN_TIMED_OPS`` ops. Every op's output is
checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced op after the warm-up and prints the per-layer
metrics (see ``layers.py``). The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Everything the
run writes stays under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
#: two shuffle partitions per core; the package default (32) is sized for
#: far larger inputs and would make per-task scheduling the measured cost
SHUFFLE_PARTITIONS = 8
SETUP_REPEATS = 3
#: untimed ops between the cold op and the timed ones: the op after the
#: cold one still runs about a tenth slower than the rest (see README.md)
WARMUP_OPS = 1
MIN_TIMED_OPS = 4
HEAP_SAMPLES = 6


def _isolate(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    # C1 only: with the default tiered JIT, op time keeps sliding for about
    # 15-20 ops (70-100 s) as C2 compiles Spark's planner, longer than a run
    # can wait. C1 at a tenth of its usual invocation thresholds compiles
    # what an op runs within the cold op, so op time is flat from the second
    # op (see README.md). C1 alone gets a 48 MB code cache, which Spark's
    # generated classes fill within a few ops; the JVM then disables its
    # compiler and later ops run interpreted, at a point that differs from
    # run to run, so the cache gets the size tiered compilation would have
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        "-XX:ReservedCodeCacheSize=240m -XX:CompileThresholdScaling=0.1")
    # the heap starts at its full size: growing it over the first ops is
    # one more slide in op time
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.driver.defaultJavaOptions=-Xms3g "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
    )
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    import tempfile

    tempfile.tempdir = tmp


class Runner:
    """Runs and checks ops, keeping the tally that feeds ``ok_share``."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, i: int, tracer=None, inputs: int | None = None):
        """Run op ``i`` on the inputs of op ``inputs`` (default: its own);
        returns (seconds, Op), or (seconds, None) when the op raised."""
        prepare = getattr(self.w, "prepare", None)
        if prepare is not None:
            prepare(i if inputs is None else inputs)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                op = self.w.op(i)
            else:
                with tracer.span(tracer.op_layer):
                    op = self.w.op(i, tracer)
        except Exception:  # an op that raises counts as failed; keep going
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"op {i} raised")
            return time.perf_counter() - t0, None
        wall = time.perf_counter() - t0
        problems = self.w.check(op)
        self.w.release(op)
        if problems:
            self.failed += 1
            self.problems += [f"op {i}: {p}" for p in problems]
        return wall, op

    def warm_up(self, first: int) -> int:
        """WARMUP_OPS untimed ops; returns the next op index."""
        for i in range(first, first + WARMUP_OPS):
            self.run(i)
        return first + WARMUP_OPS


def _heap_retained_mb(spark) -> float:
    """Smallest heap in use over a few forced full GCs.

    Python's collector runs first, so no JVM object stays pinned by a dead
    Python handle. Spark's ContextCleaner drops cached and checkpointed
    blocks asynchronously once a GC has found their owners dead, so a
    single sample can still count them; the minimum does not.
    """
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    samples = []
    for _ in range(HEAP_SAMPLES):
        jvm.java.lang.System.gc()
        samples.append(rt.totalMemory() - rt.freeMemory())
        time.sleep(0.25)
    return min(samples) / 2**20


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(runner: Runner, spark, setup_s: float, seconds: float, start: int) -> dict:
    i = runner.warm_up(start)
    walls, records = [], 0
    t0 = time.perf_counter()
    while len(walls) < MIN_TIMED_OPS or time.perf_counter() - t0 < seconds:
        wall, op = runner.run(i)
        i += 1
        walls.append(wall)
        records += op.records if op is not None else 0
    del op
    print("perfbench: timed ops " + " ".join(f"{w:.3f}" for w in walls) + " s",
          file=sys.stderr)
    heap = _heap_retained_mb(spark)
    walls.sort()
    p50 = statistics.median(walls)
    return {
        "setup_s": _metric(setup_s, "s"),
        "op_p50_s": _metric(p50, "s"),
        # the highest percentile with a timed op beyond it: the second
        # slowest. A run has a handful of ops, too few for the ten beyond it
        # a tail percentile should have, and the slowest alone is whichever
        # op met the host's worst burst
        "op_tail_s": _metric(walls[-2], "s"),
        # the median op's rate: one op slowed by the host does not move it
        "records_per_s": _metric(records / len(walls) / p50, "1/s"),
        "ok_share": _metric((runner.attempted - runner.failed) / runner.attempted, "ratio"),
        "heap_retained_mb": _metric(heap, "MB"),
    }


def per_layer(runner: Runner, spark, first_s: float, start: int, spans_path: str) -> dict:
    import layers as tr

    sc = spark.sparkContext
    i = runner.warm_up(start)

    # untraced op: exact job/stage/task counts, cache peak, baseline wall
    sc.setJobGroup("count", "untraced op")
    with tr.CachePoller(sc) as poller:
        base_wall, base = runner.run(i)
    counts = tr.op_counts(sc, "count")
    i += 1

    # traced op: same inputs as the untraced one, so the outputs must match
    tracer = tr.Tracer(spark)
    tracer.op_id = i
    tracer.install()
    try:
        traced_wall, traced = runner.run(i, tracer, inputs=i - 1)
    finally:
        tracer.unpatch()
        tracer.release()
    sc.setJobGroup("untraced", "untraced")
    if base is not None and traced is not None and base.fingerprint != traced.fingerprint:
        runner.failed += 1
        runner.problems.append(
            f"traced output {traced.fingerprint} != untraced {base.fingerprint}")
    runner.problems += runner.w.final_check()

    spark.stop()
    events = tr.read_eventlog(os.environ["SPARK_GRAFT_EVENTLOG"])
    with open(spans_path, "w") as f:
        json.dump(tracer.spans, f)

    selfs = tr.self_times(tracer.spans)
    layer_self = {}
    for s in tracer.spans:
        layer_self[s["name"]] = layer_self.get(s["name"], 0.0) + selfs[s["id"]]
    probe_s = layer_self.get(tr.PROBE, 0.0)
    c = dict(tracer.counts)
    c.update(runner.w.layer_counts(tracer) if hasattr(runner.w, "layer_counts") else {})
    c["spark.jobs_per_op"] = counts["jobs"]
    c["spark.stages_per_op"] = counts["stages"]
    c["spark.tasks_per_op"] = counts["tasks"]
    c["spark.cached_mb_peak"] = poller.peak / 2**20
    c["spark.first_op_s"] = first_s
    if c.get("link.rows_in"):
        c["link.hit_ratio"] = c["link.rows_out"] / c["link.rows_in"]
    if c.get("statements.slots"):
        c["statements.fill_ratio"] = c["statements.records"] / c["statements.slots"]

    out = {}
    for layer, extra in tr.LAYERS.items():
        if layer == tr.OP_LAYER:  # the whole op: every group of the trace
            groups = [g for g in events if g and g.startswith(tr.GROUP_PREFIX)
                      and g != tr.GROUP_PREFIX + tr.PROBE]
            wall = traced_wall - probe_s
        else:
            groups = [tr.GROUP_PREFIX + layer]
            wall = layer_self.get(layer, 0.0)
        out[f"{layer}.wall_s"] = wall
        for m in tr.EVENT_METRICS:
            out[f"{layer}.{m}"] = sum(events[g][m] for g in groups if g in events)
        for m in extra:
            out[f"{layer}.{m}"] = c.get(f"{layer}.{m}", 0)
    covered = sum(v for k, v in layer_self.items() if k not in (tr.OP_LAYER, tr.PROBE))
    out["trace.overhead_ratio"] = traced_wall / base_wall
    out["trace.coverage"] = covered / (traced_wall - probe_s)
    return {k: _metric(v, tr.unit_of(k)) for k, v in out.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the package under test must be this checkout's, never an installed copy
    sys.path.insert(0, ROOT)
    try:
        import nebula_importer_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(nebula_importer_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: package not from {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, bool(args.trace))
    from pyspark import SparkContext

    from nebula_importer_spark.session import get_spark

    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        gateway = SparkContext._gateway
        try:
            workload = WORKLOADS[args.workload](args.seed, work)
            runner = Runner(workload)
            setups = []
            for _ in range(1 if args.trace else SETUP_REPEATS):
                t0 = time.perf_counter()
                workload.setup(spark)
                setups.append(time.perf_counter() - t0)
            setup_s = session_s + statistics.median(setups)
            first_s, _ = runner.run(0)
            print(f"perfbench: session {session_s:.3f} s, set-ups "
                  + " ".join(f"{t:.3f}" for t in setups) + f" s, first op {first_s:.3f} s",
                  file=sys.stderr)
            if args.trace:
                spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.json")
                metrics = per_layer(runner, spark, first_s, 1, spans)
            else:
                metrics = end_to_end(runner, spark, setup_s, args.seconds, 1)
                runner.problems += workload.final_check()
        finally:
            spark.stop()
            # the JVM exits when its stdin closes; wait so no process outlives us
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for problem in runner.problems:
        print(f"perfbench: check failed: {problem}", file=sys.stderr)
    correct = not runner.problems
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
