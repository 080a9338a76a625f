"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload singer_sync --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The process starts a Spark session on
``local[<cpus>]``, generates the workload's inputs from the seed, builds its
base state, makes two untimed warm-up passes, then runs ops back to back
(one client, closed loop) until ``--seconds`` have passed. Every op is
checked against the generator's planted answer.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics, measured on three traced ops around one untraced op, so
the run can also report the tracing overhead. The last stdout line
is the result object; the line before it is the run's environment record.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Untimed passes through the op before timing starts. On a 4-vCPU box a
# cold op runs 2-3x slower than a steady one (corpus_dedup: 13.3, 4.9, 4.2,
# 4.2, 3.9 s); from the third op on, times are within ~10% of steady. More
# passes do not fit the run budget (70 runs in 3420 s).
WARMUP_PASSES = 2

# Ops per traced run: traced, untraced, traced, traced. The per-layer
# figures are medians over the traced ops. The untraced op is the baseline
# for the tracing overhead; it is compared with the mean of the two traced
# ops around it, because ops still get faster after the warm-up passes.
TRACED_RUN_OPS = 4


def _units() -> tuple[dict[str, str], dict[str, str]]:
    """Metric name → unit, end-to-end and per-layer, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(work: str, cpus: int):
    from gluestick_spark import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # Keep every file Spark and Python write inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # The traced run reads every job and stage of an op back from
            # the status store; keep them all (both modes, so the two runs
            # hold the same JVM state).
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF from its parent
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def _retained_mb(spark) -> float:
    """JVM heap in use after a full GC, plus cached blocks the block
    manager holds off the heap (on disk). On-heap cached blocks are already
    in the heap figure, so a DataFrame persisted and never unpersisted
    shows here once.

    One GC is not enough: right after the ops, Python proxies, finalizers
    and Spark's cleaner still hold garbage, and the first GC leaves up to
    twice the live heap. Python's collector runs first, then the least heap
    in use over a few spaced JVM GCs is taken."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap_mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = []
    for _ in range(4):
        jvm.java.lang.System.gc()
        heap.append(heap_mx.getHeapMemoryUsage().getUsed())
        time.sleep(0.2)
    on_disk = sum(info.diskSize() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return (min(heap) + on_disk) / (1024 * 1024)


def _environment(spark, cpus: int) -> dict:
    """Box-speed figures, not gated: they tell box drift from a code change."""
    floor = []
    for _ in range(5):
        t = time.perf_counter()
        spark.range(10).count()
        floor.append(time.perf_counter() - t)
    calib = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 20_000_000, 1, cpus).selectExpr("sum(hash(id) % 7)").collect()
        calib.append(time.perf_counter() - t)
    return {"env.cpus": cpus, "env.job_floor_ms": min(floor) * 1000, "env.calibration_s": min(calib)}


class Runner:
    """Runs one workload's ops and keeps what the metrics need."""

    def __init__(self, workload, spark, traced: bool) -> None:
        from spans import Timer, Tracer

        self.w = workload
        self.timer = Timer()
        self.tracer = Tracer(spark) if traced else None
        self.attempted = 0
        self.failed = 0

    def run_op(self, tr) -> float | None:
        """One op: untimed reset, timed op, untimed check. Returns the op's
        seconds, or None if it raised or failed its check."""
        self.attempted += 1
        self.w.reset()
        tr.begin_op(self.attempted)
        try:
            t0 = time.perf_counter()
            self.w.op(tr)
            seconds = time.perf_counter() - t0
            problems = self.w.check()
        except Exception:
            traceback.print_exc()
            problems = ["op raised"]
        finally:
            self.last = tr.end_op()
        if problems:
            self.failed += 1
            print(f"op {self.attempted} failed its check: {problems}", file=sys.stderr)
            return None
        return seconds


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cpus = _cpus()
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = _start_spark(work, cpus)
        t_session = time.perf_counter()
        spark.range(1).count()
        t_first = time.perf_counter()
        result, env = _run(args, spark, work, cpus, t_session - T_START, t_first - t_session)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


def _run(args, spark, work: str, cpus: int, session_s: float, first_job_s: float):
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    w = workloads.WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
    r = Runner(w, spark, bool(args.trace))

    # A workload whose set-up already ran the op's calls once counts that
    # pass as the first warm-up pass.
    base_pass = w.prepare(r.timer)
    warm: list[float] = [base_pass] if base_pass else []
    while len(warm) < WARMUP_PASSES:
        warm.append(r.run_op(r.timer))
    setup_s = time.perf_counter() - T_START

    _reset_peak_rss()
    plain = []  # (seconds, OpTrace) of untraced ops that passed their check
    traced = []  # the same for traced ops
    n = 0
    t0 = time.perf_counter()
    min_ops = TRACED_RUN_OPS if r.tracer else 1
    while n < min_ops or time.perf_counter() - t0 < args.seconds:
        use_tracer = r.tracer is not None and n != 1
        n += 1
        s = r.run_op(r.tracer if use_tracer else r.timer)
        if s is not None:
            (traced if use_tracer else plain).append((s, r.last))
    if not plain or (r.tracer and len(traced) < 2):
        raise RuntimeError("no timed op passed its check")
    peak_rss = _peak_rss_mb()
    disk = workloads.dir_mb(*w.written())
    retained = _retained_mb(spark)
    env = _environment(spark, cpus)

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "warmup_ops_s": warm,
        "timed_ops": len(plain),
        "traced_ops": len(traced),
        "ops_failed_ratio": r.failed / r.attempted,
        **env,
    }
    seconds = [s for s, _t in plain]
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "op_p50_s": median(seconds),
            "rows_per_s": w.input_rows * len(seconds) / sum(seconds),
            "py_peak_rss_mb": peak_rss,
            "retained_mb": retained,
            "disk_write_mb": disk,
        }
    else:
        values = {
            "session.start_s": session_s,
            "session.first_job_s": first_job_s,
            **_per_layer(w, [t for _s, t in traced]),
            "trace.overhead_s": (traced[0][0] + traced[1][0]) / 2 - seconds[0],
            **env,
        }
    units = _units()[args.trace]
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }
    return result, info


def _per_layer(w, traces) -> dict[str, float]:
    """Per-layer metrics from the traced ops: medians over ops of each
    span's wall time and counters, 0 for a layer the workload never calls."""
    import workloads
    from spans import summarize

    med = summarize(traces)

    def g(key: str) -> float:
        return med.get(key, 0.0)

    sink_rows = sum(getattr(w.answer, "records", {}).values())
    sink_s = g("sink.seconds")
    dedup_spans = ("exact_dedup", "near_dup_pairs", "cluster_dedup", "corpus.exec")
    trig = [workloads.trigger_metrics(t.triggers) for t in traces if t.triggers]

    def tmed(key: str) -> float:
        return median(m[key] for m in trig) if trig else 0.0

    return {
        "reader.call_s": g("reader.seconds"),
        "reader.jobs": g("reader.jobs"),
        "restructure.call_s": g("restructure.seconds"),
        "restructure.jobs": g("restructure.jobs"),
        "snapshot.call_s": g("snapshot.seconds"),
        "snapshot.jobs": g("snapshot.jobs"),
        "snapshot.shuffle_mb": g("snapshot.shuffle_mb"),
        "snapshot.write_mb": g("snapshot.write_mb"),
        "drop_redundant.call_s": g("drop_redundant.seconds"),
        "drop_redundant.jobs": g("drop_redundant.jobs"),
        "drop_redundant.shuffle_mb": g("drop_redundant.shuffle_mb"),
        "drop_redundant.write_mb": g("drop_redundant.write_mb"),
        "sink.call_s": sink_s,
        "sink.jobs": g("sink.jobs"),
        "sink.rows_per_s": sink_rows / sink_s if sink_s else 0.0,
        "exact_dedup.call_s": g("exact_dedup.seconds"),
        "near_dup_pairs.call_s": g("near_dup_pairs.seconds"),
        "cluster_dedup.call_s": g("cluster_dedup.seconds"),
        "cluster_dedup.jobs": g("cluster_dedup.jobs"),
        "corpus.exec_s": g("corpus.exec.seconds"),
        "corpus.exec_jobs": g("corpus.exec.jobs"),
        "corpus.shuffle_mb": sum(g(f"{s}.shuffle_mb") for s in dedup_spans),
        "corpus.spill_mb": sum(g(f"{s}.spill_mb") for s in dedup_spans),
        "stream.start_s": g("stream.start.seconds"),
        "trigger.n": tmed("trigger.n"),
        "trigger.p50_s": tmed("trigger.p50_s"),
        "trigger.first_s": tmed("trigger.first_s"),
        "trigger.last_s": tmed("trigger.last_s"),
        "trigger.add_batch_s": tmed("trigger.add_batch_s"),
        "trigger.overhead_s": tmed("trigger.overhead_s"),
        "stream.jobs": g("stream.start.jobs") + g("stream.run.jobs"),
        "stream.state_mb": workloads.dir_mb(w.state) if trig else 0.0,
        "op.jobs": g("op.jobs"),
        "op.stages": g("op.stages"),
        "op.tasks": g("op.tasks"),
        "op.shuffle_mb": g("op.shuffle_mb"),
        "op.spill_mb": g("op.spill_mb"),
    }


if __name__ == "__main__":
    sys.exit(main())
