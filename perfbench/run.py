"""Benchmark of the feature engine: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload hot_entities --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process drives one SparkSession
of ``local[nproc]`` and submits jobs one at a time. A run:

1. starts the session cold (JVM launch included) and registers the
   workload's input -> ``setup_s``. The seeded input is generated between
   the two, untimed, when it is not cached yet. One cold start per run: a
   second one costs as much again, and a warm restart on a live JVM would
   not show what a user waits for;
2. runs the job once untimed as the warm-up, and checks that run's output
   against an independent recomputation; a failed check counts as a failed
   operation;
3. runs complete passes for ``--seconds`` seconds, and at least the
   workload's ``min_passes`` -> ``job_s`` is the median pass time. With
   ``--trace 1`` the first half of the time runs plain passes and the
   second half traced passes, at least ``MIN_TRACED_PASSES`` each, whose
   layer outputs are materialized; the per-layer figures are medians over
   the traced passes, the resume figures and the peak memory come from
   the plain passes, and ``trace.overhead_s`` is the difference of the
   halves' medians;
4. prints one report line per metric and, last, the JSON result.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_TRACED_PASSES = 1
DRIVER_MEMORY = "2g"

# end-to-end metrics printed with --trace 0, with their units
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "events_per_s": "1/s",
}
# per-layer metrics printed with --trace 1; a layer a workload does not run
# reads 0
PER_LAYER = {
    "session.start_s": "s",
    "storage.scan_s": "s",
    "storage.scan_bytes": "bytes",
    "sessionize.s": "s",
    "sessionize.rows_in": "count",
    "sessionize.rows_out": "count",
    "asof.s": "s",
    "asof.hot_keys": "count",
    "asof.right_rows_in": "count",
    "asof.right_rows_salted": "count",
    "windows.s": "s",
    "sequence.ordered_s": "s",
    "sequence.chunk_s": "s",
    "sequence.chunks_out": "count",
    "checkpoint.units_run": "count",
    "checkpoint.units_skipped": "count",
    "checkpoint.mark_s": "s",
    "checkpoint.marks": "count",
    "checkpoint.completed_s": "s",
    "checkpoint.store_files": "count",
    "storage.write_s": "s",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "grid.s": "s",
    "pivot.s": "s",
    "pivot.rows_out": "count",
    "matrix.s": "s",
    "matrix.groups_out": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.task_failures": "count",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    "resume_s": "s",
    "unit_p50_s": "s",
    "stored_bytes_ratio": "ratio",
    "failed_ratio": "ratio",
}


def _prepare_environment() -> None:
    """Keep every file the JVM, Spark and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    for p in (ROOT, os.path.join(ROOT, "jobs")):
        if p not in sys.path:
            sys.path.insert(0, p)


def _spark_conf(event_log: str | None) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def _proc_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _reset_peak_rss(pid: int | str) -> None:
    """Reset VmHWM to the current RSS (Linux clear_refs), so the peak
    covers the plain timed passes only."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_environment()
    try:
        from geofeaturegeneration_spark.session import get_spark
        from pyspark import SparkContext

        import tracing
        from workloads import WORKLOADS, Ctx
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]()
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{wl.name}-seed{args.seed}-{os.getpid()}"
    event_log = os.path.join(WORK, "eventlog", run_id) if args.trace else None

    # 1. set-up: cold session start + input registration
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=_spark_conf(event_log))
    t_start = time.perf_counter() - t0
    ctx = Ctx(spark, args.seed, os.path.join(WORK, "runs", run_id),
              os.path.join(WORK, "inputs"), tracing.Tracer(run_id))
    t_gen = time.perf_counter()
    wl.prepare(ctx)  # untimed: input generation or cache lookup
    t_gen = time.perf_counter() - t_gen
    t1 = time.perf_counter()
    wl.register(ctx)
    setup_s = t_start + time.perf_counter() - t1
    jvm_pid = SparkContext._gateway.proc.pid
    events = wl.events()  # input rows, read from the Parquet files

    attempted = failed = 0
    times: list[float] = []
    traced_times: list[float] = []
    groups: list[str] = []
    failures: list[str] = []

    def one_pass(index: int, traced: bool) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        ctx.tr.enabled = traced
        group = f"{run_id}-pass{index}"
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            with ctx.tr.traced_pass(index):
                wl.run_pass(ctx)
        except Exception:
            failed += 1
            failures.append(traceback.format_exc())
            return None
        finally:
            ctx.tr.enabled = False
        if traced:
            groups.append(group)
        return time.perf_counter() - t0

    def timed_passes(bucket: list[float], traced: bool, min_passes: int, budget: float) -> None:
        nonlocal index
        t_end = time.perf_counter() + budget
        while len(bucket) < min_passes or time.perf_counter() < t_end:
            dt = one_pass(index, traced)
            index += 1
            if dt is not None:
                bucket.append(dt)
            elif len(failures) > 3:
                break

    # 2. warm-up: one complete untimed run of the job, whose output is checked
    spark.sparkContext.setJobGroup("checks", "checks")
    t_checks = time.perf_counter()
    try:
        results = wl.checks(ctx)
    except Exception:
        failures.append(traceback.format_exc())
        results = [("checks_completed", False, "raised")]
    attempted += len(results)
    failed += sum(not ok for _, ok, _ in results)
    ctx.info.clear()
    t_checks = time.perf_counter() - t_checks

    # 3. timed passes; the peak memory covers the plain passes only
    _reset_peak_rss("self")
    _reset_peak_rss(jvm_pid)
    budget = args.seconds / 2 if args.trace else args.seconds
    index = 1
    min_passes = MIN_TRACED_PASSES if args.trace else wl.min_passes
    timed_passes(times, False, min_passes, budget)
    peak_kb = _proc_kb(jvm_pid, "VmHWM") + _proc_kb("self", "VmHWM")
    info = {k: list(v) for k, v in ctx.info.items()}
    if args.trace:
        timed_passes(traced_times, True, min_passes, budget)

    app_id = spark.sparkContext.applicationId
    _stop_jvm(spark)
    shutil.rmtree(ctx.work, ignore_errors=True)

    for f in failures:
        print(f, file=sys.stderr)
    if not times:
        print("perfbench: no pass completed", file=sys.stderr)
        return 1

    # 4. metrics
    job_s = statistics.median(times)
    e2e = {
        "setup_s": setup_s,
        "job_s": job_s,
        "events_per_s": events / job_s,
    }
    extra = {"peak_rss_mb": peak_kb / 1024, "failed_ratio": failed / attempted}
    if info.get("resume_s"):
        extra["resume_s"] = statistics.median(info["resume_s"])
        extra["unit_p50_s"] = statistics.median(info["unit_s"])
        extra["stored_bytes_ratio"] = statistics.median(info["stored_bytes_ratio"])

    for name, ok, detail in results:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    print(f"workload {wl.name} seed {args.seed}: {events} events, {len(times)} timed passes"
          f" {[round(t, 3) for t in times]}")
    print(f"untimed: input {t_gen:.1f} s, warm-up with checks {t_checks:.1f} s")
    for k, v in {**e2e, **extra}.items():
        print(f"metric {k} = {v:.6g} {END_TO_END.get(k) or PER_LAYER[k]}")

    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(ctx.tr.medians())
        layer.update(extra)
        layer["session.start_s"] = t_start
        layer["storage.scan_bytes"] = wl.input_bytes
        if traced_times:
            layer["trace.overhead_s"] = statistics.median(traced_times) - job_s
            log = tracing.event_log_file(event_log, app_id)
            layer.update(tracing.spark_metrics(log, groups))
        ctx.tr.write(os.path.join(WORK, "traces", run_id + ".json"))
        for k in PER_LAYER:
            print(f"layer {k} = {layer[k]:.6g} {PER_LAYER[k]}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}

    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
