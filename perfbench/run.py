"""Crawl-system benchmark: one driver process, local[4], one Spark job at a
time (a closed loop with a single client).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 \
        --trace 0

Every line but the last is a human-readable report; the last line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES = 4
SHUFFLE_PARTITIONS = 8          # what session.get_spark picks for 4 cores
DRIVER_MEMORY = "2g"            # well below RAM; the factory default is 48g
REP_TIMEOUT_S = 120


def session_conf(work: str) -> dict[str, str]:
    """Settings pinned on top of session.get_spark's own. Scratch, spill and
    temp files all stay inside the checkout's work directory."""
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job and stage of a run readable by the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Sessions:
    """Starts and stops the run's Spark sessions; the first start launches
    the JVM, later ones restart the SparkContext inside it."""

    def __init__(self, work: str):
        self.conf = session_conf(work)
        self.spark = None

    def fresh(self):
        from genesis_spark.session import get_spark
        self.stop()
        self.spark = get_spark(app_name="perfbench", cores=CORES,
                               shuffle_partitions=SHUFFLE_PARTITIONS,
                               extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext
        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()          # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def storage_state(spark) -> tuple[int, float]:
    """(cached RDDs, their memory + disk MB) in Spark storage right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return len(infos), mb


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "console_progress": spark.conf.get("spark.ui.showConsoleProgress"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "nproc": len(os.sched_getaffinity(0)),
    }


def timed_rep(sessions: Sessions, wl, tracer_for=None):
    """One measured repetition in a session of its own. Returns (outcome or
    None, error text or None, tracer or None, (RDDs, MB) left in storage
    after the rep)."""
    spark = sessions.fresh()
    tracer = tracer_for(spark.sparkContext) if tracer_for else None
    watchdog = threading.Timer(REP_TIMEOUT_S,
                               spark.sparkContext.cancelAllJobs)
    watchdog.start()
    try:
        out = wl.run_once(spark, tracer)
        err = None
    except Exception:                      # a failed run is counted, not fatal
        out, err = None, traceback.format_exc(limit=3)
    finally:
        watchdog.cancel()
    gc.collect()
    storage = storage_state(spark)
    if tracer is not None and out is not None:
        # stage data lives in this session: read it before the next rep
        out.layers = layer_metrics(spark, wl, out, tracer, storage)
    return out, err, tracer, storage


def measure(args, wl, sessions: Sessions, report) -> dict:
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.spans import Tracer
    from perfbench.stats import PeakMemory, median_report

    t_run = time.perf_counter()
    setups = []
    for _ in range(wl.SETUP_TRIALS):
        t = time.perf_counter()
        spark = sessions.fresh()
        wl.make_inputs()
        wl.warm_up(spark)
        setups.append(time.perf_counter() - t)
    report(f"environment {json.dumps(environment(spark))}")
    report(median_report("setup_s", setups, "s")
           + f" trials={[round(t, 3) for t in setups]}")

    with PeakMemory() as mem:
        reps = []                       # (outcome, error, tracer, storage)
        if args.trace:
            reps.append(timed_rep(sessions, wl, Tracer))
        else:
            t0 = time.perf_counter()
            while not reps or time.perf_counter() - t0 < args.seconds:
                reps.append(timed_rep(sessions, wl))
        peak_mb = mem.peak / 2**20
    t_measured = time.perf_counter()

    attempted, failed = len(reps), 0
    good = []
    for out, err, tracer, storage in reps:
        errs = [err] if err else wl.check(sessions.spark, out)
        if errs:
            failed += 1
            for e in errs:
                report(f"FAIL workload={wl.name} seed={args.seed}: {e}")
        else:
            good.append((out, tracer, storage))
    report(f"fail_ratio {failed}/{attempted}")
    report(f"phases set-up+measure={t_measured - t_run:.3f}s "
           f"check={time.perf_counter() - t_measured:.3f}s")
    metrics = {}
    if args.trace:
        if good:
            out, tracer, _ = good[0]
            metrics = out.layers
            for line in tracer.report_lines():
                report(f"trace {line}")
    elif good:
        outs = [g[0] for g in good]
        steps = [s for o in outs for s in o.steps_s]
        metrics = {
            "setup_s": statistics.median(setups),
            "items_per_s": sum(o.items for o in outs)
            / sum(o.wall_s for o in outs),
            "first_result_s": statistics.median(
                o.first_result_s for o in outs),
            "step_s_p50": statistics.median(steps),
            "peak_rss_mb": peak_mb,
        }
        report(median_report("step_s", steps, "s"))
        report(median_report("op_wall_s", [o.wall_s for o in outs], "s"))
        report(f"items {sum(o.items for o in outs)} {wl.item_unit}")
        report(f"leaked_cached_rdds {[g[2][0] for g in good]}")
    names = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": failed == 0 and bool(good),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in names.items()},
    }


def layer_metrics(spark, wl, out, tracer, storage) -> dict:
    from perfbench.spans import self_time
    m, root = wl.layer_metrics(spark, tracer, out)
    tot = tracer.subtree_totals(root)
    m.update({
        "spark.task_s": tot["task_s"],
        "spark.cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.failed_tasks": tot["failed_tasks"],
        "leaked_cached_rdds": storage[0],
        "storage.cached_mb_after": storage[1],
        "trace.uncovered_s": self_time(root),
        "trace.op_wall_s": root.wall,
        "trace.overhead_s": tracer.bookkeeping_s,
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "genesis_spark", "crawler",
                                       "engine.py")):
        print(f"perfbench: no genesis_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sessions = Sessions(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    try:
        result = measure(args, wl, sessions,
                         lambda line: print(line, flush=True))
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)         # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
