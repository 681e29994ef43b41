#!/usr/bin/env python3
"""End-to-end benchmark of the spark-osm-export engine.

    python3 exportbench/run.py --workload export_poly --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run:

1. writes the workload's seeded inputs under `.exportbench_work/` and
   records the `bench.vm_probe` single-core and allocation figures;
2. sets up once and reports it as `setup_s`: what a one-shot CLI run
   pays before real work, i.e. the JVM launch, a session sized to the
   host (`local[nproc]`, 2 x nproc shuffle partitions, heap through
   SPARK_OSM_DRIVER_MEM, UI off), the package attach and one tiny warm
   call.  A second cold set-up would cost as much again, and one in
   the same JVM times a warm restart instead of the cold start;
3. discards the workload's warm-up calls on its own full input (their
   walls are printed, not gated);
4. repeats the workload's call in a closed loop with one client until
   `--seconds` have passed and at least MIN_TIMED calls are done,
   checking every output outside the timed window, and reports the
   median wall, the throughput and the peak memory (kernel `VmHWM` of
   the JVM, its Python workers and this driver process, read before
   the session stops; the driver's mark is reset once the inputs are
   written, so it counts only what the program holds on the driver).
   The hypervisor's steal time over the timed calls is printed with
   the details.

With `--trace 1` the traced composition (`layers.py`) runs once after
the timed loop and the per-layer metrics are printed instead.  The last
line of standard output is the JSON result; the line before it holds
the run's details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".exportbench_work")


# end-to-end metrics and their units (BENCHMARK.json `end_to_end`)
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "throughput_per_s": "1/s", "peak_rss_mb": "MB"}

# fewest timed calls a run reports the median of, so that one slow
# call (a burst of hypervisor steal) does not set the median
MIN_TIMED = 3


def host_sizing():
    """(cores, heap GiB): every core this process may run on, and a
    quarter of physical RAM capped at 4 GiB for the driver heap."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / float(1 << 30)
    return cores, int(max(1, min(4, ram_gib // 4)))


def confine_to(work, heap_gib):
    """Keep every file Spark, the JVM and Python write under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_OSM_CKPT_DIR"] = tmp
    os.environ["SPARK_OSM_DRIVER_MEM"] = "%dg" % heap_gib
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=%s" % tmp
    import tempfile

    tempfile.tempdir = None


def start_session(cores, work, event_dir=None):
    from osm_export_tool_python_spark.plans.session import default_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = default_session(
        master="local[%d]" % cores, shuffle_partitions=2 * cores,
        app_name="exportbench", extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vmhwm_kb(pid):
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root):
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_driver_hwm():
    """Reset this process's RSS high-water mark to its current RSS, so
    the input generation and the allocation probe do not count."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(spark):
    """Sum of the kernel's RSS high-water marks: the JVM with every
    process under it (the Python worker daemon and workers) plus this
    driver process."""
    jvm = spark.sparkContext._gateway.proc.pid
    kb = sum(_vmhwm_kb(p) for p in _descendants(jvm))
    kb += _vmhwm_kb(os.getpid())
    return kb / 1024.0


def _steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs (s)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stop_jvm(spark):
    """Stop the session, then end the JVM and wait for it: the JVM
    exits when its standard input closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def vm_figures():
    """`bench.vm_probe`'s single-core and allocation figures (same
    work, same functions), recorded so a drifting run can be spotted."""
    import bench

    t0 = time.perf_counter()
    bench._sha_work(4000)
    return {
        "sha_1t_sec": time.perf_counter() - t0,
        "alloc_fault_gbps": bench._alloc_fault_work(),
    }


def run(workload, seed, seconds, trace):
    import layers as tracing
    from workloads import WORKLOADS, CheckFailed

    cores, heap_gib = host_sizing()
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    confine_to(work, heap_gib)
    wl = WORKLOADS[workload](work, seed)
    wl.make_inputs()
    details = {
        "workload": workload, "seed": seed, "input": wl.size_note(),
        "master": "local[%d]" % cores, "heap": "%dg" % heap_gib,
        "vm_probe": vm_figures(),
    }
    reset_driver_hwm()
    event_dir = None
    if trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)

    t0 = time.perf_counter()
    spark = start_session(cores, work, event_dir)
    session_start = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("setup", "tiny warm call")
    wl.tiny_call(spark)
    setup = time.perf_counter() - t0
    details["setup_s"] = setup
    wl.check_inputs(spark)

    def attempt(group):
        """One call: (wall, output or None when it raised or its check
        failed).  The check runs outside the timed window."""
        wl.clean()
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = wl.call(spark)
        except Exception as exc:  # a failed call counts; the loop goes on
            print("%s failed: %r" % (group, exc), file=sys.stderr)
            return time.perf_counter() - t0, None
        wall = time.perf_counter() - t0
        try:
            wl.check(out)
        except CheckFailed as exc:
            print("%s check failed: %s" % (group, exc), file=sys.stderr)
            return wall, None
        return wall, out

    warm = [attempt("warmup%d" % i) for i in range(wl.warmup)]
    details["warmup_s"] = [w for w, _ in warm]
    correct = all(out is not None for _, out in warm)

    timed, failed, units = [], 0, None
    deadline = time.perf_counter() + seconds
    steal0 = _steal_s()
    while len(timed) < MIN_TIMED or time.perf_counter() < deadline:
        wall, out = attempt("call%d" % len(timed))
        timed.append(wall)
        if out is None:
            failed += 1
            continue
        units = wl.units(out)
    details["timed_s"] = timed
    details["steal_s"] = _steal_s() - steal0
    wl.clean()
    if trace:
        traced = tracing.traced_call(spark, wl, 0)
        wl.clean()
    rss = peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    stop_jvm(spark)

    if trace:
        metrics = tracing.layer_metrics(
            event_dir, app_id, traced, timed[-1], setup, session_start
        )
        details["traced_s"] = traced["wall_s"]
    else:
        wall = statistics.median(timed)
        values = {
            "setup_s": setup,
            "wall_s": wall,
            "throughput_per_s": (units or 0) / wall,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    print(json.dumps(details))
    return {
        "correct": correct and failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import osm_export_tool_python_spark  # noqa: F401  (fails fast without the program)

    result = run(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
