"""Repository benchmark: one workload per process, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload stream_mor --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also runs the
measured work once with the engine's layer entry points wrapped in spans
and the Spark event log on, and prints the per-layer metrics instead.
Diagnostics (host context before and after, set-up repetitions, per-step
samples, and in a traced run the self time per layer) go to stdout as
``#``-prefixed lines before the result, which is always the last line.
Everything the run writes stays under ``.perfbench_work/`` in the
repository and is removed at exit, and the driver JVM and every process
under it have ended before the result is printed. The exit code is 0 only
when every correctness gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: fixed session settings; nothing is read from the environment, so both
#: sides of an A/B comparison run identical settings
DRIVER_MEMORY = "1g"
#: variables the engine or Spark would read in place of those settings
#: (besides every ``SPARK_GRAFT_*``); they are removed before the JVM starts
ENV_OVERRIDES = ("SPARK_LOCAL_DIRS", "SPARK_MASTER", "SPARK_DRIVER_MEMORY",
                 "PYSPARK_GATEWAY_PORT")


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in fh}
    return {
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "mem_available_mb": round(mem.get("MemAvailable", 0) / 1024),
    }


def _session(work: str, cores: int, trace: bool):
    from sql_etl_pipeline_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.memory": DRIVER_MEMORY,
        # the whole heap from the start, touched at boot: a heap grown on
        # demand makes peak RSS follow the timing of each resize, and first
        # touches of fresh pages would land in the measured phase
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids of every live process, from ``/proc``."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def _descendants(pid: int) -> list[int]:
    children, out, todo = _children(), [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_spark() -> None:
    """Stop Spark, then end the driver JVM and every process started under
    it (its Python workers), and wait for each: stopping the context alone
    leaves the JVM running until this process exits, and it then shuts
    down after the result is out. Also ends a JVM whose session never
    finished booting; a no-op once done."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    procs = _descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits on end of its stdin
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 30
        for pid in procs:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    continue
                while _alive(pid):
                    time.sleep(0.05)


def _diagnostics(run, workload: str) -> None:
    f = run.facts
    print("# setup " + json.dumps({"reps_s": f["setup_reps_s"], "gates_s": f["gates_s"]}))
    if workload == "stream_mor":
        print("# steps " + json.dumps({
            "cold_start_s": f["cold_start_s"],
            "first_batch_s": f["first_batch_s"],
            "segment_walls_s": [seg.wall_s for seg in f["segments"]],
            "intervals_s": [seg.intervals for seg in f["segments"]],
            "range_reads_s": f["range_reads_s"],
            "scans_s": f["scans_s"],
        }))
    else:
        print("# steps " + json.dumps({"cold_pass": f["cold_pass"], "passes": f["passes"]}))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sql_etl_pipeline_spark", "session.py")):
        print(f"perfbench: no engine package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import metrics
    import spans
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    host = {"before": _host()}
    cores = host["before"]["nproc"]
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_") or k in ENV_OVERRIDES]:
        del os.environ[k]
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        t0 = time.perf_counter()
        spark = _session(work, cores, bool(args.trace))
        boot_s = time.perf_counter() - t0
        run = Run(spark=spark, root=ROOT, work=work, seed=args.seed, seconds=args.seconds)
        if args.trace:
            run.tracer = spans.Tracer(spark.sparkContext)
        WORKLOADS[args.workload](run)
        # this process and its direct children (the driver JVM); the JVM's
        # Python workers are left out, as how many start depends on task
        # scheduling
        rss_mb = metrics.peak_rss_mb([os.getpid(), *_children().get(os.getpid(), [])])
        values = metrics.end_to_end(run, args.workload, boot_s, rss_mb)
        units = metrics.E2E_UNITS
        _stop_spark()
        if args.trace:
            jobs = spans.read_event_log(spans.find_event_log(os.path.join(work, "eventlog")))
            by_sid = spans.attribute_jobs(run.tracer, jobs)
            values = metrics.per_layer(run, args.workload, by_sid, boot_s, cores)
            units = metrics.LAYER_UNITS
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    host["after"] = _host()
    print("# host " + json.dumps(host))
    _diagnostics(run, args.workload)
    if args.trace:
        print(spans.render_self_times(run.tracer, run.facts["traced_root"]))
        print(f"# tracing overhead: {values['trace.overhead_frac']:+.1%} of the untraced wall")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
