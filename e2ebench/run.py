"""Benchmark entry point: one workload, one seed, one run.

    python3 e2ebench/run.py --workload daemon_reads --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from the seed under ``.bench_work/`` in the checkout, starts the
engine behind a loopback daemon, measures for ``--seconds`` seconds
(curate_corpus times a fixed count of passes instead), checks every reply,
removes its files and prints two JSON lines: a record (box stamp,
settings, per request kind latencies) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs an untraced window and then a traced
one and reports the per-layer metrics. A run that cannot complete exits
non-zero without a result line.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402 - the clock above must start first
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _steal_jiffies() -> int:
    with open("/proc/stat", encoding="ascii") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def _loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def box_settings(work: str) -> dict:
    """Settings that fit this box, applied through the engine's own env
    overrides: every core the process may use, a driver heap of a quarter
    of physical memory (1-2 GiB), and scratch space inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(2, _meminfo_kb("MemTotal") // (4 * 1024 * 1024)))
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    # every JVM the session starts, its launcher included, keeps its
    # temporary files in the checkout too
    settings["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={settings['TMPDIR']} -XX:-UsePerfData"
    for d in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(settings)
    return settings


def box_stamp() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": _meminfo_kb("MemTotal"),
            "loadavg": _loadavg(), "steal_jiffies": _steal_jiffies()}


def git_rev() -> str:
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unavailable"
    return res.stdout.strip() if res.returncode == 0 else "unavailable"


def _jvm_peak_kb(spark) -> int:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> set[int]:
    """Live processes below ``pid`` (Spark's Python worker daemons)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.update(kids)
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_spark(spark) -> None:
    """Stop the session; wait for the JVM it launched and the Python workers
    that JVM started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {w for w in workers if _alive(w)}
        time.sleep(0.1)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import metrics  # noqa: E402
    import tracer as tr  # noqa: E402
    import workloads  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    import pyspark  # noqa: E402 - fail before any work when the engine is absent
    import kausaldb_spark.engine  # noqa: E402,F401

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp_before = box_stamp()
    settings = box_settings(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark_conf: dict[str, str] = {}
    if event_log:
        os.makedirs(event_log)
        spark_conf.update({"spark.eventLog.enabled": "true",
                           "spark.eventLog.dir": f"file://{event_log}",
                           "spark.eventLog.compress": "false"})
    tracer = tr.Tracer()
    if args.trace:
        tracer.install()
    run = workloads.Run(work, tracer)
    stopped = False
    try:
        workloads.WORKLOADS[args.workload](run, args.seed, args.seconds, spark_conf,
                                           bool(args.trace))
        if run.first_timed is None:
            raise RuntimeError("no timed op ran")
        setup_s = run.first_timed - T_START
        run.info["peak_rss_mb"] = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                                   + _jvm_peak_kb(run.spark)) / 1024
        run.info["store_parquet_files"] = sum(
            f.endswith(".parquet") for _d, _s, fs in os.walk(run.store) for f in fs)
        run.stop()
        _stop_spark(run.spark)
        stopped = True
        end_to_end = metrics.end_to_end(run, setup_s)
        if args.trace:
            tracer.write(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
            values = metrics.per_layer(run, tracer, tr.read_event_log(event_log))
            names = metrics.PER_LAYER
        else:
            values, names = end_to_end, metrics.END_TO_END
    except Exception:  # noqa: BLE001 - report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        if not stopped and run.spark is not None:
            run.stop()
            _stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_rev": git_rev(), "pyspark": pyspark.__version__,
        "settings": settings,
        "box_before": stamp_before,
        "box_after": {**box_stamp(), "steal_delta_jiffies":
                      _steal_jiffies() - stamp_before["steal_jiffies"]},
        "end_to_end": end_to_end,  # of the untraced window in a traced run
        "by_kind": metrics.breakdown(run),
        "info": run.info,
        "errors": run.errors,
        "ops": [[o.kind, round(o.ms, 1), o.ok, o.timed] for o in run.ops],
    }
    print(json.dumps({"record": record}, default=str))
    failed = sum(not o.ok for o in run.ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": names[k]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
