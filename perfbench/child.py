"""One benchmark run in its own process: set-up, timed ops, output checks,
the optional traced attribution, then a teardown that leaves no process
behind. run.py starts this in a new session and reads the JSON it writes.

    python3 perfbench/child.py --workload W --seed N --seconds S --trace 0|1 \
        --scratch DIR --result FILE
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

# the program under test is imported from the checkout root
sys.path.insert(0, os.getcwd())

import procs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# untimed pause after the garbage collections before each op, so the
# asynchronous clean-up they trigger (shuffle files, broadcasts, cached
# blocks of the previous op) is done before the clock starts
SETTLE_S = 0.5


class Runtime:
    def __init__(self, seed: int, scratch: str):
        self.seed = seed
        self.scratch = scratch
        self.tracer = None
        self._n = 0

    def new_dir(self, prefix: str) -> str:
        self._n += 1
        path = os.path.join(self.scratch, f"{prefix}{self._n}")
        os.makedirs(path)
        return path


def host_shape(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


def stop_spark(spark) -> None:
    """Stop the session, close the gateway JVM's stdin and wait until the
    JVM and the Python workers it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not hang the run
            proc.kill()
            proc.wait(timeout=10)
    procs.wait_session_quiet(os.getsid(0), exclude={os.getpid()}, timeout=20)


def quiesce(spark) -> None:
    """Collect garbage in the Python driver and the JVM before an op, so a
    collection of the previous op's garbage does not land inside the timed
    one."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def run(args, rt: Runtime, res: dict) -> None:
    wl = WORKLOADS[args.workload]()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.scratch, "warehouse"),
    }
    if args.trace:
        events = os.path.join(args.scratch, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })

    t0 = time.perf_counter()
    from kg_curation_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    session_s = time.perf_counter() - t0
    res["spark"] = spark
    spark.sparkContext.setLogLevel("ERROR")
    res["host"] = host_shape(spark)
    if args.trace:
        import tracing

        rt.tracer = tracing.Tracer(spark.sparkContext)
        rt.tracer.add_interval("session", "get_spark", t0, t0 + session_s)
        tracing.install(rt.tracer)

    build_s = []
    inputs = None
    for _ in range(wl.builds):
        if inputs is not None:
            wl.release(inputs)
        t = time.perf_counter()
        inputs = wl.build(spark, rt)
        build_s.append(time.perf_counter() - t)
    oracle_s = 0.0
    if hasattr(wl, "oracle"):
        t = time.perf_counter()
        wl.oracle(inputs)
        oracle_s = time.perf_counter() - t
    t = time.perf_counter()
    if rt.tracer:
        rt.tracer.bucket = "warmup"
    wl.warm_up(spark, rt, inputs)
    if rt.tracer:
        rt.tracer.bucket = None
    warmup_s = time.perf_counter() - t
    res["setup"] = {
        "session_s": session_s,
        "build_s": build_s,
        "warmup_s": warmup_s,
        "oracle_s": oracle_s,
        "files": inputs.get("files"),
    }
    # the oracle is the benchmark's own check, not set-up a user pays
    res["setup_s"] = session_s + statistics.median(build_s) + warmup_s

    deadline = time.perf_counter() + args.seconds
    walls, checks, last = [], [], None
    while True:
        quiesce(spark)
        res["attempted"] += 1
        t = time.perf_counter()
        try:
            out = wl.op(spark, rt, inputs)
        except Exception:  # noqa: BLE001 - a raising op is a failed op
            res["failed"] += 1
            res["errors"].append(traceback.format_exc())
            break
        walls.append(time.perf_counter() - t)
        ok, info = wl.check(spark, rt, inputs, out)
        checks.append(info)
        if not ok:
            res["failed"] += 1
            res["errors"].append(f"op {len(walls)} output check failed: {info}")
        if last is not None:
            wl.finish(last)
        last = out
        # the traced run attributes one op; repeating it would only scale
        # every layer's sums by the op count
        if rt.tracer or time.perf_counter() >= deadline:
            break
    res["walls"] = walls
    res["checks"] = checks

    if rt.tracer and last is not None and hasattr(wl, "crash_resume"):
        rt.tracer.bucket = "resume"
        res["attempted"] += 1
        ok, info = wl.crash_resume(spark, rt, inputs, last)
        rt.tracer.bucket = None
        res["resume"] = info
        if not ok:
            res["failed"] += 1
            res["errors"].append(f"crash-resume check failed: {info}")
    if last is not None:
        wl.finish(last)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    rt = Runtime(args.seed, os.path.join(args.scratch, "work"))
    os.makedirs(rt.scratch)
    res = {"attempted": 0, "failed": 0, "errors": []}
    code = 0
    try:
        run(args, rt, res)
    except Exception:  # noqa: BLE001 - report, then still tear down
        res["errors"].append(traceback.format_exc())
        code = 1
    spark = res.pop("spark", None)
    if spark is not None:
        stop_spark(spark)
    if rt.tracer is not None and code == 0:
        import tracing

        try:
            res["per_layer"] = tracing.layer_metrics(
                rt.tracer,
                tracing.read_event_log(os.path.join(args.scratch, "events")),
                res,
            )
        except Exception:  # noqa: BLE001
            res["errors"].append(traceback.format_exc())
            code = 1
    with open(args.result, "w") as f:
        json.dump(res, f)
    sys.stdout.flush()
    sys.stderr.flush()
    # os._exit: a helper-pool thread left by a raising pipeline must not
    # hold interpreter exit open
    os._exit(code)


if __name__ == "__main__":
    main()
