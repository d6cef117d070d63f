"""kgforge benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Each call is one run: it starts
perfbench/child.py in a new session with the Spark overrides sized to this
host, samples the resident memory of the child's whole session (Python
driver, JVM, pyspark.daemon workers) from /proc, kills the session on a hard
timeout, then sweeps it: any process of the run still alive or unreaped is
counted in ``leftover_procs``, terminated and reaped. The last line of
standard output is the result object; the line before it records the host
shape and the raw samples. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the whole call must end within 180 s; the child gets what is left after
# start-up and the sweep
RUN_BUDGET_S = 170.0
SWEEP_S = 8.0
SAMPLE_S = 0.25
PR_SET_CHILD_SUBREAPER = 36


class Interrupted(Exception):
    pass


def _on_signal(signum, _frame):
    raise Interrupted(signum)


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(next(line for line in f if line.startswith("MemTotal")).split()[1]) // 1024


def child_env(root: str, run_dir: str) -> dict[str, str]:
    """The program's own overrides, sized to this host: a driver heap well
    under physical memory (the program's default is 48g), every core, and
    all Spark/JVM/Python scratch space inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CLUSTER", None)
    env.update({
        "SPARK_DRIVER_MEM": f"{min(2048, host_memory_mb() // 4)}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    })
    return env


def reap_children() -> None:
    """Reap every exited child of this process (orphans of the run are
    re-parented here because this process is a subreaper)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_session(sid: int) -> None:
    for sig, wait in ((signal.SIGTERM, 3.0), (signal.SIGKILL, 5.0)):
        live = [p for p, s in procs.session_members(sid).items() if s != "Z"]
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while time.monotonic() < end:
            reap_children()
            if not procs.session_members(sid):
                return
            time.sleep(0.1)
    reap_children()


def run_child(args, root: str, run_dir: str, t_start: float) -> dict:
    result_path = os.path.join(run_dir, "result.json")
    log = open(os.path.join(run_dir, "child.log"), "wb")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", run_dir, "--result", result_path,
    ]
    child = subprocess.Popen(
        cmd, cwd=root, env=child_env(root, run_dir), stdin=subprocess.DEVNULL,
        stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
    )
    sid = child.pid
    deadline = t_start + RUN_BUDGET_S - SWEEP_S
    peak, timed_out = 0, False
    try:
        while child.poll() is None:
            live = [p for p, s in procs.session_members(sid).items() if s != "Z"]
            peak = max(peak, procs.pss_bytes(live))
            if time.monotonic() >= deadline:
                timed_out = True
                kill_session(sid)
                child.wait()
                break
            time.sleep(SAMPLE_S)
    finally:
        if child.poll() is None:
            kill_session(sid)
            child.wait()
        log.close()
    # what the run left behind once the child returned: live processes and
    # zombies whose parent is not this process
    reap_children()
    leftover = len(procs.session_members(sid))
    kill_session(sid)
    res = {"attempted": 1, "failed": 1, "errors": []}
    if os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    if timed_out:
        res["failed"] = max(1, res.get("failed", 0))
        res["errors"].append(f"run killed at the {RUN_BUDGET_S - SWEEP_S:.0f} s budget")
    res.update(code=child.returncode, peak_rss_bytes=peak, leftover_procs=leftover)
    if child.returncode != 0 or res["errors"]:
        with open(os.path.join(run_dir, "child.log"), "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        res["log_tail"] = tail
    return res


def report(args, res: dict) -> tuple[dict, dict]:
    walls = res.get("walls") or []
    attempted = max(1, res.get("attempted", 0))
    failed = res.get("failed", 0) + (1 if res["leftover_procs"] else 0)
    correct = res["code"] == 0 and failed == 0 and bool(walls)
    if args.trace:
        units = tracing.metric_units()
        values = dict(res.get("per_layer") or {})
        values["run.leftover_procs"] = res["leftover_procs"]
        metrics = {
            n: {"value": values.get(n, 0), "unit": u} for n, u in units.items()
        }
        correct = correct and "per_layer" in res
    else:
        wall = statistics.median(walls) if walls else 0.0
        metrics = {
            "run_wall_s": {"value": wall, "unit": "s"},
            "input_rows_per_s": {
                "value": WORKLOADS[args.workload].input_rows / wall if wall else 0.0,
                "unit": "1/s",
            },
            "setup_s": {"value": res.get("setup_s", 0.0), "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_bytes"] / 2**20, "unit": "MB"},
        }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(walls),
        "op_walls_s": walls,
        "failed_ratio": failed / attempted,
        "leftover_procs": res["leftover_procs"],
        "setup": res.get("setup"),
        "checks": res.get("checks"),
        "resume": res.get("resume"),
        "host": res.get("host"),
        "errors": res.get("errors"),
    }
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return summary, result


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kg_curation_spark", "stages", "pipeline.py")):
        print("perfbench: run from the root of a kgforge checkout "
              "(kg_curation_spark/ not found)", file=sys.stderr)
        return 2
    # orphans of the run (the JVM's workers once the JVM exits) are
    # re-parented here, so the sweep can count and reap them
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    runs = os.path.join(root, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_child(args, root, run_dir, t_start)
    except Interrupted:
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    summary, result = report(args, res)
    if "log_tail" in res:
        print(res["log_tail"], file=sys.stderr)
    print("# " + json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
