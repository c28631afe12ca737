"""Benchmark launcher.

    python3 perfbench/run.py --workload pe_serving --seed 1 --seconds 10 --trace 0

Run from the repository root. Sizes the run to the host (local[nproc],
a driver heap that fits physical memory), puts every scratch file -
Spark local dirs, catalog roots, generated inputs, the warehouse - under
one directory inside the checkout, runs the workload in a child process
and deletes the directory when the child has ended. The child's last
stdout line is the result JSON; stdout is relayed unchanged.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pe_serving", "ingest_pipeline")
CHILD_TIMEOUT_S = 170


def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # a quarter of physical memory, at most 4 GiB: the host is shared
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m"}


def wait_group_gone(pgid: int, timeout_s: float = 10.0) -> None:
    """Block until no process of the group is left (killed JVMs take a
    moment to release their files)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the generated tables (0.1 = sf0.1 row counts)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hindex_spark", "__init__.py")):
        print("perfbench: run from the repository root (hindex_spark/ not found)", file=sys.stderr)
        return 2

    # A fixed path, so that nothing random but the seed reaches the engine
    # (the catalog embeds its root in the table names it registers). Runs
    # in one checkout are sequential; a leftover is from a killed run.
    scratch_parent = os.path.join(root, ".perfbench_tmp")
    tmp = os.path.join(scratch_parent, "run")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(host_sizing())
    local_dirs = os.path.join(tmp, "spark-local")
    os.makedirs(local_dirs)
    env.update({
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "PERFBENCH_TMP": tmp,
        # set and dict order reach the plans: the same in every run
        "PYTHONHASHSEED": "0",
        "PERFBENCH_OUT": os.path.join(root, ".perfbench_out"),
        "PYTHONPATH": os.pathsep.join([HERE, root, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            # compiler threads that come and go would take their CPU time
            # with them; workloads.py keeps JIT time out of cycle_cpu_s
            "--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads'",
            "pyspark-shell",
        ]),
    })
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf", str(args.sf)]
    proc = subprocess.Popen(cmd, env=env, cwd=tmp, start_new_session=True)

    def stop(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        code = 3
    finally:
        # a second signal must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        # the JVM and any Python workers share the child's session
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_group_gone(proc.pid)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch_parent)
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
