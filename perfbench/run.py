"""Benchmark launcher: one workload run in a fresh Python process and JVM.

    python3 perfbench/run.py --workload sql_facade --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The launcher

- sets ``SPARK_GRAFT_CPUS`` to the cores this process may use (``nproc``
  without ``OMP_NUM_THREADS``), ``SPARK_GRAFT_DRIVER_MEM`` to a quarter of
  the host's memory (at most 8g), ``PYTHONPATH`` to the checkout (Spark's
  Python workers import the library by module name), and
  ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir`` to a
  per-run directory;
- runs ``perfbench.workloads`` in its own process group, with a deadline;
- prints the run's result JSON as the last line of stdout; a traced run
  also writes its spans to ``.perfbench_spans/<workload>-<seed>.json``;
- kills whatever is left of the process group (the JVM and its Python
  workers), waits for it, and removes the per-run directory.

It exits non-zero, without a result line, when the library is missing,
the workload fails, or the deadline passes.
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

DEADLINE_S = 170
WORKLOADS = ("sql_facade", "curation_chain")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_mem() -> str:
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Terminate, then kill, the workload's process group and wait until
    no member is left (reaping the workload itself on the way)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 10
        while time.monotonic() < end:
            proc.poll()
            if not _group_alive(proc.pid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "datafusion_python_spark", "__init__.py")):
        print("perfbench: datafusion_python_spark not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(ROOT, ".perfbench_spans", f"{args.workload}-{args.seed}.json")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=" ".join(
            o for o in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work}/tmp") if o
        ),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--spans", spans, "--started", repr(time.time()),
    ]
    # the workload's own stdout goes to stderr so the result stays last
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S}s", file=sys.stderr)
        code = -1
    finally:
        _stop_group(proc)
        proc.wait()
    try:
        result = None
        if code == 0 and os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if result is None:
        print(f"perfbench: workload exited with code {code}", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
