"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload pipeline_heavy --seed 1 \\
        --seconds 18 --trace 0 [--out DIR]

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. Lines before it give every metric by name and unit,
and each failed operation. The exit code is 0 only when every result
was correct.

This launcher pins the settings in ``perfbench/settings.json``, makes a
fresh run directory inside the checkout (Spark local dirs, temp files,
warehouses, the generated CSV), exports the repository root as
``PYTHONPATH`` so Spark's Python workers can import the package, runs
``worker.py`` in its own process group, and afterwards stops whatever
is left of that group and removes the run directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_heavy", "netflix_etl")


def load_settings() -> dict:
    with open(os.path.join(HERE, "settings.json")) as f:
        return json.load(f)


def bench_env(run_dir: str, settings: dict) -> dict:
    """The pinned environment of one run; everything it writes stays in
    ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=settings["driver_memory"],
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _stop_group(pgid: int, grace_s: float = 15.0) -> None:
    """SIGTERM the process group, wait for it to empty, then SIGKILL."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=None, help="also save the result line under OUT/<workload>/")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "data_engineer_task_spark", "__init__.py")):
        print(f"perfbench: no data_engineer_task_spark package under {ROOT}", file=sys.stderr)
        return 2
    settings = load_settings()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = bench_env(run_dir, settings)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--launched", repr(time.monotonic()),
    ]
    if args.trace:
        cmd += ["--spans-out", os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timer = threading.Timer(settings["run_timeout_s"], lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            last = line
        code = proc.wait()
    finally:
        timer.cancel()
        _stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    if code < 0:
        print(f"perfbench: worker killed by signal {-code}", file=sys.stderr)
        return 3
    if args.out and last.startswith("{"):
        out_dir = os.path.join(args.out, args.workload)
        os.makedirs(out_dir, exist_ok=True)
        name = f"trace{args.trace}-seed{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            f.write(last)
    return code


if __name__ == "__main__":
    sys.exit(main())
