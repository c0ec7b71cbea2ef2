"""Benchmark launcher for ``fuzzy_match_dfs``.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ann_lev_1b --seed 1 --seconds 6 --trace 0

``--workload all`` runs every workload in turn, each result line after
a ``# <workload>`` line, and exits non-zero if any run failed.

Pins the run environment, builds the engine's native kernels in an
untimed pre-step, then runs ``worker.py`` in its own session and relays
its output; the worker's result JSON is the last stdout line. Every
process of that session is stopped and waited for before this exits.
All files a run writes stay under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = os.path.join(ROOT, "pl_fuzzy_frame_match_spark", "__init__.py")
NATIVE = os.path.join(
    ROOT, "pl_fuzzy_frame_match_spark", "functions", "native_kernels.py"
)
WORKLOADS = ("ann_lev_1b", "batch_multi")

# The driver JVM heap. The session's 12g default pins -Xms to it, which
# leaves a 15 GB machine little room for the Python workers; 2g holds
# every workload here. Other JVM settings are the session's own.
DRIVER_MEM = "2g"
# Worker wall-clock limit; the launcher exits within 180 s of start.
WORKER_TIMEOUT_S = 170

SPARK_DEFAULTS = """\
spark.ui.showConsoleProgress false
spark.driver.defaultJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData
spark.sql.warehouse.dir {work}/warehouse
"""

LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def bench_env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = os.path.join(WORK, "conf")
    for d in (tmp, conf, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(SPARK_DEFAULTS.format(tmp=tmp, work=WORK))
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(LOG4J2)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # Python workers import the engine by name
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_CONF_DIR=conf,
        PERFBENCH_WORK=WORK,
    )
    return env


def build_native(env: dict) -> None:
    """Compile the engine's C kernels once, outside any timed run. The
    module is loaded from its file so the probe skips the package's
    Spark imports."""
    probe = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('nk', {NATIVE!r})\n"
        "nk = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(nk)\n"
        "sys.exit(0 if nk.native_available() else 1)\n"
    )
    rc = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=ROOT, timeout=600
    ).returncode
    if rc != 0:
        print("native kernels unavailable; the engine falls back to numpy",
              file=sys.stderr)


def session_pids(sid: int) -> list:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of session ``sid``, and wait
    until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if session_pids(sid):
        print(f"processes of session {sid} did not stop", file=sys.stderr)


def launch(workload: str, seed: int, seconds: int, trace: int, env: dict) -> int:
    """Run one worker to completion and relay its stdout; returns its
    exit status (1 when it had to be stopped)."""
    env = dict(env, PERFBENCH_T_SPAWN=repr(time.time()))
    child = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
        ],
        env=env,
        cwd=ROOT,
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    t0 = time.monotonic()
    try:
        out, _ = child.communicate(timeout=WORKER_TIMEOUT_S)
        rc = child.returncode
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        out, rc = "", 1
    finally:
        t1 = time.monotonic()
        stop_session(child.pid)
        child.wait()
        print(f"worker {t1 - t0:.2f} s, stopping its processes "
              f"{time.monotonic() - t1:.2f} s", file=sys.stderr)
    sys.stdout.write(out)
    sys.stdout.flush()
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description="fuzzy_match_dfs benchmark")
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(PACKAGE):
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2

    # a terminated launcher still stops the worker's session (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    env = bench_env()
    build_native(env)
    if args.workload != "all":
        return launch(args.workload, args.seed, args.seconds, args.trace, env)
    worst = 0
    for workload in WORKLOADS:
        print(f"# {workload}", flush=True)
        worst = max(worst, launch(workload, args.seed, args.seconds, args.trace, env))
    return worst


if __name__ == "__main__":
    sys.exit(main())
