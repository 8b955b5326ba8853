"""Session boot and teardown for one benchmark run.

Everything a run writes lives under its own run directory inside the
checkout: Spark's local dirs, warehouse, JVM and Python temp files, the
store root, the generated tables and (traced runs) the event log.
Teardown stops the session, ends the gateway JVM and every Python worker
it forked, waits for each to exit, then deletes the run directory.
"""

from __future__ import annotations

import os
import signal
import sys
import time


class Interrupted(BaseException):
    """SIGINT or SIGTERM arrived; the run is abandoned and cleaned up."""


def _raise_interrupted(signum, _frame):
    raise Interrupted(signal.Signals(signum).name)


def install_signal_handlers() -> None:
    signal.signal(signal.SIGINT, _raise_interrupted)
    signal.signal(signal.SIGTERM, _raise_interrupted)


def ignore_signals() -> None:
    """Teardown must finish once started."""
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    signal.signal(signal.SIGTERM, signal.SIG_IGN)


def prepare_env(run_dir: str, cores: int) -> None:
    """Point every temp and scratch location of the driver, the JVM
    and the Python workers into ``run_dir``; must run before pyspark is
    imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir
    # says; this JVM flag (here for the launcher JVM) turns it off.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def boot(run_dir: str, cores: int, event_log_dir: str | None):
    """The engine's own session factory, with run-local scratch dirs."""
    from bdc_collection_builder_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "hadoop"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="engine_bench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree = _children()
    out, todo = [], [pid]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def _wait_all(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def shutdown(spark, graceful: bool) -> None:
    """Stop the session, then end the gateway JVM and the Python
    workers it started, waiting for every one of them to exit. Also
    safe when the run was interrupted while the JVM was starting."""
    from pyspark import SparkContext

    if spark is not None and graceful:
        try:
            spark.stop()
        except Exception as exc:  # the JVM is ended below either way
            print(f"session stop failed: {exc}", file=sys.stderr)
    procs = descendants(os.getpid())  # the JVM and the workers it forked
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # a broken connection is what an interrupt leaves
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
    for pid in _wait_all(procs, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_all(procs, 10)
    while True:  # reap the JVM, now a zombie child of this process
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
