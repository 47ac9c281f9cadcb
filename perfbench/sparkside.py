"""Spark-side helpers: program import, listener, job counts, shutdown.

Nothing here imports pyspark at module level, so the runner can start its
set-up clock before pyspark and the JVM are loaded.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

PROGRAM_MODULES = ("python_kinesis_streaming_spark", "__spark_entry__")


def purge_program_modules() -> None:
    """Forget the engine's modules so the next import runs them again.

    Each repeated set-up then pays the registry import as a new process
    would (bytecode is already cached on disk by the priming run).
    """
    for name in list(sys.modules):
        if any(name == m or name.startswith(m + ".") for m in PROGRAM_MODULES):
            del sys.modules[name]


def trace_confs(work: str) -> dict[str, str]:
    """Spark confs of a traced run: an uncompressed local event log."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def eventlog_path(spark, work: str) -> str:
    return os.path.join(work, "eventlog", spark.sparkContext.applicationId)


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress payload."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            payload = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(payload)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def settle(self, quiet: float = 0.3, timeout: float = 5.0) -> None:
            """Listener events arrive asynchronously: wait until no progress
            event has arrived for ``quiet`` s."""
            end = time.monotonic() + timeout
            seen = -1
            while time.monotonic() < end:
                with self._lock:
                    now = len(self.progress)
                if now == seen:
                    return
                seen = now
                time.sleep(quiet)

        def payloads(self, name_prefix: str | None = None) -> list[dict]:
            """Payloads of queries whose name starts with ``name_prefix``."""
            with self._lock:
                ps = list(self.progress)
            return [p for p in ps if (p.get("name") or "").startswith(name_prefix or "")]

    return ProgressListener()


def job_group_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) the job group ran, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(jobs), tasks


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit.

    The JVM that pyspark launches exits when its stdin closes; it owns the
    Python worker processes, which end with it.
    """
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class MockProcess:
    """``mock_service.py`` in a child process; ``stop`` waits for its exit."""

    def __init__(self, root: str, stats: bool):
        cmd = [sys.executable, os.path.join(root, "perfbench", "mock_service.py")]
        if stats:
            cmd.append("--stats")
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        line = self.proc.stdout.readline().strip()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"mock service failed to start: {line!r}")
        self.url = f"http://127.0.0.1:{line.split()[1]}"

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
