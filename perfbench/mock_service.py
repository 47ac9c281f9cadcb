"""The loopback Kinesis service, run in a process of its own.

Starts ``sources.kinesis_mock.MockKinesisServer`` on a free loopback port,
prints ``PORT <n>`` on stdout and serves until its stdin closes, so the
service never outlives the benchmark that started it. With ``--stats``
every API call goes through a counting wrapper around
``MockKinesisService.dispatch``: calls per action, time spent inside
dispatch, and GetRecords calls that returned no records. The counts are
read over the same wire protocol with the extra action
``PerfbenchStats``, which the wrapper answers itself.

    python3 perfbench/mock_service.py [--stats]
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STATS_ACTION = "PerfbenchStats"


class DispatchCounter:
    """Wraps a service's ``dispatch``; thread-safe counters."""

    def __init__(self, dispatch):
        self._dispatch = dispatch
        self._lock = threading.Lock()
        self.calls: dict[str, int] = {}
        self.busy_s = 0.0
        self.empty_get_records = 0

    def __call__(self, target: str, body: dict) -> dict:
        action = target.split(".", 1)[-1]
        if action == STATS_ACTION:
            return self.snapshot()
        t0 = time.perf_counter()
        resp = None
        try:
            resp = self._dispatch(target, body)
            return resp
        finally:
            dt = time.perf_counter() - t0
            with self._lock:
                self.calls[action] = self.calls.get(action, 0) + 1
                self.busy_s += dt
                if action == "GetRecords" and resp is not None and not resp["Records"]:
                    self.empty_get_records += 1

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "calls": dict(self.calls),
                "busy_s": self.busy_s,
                "empty_get_records": self.empty_get_records,
            }


def main() -> None:
    from python_kinesis_streaming_spark.sources.kinesis_mock import MockKinesisServer

    server = MockKinesisServer()
    if "--stats" in sys.argv[1:]:
        server.service.dispatch = DispatchCounter(server.service.dispatch)
    with server:
        port = server.endpoint_url.rsplit(":", 1)[1]
        print(f"PORT {port}", flush=True)
        sys.stdin.read()  # returns at EOF: the parent closed the pipe or exited


if __name__ == "__main__":
    main()
