"""Operational progress reporting for the CLI data commands.

Reference parity (the last observability delta): the reference logs a
throughput line on a 15 s cadence from every long-running stage —
``sinker/stats.go`` (blocks/s, last block), ``csvprocessor/stats.go`` and
``bundler/stats.go`` (entities, bundles written).  The Spark engine leans
on the Spark UI for task-level detail; this module adds the same
at-a-glance heartbeat to ``run`` / ``tocsv`` so a terminal user sees
liveness and task progress without opening the UI.

Driver-side only, pull-based, zero cost to the job itself: a daemon
thread samples the status tracker's active-stage task counts.  Every
command runs batch jobs, so there is no event count to report.
"""

from __future__ import annotations

import sys
import threading
import time


class ProgressReporter:
    """Print one progress line every ``interval_s`` seconds while running,
    and a final summary on ``stop()`` or when a ``with`` body returns.

    >>> rep = ProgressReporter(spark, "tocsv account")
    >>> rep.start()
    >>> ... long job ...
    >>> rep.stop(bundles=12, last_block=2999)
    """

    def __init__(
        self,
        spark,
        label: str,
        interval_s: float = 15.0,
        out=None,
    ):
        self._spark = spark
        self._label = label
        self._interval = interval_s
        self._out = out if out is not None else sys.stderr
        self._halt = threading.Event()
        self._t0 = time.monotonic()
        self._thread = threading.Thread(
            target=self._run, name=f"progress-{label}", daemon=True
        )

    # -- sampling ----------------------------------------------------------
    def _sample_stages(self) -> str:
        try:
            tracker = self._spark.sparkContext.statusTracker()
            parts = []
            for sid in tracker.getActiveStageIds()[:3]:
                info = tracker.getStageInfo(sid)
                if info:
                    parts.append(f"{info.numCompletedTasks}/{info.numTasks}")
            return (" tasks=" + ",".join(parts)) if parts else ""
        except Exception:
            return ""

    def _line(self) -> str:
        elapsed = time.monotonic() - self._t0
        return f"[{self._label}] +{elapsed:.0f}s{self._sample_stages()}"

    def _run(self) -> None:
        while not self._halt.wait(self._interval):
            print(self._line(), file=self._out, flush=True)

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "ProgressReporter":
        self._thread.start()
        return self

    def stop(self, **final) -> None:
        """Final summary; ``final`` keys (e.g. ``bundles=``,
        ``last_block=``) append to the line."""
        self._halt.set()
        self._thread.join(timeout=self._interval + 5)
        extras = "".join(f" {k}={v}" for k, v in final.items())
        elapsed = time.monotonic() - self._t0
        print(
            f"[{self._label}] done in {elapsed:.1f}s{extras}",
            file=self._out,
            flush=True,
        )

    def __enter__(self) -> "ProgressReporter":
        return self.start()

    def __exit__(self, exc_type, *exc) -> None:
        # no summary for a failed body: the command's last line is its error
        if exc_type is None and not self._halt.is_set():
            self.stop()
        self._halt.set()
