"""Streaming observability: StreamingQueryListener-backed progress.

The reference's only monitoring surface is checkpoint age
(``triton stats``, triton/checkpoint.go:127-151) — a proxy for "is the
pipeline keeping up". Structured Streaming exposes the real signals per
micro-batch; this module captures them per query so
``TritonEngine.stream_stats()`` can answer throughput/lag questions the
reference never could:

- ``numInputRows`` / ``inputRowsPerSecond`` / ``processedRowsPerSecond``
- batch duration breakdown (addBatch/getBatch/walCommit)
- state-store memory for stateful operators

At scale this is the signal for trigger sizing and the feed for the
checkpoint-age view (S18) without touching the offset log. Read the
duration breakdown before resizing: ``getBatch`` (plus
``latestOffset``) is the source's listing and planning of the batch's
new files, ``addBatch`` is the write. Raise ``maxFilesPerTrigger`` or add
executors when ``addBatch`` dominates and batches fall behind. A batch
whose ``getBatch`` rivals its ``addBatch`` is spending its time listing,
not writing, which neither lever shortens: check how the session lists
files (``session.py`` keeps listing on the driver under a local master).
"""

from __future__ import annotations

import threading

from pyspark.sql.streaming import StreamingQueryListener


class ProgressMonitor(StreamingQueryListener):
    """Keeps the last progress event per streaming query (by name, else
    by id). Attach once per session: ``ProgressMonitor.install(spark)``.
    """

    def __init__(self):
        self._lock = threading.Lock()
        self._progress: dict[str, dict] = {}
        self._terminated: dict[str, str | None] = {}

    # -- listener callbacks (called from Spark's listener bus thread)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        key = p.name or p.id
        with self._lock:
            self._progress[str(key)] = {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_second": p.inputRowsPerSecond,
                "processed_rows_per_second": p.processedRowsPerSecond,
                "duration_ms": dict(p.durationMs or {}),
                "timestamp": p.timestamp,
            }

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated[str(event.id)] = event.exception

    def onQueryIdle(self, event) -> None:
        pass

    # -- query surface

    def progress(self) -> dict[str, dict]:
        with self._lock:
            return {k: dict(v) for k, v in self._progress.items()}

    def terminated(self) -> dict[str, str | None]:
        with self._lock:
            return dict(self._terminated)

    @classmethod
    def install(cls, spark) -> "ProgressMonitor":
        mon = cls()
        spark.streams.addListener(mon)
        return mon

    def uninstall(self, spark) -> None:
        spark.streams.removeListener(self)
