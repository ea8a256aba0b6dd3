"""Pipeline observability (SURVEY.md §2.12 O6).

The reference ships a 400-line progress/metrics surface
(/root/reference/sdk/lib/progress.php:102-446 — per-row progress bar,
elapsed, rate, ETA) because its cursor loop owns the row stream. On
Spark the engine owns the rows, so the equivalent surface is:

- **per-table pipeline metrics**: each ``run_table`` appends a JSONL
  record — table, rows written and quarantined, bytes on disk, wall
  seconds, rows/sec — to the path in ``SPARK_GRAFT_METRICS`` (or one
  passed explicitly). The CLI prints the same records.
- **in-plan counters** via ``DataFrame.observe``: each table's
  written and quarantined row counts are observed by the one action
  that pins its frame (``materialize``), the Spark-native replacement
  for the reference's per-row tick.
- **streaming progress** via a Python ``StreamingQueryListener``
  recording per-batch rows/sec from the engine's own
  ``StreamingQueryProgress`` — attach with ``attach_streaming_metrics``.

Everything degrades to a no-op when no sink path is configured: the
hot path never pays for metrics it isn't asked to record.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import SparkSession

ENV_KEY = "SPARK_GRAFT_METRICS"

_lock = threading.Lock()


def metrics_path() -> str | None:
    return os.environ.get(ENV_KEY) or None


def emit(record: dict[str, Any], path: str | None = None) -> None:
    """Append one JSONL metrics record (thread-safe — pipeline stages
    run tables concurrently). No-op without a configured path."""
    out = path or metrics_path()
    if not out:
        return
    line = json.dumps({"ts": time.time(), **record}, sort_keys=True)
    with _lock:
        d = os.path.dirname(out)
        if d:
            os.makedirs(d, exist_ok=True)
        with open(out, "a") as f:
            f.write(line + "\n")


def dir_bytes(path: str | None) -> int | None:
    if not path or not os.path.isdir(path):
        return None
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
    )


@contextmanager
def table_metrics(
    table: str, path: str | None = None
) -> Iterator[dict[str, Any]]:
    """Context manager around one table's run: caller fills
    ``rows_written`` / ``dest_path`` in the yielded dict; wall time,
    bytes and rate are computed on exit and the record emitted."""
    rec: dict[str, Any] = {"event": "table_done", "table": table}
    t0 = time.time()
    try:
        yield rec
    except Exception:
        emit(
            {**rec, "event": "table_failed", "wall_s": round(time.time() - t0, 3)},
            path,
        )
        raise
    wall = time.time() - t0
    rec["wall_s"] = round(wall, 3)
    rows = rec.get("rows_written")
    if rows is not None and wall > 0:
        rec["rows_per_s"] = round(rows / wall, 1)
    nbytes = dir_bytes(rec.get("dest_path"))
    if nbytes is not None:
        rec["bytes_written"] = nbytes
    emit(rec, path)


def attach_streaming_metrics(
    spark: SparkSession, path: str | None = None
) -> object:
    """Attach a StreamingQueryListener that appends each micro-batch's
    progress (rows in, processed rows/sec, batch duration, state rows)
    to the metrics JSONL. Returns the listener (pass to
    ``spark.streams.removeListener`` to detach)."""
    from pyspark.sql.streaming import StreamingQueryListener

    sink = path or metrics_path()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            emit({"event": "stream_started", "query_id": str(event.id)}, sink)

        def onQueryProgress(self, event):
            p = event.progress
            emit(
                {
                    "event": "stream_progress",
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "processed_rows_per_s": p.processedRowsPerSecond,
                    "batch_duration_ms": p.batchDuration,
                },
                sink,
            )

        def onQueryTerminated(self, event):
            emit({"event": "stream_terminated", "query_id": str(event.id)}, sink)

        def onQueryIdle(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def read_metrics(path: str | None = None) -> list[dict[str, Any]]:
    """Load the JSONL metrics file (CLI / test surface)."""
    out = path or metrics_path()
    if not out or not os.path.exists(out):
        return []
    with open(out) as f:
        return [json.loads(line) for line in f if line.strip()]


class ProgressEstimator:
    """Sliding-window rate + ETA, matching the reference's progress
    surface (/root/reference/sdk/lib/progress.php:424-446: rate from
    the last 5 (time, done) samples, ETA = remaining/rate). The
    reference ticks per ROW because its cursor loop owns the stream;
    on Spark the natural tick is per completed UNIT OF WORK — a table
    in a pipeline DAG, a micro-batch in a stream, a partition batch in
    a bulk import — so ``update`` takes whatever unit the caller
    owns. Driver-side only, O(window) memory, no Spark dependency.
    """

    def __init__(self, total: float | None = None, window: int = 5) -> None:
        self.total = total
        self.window = max(2, window)
        self._samples: list[tuple[float, float]] = []

    def update(self, done: float, now: float | None = None) -> dict[str, Any]:
        """Record cumulative ``done`` units; returns the current
        snapshot {done, total, rate_per_s, eta_s, pct}. ``now`` is
        injectable for tests."""
        t = time.time() if now is None else now
        self._samples.append((t, done))
        if len(self._samples) > self.window:
            self._samples = self._samples[-self.window :]
        return self.snapshot()

    def snapshot(self) -> dict[str, Any]:
        done = self._samples[-1][1] if self._samples else 0.0
        out: dict[str, Any] = {"done": done, "total": self.total}
        rate = None
        if len(self._samples) >= 2:
            (t0, d0), (tn, dn) = self._samples[0], self._samples[-1]
            if tn > t0 and dn > d0:
                rate = (dn - d0) / (tn - t0)
        out["rate_per_s"] = round(rate, 3) if rate else None
        if self.total:
            out["pct"] = round(100.0 * done / self.total, 1)
            out["eta_s"] = (
                round((self.total - done) / rate, 1) if rate else None
            )
        return out

    def emit_progress(self, label: str, path: str | None = None) -> None:
        """Append the current snapshot to the metrics JSONL."""
        emit({"event": "progress", "label": label, **self.snapshot()}, path)
