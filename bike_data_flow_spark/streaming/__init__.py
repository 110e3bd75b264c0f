"""Structured Streaming surface: the Dagster sensor loop (ST1-ST7)
re-expressed as a file-source stream + foreachBatch per-batch commit
(each batch's own files, exactly once by batch id; a late file lands in
its own day, and `processed_at` is the time of the batch that first
landed a row), and the driver-side ingestion poller with the SHA-256
duplicate gate."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQuery


def await_or_raise(q: StreamingQuery, timeout_sec: int) -> None:
    """``awaitTermination`` with the timeout CHECKED (ADVICE r11): a
    gate/bench query reads the stream's output directory right after
    this wait, so proceeding on a timed-out (still-running) stream
    would read PARTIAL output — failing the oracle confusingly — while
    leaking a live query into the session. On timeout the stream is
    stopped and the timeout surfaced loudly instead."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.id} still running after {timeout_sec}s; "
            "stopped it instead of reading partial output"
        )
