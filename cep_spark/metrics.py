"""Streaming metrics: a StreamingQueryListener capturing the numbers
the BASELINE asks to report (rows/sec throughput, state size, watermark
lag, batch latency) — SURVEY.md §7.1 M4."""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

__all__ = ["CepMetricsListener"]


def _parse_iso(ts: str | None) -> float | None:
    if not ts:
        return None
    try:
        return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
    except ValueError:
        return None


class CepMetricsListener(StreamingQueryListener):
    """Collects per-batch progress into `self.progress` (list of dicts).

    p95 batch latency and mean throughput are derived properties so the
    bench harness can print them after the query finishes.
    """

    def __init__(self, guard_drops=None, late_dropped=None):
        """``guard_drops``: the accumulator a capped streaming query
        attaches as ``.guard_drops`` (stream_matches / stream_matches_
        multi with max_partials_per_state).  When given, every progress
        event records the running dropped-partial count and summary()
        exposes it — the alerting hook for a 100-TB operator running the
        loss-only state guard (drops are deterministic but are LOSS;
        they must be observable, not just warn-logged on executors).

        ``late_dropped``: the accumulator every streaming query attaches
        as ``.late_dropped`` (late rows the state function dropped).
        Spark's stateful operator drops rows at or below the watermark
        before they reach the function and reports them per batch as
        ``numRowsDroppedByWatermark``; ``late_rows_dropped()`` adds the
        two."""
        self.progress: list[dict] = []
        self.guard_drops = guard_drops
        self.late_dropped = late_dropped

    # -- listener callbacks -------------------------------------------------

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        state = (p.get("stateOperators") or [{}])[0]
        wm = _parse_iso((p.get("eventTime") or {}).get("watermark"))
        self.progress.append(
            {
                "batch_id": p.get("batchId"),
                "input_rows": p.get("numInputRows", 0),
                "rows_per_sec": p.get("processedRowsPerSecond", 0.0),
                "batch_duration_ms": (p.get("durationMs") or {}).get("triggerExecution"),
                "state_rows": state.get("numRowsTotal"),
                "state_bytes": state.get("stateMemory") or state.get("memoryUsedBytes"),
                "watermark_unix": wm,
                "late_rows_dropped": state.get("numRowsDroppedByWatermark") or 0,
                "wall_unix": _parse_iso(p.get("timestamp")),
                "guard_dropped_partials": (
                    self.guard_drops.value
                    if self.guard_drops is not None else None
                ),
            }
        )

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    # -- derived ------------------------------------------------------------

    def total_rows(self) -> int:
        return sum(x["input_rows"] for x in self.progress)

    def mean_rows_per_sec(self) -> float:
        tot_ms = sum(x["batch_duration_ms"] or 0 for x in self.progress)
        return self.total_rows() / (tot_ms / 1000.0) if tot_ms else 0.0

    def p95_batch_ms(self) -> float | None:
        ds = sorted(x["batch_duration_ms"] for x in self.progress if x["batch_duration_ms"])
        if not ds:
            return None
        return ds[min(len(ds) - 1, int(0.95 * len(ds)))]

    def max_state_rows(self) -> int:
        return max((x["state_rows"] or 0 for x in self.progress), default=0)

    def watermark_lag_sec(self) -> float | None:
        """Wall-clock minus watermark at the last progress event."""
        for x in reversed(self.progress):
            if x["watermark_unix"] and x["wall_unix"]:
                return x["wall_unix"] - x["watermark_unix"]
        return None

    def guard_dropped_partials(self) -> int | None:
        """Total partials dropped by the opt-in state guard (None when
        no guard accumulator was attached)."""
        if self.guard_drops is not None:
            return self.guard_drops.value
        for x in reversed(self.progress):
            if x.get("guard_dropped_partials") is not None:
                return x["guard_dropped_partials"]
        return None

    def late_rows_dropped(self) -> int:
        """Late rows dropped: by Spark's watermark filter in the reported
        batches, plus by the state function (when its accumulator was
        attached)."""
        spark_drops = sum(x["late_rows_dropped"] for x in self.progress)
        return spark_drops + (self.late_dropped.value if self.late_dropped is not None else 0)

    def summary(self) -> dict:
        return {
            "batches": len(self.progress),
            "total_rows": self.total_rows(),
            "mean_rows_per_sec": round(self.mean_rows_per_sec(), 1),
            "p95_batch_ms": self.p95_batch_ms(),
            "max_state_rows": self.max_state_rows(),
            "guard_dropped_partials": self.guard_dropped_partials(),
            "late_rows_dropped": self.late_rows_dropped(),
        }
