"""Streaming observability (X4/X8): a StreamingQueryListener that captures
per-batch progress — rows processed, state size, and late rows dropped by the
watermark — the streaming analogue of the reference's ProcessingStats
(stats.py:24-121). Late rows are dropped by Spark's watermark and COUNTED
here (X4; reference --skip-errors keeps going past bad pages, cli.py:963-968).
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener


class ProgressCapture(StreamingQueryListener):
    def __init__(self):
        self.progresses: list[dict] = []

    # -- listener interface --
    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        try:
            self.progresses.append(json.loads(event.progress.json))
        except Exception:
            pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    # -- aggregated views --
    def rows_dropped_by_watermark(self) -> int:
        total = 0
        for p in self.progresses:
            for op in p.get("stateOperators", []):
                total += int(op.get("numRowsDroppedByWatermark", 0))
        return total

    def observed(self, name: str) -> list[dict]:
        """df.observe(...) metric rows captured per batch (A8)."""
        out = []
        for p in self.progresses:
            m = p.get("observedMetrics", {}).get(name)
            if m:
                out.append(m)
        return out
