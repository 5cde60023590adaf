"""StreamingQueryListener -> heartbeat registry bridge (M1).

The reference's components heartbeat a ComponentManager
(sync/ComponentManager.scala:47-65); on Spark the equivalent signal is the
streaming engine's own events. Each query has ONE registry entry,
`component_name(<query name>)`: SyncPipeline names its query after the
pipeline, so the entry DbSyncApp.bootstrap registers is the one beaten
here. Every event that shows the query alive beats it — start, each
micro-batch progress, and each idle event, which Spark posts instead of
a progress event while a query waits for data — so the GREEN/YELLOW/RED
evaluation (monitor/health.py) works unchanged for streaming queries.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

from dbsync_spark.monitor.health import ComponentRegistry


def component_name(query_name: str) -> str:
    """Registry entry of the streaming query named `query_name`."""
    return f"pipeline:{query_name}"


class HeartbeatListener(StreamingQueryListener):
    def __init__(self, registry: ComponentRegistry, interval_ms: float = 60000):
        self.registry = registry
        self.interval_ms = interval_ms
        # query id -> entry: idle events carry the id but not the name
        self._entries: dict = {}

    def _beat(self, query_id, query_name) -> str:
        entry = self._entries.setdefault(
            query_id, component_name(query_name or query_id))
        if entry in self.registry.intervals:
            self.registry.heartbeat(entry)
        else:
            self.registry.register(entry, self.interval_ms)
        return entry

    def onQueryStarted(self, event):  # noqa: N802
        self._beat(event.id, event.name)

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        entry = self._beat(p.id, p.name)
        # last-batch operational stats for /status/sys (listener events
        # are delivered async; the registry just keeps the latest)
        try:
            self.registry.record_progress(entry, {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "triggerMs": dict(p.durationMs or {}).get(
                    "triggerExecution"),
                "timestamp": p.timestamp,
            })
        except Exception:  # noqa: BLE001 - stats are best-effort; a
            pass           # malformed event must not kill the listener bus

    def onQueryIdle(self, event):  # noqa: N802
        self._beat(event.id, None)

    def onQueryTerminated(self, event):  # noqa: N802
        self._entries.pop(event.id, None)
