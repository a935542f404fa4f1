"""Node-stats-shaped metrics (SURVEY §3.3).

Reference counterparts: the metric tree served by ``GET /_node/stats``
— logstash-core/lib/logstash/api/commands/stats.rb over
org/logstash/instrument/metrics/MetricKeys.java (``events.in``,
``events.filtered``, ``events.out``, ``duration_in_millis``) with
per-plugin in/out/failures counters wired in
config/ir/compiler/AbstractFilterDelegatorExt.java.

Here every run (and every micro-batch) emits the same JSON shape; the
per-sink counts double as the north-rule "per-sink aggregate counts".
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class StageMetrics:
    id: str
    events_in: int = 0
    events_out: int = 0
    failures: int = 0

    def to_dict(self) -> dict:
        return {
            "id": self.id,
            "events": {"in": self.events_in, "out": self.events_out},
            "failures": self.failures,
        }


@dataclass
class PipelineMetrics:
    pipeline_id: str
    events_in: int = 0
    events_filtered: int = 0
    events_out: int = 0
    duration_in_millis: int = 0
    filters: list[StageMetrics] = field(default_factory=list)
    sinks: dict[str, int] = field(default_factory=dict)

    def merge(self, other: "PipelineMetrics") -> "PipelineMetrics":
        out = PipelineMetrics(self.pipeline_id)
        out.events_in = self.events_in + other.events_in
        out.events_filtered = self.events_filtered + other.events_filtered
        out.events_out = self.events_out + other.events_out
        out.duration_in_millis = self.duration_in_millis + other.duration_in_millis
        by_id: dict[str, StageMetrics] = {}
        for m in self.filters + other.filters:
            acc = by_id.setdefault(m.id, StageMetrics(m.id))
            acc.events_in += m.events_in
            acc.events_out += m.events_out
            acc.failures += m.failures
        out.filters = list(by_id.values())
        out.sinks = dict(self.sinks)
        for k, v in other.sinks.items():
            out.sinks[k] = out.sinks.get(k, 0) + v
        return out

    def _events(self) -> dict:
        return {
            "in": self.events_in,
            "filtered": self.events_filtered,
            "out": self.events_out,
            "duration_in_millis": self.duration_in_millis,
        }

    def to_manifest(self) -> dict:
        """One batch's record: the checkpoint manifest entry and the
        stream's jsonl line both carry exactly these keys."""
        return {
            "events": self._events(),
            "sinks": dict(self.sinks),
            "failures": {m.id: m.failures for m in self.filters},
        }

    @classmethod
    def from_manifest(cls, pipeline_id: str, entry: dict) -> "PipelineMetrics":
        """Inverse of ``to_manifest`` (resume replays acked batches)."""
        ev = entry.get("events", {})
        m = cls(pipeline_id, ev.get("in", 0), ev.get("filtered", 0),
                ev.get("out", 0), ev.get("duration_in_millis", 0),
                sinks=dict(entry.get("sinks", {})))
        m.filters = [
            StageMetrics(sid, m.events_in, m.events_filtered, n)
            for sid, n in entry.get("failures", {}).items()
        ]
        return m

    def to_dict(self) -> dict:
        return {
            "events": self._events(),
            "pipelines": {
                self.pipeline_id: {
                    "events": self._events(),
                    "plugins": {
                        "filters": [m.to_dict() for m in self.filters],
                        "outputs": [
                            {"id": name, "events": {"out": n}}
                            for name, n in sorted(self.sinks.items())
                        ],
                    },
                }
            },
        }

    def write(self, path: str | Path) -> None:
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        Path(path).write_text(json.dumps(self.to_dict(), indent=2, sort_keys=True))
