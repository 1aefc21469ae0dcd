"""Tracing for the benchmark's traced run.

Spans are recorded only from the benchmark's own code: around each op
(build / plan / action) and around the calls the pipeline makes into
``plans.registry.table`` and ``sources.delta_log``, which are wrapped
from outside for the traced run and restored afterwards. Spark's own
work per op comes from a job group per op and the local event log,
parsed after the session stops.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# delta_log entry points: commits (writes and the MERGE), reads, and the
# snapshot resolution every one of them does
DELTA_COMMITS = ("write_delta", "upsert_delta_log")
DELTA_READS = ("read_delta", "table_changes", "table_history")
DELTA_WRAPPED = DELTA_COMMITS + DELTA_READS + ("resolve_snapshot",)
CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, module, attr: str, span_name: str, orig=None) -> None:
        orig = orig or getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, traced)

    def instrument(self) -> None:
        """Wrap the public functions whose calls the layers are named by."""
        if not self.enabled:
            return
        from medallion_delta_lake_spark.plans import registry
        from medallion_delta_lake_spark.sources import delta_log

        table = registry.table
        # plans modules bind ``table`` by name at import time
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(
                "medallion_delta_lake_spark.plans"
            ) and getattr(mod, "table", None) is table:
                self._wrap(mod, "table", "plans.table", orig=table)
        for fn in DELTA_WRAPPED:
            self._wrap(delta_log, fn, f"delta_log.{fn}")

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def mark(self) -> int:
        return len(self.spans)

    def layer_totals(self, start: int, end: int) -> dict[str, float]:
        """Per-layer sums over spans ``start:end`` (one pass)."""
        spans = self.spans[start:end]
        by_id = {s["id"]: s for s in spans}
        out: dict[str, float] = defaultdict(float)

        def outermost_delta(s):
            p = by_id.get(s["parent"])
            return not (p and p["name"].startswith("delta_log."))

        for s in spans:
            dur = s["end"] - s["start"]
            name = s["name"]
            if name == "plans.table":
                out["plans.table_calls"] += 1
                out["plans.table_s"] += dur
            elif name == "op.build":
                out["plans.build_s"] += dur
            elif name == "op.plan":
                for phase in CATALYST_PHASES:
                    out[f"spark.{phase}_ms"] += s.get(f"spark.{phase}_ms", 0.0)
            elif name == "op.action":
                out["spark.action_s"] += dur
            elif name == "delta_log.resolve_snapshot":
                out["delta_log.snapshot_resolves"] += 1
            elif name.startswith("delta_log.") and outermost_delta(s):
                fn = name.split(".", 1)[1]
                if fn in DELTA_COMMITS:
                    out["delta_log.commit_s"] += dur
                if fn == "upsert_delta_log":
                    out["delta_log.merge_s"] += dur
                if fn in DELTA_READS:
                    out["delta_log.read_s"] += dur
        return dict(out)

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}))


def catalyst_ms(df) -> dict[str, float]:
    """Plan ``df`` explicitly and read the Catalyst phase times from the
    query-execution tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in CATALYST_PHASES:
        opt = phases.get(phase)
        out[f"spark.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def parse_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Job group -> Spark counters summed over its jobs' tasks."""
    events = []
    for f in sorted(log_dir.rglob("events_*")):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups[group]["spark.jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            g = groups[stage_group[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            shuffle_read = m.get("Shuffle Read Metrics") or {}
            g["spark.tasks"] += 1
            g["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spark.shuffle_read_bytes"] += shuffle_read.get(
                "Remote Bytes Read", 0
            ) + shuffle_read.get("Local Bytes Read", 0)
            g["spark.shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            g["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            g["spark.input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
    return {k: dict(v) for k, v in groups.items()}
