"""Spans around the benchmark's calls into each library layer.

A span records name, start, end, its parent span and the run id. Spans are
kept in memory and written once, as JSON lines, when the run ends. While a
span is open its name is set as the Spark local property ``perfbench.span``,
so every Spark job it submits carries the name into the event log and
``spark_layer_stats`` can attribute tasks, shuffle, spill and scheduler
delay to the innermost layer that caused them.

Library functions are lazy DataFrame builders, so ``Patch`` wraps a layer
entry point in a span that also materializes the DataFrame it returns
(``localCheckpoint``): the layer's work then runs inside its own span
instead of inside whichever later call first forces it. That shifts work
between stages, and a materialized result is not re-evaluated where the
untraced plan would evaluate it twice, so the overhead can read negative.
This is why end-to-end metrics come from untraced passes only and the
traced run reports its own overhead.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "span_id": len(self.spans),
            "parent": parent["span_id"] if parent else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, self._stack[-1]["name"] if self._stack else None
            )

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class NullTracer:
    """Tracing off: spans and counts cost nothing and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None

    def count(self, name: str, value: float) -> None:
        pass


def self_times(spans: list[dict]) -> dict[int, float]:
    """span_id → duration minus the time its direct children cover.

    Children of one span run one after another (the benchmark drives Spark
    from a single thread), so their durations do not overlap."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["span_id"]: (s["end"] - s["start"]) - child[s["span_id"]]
            for s in spans}


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Run ``df`` now; return the materialized frame and its row count."""
    done = df.localCheckpoint(eager=True)
    return done, done.count()


class Patch:
    """Replace module attributes with traced handlers for the duration of a
    ``with`` block, restoring the originals on exit.

    ``handler(orig, *args, **kwargs)`` stands in for the attribute: it opens
    its own span, calls ``orig`` and may record counts."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, handler) -> None:
        orig = getattr(module, attr)  # AttributeError if the layer moved

        def traced(*args, **kwargs):
            return handler(orig, *args, **kwargs)

        self._saved.append((module, attr, orig))
        setattr(module, attr, traced)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved.clear()


def counted(tracer, span: str, rows_metric: str | None = None,
            keep_lineage: bool = False):
    """Handler: run the layer in ``span``, materialize the DataFrame it
    returns and record its row count under ``rows_metric``, if given.

    ``keep_lineage`` hands the caller the original lazy DataFrame instead
    of the materialized one, for layers whose callers re-evaluate the
    result (``group()`` re-runs the whole match): the checkpoint would act
    as a cache the untraced run does not have."""
    def handler(orig, *args, **kwargs):
        with tracer.span(span):
            df = orig(*args, **kwargs)
            done, n = materialize(df)
        if rows_metric:
            tracer.count(rows_metric, n)
        return df if keep_lineage else done
    return handler


def spark_layer_stats(event_log_dir: Path) -> dict[str, dict[str, float]]:
    """Per span name: tasks, shuffle bytes written, bytes spilled, scheduler
    delay and failed tasks, from the Spark event log.

    Scheduler delay follows the Spark UI: task wall time minus executor
    run, deserialize and result-serialization time and the time spent
    fetching the result — the time a launched task waited on the
    scheduler rather than doing work."""
    files = [p for p in event_log_dir.rglob("*")
             if p.is_file() and not p.name.startswith((".", "appstatus"))]
    stage_span: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    for sid in ev.get("Stage IDs", []):
                        stage_span[sid] = name or "untraced"
                elif kind == "SparkListenerTaskEnd":
                    name = stage_span.get(ev["Stage ID"], "untraced")
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    agg = out[name]
                    agg["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        agg["task_failures"] += 1
                    agg["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0)
                    )
                    agg["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)
                    )
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    busy = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    agg["scheduler_delay_s"] += max(0, wall - busy) / 1000.0
    return {k: dict(v) for k, v in out.items()}
