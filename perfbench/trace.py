"""Span recording for traced runs, and the per-layer report.

A span is one JSON line: ``name``, ``start``/``end`` (epoch seconds),
``self_ms`` (time the layer itself was running, excluding time it
waited on its input or was suspended while its output was consumed),
``parent`` (the layer whose work caused it), ``trace`` (the micro-batch
id or query name, when the recording side knows it) and ``pid``.
Python workers append their spans to ``spans-<pid>.jsonl`` in the span
directory when each outermost call ends; the report joins the files
after the run and assigns streaming spans to the trigger whose
execution interval contains their start.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


class SpanWriter:
    """Per-process span sink. Picklable: holds only the directory and
    opens its file lazily, so it can ride inside a data-source reader,
    writer or UDF closure to the worker process that runs it."""

    def __init__(self, span_dir: str):
        self.span_dir = span_dir

    def emit(self, name: str, start: float, end: float, self_ms: float | None = None,
             parent: str = "trigger", trace=None, **attrs) -> None:
        rec = {"name": name, "start": start, "end": end,
               "self_ms": (end - start) * 1000.0 if self_ms is None else self_ms,
               "parent": parent, "trace": trace, "pid": os.getpid(), **attrs}
        path = os.path.join(self.span_dir, f"spans-{os.getpid()}.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")


def load_spans(span_dir: str) -> list[dict]:
    spans = []
    for path in glob.glob(os.path.join(span_dir, "spans-*.jsonl")):
        with open(path) as f:
            spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def assign_triggers(spans: list[dict], triggers: list[dict]) -> None:
    """Set each span's ``trace`` to the batch id of the trigger it
    belongs to among ``triggers``: the id its recorder gave it, else the
    trigger whose execution interval contains its start (triggers run
    one at a time). Spans of no such trigger get ``None``."""
    iv = sorted((t["start"], t["end"], t["batch_id"]) for t in triggers)
    ids = {bid for _, _, bid in iv}
    for s in spans:
        if s.get("trace") is not None:
            s["trace"] = s["trace"] if s["trace"] in ids else None
            continue
        s["trace"] = next((bid for lo, hi, bid in iv
                           if lo - 0.05 <= s["start"] <= hi + 0.05), None)


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, summed wall ms, summed self ms, and the
    summed py4j commands of the spans that record them."""
    out: dict[str, dict] = defaultdict(lambda: {"count": 0, "wall_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        row = out[s["name"]]
        row["count"] += 1
        row["wall_ms"] += (s["end"] - s["start"]) * 1000.0
        row["self_ms"] += s["self_ms"]
        if "py4j_calls" in s:
            row["py4j_calls"] = row.get("py4j_calls", 0) + s["py4j_calls"]
    return {k: {kk: round(vv, 3) for kk, vv in v.items()} for k, v in sorted(out.items())}


def trace_tables(spans: list[dict]) -> dict[str, dict]:
    """``layer_table`` per trace id: per trigger for the streaming
    workload, per query (summed over the passes) for ``headline``."""
    by: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s.get("trace") is not None:
            by[str(s["trace"])].append(s)
    return {k: layer_table(v) for k, v in sorted(by.items())}


def write_report(path: str, report: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True, default=str)
