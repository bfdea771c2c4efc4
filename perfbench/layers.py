"""Traced variants of the streaming layers, for traced runs only.

Each subclass calls the shipped implementation and records a span
around it; nothing in the product is patched. They are registered under
benchmark-only names (``perfbench_queue``, ``perfbench_results``) so an
untraced run can never pick them up.
"""

from __future__ import annotations

import time

from streamprocess_spark.io.queue_source import (
    PriorityQueueDataSource,
    PriorityQueueStreamReader,
)
from streamprocess_spark.io.result_sink import (
    ResultStoreDataSource,
    ResultStoreStreamWriter,
)

from perfbench.trace import SpanWriter


def _timed_iter(it, acc: list):
    """Yield from ``it``; ``acc[0]`` accumulates seconds spent inside
    ``next(it)`` and ``acc[1]`` the rows it produced."""
    it = iter(it)
    while True:
        t = time.perf_counter()
        try:
            item = next(it)
        except StopIteration:
            acc[0] += time.perf_counter() - t
            return
        acc[0] += time.perf_counter() - t
        acc[1] += item.num_rows if hasattr(item, "num_rows") else len(item)
        yield item


def _busy_gen(gen, acc: list):
    """Yield from generator ``gen``; ``acc[2]`` accumulates seconds the
    caller spent resumed inside it (time suspended at a ``yield`` while
    the consumer works is excluded)."""
    t = time.perf_counter()
    for item in gen:
        acc[2] += time.perf_counter() - t
        yield item
        t = time.perf_counter()
    acc[2] += time.perf_counter() - t


class TracedQueueReader(PriorityQueueStreamReader):
    def __init__(self, options):
        super().__init__(options)
        self.spans = SpanWriter(options["span_dir"])

    def latestOffset(self) -> dict:
        t0 = time.time()
        end = super().latestOffset()
        self.spans.emit("queue_source.latest_offset", t0, time.time(),
                        lines=sum(end.values()))
        return end

    def partitions(self, start: dict, end: dict):
        t0 = time.time()
        parts = super().partitions(start, end)
        self.spans.emit("queue_source.partitions", t0, time.time(), n=len(parts))
        return parts

    def read(self, partition):
        t0 = time.time()
        acc = [0.0, 0, 0.0]
        try:
            yield from _busy_gen(_timed_iter(super().read(partition), acc), acc)
        finally:
            self.spans.emit("queue_source.read", t0, time.time(),
                            self_ms=acc[2] * 1000.0, rows=acc[1])

    def commit(self, end: dict) -> None:
        t0 = time.time()
        super().commit(end)
        self.spans.emit("queue_source.commit", t0, time.time())


class TracedQueueSource(PriorityQueueDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_queue"

    def streamReader(self, schema):
        return TracedQueueReader(self.options)


class TracedResultWriter(ResultStoreStreamWriter):
    def __init__(self, options):
        super().__init__(options)
        self.spans = SpanWriter(options["span_dir"])

    def write(self, iterator):
        t0 = time.time()
        acc = [0.0, 0, 0.0]
        try:
            return super().write(_timed_iter(iterator, acc))
        finally:
            t1 = time.time()
            self.spans.emit("result_sink.write", t0, t1,
                            self_ms=((t1 - t0) - acc[0]) * 1000.0,
                            input_wait_ms=acc[0] * 1000.0, rows=acc[1])

    def commit(self, messages, batchId: int) -> None:
        t0 = time.time()
        super().commit(messages, batchId)
        self.spans.emit("result_sink.commit", t0, time.time(), trace=batchId,
                        rows=sum(m.n_written for m in messages if m is not None))


class TracedResultSink(ResultStoreDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_results"

    def streamWriter(self, schema, overwrite: bool):
        return TracedResultWriter(self.options)


def timed_group_fn(fn, span_dir: str):
    """Wrap an ``applyInPandasWithState`` function: one span per group
    call whose self time excludes pulling input batches and time
    suspended while Spark consumes the output."""
    spans = SpanWriter(span_dir)

    def wrapped(key, pdfs, state):
        from pyspark import TaskContext

        t0 = time.time()
        acc = [0.0, 0, 0.0]
        out_rows = 0
        try:
            for pdf in _busy_gen(fn(key, _timed_iter(pdfs, acc), state), acc):
                out_rows += len(pdf)
                yield pdf
        finally:
            ctx = TaskContext.get()
            spans.emit("sessionizer.fn", t0, time.time(),
                       self_ms=(acc[2] - acc[0]) * 1000.0,
                       rows=acc[1], segments=out_rows,
                       partition=ctx.partitionId() if ctx else -1)

    return wrapped


def register_traced(spark) -> None:
    spark.dataSource.register(TracedQueueSource)
    spark.dataSource.register(TracedResultSink)
