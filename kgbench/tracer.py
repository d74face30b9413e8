"""Spans around the benchmark's calls into each layer.

Traced, every DataFrame a layer returns is built, persisted and counted in
its own span under the Spark job tag ``kgbench:<layer>:<op>``, in
dependency order. Because the inputs of a span are already persisted, the
span covers only its own layer's work. Untraced, the same calls run with no
persist, no count and no tag, exactly as a user would make them.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from eventlog import TAG_PREFIX


@dataclass
class Span:
    layer: str
    op: str
    wall_s: float
    rows: int = 0

    @property
    def tag(self) -> str:
        return f"{self.layer}:{self.op}"


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._persisted: list[DataFrame] = []

    @contextmanager
    def _span(self, layer: str, op: str) -> Iterator[Span]:
        sc = self.spark.sparkContext
        span = Span(layer, op, 0.0)
        tag = TAG_PREFIX + span.tag
        sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s = time.perf_counter() - t0
            sc.removeJobTag(tag)
            self.spans.append(span)

    def frame(self, layer: str, op: str, build: Callable[[], DataFrame]) -> DataFrame:
        """``build()``; traced, also persist and count the result in a span."""
        if not self.enabled:
            return build()
        with self._span(layer, op) as span:
            df = build().persist()
            span.rows = df.count()
        self._persisted.append(df)
        return df

    def write(self, op: str, action: Callable[[], None]) -> None:
        """Run a sink write; traced, inside a ``sink`` span."""
        if not self.enabled:
            action()
            return
        with self._span("sink", op):
            action()

    def close(self) -> None:
        while self._persisted:
            self._persisted.pop().unpersist()
