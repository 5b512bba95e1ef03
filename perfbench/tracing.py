"""In-memory spans around the benchmark's calls into texoo_spark.

A span is (name, start, end, parent, run id); spans of one benchmark run
share the run id. Spans live in memory and are written out once, at the end
of the run. A layer's self time is its span's duration minus the time its
child spans cover.

Calls made once per job go through ``Tracer.wrap(module)``, which records a
span named ``<module>.<function>`` around every public function call. Loops
that call a kernel once per turn record one span around the whole loop with
the number of calls, because a span per call would cost as much as the
kernel being timed.

``Tracer.spark_actions()`` also records a span around every Spark action
PySpark runs (``DataFrame.collect``, ``DataFrame.count`` and parquet
writes, named ``spark.collect``, ``spark.count`` and
``spark.write:<last path component>``), including the actions a
texoo_spark function runs inside itself: the spans under a
``pipeline.run_extraction`` span time that function's own stages.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, calls: int = 1):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent,
                           "run_id": self.run_id, "calls": calls,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, module) -> "_TracedModule":
        return _TracedModule(self, module)

    @contextlib.contextmanager
    def spark_actions(self, spark):
        """Record a span around every collect, count and parquet write made
        while the context is open (and tracing is on). A tracer that is off
        on entry patches nothing, so untraced runs run PySpark's own
        methods."""
        if not self.enabled:
            yield
            return
        # patch the session's concrete classes: PySpark's classic DataFrame
        # overrides the methods of the pyspark.sql.DataFrame base class
        probe = spark.range(0)
        DataFrame, DataFrameWriter = type(probe), type(probe.write)
        tracer = self
        saved = (DataFrame.collect, DataFrame.count, DataFrameWriter.parquet)

        def collect(df):
            with tracer.span("spark.collect"):
                return saved[0](df)

        def count(df):
            with tracer.span("spark.count"):
                return saved[1](df)

        def parquet(writer, path, *args, **kwargs):
            name = os.path.basename(os.path.normpath(path))
            with tracer.span(f"spark.write:{name}"):
                return saved[2](writer, path, *args, **kwargs)
        DataFrame.collect, DataFrame.count = collect, count
        DataFrameWriter.parquet = parquet
        try:
            yield
        finally:
            DataFrame.collect, DataFrame.count = saved[:2]
            DataFrameWriter.parquet = saved[2]

    def children(self, idx: int | None) -> list[dict]:
        """Spans whose parent is span ``idx`` (top-level spans for None),
        in start order."""
        return [s for s in self.spans if s["parent"] == idx]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, summed over the run."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            own = s["end"] - s["start"] - c
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"run_id": self.run_id,
                                "self_s": selfs}) + "\n")


class _TracedModule:
    """Proxy whose public functions record a span per call while tracing."""

    def __init__(self, tracer: Tracer, module):
        self._tracer = tracer
        self._module = module
        self._prefix = module.__name__.rsplit(".", 1)[-1]

    def __getattr__(self, attr):
        fn = getattr(self._module, attr)
        if attr.startswith("_") or not callable(fn):
            return fn
        tracer, name = self._tracer, f"{self._prefix}.{attr}"

        def call(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return call
