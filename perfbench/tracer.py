"""Spans and Spark engine counters for the traced run.

The tracer lives in the benchmark process only: it wraps calls into
the program's public entry points from outside and reads Spark's own
counters over py4j. An untraced run uses NullTracer, whose methods do
nothing, so the same workload code serves both runs.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class SparkCounters:
    """Job, codegen-compile and storage counters read over py4j."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._arrays = jvm.java.util.Arrays

    def next_job_id(self) -> int:
        v = self._sc.dagScheduler().nextJobId()
        return int(v.get()) if hasattr(v, "get") else int(v)

    def compiles(self) -> tuple[int, float]:
        """(compile count, total compile ms) since the JVM started.

        The count is exact. The histogram's reservoir keeps every
        sample until it holds 1028; past that the sum is estimated as
        count x the reservoir mean."""
        count = int(self._hist.getCount())
        text = self._arrays.toString(self._hist.getSnapshot().getValues())
        vals = [float(x) for x in text.strip("[]").split(",") if x.strip()]
        total = sum(vals)
        if count > len(vals) and vals:
            total = count * total / len(vals)
        return count, total

    def snapshot(self) -> tuple[int, int, float]:
        return (self.next_job_id(), *self.compiles())

    def storage_mem_mb(self) -> float:
        infos = self._sc.getRDDStorageInfo()
        return sum(int(i.memSize()) for i in infos) / 2**20

    def job_floor_ms(self, reps: int = 7) -> float:
        """Median wall time of the smallest Spark job."""
        out = []
        for _ in range(reps):
            t = time.perf_counter()
            self.spark.range(1).collect()
            out.append((time.perf_counter() - t) * 1000)
        return sorted(out)[len(out) // 2]


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    request = span

    def wrap_store(self, store) -> None:
        pass

    def dump(self, path: str, extra: dict) -> None:
        pass


class Tracer(NullTracer):
    """Spans (name, start, end, parent, attributes) kept in memory and
    written out once at exit. Each span also carries the Spark job,
    compile and compile-ms deltas over its interval.

    The benchmark's client is a closed loop with one thread, so a store
    call made by the API's handler thread belongs to the client request
    in flight; that request's span becomes its parent."""

    enabled = True

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.current_request: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.current_request
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, **attrs}
            self.spans.append(rec)
        job0, comp0, cms0 = self.counters.snapshot()
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            job1, comp1, cms1 = self.counters.snapshot()
            rec["jobs"] = job1 - job0
            rec["compiles"] = comp1 - comp0
            rec["compile_ms"] = cms1 - cms0

    @contextlib.contextmanager
    def request(self, name: str, **attrs):
        """A client request: the parent of store calls served for it."""
        with self.span(name, **attrs) as rec:
            self.current_request = rec["id"]
            try:
                yield rec
            finally:
                self.current_request = None

    def wrap_store(self, store) -> None:
        """Shadow the store's public entry points on this instance with
        spanned versions. datasets() returns a lazy frame that the API
        collects, so the span covers that collect too."""
        from open_tlm_spark.operators.rollup import recommended_fidelity

        put, read_window, datasets = store.put, store.read_window, store.datasets
        tracer = self

        def traced_put(batch, *a, **kw):
            with tracer.span("store.put"):
                return put(batch, *a, **kw)

        def traced_read_window(dataset_id, start, end, fidelity="auto", *a, **kw):
            fid = fidelity
            if fid == "auto":
                fid = recommended_fidelity((end - start).total_seconds())
            kind = "raw" if fid is None else "rollup"
            with tracer.span("store.read_window", kind=kind):
                return read_window(dataset_id, start, end, fidelity, *a, **kw)

        class _Collect:
            def __init__(self, df):
                self.df = df

            def collect(self):
                with tracer.span("store.datasets"):
                    return self.df.collect()

        def traced_datasets(*a, **kw):
            return _Collect(datasets(*a, **kw))

        store.put = traced_put
        store.read_window = traced_read_window
        store.datasets = traced_datasets

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def named(self, name: str, **match) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and "end" in s
            and all(s.get(k) == v for k, v in match.items())
        ]

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s.get("end", s["start"]) - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh)
