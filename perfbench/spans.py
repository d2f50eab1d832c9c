"""Layer tracing for the benchmark's traced runs (``--trace 1``).

The engine is measured from outside: ``Tracer.install`` wraps the public
methods of each layer at runtime, here in the benchmark, and records one
span per call (name, start, end, parent span, micro-batch id, plus a few
layer attributes).  Spans stay in memory and are written out when the run
ends.  Spark jobs are attributed to spans afterwards from the status store
(``statusStore().jobsList``): a job belongs to every span whose interval
holds the job's midpoint, and a span's job time is the union of its jobs'
intervals, so driver time (wall minus job time) is never negative.

Untraced runs install nothing; ``stream_metrics`` and ``job_intervals``
only read the status store and the query's progress reports.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

# (module, owner, attribute, span name)
TARGETS = [
    ("qin_cdc_spark.streaming.cdc_stream", "CdcStreamRoute", "apply_batch", "route.apply"),
    ("qin_cdc_spark.streaming.cdc_stream", None, "decode_envelope", "decode"),
    ("qin_cdc_spark.streaming.cdc_stream", "BucketedUpsertTable", "merge", "flat.merge"),
    ("qin_cdc_spark.streaming.versioned", "VersionedBucketedTable", "merge", "versioned.merge"),
    ("qin_cdc_spark.streaming.versioned", "VersionedBucketedTable", "changes_between", "versioned.cdf"),
    ("qin_cdc_spark.streaming.partitioned", "PartitionedVersionedTable", "merge", "partitioned.merge"),
    ("qin_cdc_spark.streaming.scd2", "ScdType2Table", "apply_batch", "scd2.apply"),
    ("qin_cdc_spark.streaming.scd2", "ScdHistoryStatsMV", "refresh", "scd2_stats.refresh"),
    ("qin_cdc_spark.streaming.derived", "DerivedKeyedAggTable", "refresh", "derived.refresh"),
    ("qin_cdc_spark.streaming.cdc_stream", None, "emit_store_egress", "egress.emit"),
    ("qin_cdc_spark.streaming.coordinator", "SnapshotCoordinator", "record", "coordinator.record"),
]

# every per-layer metric; a layer the workload does not exercise reads 0
LAYER_METRICS = {
    "stream.batch.jobs": "count",
    "stream.batch.job_ms": "ms",
    "stream.batch.driver_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.checkpoint_ms": "ms",
    "stream.query_planning_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.lag_files_max": "count",
    "gen.late_ms_max": "ms",
    "route.apply.wall_ms": "ms",
    "route.apply.jobs": "count",
    "decode.driver_ms": "ms",
    "flat.merge.wall_ms": "ms",
    "flat.merge.jobs": "count",
    "flat.merge.job_ms": "ms",
    "versioned.merge.wall_ms": "ms",
    "versioned.merge.jobs": "count",
    "versioned.merge.job_ms": "ms",
    "versioned.merge.driver_ms": "ms",
    "versioned.merge.buckets_touched_frac": "ratio",
    "versioned.merge.bytes_written_per_event": "B",
    "partitioned.merge.wall_ms": "ms",
    "partitioned.merge.jobs": "count",
    "partitioned.merge.driver_ms": "ms",
    "scd2.apply.wall_ms": "ms",
    "scd2.apply.jobs": "count",
    "derived.refresh.wall_ms": "ms",
    "derived.refresh.jobs": "count",
    "scd2_stats.refresh.wall_ms": "ms",
    "scd2_stats.refresh.jobs": "count",
    "egress.emit.wall_ms": "ms",
    "egress.emit.jobs": "count",
    "egress.emit.messages": "count",
    "coordinator.record.wall_ms": "ms",
    "versioned.read_key.wall_ms": "ms",
    "versioned.read_key.jobs": "count",
    "versioned.cdf.wall_ms": "ms",
    "versioned.cdf.jobs": "count",
    "versioned.cdf.buckets_read_frac": "ratio",
    "versioned.store_bytes": "B",
    "versioned.versions_retained": "count",
    "trace.overhead_ms": "ms",
}


def _dir_bytes(path: str) -> dict[str, int]:
    """Immediate subdirectories of a store path -> bytes of their files."""
    out = {}
    if not os.path.isdir(path):
        return out
    for d in os.scandir(path):
        if d.is_dir():
            out[d.name] = sum(
                f.stat().st_size for f in os.scandir(d.path) if f.is_file()
            )
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _, files in os.walk(path):
        n += sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for f in files
            if f.endswith(".parquet")
        )
    return n


def _bucket_dirs(store, version: int) -> dict:
    return store._meta()["versions"][str(version)]["buckets"]


class Tracer:
    """Records spans around the wrapped layer methods of one run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.batch_id = None  # micro-batch being applied
        self.overhead_s = 0.0
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    # -- installation ------------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, owner_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around the block; spans nest per thread."""
        t = time.perf_counter()
        stack = self._stack()
        span = {
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "batch": self.batch_id,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        self.overhead_s += time.perf_counter() - t
        span["start"] = time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            if name == "route.apply" and kwargs.get("batch_id") is not None:
                tracer.batch_id = kwargs["batch_id"]
            elif name == "coordinator.record":
                tracer.batch_id = args[1]
            pre = tracer._before(name, args)
            tracer.overhead_s += time.perf_counter() - t
            with tracer.span(name) as span:
                result = fn(*args, **kwargs)
            t = time.perf_counter()
            tracer._after(name, args, span, pre)
            tracer.overhead_s += time.perf_counter() - t
            return result

        return wrapper

    # -- layer attributes (driver-side only: no Spark jobs) -----------------

    def _before(self, name: str, args):
        if name == "versioned.merge":
            return _dir_bytes(args[0].path)
        if name == "versioned.cdf":
            store, v_from, v_to = args[0], args[1], args[2]
            to = _bucket_dirs(store, v_to)
            frm = _bucket_dirs(store, v_from) if v_from > 0 else {}
            changed = sum(1 for b, d in to.items() if frm.get(b) != d)
            return changed / max(1, len(to))
        if name == "egress.emit":
            d = args[1]
            return set(os.listdir(d)) if os.path.isdir(d) else set()
        return None

    def _after(self, name: str, args, span: dict, pre) -> None:
        if name == "versioned.merge":
            store = args[0]
            span["path"] = store.path
            after = _dir_bytes(store.path)
            span["bytes_written"] = sum(b for d, b in after.items() if d not in pre)
            hist = store.history()
            if hist:
                cur = hist[-1]
                span["touched_frac"] = cur["new_dirs"] / max(1, cur["n_buckets"])
        elif name == "versioned.cdf":
            span["buckets_read_frac"] = pre
        elif name == "egress.emit":
            d = args[1]
            new = set(os.listdir(d)) - pre if os.path.isdir(d) else set()
            span["messages"] = sum(
                _parquet_rows(os.path.join(d, n)) for n in new if not n.startswith(".")
            )

    # -- reporting -----------------------------------------------------------

    def attribute_jobs(self, jobs: list[tuple[float, float]]) -> None:
        """Give every span its job count and job time (ms)."""
        for s in self.spans:
            if "end" not in s:
                continue
            mine = [
                (a, b) for a, b in jobs if s["start"] <= (a + b) / 2 <= s["end"]
            ]
            s["jobs"] = len(mine)
            s["job_ms"] = union_ms(mine)
            s["wall_ms"] = (s["end"] - s["start"]) * 1000.0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] second intervals, in ms."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


def job_intervals(spark) -> list[tuple[float, float]]:
    """(submitted, completed) epoch seconds of every retained, finished
    Spark job, read from the status store (works with the UI off)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.length()):
        j = jobs.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isDefined() and done.isDefined():
            out.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
    return out


def _median(values, default=0.0) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else default


def layer_metrics(tracer: Tracer, measured) -> dict[str, float]:
    """Per-layer metrics over the spans of the measured phase:
    ``measured(span) -> bool`` picks them; per-call stats are medians.

    A layer counts its direct calls only: from the stream's batch
    function (no parent), from a route's ``apply_batch``, or from the
    benchmark's read probe.  The same class used inside another layer
    (a view's state store, the history store) belongs to that layer."""
    spans = [s for s in tracer.spans if "wall_ms" in s and measured(s)]
    names = {s["id"]: s["name"] for s in tracer.spans}
    direct_parents = {None, "route.apply"}

    def calls(name, anywhere=False):
        return [
            s for s in spans
            if s["name"] == name
            and (anywhere or names.get(s["parent"]) in direct_parents)
        ]

    def med(name, field, anywhere=False):
        return _median([s.get(field) for s in calls(name, anywhere)])

    def driver(name):
        return _median([s["wall_ms"] - s["job_ms"] for s in calls(name)])

    m = {}
    for name in (
        "route.apply", "flat.merge", "partitioned.merge", "scd2.apply",
        "derived.refresh", "scd2_stats.refresh", "egress.emit",
        "coordinator.record", "versioned.merge",
    ):
        m[f"{name}.wall_ms"] = med(name, "wall_ms")
        m[f"{name}.jobs"] = med(name, "jobs")
    m["decode.driver_ms"] = med("decode", "wall_ms", anywhere=True)
    m["flat.merge.job_ms"] = med("flat.merge", "job_ms")
    m["partitioned.merge.driver_ms"] = driver("partitioned.merge")
    m["egress.emit.messages"] = med("egress.emit", "messages")
    vm = "versioned.merge"
    m[f"{vm}.job_ms"] = med(vm, "job_ms")
    m[f"{vm}.driver_ms"] = driver(vm)
    m[f"{vm}.buckets_touched_frac"] = med(vm, "touched_frac")
    m[f"{vm}.bytes_written_per_event"] = _median(
        [s["bytes_written"] / s["events"] for s in calls(vm) if s.get("events")]
    )
    # client-side reads: the probe's spans hold the collect / consume jobs,
    # which a lazy engine call would leave to its caller
    for probe, layer in (("probe.read_key", "versioned.read_key"), ("probe.cdf", "versioned.cdf")):
        m[f"{layer}.wall_ms"] = med(probe, "wall_ms", anywhere=True)
        m[f"{layer}.jobs"] = med(probe, "jobs", anywhere=True)
    m["versioned.cdf.buckets_read_frac"] = med("versioned.cdf", "buckets_read_frac", anywhere=True)
    return m


def stream_metrics(batches: list[dict], jobs: list[tuple[float, float]]) -> dict[str, float]:
    """Per-micro-batch split from the query's progress reports plus the
    status store: jobs, job time, driver time (wall minus job time) and
    the progress ``durationMs`` phases, as medians over ``batches``."""
    rows = []
    for b in batches:
        mine = [(a, e) for a, e in jobs if b["start"] <= (a + e) / 2 <= b["end"]]
        d = b["durations"]
        job_ms = union_ms(mine)
        rows.append(
            {
                "jobs": len(mine),
                "job_ms": job_ms,
                "driver_ms": d["triggerExecution"] - job_ms,
                "add": d.get("addBatch", 0),
                "ckpt": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "plan": d.get("queryPlanning", 0),
                "latest": d.get("latestOffset", 0),
            }
        )

    def med(k):
        return _median([r[k] for r in rows])

    return {
        "stream.batch.jobs": med("jobs"),
        "stream.batch.job_ms": med("job_ms"),
        "stream.batch.driver_ms": med("driver_ms"),
        "stream.add_batch_ms": med("add"),
        "stream.checkpoint_ms": med("ckpt"),
        "stream.query_planning_ms": med("plan"),
        "source.latest_offset_ms": med("latest"),
    }
