"""The benchmark workloads.

Each takes a ``Run`` (session, seed, seconds, scratch dir, optional
tracer) and returns a ``Result``: end-to-end metrics, per-layer metrics
(traced runs), operation counts, check outcomes and a summary for the
human reader.  See ``NOTES.md`` for why each workload exists and what
every metric means on it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa

import check
import gen
import spans

SETUP_REPS = 3

BULK_TOML = """
name = "perfbench-bulk"
[input]
type = "mysql"
[output]
type = "starrocks"
[output.config.target.options]
batch-size = 1
[[output.config.routers]]
source-schema = "src"
source-table = "orders"
[[output.config.routers]]
source-schema = "src"
source-table = "lineitem"
"""
BULK_ORDERS, BULK_LINEITEM = 150_000, 600_000  # key spaces (sf0.1 sized)
BULK_FILE_ORDERS, BULK_FILE_LINEITEM = 2_500, 7_500  # events per file
BULK_WARMUP_FILES = 2
BULK_MAX_FILES_PER_S = 0.35  # files generated per --seconds; the loop ends early past it

TRICKLE_TOML = """
name = "perfbench-trickle"
[input]
type = "binlog-dir"
[output]
type = "starrocks"
[coordinator]
[[output.config.routers]]
source-schema = "src"
source-table = "orders"
history = true
egress-format = "canal"
[[output.config.routers]]
source-schema = "src"
source-table = "lineitem"
partition-col = "l_returnflag"
[[materialized-views]]
name = "orders_by_cust"
type = "keyed-agg"
source-schema = "src"
source-table = "orders"
[materialized-views.config]
group-cols = ["o_custkey"]
sum-cols = ["o_totalprice"]
[[materialized-views]]
name = "orders_versions"
type = "scd2-stats"
source-schema = "src"
source-table = "orders"
"""
TRICKLE_ORDERS, TRICKLE_LINEITEM = 2_000, 4_000
TRICKLE_FILE_ORDERS, TRICKLE_FILE_LINEITEM = 50, 50
TRICKLE_PERIOD_S = 2.0  # fixed release period of the open loop
TRICKLE_ZIPF = 2.0
RETENTION_KEEP = 8

TRICKLE_PROBE_READS = 8  # traced runs: point reads after the stream
TRICKLE_PROBE_CDFS = 2


@dataclass
class Run:
    spark: object
    seed: int
    seconds: int
    tmp: str
    tracer: spans.Tracer | None = None


@dataclass
class Result:
    metrics: dict  # end-to-end name -> value
    attempted: int
    failed: int
    checks: dict  # check name -> bool
    layers: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return all(self.checks.values())


class Clock:
    """Wall time of a workload's phases, for the run summary."""

    def __init__(self):
        self.last = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.phases[phase] = round(now - self.last, 2)
        self.last = now


def percentile(values, weights, q: float) -> float:
    """Weighted nearest-rank percentile (q in 0..100)."""
    order = np.argsort(values)
    v, w = np.asarray(values, float)[order], np.asarray(weights, float)[order]
    cum = np.cumsum(w)
    return float(v[np.searchsorted(cum, q / 100.0 * cum[-1])])


def _ts(iso: str) -> float:
    return (
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _files(off) -> int:
    """A source offset as the count of files consumed: binlog-dir's
    ``{"index": n}`` counts files; the file source's ``{"logOffset": n}``
    is the last log entry, one file each at ``batch-size = 1``.  Progress
    may carry the offset as a dict or as text."""
    text = json.dumps(off) if isinstance(off, dict) else str(off)
    if text in ("None", "null", ""):  # before the first batch
        return 0
    m = re.search(r"""["'](index|logOffset)["']\s*:\s*(\d+)""", text)
    if m is None:
        raise ValueError(f"unrecognised source offset {text!r}")
    return int(m.group(2)) + (m.group(1) == "logOffset")


def data_batches(query) -> list[dict]:
    """Micro-batches that processed data, from the progress reports:
    wall window, ``durationMs`` phases and the source offset range."""
    out = []
    for p in query.recentProgress:
        d = p["durationMs"]
        if "addBatch" not in d:
            continue  # a no-data trigger
        start = _ts(p["timestamp"])
        src = p["sources"][0]
        out.append(
            {
                "batch": p["batchId"],
                "start": start,
                "end": start + d["triggerExecution"] / 1000.0,
                "durations": d,
                "from": _files(src.get("startOffset")),
                "to": _files(src.get("endOffset")),
            }
        )
    return sorted(out, key=lambda b: b["batch"])


def _compile(run: Run, toml: str, root: str):
    from qin_cdc_spark.plans.pipeline import compile_pipeline

    return compile_pipeline(
        run.spark, toml, schemas=gen.SCHEMAS, primary_keys=gen.KEYS,
        target_root=os.path.join(root, "dw"),
    )


def _start(run: Run, pipe, root: str, src: str, trigger: dict):
    from qin_cdc_spark.plans.pipeline import envelope_source_from_config

    env = envelope_source_from_config(
        run.spark, pipe.config, envelope_dir=src, batch_size=pipe.batch_size()
    )
    return pipe.run_stream(
        env, checkpoint_dir=os.path.join(root, "ckpt"), trigger=trigger
    )


def _ready(q, timeout: float = 300) -> None:
    """Wait until the query has run its first trigger and is idle."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        st = q.status
        if not st["isTriggerActive"] and st["message"] == "Waiting for data to arrive":
            return
        time.sleep(0.01)
    raise RuntimeError(f"stream not ready after {timeout:.0f} s")


def start_pipeline(run: Run, toml: str, root: str, src: str):
    """Set the pipeline up ``SETUP_REPS`` times: compile it, start its
    query on an empty source and wait until the first trigger is done.
    The last one stays up over ``src``; returns it with the median
    set-up time."""
    times = []
    for i in range(SETUP_REPS):
        last = i == SETUP_REPS - 1
        rep_root = root if last else os.path.join(run.tmp, f"setup{i}")
        rep_src = src if last else os.path.join(rep_root, "src")
        os.makedirs(rep_src, exist_ok=True)
        t = time.perf_counter()
        pipe = _compile(run, toml, rep_root)
        q = _start(run, pipe, rep_root, rep_src, {"processingTime": "0 seconds"})
        _ready(q)
        times.append(time.perf_counter() - t)
        if not last:
            q.stop()
            shutil.rmtree(rep_root, ignore_errors=True)
    return pipe, q, statistics.median(times)


def _wait_landed(q, n_files: int, timeout: float = 300) -> list[dict]:
    """Block until the query has landed source files [0, n_files)."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        batches = data_batches(q)
        if batches and batches[-1]["to"] >= n_files:
            return batches
        time.sleep(0.02)
    raise RuntimeError(f"stream did not land {n_files} files in {timeout:.0f} s")


def _envelope_files(run: Run, g: gen.EventGen, plan: list[dict]) -> list[pa.Table]:
    """Envelope tables for a list of files, each ``{table: key indices}``,
    with one envelope conversion per table for all files."""
    typed = {"orders": [], "lineitem": []}
    bounds = []
    for spec in plan:
        for table, idx in spec.items():
            typed[table].append(g.events(table, idx))
        bounds.append(g.seq)
    env = pa.concat_tables(
        [gen.to_envelopes(run.spark, t, pa.concat_tables(parts)) for t, parts in typed.items()]
    ).sort_by("seq")
    return gen.split_by_seq(env, bounds)


def _check_targets(run: Run, pipe, glob: str) -> dict:
    out = {}
    for (db, table), schema in gen.SCHEMAS.items():
        want = check.oracle_rows(glob, table, schema, gen.KEYS[(db, table)])
        got = check.spark_rows(pipe.read_target(db, table), schema)
        out[f"target.{table}"] = check.same_rows(got, want)
    return out


def _gen_summary(files: list[pa.Table], sizes: list[int], keys: dict) -> dict:
    return {
        "events": int(sum(f.num_rows for f in files)),
        "files": len(files),
        "keys": keys,
        "bytes": int(sum(sizes)),
    }


def _stream_layers(run: Run, batches: list[dict], t_from: float, t_to: float) -> dict:
    """Per-layer metrics over the spans that ran inside [t_from, t_to]."""
    jobs = spans.job_intervals(run.spark)
    run.tracer.attribute_jobs(jobs)
    layers = spans.layer_metrics(
        run.tracer, lambda s: t_from <= s["start"] and s["end"] <= t_to
    )
    layers.update(spans.stream_metrics(batches, jobs))
    return layers


# -- bulk_apply ---------------------------------------------------------------


def bulk_apply(run: Run) -> Result:
    """Closed loop over a backlog: the source directory holds one file the
    engine has not landed yet; each landed file releases the next, until
    ``--seconds`` have passed after the warm-up files."""
    clock = Clock()
    g = gen.EventGen(run.seed, n_orders=BULK_ORDERS, n_lineitem=BULK_LINEITEM)
    n_max = BULK_WARMUP_FILES + 1 + round(run.seconds * BULK_MAX_FILES_PER_S)
    plan = [
        {
            "orders": g.pick("orders", BULK_FILE_ORDERS),
            "lineitem": g.pick("lineitem", BULK_FILE_LINEITEM),
        }
        for _ in range(n_max)
    ]
    files = _envelope_files(run, g, plan)
    root = os.path.join(run.tmp, "bulk")
    stage, src = os.path.join(root, "stage"), os.path.join(root, "src")
    os.makedirs(stage)
    sizes = [gen.write_file(stage, i, f) for i, f in enumerate(files)]
    summary = {"gen": _gen_summary(files, sizes, {"orders": BULK_ORDERS, "lineitem": BULK_LINEITEM})}
    print("gen", summary["gen"], flush=True)

    clock.mark("gen")
    pipe, q, setup_s = start_pipeline(run, BULK_TOML, root, src)
    clock.mark("setup")
    released: list[float] = []

    def release():
        name = f"part-{len(released):06d}.parquet"
        os.rename(os.path.join(stage, name), os.path.join(src, name))
        released.append(time.time())

    t0 = None
    try:
        release()
        while True:
            batches = _wait_landed(q, len(released))
            if t0 is None and len(batches) >= BULK_WARMUP_FILES:
                t0 = batches[BULK_WARMUP_FILES - 1]["end"]
            if len(released) == n_max or (t0 is not None and time.time() - t0 >= run.seconds):
                break
            release()
    finally:
        q.stop()
    # one file per trigger: data batch i landed file i
    per_file = BULK_FILE_ORDERS + BULK_FILE_LINEITEM
    measured = batches[BULK_WARMUP_FILES:]
    elapsed = measured[-1]["end"] - t0
    fresh = [b["end"] - released[b["to"] - 1] for b in measured]
    metrics = {
        "setup_s": setup_s,
        "apply_events_per_s": per_file * len(measured) / elapsed,
        "freshness_p50_s": percentile(fresh, [per_file] * len(fresh), 50),
        "freshness_p75_s": percentile(fresh, [per_file] * len(fresh), 75),
        "ops_per_s": len(measured) / elapsed,
    }
    clock.mark("stream")
    checks = _check_targets(run, pipe, os.path.join(src, "*.parquet"))
    clock.mark("check")
    layers = {}
    if run.tracer is not None:
        layers = _stream_layers(run, measured, measured[0]["start"], measured[-1]["end"])
        layers["source.lag_files_max"] = 1.0  # the closed loop keeps one file waiting
        clock.mark("trace")
    failed = 0 if all(checks.values()) else len(batches)
    summary.update(
        failed_frac=failed / len(batches),
        batch_s=[round(b["end"] - b["start"], 3) for b in batches],
        phase_s=clock.phases,
    )
    return Result(metrics, len(batches), failed, checks, layers, summary)


# -- trickle_chain --------------------------------------------------------------


class Releaser(threading.Thread):
    """Open-loop generator: releases file i into the source directory at
    ``t0 + i * period`` whatever the engine is doing, and records when
    each release actually happened."""

    def __init__(self, src: str, files: list[pa.Table], first_index: int, t0: float, period: float):
        super().__init__(daemon=True)
        self.src, self.files, self.first = src, files, first_index
        self.due = [t0 + i * period for i in range(len(files))]
        self.released: list[float] = []
        self.sizes: list[int] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for i, f in enumerate(self.files):
                wait = self.due[i] - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.sizes.append(gen.write_file(self.src, self.first + i, f))
                self.released.append(time.time())
        except Exception as e:  # re-raised by the main thread
            self.error = e


def trickle_chain(run: Run) -> Result:
    clock = Clock()
    g = gen.EventGen(run.seed, n_orders=TRICKLE_ORDERS, n_lineitem=TRICKLE_LINEITEM)
    n_trickle = max(4, round(run.seconds / TRICKLE_PERIOD_S))
    plan = [  # file 0: the bootstrap snapshot, landed as the warm-up batch
        {"orders": np.arange(TRICKLE_ORDERS), "lineitem": np.arange(TRICKLE_LINEITEM)}
    ] + [
        {
            "orders": g.pick("orders", TRICKLE_FILE_ORDERS, zipf=TRICKLE_ZIPF),
            "lineitem": g.pick("lineitem", TRICKLE_FILE_LINEITEM, zipf=TRICKLE_ZIPF),
        }
        for _ in range(n_trickle)
    ]
    files = _envelope_files(run, g, plan)
    root = os.path.join(run.tmp, "trickle")
    src = os.path.join(root, "src")
    clock.mark("gen")
    pipe, q, setup_s = start_pipeline(run, TRICKLE_TOML, root, src)
    clock.mark("setup")
    try:
        boot_size = gen.write_file(src, 0, files[0])
        _wait_landed(q, 1)
        clock.mark("warmup")
        rel = Releaser(src, files[1:], 1, time.time() + TRICKLE_PERIOD_S, TRICKLE_PERIOD_S)
        rel.start()
        rel.join()
        if rel.error is not None:
            raise rel.error
        batches = [b for b in _wait_landed(q, len(files)) if b["to"] > 1]
    finally:
        q.stop()
    summary = {
        "gen": _gen_summary(
            files, [boot_size] + rel.sizes,
            {"orders": TRICKLE_ORDERS, "lineitem": TRICKLE_LINEITEM},
        )
    }
    print("gen", summary["gen"], flush=True)

    fresh, weights = [], []
    for i, due in enumerate(rel.due, start=1):
        b = next(b for b in batches if b["from"] <= i < b["to"])
        fresh.append(b["end"] - due)
        weights.append(files[i].num_rows)
    busy = sum(b["end"] - b["start"] for b in batches)
    metrics = {
        "setup_s": setup_s,
        "apply_events_per_s": sum(weights) / busy,
        "freshness_p50_s": percentile(fresh, weights, 50),
        "freshness_p75_s": percentile(fresh, weights, 75),
        "ops_per_s": len(batches) / (batches[-1]["end"] - rel.due[0]),
    }
    attempted, failed = len(files), 0
    clock.mark("stream")

    glob = os.path.join(src, "*.parquet")
    orders_keys = gen.KEYS[("src", "orders")]
    checks = {}
    layers = {}
    if run.tracer is not None:
        live = {r[0]: r for r in check.oracle_rows(glob, "orders", gen.ORDERS_SCHEMA, orders_keys)}
        probe_failed = _read_probe(run, g, pipe.routes[0].target, live)
        t_end = time.time()
        attempted += TRICKLE_PROBE_READS + TRICKLE_PROBE_CDFS
        checks["probe.reads_match_oracle"] = probe_failed == 0
        _merge_events(run.tracer, batches, files, pipe.routes[0].target.path)
        layers = _stream_layers(run, batches, batches[0]["start"], t_end)
        layers["source.lag_files_max"] = float(
            max(int(np.searchsorted(rel.released, b["end"])) + 1 - b["to"] for b in batches)
        )
        layers["gen.late_ms_max"] = 1000.0 * max(r - d for r, d in zip(rel.released, rel.due))
        hist = pipe.routes[0].target.history()
        layers["versioned.store_bytes"] = float(hist[-1]["bytes"])
        layers["versioned.versions_retained"] = float(len(hist))
        clock.mark("trace")

    checks.update(_check_targets(run, pipe, glob))
    want = check.oracle_group_sums(
        glob, "orders", gen.ORDERS_SCHEMA, orders_keys, "o_custkey", "o_totalprice"
    )
    view = pipe.read_mview("orders_by_cust").select("o_custkey", "cnt", "sum_o_totalprice")
    checks["view.orders_by_cust"] = check.same_rows([tuple(r) for r in view.collect()], want)
    checks["egress.canal_replay"] = check.same_rows(
        check.spark_rows(_replay_canal(pipe), gen.ORDERS_SCHEMA),
        check.spark_rows(pipe.read_target("src", "orders"), gen.ORDERS_SCHEMA),
    )
    if not all(checks.values()):
        failed = attempted
    clock.mark("check")

    # The operator's coordinated-retention step, run once after the
    # stream.  A known defect makes it raise on the partitioned route;
    # it is reported here and in failed_frac, outside `failed`.
    try:
        pipe.coordinator.expire_and_gc(keep_last=RETENTION_KEEP)
        retention = "ok"
    except Exception as e:
        retention = f"{type(e).__name__}: {e}"
    summary.update(
        retention=retention,
        failed_frac=(failed + (retention != "ok")) / (attempted + 1),
        batch_s=[round(b["end"] - b["start"], 3) for b in batches],
        files_per_batch=[b["to"] - b["from"] for b in batches],
        late_ms_max=round(1000.0 * max(r - d for r, d in zip(rel.released, rel.due)), 1),
        phase_s=clock.phases,
    )
    return Result(metrics, attempted, failed, checks, layers, summary)


def _replay_canal(pipe):
    """Consumer-side fold of the orders route's canal feed: decode the
    wire messages back to envelopes, last event per key, deletes out."""
    import pyspark.sql.functions as F

    from qin_cdc_spark.cdc.apply import decode_envelope, latest_by_key
    from qin_cdc_spark.streaming.cdc_stream import envelope_from_canal_egress

    keys = gen.KEYS[("src", "orders")]
    env = envelope_from_canal_egress(pipe.routes[0].read_egress(), db="src", table="orders")
    decoded = decode_envelope(env, gen.ORDERS_SCHEMA, db="src", table="orders", keys=keys)
    return latest_by_key(decoded, keys).filter(F.col("op") != "delete")


def _read_probe(run: Run, g: gen.EventGen, store, live: dict) -> int:
    """Serve from the orders target after the stream: point reads on
    hot keys and one-version change-feed reads; returns how many reads
    disagree with the oracle."""
    cols = gen.ORDERS_SCHEMA.fieldNames()
    bad = 0
    for idx in g.pick("orders", TRICKLE_PROBE_READS, zipf=TRICKLE_ZIPF):
        k = int(idx) + 1
        with run.tracer.span("probe.read_key"):
            got = [tuple(r[c] for c in cols) for r in store.read_key([k]).collect()]
        bad += check.digest(got) != check.digest([live[k]] if k in live else [])
    v = store.current_version()
    for _ in range(TRICKLE_PROBE_CDFS):
        with run.tracer.span("probe.cdf"):
            store.changes_between(v - 1, v).write.format("noop").mode("overwrite").save()
    return bad


def _merge_events(tracer, batches, files, path) -> None:
    """Give each merge into the orders target its event count, known at
    the generator from the files its micro-batch covered."""
    import pyarrow.compute as pc

    orders = [pc.sum(pc.equal(f.column("table"), "orders")).as_py() or 0 for f in files]
    for s in tracer.spans:
        if s["name"] == "versioned.merge" and s.get("path") == path:
            b = next((b for b in batches if b["batch"] == s["batch"]), None)
            if b is not None:
                s["events"] = sum(orders[b["from"] : b["to"]])


WORKLOADS = {"bulk_apply": bulk_apply, "trickle_chain": trickle_chain}
