"""Real Structured Streaming tests: the same operators the gate checks
in batch form, driven through readStream, plus the CDC stream apply
under out-of-order delivery and replay."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from qin_cdc_spark.cdc.changestream import orders_change_stream
from qin_cdc_spark.cdc.envelope import envelope_from_typed
from qin_cdc_spark.sources.tables import load_table
from qin_cdc_spark.streaming.cdc_stream import (
    CdcStreamRoute,
    file_envelope_stream,
    start_cdc_stream,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """events table as a 4-file directory for file-source streaming."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _run_stream_to_memory(spark, sdf, name, output_mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def test_streaming_tumbling_agg_equals_batch(spark, events_stream_dir):
    """readStream windowed agg == identical batch agg."""
    ev = load_table(spark, SF_SMOKE, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    # complete mode, no watermark: files arrive in arbitrary order, so an
    # event-time watermark would misclassify rows as late; complete mode
    # emits the full state, which must equal the batch aggregation exactly
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    got = _run_stream_to_memory(spark, agg, "tumbling_test", "complete").select(
        F.col("window.start").alias("ws"), "event_type", "n", "sv"
    )
    exp = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .select(F.col("window.start").alias("ws"), "event_type", "n", "sv")
    )
    assert got.subtract(exp).count() == 0
    assert exp.subtract(got).count() == 0


def test_streaming_dedup_by_key(spark, events_stream_dir):
    """dropDuplicates on the unique event_id passes every row exactly
    once, across micro-batches (stateful streaming dedup)."""
    ev_schema = load_table(spark, SF_SMOKE, "events").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    # duplicate the stream by unioning it with itself, then dedup.
    # No watermark: dedup state must span the whole (unordered) replay —
    # a watermark would evict keys and drop genuinely-new "late" events.
    doubled = stream.union(stream)
    dedup = doubled.dropDuplicates(["event_id"])
    got = _run_stream_to_memory(spark, dedup, "dedup_test", "append")
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert got.count() == n_events
    assert got.select("event_id").distinct().count() == n_events


def test_watermark_bounds_state(spark, tmp_path):
    """Watermark contract (empirically verified): dropping of too-late
    rows is BEST-EFFORT (Spark may still aggregate a straggler arriving
    after the watermark — the guarantee is only that data within the
    delay is never dropped), but aggregation STATE older than the
    watermark is evicted, which is what bounds memory at scale.  Assert
    the guaranteed parts: state eviction and on-time completeness."""
    import time as _time

    ev = load_table(spark, SF_SMOKE, "events")
    d = str(tmp_path / "late_stream")
    on_time = ev.filter(F.col("ts") >= F.expr("timestamp '2024-01-10 00:00:00'"))
    straggler = (
        ev.filter(F.col("ts") < F.expr("timestamp '2024-01-02 00:00:00'")).limit(5)
    )
    on_time.coalesce(1).write.parquet(d)
    _time.sleep(1.1)  # file-source orders by modification time
    straggler.coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    # update mode: complete mode ignores watermarks entirely (state is
    # never evicted), so eviction is only observable in update/append
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_state_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = q.recentProgress
    got = spark.table("wm_state_test")

    # guaranteed: every on-time row is aggregated (nothing within the
    # delay was dropped); update mode re-emits, so take max per window
    on_time_windows = got.filter(
        F.col("window.start") >= F.expr("timestamp '2024-01-02 00:00:00'")
    )
    w = on_time_windows.groupBy("window").agg(F.max("n").alias("n"))
    assert w.agg(F.sum("n")).collect()[0][0] == on_time.count()

    # guaranteed: state older than the watermark is evicted — after the
    # final batch only the tail window(s) newer than the watermark may
    # remain in the state store
    final_state_rows = progress[-1]["stateOperators"][0]["numRowsTotal"]
    n_windows = got.select("window").distinct().count()
    assert final_state_rows < n_windows, (
        f"state not evicted: {final_state_rows} rows vs {n_windows} windows"
    )


def _orders_oracle_counts(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    n = orders.count()
    n_del = orders.filter((F.col("o_orderkey") % 10).isin(7, 9)).count()
    return n - n_del


@pytest.mark.parametrize("shuffle_files", [False, True])
def test_cdc_stream_apply(spark, tmp_path, shuffle_files):
    """Streaming LWW apply: in-order and OUT-OF-ORDER micro-batches must
    both converge to the oracle state (seq guard + tombstones)."""
    env = envelope_from_typed(
        orders_change_stream(spark, SF_SMOKE), db="src", table="orders"
    )
    env_dir = str(tmp_path / "envelope")
    if shuffle_files:
        env.repartition(3).write.parquet(env_dir)  # random event placement
    else:
        env.repartition(3, (F.col("seq") / 2000).cast("int")).write.parquet(env_dir)
    route = CdcStreamRoute(
        spark,
        db="src",
        table="orders",
        schema=load_table(spark, SF_SMOKE, "orders").schema,
        keys=["o_orderkey"],
        target_path=str(tmp_path / "orders_tbl"),
    )
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    expected = _orders_oracle_counts(spark)
    assert route.target.read().count() == expected

    # full redelivery from a fresh checkpoint: idempotent
    q2 = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(300)
    assert route.target.read().count() == expected

    # tombstone GC keeps visible rows intact
    route.target.gc_tombstones(10**15)
    assert route.target.read().count() == expected
    assert route.target.read_internal().count() == expected


def test_bucketed_upsert_table(spark, tmp_path):
    """Bucketed target: same results as the plain table, but an
    incremental batch rewrites ONLY the touched bucket partitions."""
    import os as _os

    from qin_cdc_spark.streaming.cdc_stream import BucketedUpsertTable

    orders = load_table(spark, SF_SMOKE, "orders")
    changes = orders.select(
        F.lit("insert").alias("op"), (F.col("o_orderkey") * 2).alias("seq"), *orders.columns
    )
    tbl = BucketedUpsertTable(
        spark, str(tmp_path / "tbl"), ["o_orderkey"], n_buckets=8
    )
    tbl.merge(changes)
    assert tbl.read().count() == orders.count()

    bucket_dirs = sorted(
        d for d in _os.listdir(tbl.path) if d.startswith("_bucket=")
    )
    assert len(bucket_dirs) == 8

    def dir_mtime(d):
        p = _os.path.join(tbl.path, d)
        return max(_os.path.getmtime(_os.path.join(p, f)) for f in _os.listdir(p))

    before = {d: dir_mtime(d) for d in bucket_dirs}

    # a single-key update touches exactly one bucket
    one = orders.orderBy("o_orderkey").limit(1)
    upd = one.select(
        F.lit("update").alias("op"),
        (F.col("o_orderkey") * 2 + 1).alias("seq"),
        *[
            F.lit("U").alias(c) if c == "o_orderstatus" else F.col(c)
            for c in orders.columns
        ],
    )
    tbl.merge(upd)
    after = {d: dir_mtime(d) for d in bucket_dirs}
    changed = [d for d in bucket_dirs if after[d] != before[d]]
    assert len(changed) == 1, f"expected 1 touched bucket, got {changed}"

    got = tbl.read().filter(F.col("o_orderkey") == one.first().o_orderkey).first()
    assert got.o_orderstatus == "U"
    assert tbl.read().count() == orders.count()

    # delete + gc keeps layout and visibility correct
    dele = one.select(
        F.lit("delete").alias("op"), (F.col("o_orderkey") * 2 + 2).alias("seq"), *orders.columns
    )
    tbl.merge(dele)
    assert tbl.read().count() == orders.count() - 1
    tbl.gc_tombstones(10**15)
    assert tbl.read().count() == orders.count() - 1


def test_cdc_stream_transform_route(spark, tmp_path):
    """Route with a transform chain: rename applies before the sink
    (SURVEY §2.A invariant 5)."""
    from qin_cdc_spark.operators.transforms import RenameColumnTransform, TransformChain

    cust = load_table(spark, SF_SMOKE, "customer")
    changes = cust.select(
        F.lit("insert").alias("op"), F.col("c_custkey").alias("seq"), *cust.columns
    )
    env = envelope_from_typed(changes, db="src", table="customer")
    env_dir = str(tmp_path / "env")
    env.write.parquet(env_dir)
    chain = TransformChain(
        [RenameColumnTransform("src", "customer", ("c_mktsegment",), ("segment",))]
    )
    route = CdcStreamRoute(
        spark,
        db="src",
        table="customer",
        schema=cust.schema,
        keys=["c_custkey"],
        target_path=str(tmp_path / "cust_tbl"),
        transform=lambda df: chain.apply("src", "customer", df),
    )
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    out = route.target.read()
    assert "segment" in out.columns and "c_mktsegment" not in out.columns
    assert out.count() == cust.count()


def test_apply_in_pandas_with_state(spark, events_stream_dir):
    """Custom stateful operator: running per-user stats across
    micro-batches must converge to the batch groupBy result."""
    from qin_cdc_spark.streaming.stateful import running_user_stats

    ev = load_table(spark, SF_SMOKE, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    out = running_user_stats(stream)
    got_all = _run_stream_to_memory(spark, out, "stateful_test", "update")
    # update mode re-emits per batch; the final emission per user is the
    # one with the max n_events (totals are monotone)
    w = got_all.groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "sum_value", "max_value"), "n_events").alias("f")
    )
    got = w.select("user_id", "f.n_events", "f.sum_value", "f.max_value")
    exp = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )
    # sums accumulate in different order (per-batch then cross-batch)
    # than the batch agg — compare with float tolerance
    j = got.alias("g").join(exp.alias("e"), "user_id", "full_outer")
    bad = j.filter(
        F.col("g.n_events").isNull()
        | F.col("e.n_events").isNull()
        | (F.col("g.n_events") != F.col("e.n_events"))
        | (F.abs(F.col("g.sum_value") - F.col("e.sum_value")) > 1e-6)
        | (F.abs(F.col("g.max_value") - F.col("e.max_value")) > 1e-9)
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_dead_letter_queue(spark, tmp_path):
    """Malformed envelope rows are quarantined to the DLQ; good rows
    still apply (the reference would crash the whole pipeline)."""
    import json

    cust = load_table(spark, SF_SMOKE, "customer").limit(50)
    good = envelope_from_typed(
        cust.select(
            F.lit("insert").alias("op"), F.col("c_custkey").alias("seq"), *cust.columns
        ),
        db="src",
        table="customer",
    )
    from qin_cdc_spark.cdc.envelope import ENVELOPE_SCHEMA

    bad = spark.createDataFrame(
        [
            ("src", "customer", "insert", 9001, None, 1, "{not json at all", None),
            ("src", "customer", "insert", 9002, None, 1, "also broken}", None),
        ],
        ENVELOPE_SCHEMA,
    )
    env_dir = str(tmp_path / "env")
    good.unionByName(bad).write.parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="customer",
        schema=cust.schema,
        keys=["c_custkey"],
        target_path=str(tmp_path / "tbl"),
        dlq_path=str(tmp_path / "dlq"),
    )
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert route.target.read().count() == 50
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq.count() == 2
    assert {r.seq for r in dlq.collect()} == {9001, 9002}


def test_checkpoint_no_reprocess(spark, tmp_path):
    """Restarting with the SAME checkpoint does not re-apply old batches
    (Spark offset log = the reference's position store, A31)."""
    env = envelope_from_typed(
        orders_change_stream(spark, SF_SMOKE), db="src", table="orders"
    )
    env_dir = str(tmp_path / "env")
    env.repartition(2).write.parquet(env_dir)
    route = CdcStreamRoute(
        spark,
        db="src",
        table="orders",
        schema=load_table(spark, SF_SMOKE, "orders").schema,
        keys=["o_orderkey"],
        target_path=str(tmp_path / "tbl"),
    )
    ckpt = str(tmp_path / "ckpt")
    q = start_cdc_stream(spark, file_envelope_stream(spark, env_dir), [route], checkpoint_dir=ckpt)
    q.awaitTermination(300)
    mtime = max(
        os.path.getmtime(os.path.join(route.target_path, f))
        for f in os.listdir(route.target_path)
    )
    # restart on same checkpoint: no new data → no merge should run
    q2 = start_cdc_stream(spark, file_envelope_stream(spark, env_dir), [route], checkpoint_dir=ckpt)
    q2.awaitTermination(300)
    mtime2 = max(
        os.path.getmtime(os.path.join(route.target_path, f))
        for f in os.listdir(route.target_path)
    )
    assert mtime2 == mtime
    assert route.target.read().count() == _orders_oracle_counts(spark)


def test_stream_static_join_equals_batch(spark, events_stream_dir):
    """Stateless stream⋈static-dim enrichment (the CDC 'lookup table'
    pattern): append-mode result must equal the batch join exactly."""
    ev = load_table(spark, SF_SMOKE, "events")
    dim = ev.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 10).alias("segment")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "segment", "value"
    )
    got = _run_stream_to_memory(spark, enriched, "ss_static_join", "append")
    exp = ev.join(dim, "user_id").select("event_id", "user_id", "segment", "value")
    assert got.subtract(exp).count() == 0
    assert exp.subtract(got).count() == 0


def test_stream_stream_join_equals_batch(spark, events_stream_dir):
    """Stream-stream inner join (click↔purchase style): two substreams of
    the same source joined on user_id within a ±1h event-time band.
    Watermark delay (30 days) exceeds the fixture's whole time span, so
    no state is evicted and the result must equal the batch join."""
    ev = load_table(spark, SF_SMOKE, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_stream_dir)
    )
    left = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "30 days")
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
    )
    right = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 days")
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    joined = left.join(right, cond).select("l_id", "r_id")
    got = _run_stream_to_memory(spark, joined, "ss_ss_join", "append")

    bl = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    br = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    exp = bl.join(br, cond).select("l_id", "r_id")
    assert exp.count() > 0
    assert got.subtract(exp).count() == 0
    assert exp.subtract(got).count() == 0


def test_streaming_dedup_store_cross_batch(spark, tmp_path):
    """Incremental fingerprint-store dedup: streamed corpus (with forced
    duplicates) admits exactly the batch-mode distinct fingerprints,
    and a replay from a fresh checkpoint admits nothing new."""
    from qin_cdc_spark.functions.text import md5_fingerprint, normalize_text
    from qin_cdc_spark.streaming.dedup_store import (
        FingerprintStore,
        start_streaming_dedup,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    # force cross-file duplicates: union the corpus with itself, spread
    # over 4 files so copies land in different micro-batches
    doubled = docs.union(docs)
    src = str(tmp_path / "docs_stream")
    doubled.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    store = FingerprintStore(spark, str(tmp_path / "fp_store"))
    q = start_streaming_dedup(spark, stream, store, str(tmp_path / "ckpt1"))
    q.awaitTermination(300)

    expected_fps = {
        r["fp"]
        for r in docs.select(
            md5_fingerprint(normalize_text(F.col("text"))).alias("fp")
        ).collect()
    }
    admitted = store.read()
    got_fps = {r["fp"] for r in admitted.select("fp").collect()}
    assert got_fps == expected_fps
    assert admitted.count() == len(expected_fps)  # exactly one winner per fp

    # replay everything from a fresh checkpoint → nothing new admitted
    stream2 = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 2).parquet(src)
    )
    q2 = start_streaming_dedup(spark, stream2, store, str(tmp_path / "ckpt2"))
    q2.awaitTermination(300)
    assert store.read().count() == len(expected_fps)


def test_cdc_stream_schema_evolution(spark, tmp_path):
    """Mid-stream DDL add-column (A10-A12 + sink evolution): phase 1
    streams rows under schema v1; a DDL bumps the registry to v2 (added
    column); phase 2 restarts the stream with the v2 schema over new
    envelope files.  The target ends with the merged schema — v1 rows
    carry NULL in the new column, v2 rows carry values — and LWW still
    holds across the versions."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from qin_cdc_spark.cdc.registry import DdlOp, SchemaRegistry

    v1 = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    reg = SchemaRegistry()
    reg.add("src", "acct", v1)

    rows_v1 = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 2), (3, "c", "insert", 3)],
        ["id", "name", "op", "seq"],
    )
    env_dir = str(tmp_path / "env")
    envelope_from_typed(rows_v1, db="src", table="acct").coalesce(1).write.mode(
        "append"
    ).parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="acct",
        schema=reg.get("src", "acct"),
        keys=["id"],
        target_path=str(tmp_path / "acct_tbl"),
    )
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert route.target.read().count() == 3

    # DDL: ALTER TABLE acct ADD COLUMN tier STRING
    new_version = reg.apply_ddl(
        "src", "acct", DdlOp(action="add-column", column="tier", dtype=StringType())
    )
    assert new_version == 2
    v2 = reg.get("src", "acct")
    assert "tier" in v2.fieldNames()

    # phase 2: new envelopes under v2 — an update to an existing key and
    # a fresh insert, both carrying the new column
    rows_v2 = spark.createDataFrame(
        [(2, "b2", "gold", "update", 4), (9, "z", "silver", "insert", 5)],
        ["id", "name", "tier", "op", "seq"],
    )
    envelope_from_typed(rows_v2, db="src", table="acct").coalesce(1).write.mode(
        "append"
    ).parquet(env_dir)

    route2 = CdcStreamRoute(
        spark,
        db="src",
        table="acct",
        schema=v2,
        keys=["id"],
        target_path=str(tmp_path / "acct_tbl"),
    )
    q2 = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir),
        [route2],
        checkpoint_dir=str(tmp_path / "ckpt"),  # SAME checkpoint: resume
    )
    q2.awaitTermination(300)

    got = {r["id"]: (r["name"], r["tier"]) for r in route2.target.read().collect()}
    assert got == {
        1: ("a", None),
        2: ("b2", "gold"),
        3: ("c", None),
        9: ("z", "silver"),
    }


def test_pipeline_metrics_listener(spark, events_stream_dir):
    """A33 metrics surface: listener counts rows/batches across a
    streaming query and survives termination."""
    import time as _time

    from qin_cdc_spark.streaming.metrics import attach_metrics

    m = attach_metrics(spark)
    try:
        ev_schema = load_table(spark, SF_SMOKE, "events").schema
        stream = (
            spark.readStream.schema(ev_schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(events_stream_dir)
        )
        q = (
            stream.groupBy("event_type")
            .count()
            .writeStream.format("memory")
            .queryName("metrics_probe")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # listener callbacks are async — allow them to drain
        deadline = _time.time() + 30
        snap = m.snapshot()
        n_events = load_table(spark, SF_SMOKE, "events").count()
        while _time.time() < deadline and snap["rows_processed"] < n_events:
            _time.sleep(0.5)
            snap = m.snapshot()
        assert snap["rows_processed"] == n_events
        assert snap["batches_processed"] >= 2  # 4 files / 2 per trigger
        assert any(v["rows"] == n_events for v in snap["queries"].values())
        assert snap["uptime_s"] > 0
    finally:
        spark.streams.removeListener(m)


def test_incremental_rollup_equals_batch(spark, events_stream_dir, tmp_path):
    """Continuous aggregate maintained across micro-batches == one-shot
    batch aggregation; replayed batch_id is a no-op; checkpoint resume
    adds nothing."""
    from qin_cdc_spark.streaming.rollup import RollupStore, start_incremental_rollup

    ev = load_table(spark, SF_SMOKE, "events")
    store = RollupStore(
        spark, str(tmp_path / "rollup"), keys=["event_type"], window_duration="1 hour"
    )
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    q = start_incremental_rollup(spark, stream, store, checkpoint_dir=ckpt)
    q.awaitTermination(300)

    exp = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )
    got = store.read().select("window_start", "event_type", "cnt", "sum_value")
    assert got.subtract(exp).count() == 0 and exp.subtract(got).count() == 0

    # at-least-once redelivery: re-merging an already-applied batch_id no-ops
    before = store.read().collect()
    store.merge_batch(ev, batch_id=store.last_batch_id())
    assert sorted(map(str, store.read().collect())) == sorted(map(str, before))

    # checkpoint resume: no new files, no state change
    q2 = start_incremental_rollup(
        spark,
        spark.readStream.schema(ev.schema).parquet(events_stream_dir),
        store,
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(300)
    assert sorted(map(str, store.read().collect())) == sorted(map(str, before))


class _SwapUser:
    """One store that commits by ``pointer.swap``: ``apply`` runs its
    swapping write (and is the input a replay repeats), ``read`` is its
    next read, ``dead`` is a live dir a crashed swap can leave only as
    ``.old-*``, ``stale`` a live dir a completed swap can leave an
    ``.old-*`` copy beside, and ``litter`` dirs the read must sweep."""

    def __init__(self, apply, read, dead, stale, litter=()):
        self.apply, self.read = apply, read
        self.dead, self.stale, self.litter = dead, stale, list(litter)


def _child(path, prefix, i=0):
    return os.path.join(path, sorted(d for d in os.listdir(path) if d.startswith(prefix))[i])


def _flat_user(spark, tmp_path, whole_table):
    from qin_cdc_spark.streaming.cdc_stream import BucketedUpsertTable

    tbl = BucketedUpsertTable(spark, str(tmp_path / "tbl"), ["k"], n_buckets=4)
    changes = spark.createDataFrame(
        [("insert", i, i, f"v{i}") for i in range(20)] + [("delete", 30, 3, None)],
        "op string, seq long, k long, v string",
    )

    def read():
        return sorted(map(tuple, tbl.read().collect()))

    tbl.merge(changes)
    dead = tbl.path if whole_table else _child(tbl.path, "_bucket=", 0)
    return _SwapUser(lambda: tbl.merge(changes), read, dead, _child(tbl.path, "_bucket=", 1))


def _dlq_user(spark, tmp_path):
    import pyspark.sql.types as T

    from qin_cdc_spark.cdc.envelope import ENVELOPE_SCHEMA

    rows = spark.createDataFrame(
        [("insert", i, i, f"v{i}") for i in range(1, 6)],
        "op string, seq long, k long, v string",
    )
    junk = spark.createDataFrame(
        [("src", "t", "insert", 99, None, 1, "{not json", None)], ENVELOPE_SCHEMA
    )
    env = envelope_from_typed(rows, db="src", table="t").unionByName(junk)
    fixed = rows.drop("op", "seq").schema
    broken = T.StructType(  # pk parses null: every row quarantines
        [T.StructField("k", T.ArrayType(T.LongType())), fixed["v"]]
    )
    dlq = str(tmp_path / "dlq")
    route = CdcStreamRoute(
        spark, db="src", table="t", schema=broken, keys=["k"],
        target_path=str(tmp_path / "tbl"), n_buckets=4, dlq_path=dlq,
    )
    route.apply_batch(env, batch_id=0)
    route.schema = fixed
    assert route.replay_dlq() == (5, 1)  # the DLQ rewrite swaps once

    def read():  # a DLQ's next read is the next replay
        counts = route.replay_dlq()
        tgt = sorted(map(tuple, route.bind_target().read().collect()))
        return counts, tgt, spark.read.parquet(dlq).count()

    return _SwapUser(route.replay_dlq, read, dlq, dlq, [dlq + ".stage-dead"])


def _ivf_user(spark, tmp_path):
    import json

    from qin_cdc_spark.operators.ivf import IvfIndex

    idx = IvfIndex(str(tmp_path / "ivf"))
    os.makedirs(idx.path)
    with open(f"{idx.path}/centroids.json", "w") as f:
        json.dump([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]], f)
    unit = [[1.0, 0.1], [0.1, 1.0], [-1.0, 0.1], [0.1, -1.0]]
    idx.add_batch(
        spark.createDataFrame(
            [(i, unit[i % 4]) for i in range(12)], "vec_id long, embedding array<double>"
        )
    )
    cdf = spark.createDataFrame(
        [
            (1, "update", unit[2], unit[1]),  # moves cluster 1 → 2
            (4, "delete", None, unit[0]),
            (100, "insert", unit[3], None),
        ],
        "vec_id long, _change string, embedding array<double>, _pre_embedding array<double>",
    )

    def read():
        return sorted(
            (r.vec_id, r.cluster, tuple(r.embedding)) for r in idx.corpus(spark).collect()
        )

    idx.apply_cdf(cdf)
    corpus = f"{idx.path}/corpus"
    return _SwapUser(
        lambda: idx.apply_cdf(cdf), read, _child(corpus, "cluster=", 0),
        _child(corpus, "cluster=", 1),
    )


def _lsh_user(spark, tmp_path):
    from qin_cdc_spark.operators.lsh_index import LshBandIndex

    idx = LshBandIndex(spark, str(tmp_path / "lsh"), n_buckets=4)
    docs = [(i, f"doc {i} shares the quick brown fox words number {i}") for i in range(8)]
    idx.build(spark.createDataFrame(docs, "doc_id long, text string"))
    cdf = spark.createDataFrame(
        [
            (1, "update", "a wholly different text for doc one", docs[1][1]),
            (2, "delete", None, docs[2][1]),
            (100, "insert", "doc 100 shares the quick brown fox words", None),
        ],
        "doc_id long, _change string, text string, _pre_text string",
    )

    def read():
        return sorted((r.doc_id, r.band, r.bucket) for r in idx.read().collect())

    idx.apply_cdf(cdf)
    return _SwapUser(
        lambda: idx.apply_cdf(cdf), read, _child(idx.path, "bucket=", 0),
        _child(idx.path, "bucket=", 1),
    )


def _bloom_idx_user(spark, tmp_path):
    from qin_cdc_spark.streaming.versioned import VersionedBucketedTable

    tbl = VersionedBucketedTable(
        spark, str(tmp_path / "vt"), ["k"], n_buckets=4, bloom_cols=["c"]
    )
    for lo in (0, 10):
        tbl.merge(
            spark.createDataFrame(
                [("insert", lo + i, i, f"c{lo + i}") for i in range(10)],
                "op string, seq long, k long, c string",
            )
        )

    def read():
        rows = sorted(map(tuple, tbl.read_where("c", ["c3", "c15"]).collect()))
        units = sorted(
            r.unit for r in tbl.spark.read.parquet(tbl._bloom_idx_path).collect()
        )
        return rows, units

    tbl.compact_bloom_index()
    return _SwapUser(tbl.compact_bloom_index, read, tbl._bloom_idx_path, tbl._bloom_idx_path)


_SWAP_USERS = {
    "flat_bucket": lambda spark, tmp: _flat_user(spark, tmp, whole_table=False),
    "flat_table": lambda spark, tmp: _flat_user(spark, tmp, whole_table=True),
    "dlq": _dlq_user,
    "ivf": _ivf_user,
    "lsh": _lsh_user,
    "bloom_idx": _bloom_idx_user,
}


@pytest.mark.parametrize("user", list(_SWAP_USERS))
def test_swap_crash_residue_recovers(spark, tmp_path, user):
    """Every ``pointer.swap`` user repairs what a crashed swap leaves
    behind before its next read: a live dir that died between the two
    renames (only its ``.old-*`` copy left) reads as before the crash,
    a completed swap's leftover ``.old-*`` copy is deleted rather than
    restored, and a replay of the same input converges.  Without the
    repair an index reads ``cluster=N.old-*`` as a bogus partition and
    an at-least-once replay merges against a missing bucket."""
    import shutil

    u = _SWAP_USERS[user](spark, tmp_path)
    before = u.read()

    os.rename(u.dead, u.dead + ".old-dead")  # died between its renames
    assert u.read() == before
    assert os.path.isdir(u.dead) and not os.path.exists(u.dead + ".old-dead")

    shutil.copytree(u.stale, u.stale + ".old-stale")  # died before clean-up
    for d in u.litter:
        os.makedirs(d)
    assert u.read() == before
    assert not os.path.exists(u.stale + ".old-stale")
    assert not any(os.path.exists(d) for d in u.litter)

    u.apply()  # replay of the same input
    assert u.read() == before


def test_cdc_stream_in_stream_ddl_evolution(spark, tmp_path):
    """A11+A12 end to end INSIDE one stream: op='ddl' envelope rows
    evolve the registry mid-stream and subsequent batches decode with
    the new schema — no manual route swap (the reference's
    handleDDLEvent → meta update → decode loop)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from qin_cdc_spark.cdc.registry import SchemaRegistry

    reg = SchemaRegistry()
    v1 = StructType(
        [StructField("id", LongType(), False), StructField("name", StringType(), True)]
    )
    reg.add("src", "acct", v1)

    env_dir = str(tmp_path / "env")
    rows_v1 = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 2)], ["id", "name", "op", "seq"]
    )
    # file 1: v1 rows + the DDL control row (same batch: DML decoded
    # under the evolved schema sees NULL for the new column — fine)
    from qin_cdc_spark.cdc.envelope import ENVELOPE_SCHEMA

    ddl_row = spark.createDataFrame(
        [("src", "acct", "ddl", 3, None, None,
          "ALTER TABLE acct ADD COLUMN tier varchar(10)", None)],
        ENVELOPE_SCHEMA,
    )
    envelope_from_typed(rows_v1, db="src", table="acct").unionByName(
        ddl_row
    ).coalesce(1).write.mode("append").parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="acct",
        schema=reg.get("src", "acct"),
        keys=["id"],
        target_path=str(tmp_path / "acct_tbl"),
    )
    ckpt = str(tmp_path / "ckpt")
    q = start_cdc_stream(
        spark, file_envelope_stream(spark, env_dir), [route],
        checkpoint_dir=ckpt, registry=reg,
    )
    q.awaitTermination(300)
    # DDL applied in-stream: registry evolved, control row not applied as DML
    assert reg.get("src", "acct").fieldNames() == ["id", "name", "tier"]
    assert route.target.read().count() == 2

    # file 2: v2 rows carrying the new column; SAME checkpoint resume —
    # the route's schema refreshes from the registry, no manual rebind
    rows_v2 = spark.createDataFrame(
        [(2, "b2", "gold", "update", 4), (9, "z", "silver", "insert", 5)],
        ["id", "name", "tier", "op", "seq"],
    )
    envelope_from_typed(rows_v2, db="src", table="acct").coalesce(1).write.mode(
        "append"
    ).parquet(env_dir)
    q2 = start_cdc_stream(
        spark, file_envelope_stream(spark, env_dir), [route],
        checkpoint_dir=ckpt, registry=reg,
    )
    q2.awaitTermination(300)
    got = {r["id"]: (r["name"], r["tier"]) for r in route.target.read().collect()}
    assert got == {1: ("a", None), 2: ("b2", "gold"), 9: ("z", "silver")}


def test_rollup_snapshot_store_guards(spark, tmp_path):
    """Snapshot-pointer store invariants: month-partitioned data dirs,
    orphan GC, atomic pointer, and the new-checkpoint run guard (a
    fresh checkpoint restarts batch ids — must raise, not silently
    skip or re-apply)."""
    import pytest as _pytest

    from qin_cdc_spark.streaming.rollup import RollupStore

    ev = load_table(spark, SF_SMOKE, "events")
    store = RollupStore(
        spark, str(tmp_path / "r2"), keys=["event_type"], window_duration="1 hour"
    )
    store.merge_batch(ev, batch_id=0, run_id="ckpt-A")
    n0 = store.read().count()
    assert n0 > 0

    # month-partitioned layout: one live dir per month, all meta-referenced
    months = {
        r[0]
        for r in ev.select(F.date_format("ts", "yyyy-MM")).distinct().collect()
    }
    live = [d for d in os.listdir(store.path) if d.startswith("m-")]
    assert len(live) == len(months)

    # replayed batch under the same run no-ops; a later batch merges only
    # its touched months (untouched month dirs must keep their identity)
    before_dirs = set(live)
    store.merge_batch(ev.limit(0), batch_id=0, run_id="ckpt-A")
    store.merge_batch(ev.limit(0), batch_id=1, run_id="ckpt-A")  # empty: guard advances
    assert store.last_batch_id() == 1
    assert set(d for d in os.listdir(store.path) if d.startswith("m-")) == before_dirs

    # a DIFFERENT run (new checkpoint, batch ids restart) must raise
    with _pytest.raises(ValueError, match="adopt_run"):
        store.merge_batch(ev, batch_id=0, run_id="ckpt-B")

    # explicit adoption re-homes the store and resets the replay guard
    store.adopt_run("ckpt-B")
    store.merge_batch(ev, batch_id=0, run_id="ckpt-B")
    assert store.read().count() == n0  # same windows/keys, counts doubled
    got = store.read().agg(F.sum("cnt")).first()[0]
    assert got == 2 * ev.count()

    # orphaned (crashed-write) dirs are ignored by readers and GC'd on
    # the next publish
    orphan = os.path.join(store.path, "m-2099-01-deadbeef")
    os.makedirs(orphan)
    assert store.read().agg(F.sum("cnt")).first()[0] == 2 * ev.count()
    store.merge_batch(ev.limit(0), batch_id=1, run_id="ckpt-B")
    assert not os.path.exists(orphan)


def test_dlq_replay_after_schema_fix(spark, tmp_path):
    """The quarantine's second half: rows dead-lettered under a
    misconfigured schema (pk typed wrong → null pk) replay cleanly once
    the route's schema is corrected; junk rows stay quarantined; replay
    is idempotent."""
    import pyspark.sql.types as T

    from qin_cdc_spark.cdc.envelope import ENVELOPE_SCHEMA

    cust = load_table(spark, SF_SMOKE, "customer").limit(20)
    good = envelope_from_typed(
        cust.select(
            F.lit("insert").alias("op"), F.col("c_custkey").alias("seq"), *cust.columns
        ),
        db="src",
        table="customer",
    )
    junk = spark.createDataFrame(
        [("src", "customer", "insert", 9001, None, 1, "{not json at all", None)],
        ENVELOPE_SCHEMA,
    )
    env_dir = str(tmp_path / "env")
    good.unionByName(junk).write.parquet(env_dir)

    # misconfigured schema: pk declared array<bigint> → every row's pk
    # parses null → the WHOLE stream quarantines (target never created)
    broken = T.StructType(
        [
            T.StructField("c_custkey", T.ArrayType(T.LongType()))
            if f.name == "c_custkey"
            else f
            for f in cust.schema.fields
        ]
    )
    route = CdcStreamRoute(
        spark,
        db="src",
        table="customer",
        schema=broken,
        keys=["c_custkey"],
        target_path=str(tmp_path / "tbl"),
        dlq_path=str(tmp_path / "dlq"),
    )
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 21

    route.schema = cust.schema  # operator fixes the route
    applied, still_bad = route.replay_dlq()
    assert (applied, still_bad) == (20, 1)
    assert route.target.read().count() == 20
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 1

    applied2, still_bad2 = route.replay_dlq()  # idempotent re-run
    assert (applied2, still_bad2) == (0, 1)
    assert route.target.read().count() == 20


def test_tombstone_gc_in_stream(spark, tmp_path):
    """gc_every on a seq-ordered stream: tombstones below the low-water
    mark are PHYSICALLY dropped mid-stream, visible rows stay the LWW
    state throughout, and a full replay from a fresh checkpoint (GC on)
    converges to the same table."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from qin_cdc_spark.streaming.cdc_stream import start_cdc_stream

    schema = StructType(
        [StructField("id", LongType()), StructField("val", StringType())]
    )
    # five seq-ordered envelope files == five ordered micro-batches:
    #   f1: insert keys 1..100           (seq 1..100)
    #   f2: update keys 21..100          (seq 101..180)
    #   f3: delete keys 1..20            (seq 201..220)
    #   f4: update keys 21..60           (seq 301..340)
    #   f5: update keys 61..100          (seq 401..440)
    files = [
        [(k, f"v0_{k}", "insert", k) for k in range(1, 101)],
        [(k, f"v1_{k}", "update", 100 + (k - 20)) for k in range(21, 101)],
        [(k, None, "delete", 200 + k) for k in range(1, 21)],
        [(k, f"v2_{k}", "update", 300 + (k - 20)) for k in range(21, 61)],
        [(k, f"v3_{k}", "update", 400 + (k - 60)) for k in range(61, 101)],
    ]
    env_dir = str(tmp_path / "envelope")
    for rows in files:
        typed = spark.createDataFrame(
            rows, "id long, val string, op string, seq long"
        )
        envelope_from_typed(typed, db="src", table="t").coalesce(1).write.mode(
            "append"
        ).parquet(env_dir)

    def run(ckpt: str, target: str) -> CdcStreamRoute:
        route = CdcStreamRoute(
            spark,
            db="src",
            table="t",
            schema=schema,
            keys=["id"],
            target_path=str(tmp_path / target),
        )
        q = start_cdc_stream(
            spark,
            file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
            [route],
            checkpoint_dir=str(tmp_path / ckpt),
            gc_every=2,  # GC at batches 2 and 4
        )
        q.awaitTermination(300)
        return route

    route = run("ckpt", "t_tbl")
    visible = {(r.id, r.val) for r in route.target.read().collect()}
    want = {(k, f"v2_{k}") for k in range(21, 61)} | {
        (k, f"v3_{k}") for k in range(61, 101)
    }
    assert visible == want  # LWW state: deletes hold, latest updates win
    # batch 4's min seq (401) is the final low-water mark: every delete
    # tombstone (seq 201..220) must be PHYSICALLY gone, not just hidden
    internal = route.target.read_internal()
    assert internal.filter(F.col("_deleted")).count() == 0
    assert internal.count() == 80

    # replay from scratch, GC still on: converges to the identical table
    route2 = run("ckpt2", "t_tbl2")
    visible2 = {(r.id, r.val) for r in route2.target.read().collect()}
    assert visible2 == want
    assert route2.target.read_internal().filter(F.col("_deleted")).count() == 0


def test_transform_with_state_first_seen_admission(spark, tmp_path):
    """transformWithState value-state admission: first occurrence of a
    key admits, repeats suppress across micro-batches, and per-batch
    suppression counts are exact.

    transformWithState's Python worker protocol rides on protobuf,
    which this container does not ship (and installs are disallowed) —
    skip with the same documented pattern as the Kafka connector jar;
    the operator itself is implemented and runs wherever pyspark's
    declared protobuf dependency is present."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState python protocol needs protobuf (not shipped here)",
    )
    from qin_cdc_spark.streaming.stateful import first_seen_admission

    # transformWithState requires the RocksDB state store provider
    prov = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "src")
    b1 = spark.createDataFrame([("a",), ("a",), ("b",)], "key string")
    b2 = spark.createDataFrame([("a",), ("b",), ("c",), ("c",)], "key string")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = first_seen_admission(stream)
    rows = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, bid: rows.extend((bid, r.key, r.admitted, r.n_suppressed)
                                        for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        if old is None:
            spark.conf.unset(prov)
        else:
            spark.conf.set(prov, old)
    got = {(b, k): (a, s) for b, k, a, s in rows}
    # batch 0: a admits (1 dup suppressed), b admits
    assert got[(0, "a")] == (True, 1)
    assert got[(0, "b")] == (True, 0)
    # batch 1: a and b already seen → suppressed; c admits (1 dup)
    assert got[(1, "a")] == (False, 1)
    assert got[(1, "b")] == (False, 1)
    assert got[(1, "c")] == (True, 1)


def test_ddl_modify_column_type_mid_stream(spark, tmp_path):
    """MODIFY-column type widening applied mid-stream (int → varchar):
    the evolved batch must merge into the pre-evolution target with
    stored values recast to the new type — previously the union's
    implicit coercion picked BIGINT and the first non-numeric value
    killed the stream."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from qin_cdc_spark.cdc.envelope import ENVELOPE_SCHEMA
    from qin_cdc_spark.cdc.registry import SchemaRegistry

    env_dir = str(tmp_path / "env")
    t1 = spark.createDataFrame(
        [(1, 10, "insert", 1), (2, 20, "insert", 2)],
        "id long, val int, op string, seq long",
    )
    envelope_from_typed(t1, db="src", table="t").coalesce(1).write.mode(
        "append"
    ).parquet(env_dir)
    ddl = spark.createDataFrame(
        [
            (
                "src",
                "t",
                "ddl",
                3,
                None,
                None,
                "ALTER TABLE t MODIFY val varchar(20)",
                None,
            )
        ],
        ENVELOPE_SCHEMA,
    )
    t2 = spark.createDataFrame(
        [(1, "ten", "update", 4), (3, "thirty", "insert", 5)],
        "id long, val string, op string, seq long",
    )
    ddl.unionByName(envelope_from_typed(t2, db="src", table="t")).coalesce(
        1
    ).write.mode("append").parquet(env_dir)

    reg = SchemaRegistry()
    reg.add(
        "src",
        "t",
        StructType(
            [StructField("id", LongType(), False), StructField("val", IntegerType(), True)]
        ),
    )
    route = CdcStreamRoute(
        spark,
        db="src",
        table="t",
        schema=reg.get("src", "t"),
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
    )
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        registry=reg,
    )
    q.awaitTermination(300)
    got = sorted((r.id, r.val) for r in route.target.read().collect())
    # stored int 20 recast to '20'; updated/new rows carry strings
    assert got == [(1, "ten"), (2, "20"), (3, "thirty")]
    assert dict(route.target.read().dtypes)["val"] == "string"


def test_attribution_last_touch_semantics(spark):
    """Planted sequence: purchase credits the latest prior touch within
    72 h; stale or missing touches are organic (0 / -1)."""
    import datetime as dt

    import qin_cdc_spark.streaming.queries as q

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        # user 1: click 2h before purchase -> attributed to event 11
        (10, ts(0), 1, "view", 1.0, ""),
        (11, ts(1), 1, "click", 1.0, ""),
        (12, ts(3), 1, "purchase", 9.0, ""),
        # user 2: only touch is 100h stale -> organic
        (20, ts(0), 2, "click", 1.0, ""),
        (21, ts(100), 2, "purchase", 9.0, ""),
        # user 3: no touch at all -> organic
        (30, ts(5), 3, "purchase", 9.0, ""),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = q.load_table
    q.load_table = lambda s, d, n: ev
    try:
        out = {r.purchase_id: r for r in q.ev_attribution_last_touch(spark, "x").collect()}
    finally:
        q.load_table = orig
    assert out[12].touch_id == 11
    assert out[12].secs_since_touch == 2 * 3600
    assert out[21].touch_id == 0 and out[21].secs_since_touch == -1
    assert out[30].touch_id == 0 and out[30].secs_since_touch == -1


def test_bootstrap_then_stream_with_overlap(spark, tmp_path):
    """Debezium-style initial load: seed the target with a snapshot at
    watermark S (rows carry seq=S), then stream a tail that REDELIVERS
    events from before S — the final table must equal the full-stream
    apply, and stale redelivered events must not regress snapshot rows."""
    from qin_cdc_spark.cdc.apply import apply_changes, decode_envelope
    from qin_cdc_spark.cdc.queries import bootstrap_route, snapshot_as_changes

    env = envelope_from_typed(
        orders_change_stream(spark, SF_SMOKE), db="src", table="orders"
    )
    schema = load_table(spark, SF_SMOKE, "orders").schema
    decoded = decode_envelope(env, schema, db="src", table="orders")
    s = decoded.agg(F.max("seq")).collect()[0][0] // 2

    snapshot = apply_changes(None, decoded.filter(F.col("seq") <= s), ["o_orderkey"])
    route = CdcStreamRoute(
        spark,
        db="src",
        table="orders",
        schema=schema,
        keys=["o_orderkey"],
        target_path=str(tmp_path / "orders_tbl"),
    )
    bootstrap_route(route, snapshot, s)

    # stream the tail WITH a redelivery overlap (everything after s/2)
    tail_dir = str(tmp_path / "tail")
    env.filter(F.col("seq") > s // 2).repartition(3).write.parquet(tail_dir)
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, tail_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    expected = apply_changes(None, decoded, ["o_orderkey"])
    got = route.target.read()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0

    # teeth: OUT-OF-ORDER redelivery of an old batch that does NOT
    # contain the key's last event (a lost-and-found file).  With the
    # watermark seed the stale insert loses LWW; a sentinel seq=-1 seed
    # would regress the row to v1 — the watermark is load-bearing.
    from qin_cdc_spark.cdc.apply import latest_by_key

    tiny = spark.createDataFrame(
        [("insert", 1, 1, "v1"), ("update", 2, 1, "v2")],
        "op string, seq long, k long, val string",
    )
    snap = apply_changes(None, tiny, ["k"])  # state: v2
    stale_batch = tiny.filter(F.col("seq") == 1)

    def final(seed_seq):
        seed = snapshot_as_changes(snap, ["k"], seed_seq)
        return {
            r.k: r.val
            for r in latest_by_key(
                seed.unionByName(stale_batch.select(seed.columns)), ["k"]
            )
            .filter(F.col("op") != "delete")
            .collect()
        }

    assert final(10) == {1: "v2"}  # watermark seed: stale insert loses
    assert final(-1) == {1: "v1"}  # sentinel seed: silent regression

def test_bucketed_table_schema_manifest_odelta_evolution(spark, tmp_path):
    """The bucketed target's SCHEMA-MANIFEST contract (VERDICT r8 #3):
    ADD COLUMN is O(delta) — only the batch's touched buckets rewrite;
    untouched buckets keep their pre-evolution files and read typed
    NULLs for the added column through the declared-schema read (no
    footer-merge job, no silent column loss, no O(store) rewrite).
    Only a TYPE change still pays the table-wide aligned rewrite."""
    import os

    import pyarrow.parquet as pq

    from qin_cdc_spark.streaming.cdc_stream import BucketedUpsertTable

    def files_of(p):
        return {
            os.path.join(r, f)
            for r, _d, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        }

    t = BucketedUpsertTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(spark.createDataFrame(
        [("insert", 1, 1, "a"), ("insert", 2, 2, "b"),
         ("insert", 3, 3, "c"), ("insert", 4, 4, "d")],
        "op string, seq long, k long, v string",
    ))
    before = files_of(str(tmp_path / "t"))
    # add-column batch touches ONE key → only its bucket rewrites
    t.merge(spark.createDataFrame(
        [("update", 5, 1, "a2", "7")],
        "op string, seq long, k long, v string, v2 string",
    ))
    after = files_of(str(tmp_path / "t"))
    shared = before & after
    assert shared, "ADD COLUMN must not rewrite untouched buckets (O(delta))"
    # physical schemas legitimately MIX (old files lack v2); the
    # manifest carries the logical schema and the declared read heals
    schemas = {tuple(pq.read_schema(p).names) for p in after}
    assert len(schemas) == 2  # old-vintage files + evolved files
    assert os.path.exists(os.path.join(str(tmp_path / "t"), "_table_schema.json"))
    got = {(r.k): (r.v, r.v2) for r in t.read().collect()}
    assert got == {
        1: ("a2", "7"), 2: ("b", None), 3: ("c", None), 4: ("d", None)
    }
    # steady state: a same-shape batch stays touched-buckets-only
    before2 = files_of(str(tmp_path / "t"))
    t.merge(spark.createDataFrame(
        [("update", 6, 1, "a3", "8")],
        "op string, seq long, k long, v string, v2 string",
    ))
    assert before2 & files_of(str(tmp_path / "t"))
    # a TYPE change (MODIFY v2: string → bigint-compatible values) is
    # the one table-wide rewrite: no pre-MODIFY file survives, and the
    # manifest flipped atomically with the swap
    t.merge(spark.createDataFrame(
        [("update", 7, 1, "a4", 42)],
        "op string, seq long, k long, v string, v2 long",
    ))
    assert not (before2 & files_of(str(tmp_path / "t")))
    got = {(r.k): (r.v, r.v2) for r in t.read().collect()}
    assert got[1] == ("a4", 42) and got[2] == ("b", None)


def test_bucketed_manifest_crash_window_hides_then_heals(spark, tmp_path):
    """Crash between the ADD path's bucket swaps and the manifest flip:
    the table reads as a consistent PRE-DDL view (the new column is
    hidden, never silently dropped from future merges), and the
    replayed batch heals it."""
    import os

    from qin_cdc_spark.streaming.cdc_stream import BucketedUpsertTable

    t = BucketedUpsertTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(spark.createDataFrame(
        [("insert", 1, 1, "a"), ("insert", 2, 2, "b")],
        "op string, seq long, k long, v string",
    ))
    man_path = os.path.join(str(tmp_path / "t"), "_table_schema.json")
    with open(man_path) as f:
        pre_ddl_manifest = f.read()
    batch = spark.createDataFrame(
        [("update", 5, 1, "a2", "x")],
        "op string, seq long, k long, v string, v2 string",
    )
    t.merge(batch)
    # simulate the crash: the manifest flip is undone (bucket swaps
    # landed, flip didn't)
    with open(man_path, "w") as f:
        f.write(pre_ddl_manifest)
    t2 = BucketedUpsertTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    assert "v2" not in t2.read().columns  # consistent pre-DDL view
    assert {(r.k, r.v) for r in t2.read().collect()} == {(1, "a2"), (2, "b")}
    t2.merge(batch)  # the at-least-once replay
    got = {(r.k): (r.v, r.v2) for r in t2.read().collect()}
    assert got == {1: ("a2", "x"), 2: ("b", None)}
