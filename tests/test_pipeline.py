"""End-to-end pipeline test: TOML config → compiled routes → streaming
apply → query the synced targets (the reference's full server loop)."""

from __future__ import annotations

import threading
import time

import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException

from qin_cdc_spark.cdc.changestream import orders_change_stream
from qin_cdc_spark.cdc.envelope import envelope_from_typed
from qin_cdc_spark.plans.pipeline import compile_pipeline
from qin_cdc_spark.sources.tables import load_table
from qin_cdc_spark.streaming.cdc_stream import file_envelope_stream
from tests.conftest import SF_SMOKE

CONFIG = """
name = "tpch-sync"

[input]
type = "mysql"

[[transforms]]
type = "rename-column"
[transforms.config]
match-schema = "src"
match-table = "orders"
columns = ["o_orderpriority"]
rename-as = ["priority"]

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "orders"
target-schema = "dw"
target-table = "ods_orders"

[[output.config.routers]]
source-schema = "src"
source-table = "customer"
target-schema = "dw"
target-table = "ods_customer"
"""


def test_trigger_from_reference_config(spark, tmp_path):
    """batch-interval-ms / batch-size (A20 knobs) map to the streaming
    trigger and source rate limit."""
    cfg = CONFIG.replace(
        'type = "starrocks"',
        'type = "starrocks"\n\n[output.config.target.options]\n'
        "batch-size = 10240\nbatch-interval-ms = 3000",
    )
    orders = load_table(spark, SF_SMOKE, "orders")
    pipe = compile_pipeline(
        spark,
        cfg,
        schemas={("src", "orders"): orders.schema, ("src", "customer"): orders.schema},
        primary_keys={("src", "orders"): ["o_orderkey"], ("src", "customer"): ["c_custkey"]},
        target_root=str(tmp_path / "t"),
    )
    assert pipe.trigger_config() == {"processingTime": "3000 milliseconds"}
    assert pipe.batch_size() == 10240


def test_pipeline_end_to_end(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")

    pipe = compile_pipeline(
        spark,
        CONFIG,
        schemas={("src", "orders"): orders.schema, ("src", "customer"): cust.schema},
        primary_keys={("src", "orders"): ["o_orderkey"], ("src", "customer"): ["c_custkey"]},
        target_root=str(tmp_path / "targets"),
    )
    assert len(pipe.routes) == 2

    # two tables multiplexed into ONE envelope stream (the reference's
    # single binlog feed carrying every synced table)
    env_orders = envelope_from_typed(
        orders_change_stream(spark, SF_SMOKE), db="src", table="orders"
    )
    env_cust = envelope_from_typed(
        cust.select(
            F.lit("insert").alias("op"), F.col("c_custkey").alias("seq"), *cust.columns
        ),
        db="src",
        table="customer",
    )
    env_dir = str(tmp_path / "envelope")
    env_orders.unionByName(env_cust).repartition(3).write.parquet(env_dir)

    q = pipe.run_stream(
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    # orders target: LWW-applied, with the rename transform in effect
    got_orders = pipe.read_target("dw", "ods_orders")
    assert "priority" in got_orders.columns and "o_orderpriority" not in got_orders.columns
    n_expected = orders.count() - orders.filter((F.col("o_orderkey") % 10).isin(7, 9)).count()
    assert got_orders.count() == n_expected

    # customer target: full insert-only sync, untransformed
    got_cust = pipe.read_target("dw", "ods_customer")
    assert got_cust.count() == cust.count()
    assert set(got_cust.columns) == set(cust.columns)

    # the synced tables answer real queries (the reference delegates
    # querying to StarRocks; here Spark SQL is the query engine)
    got_orders.createOrReplaceTempView("ods_orders")
    top = spark.sql(
        "SELECT priority, count(*) AS n FROM ods_orders GROUP BY priority ORDER BY n DESC"
    )
    assert top.count() > 0


def test_cli_batch_mode(spark, tmp_path, capsys):
    """python -m qin_cdc_spark end-to-end in batch mode: TOML config +
    parquet-inferred schema + CLI flags → applied target table."""
    from qin_cdc_spark.__main__ import main
    from qin_cdc_spark.cdc.envelope import envelope_from_typed

    cfg = tmp_path / "pipe.toml"
    cfg.write_text(
        """
name = "cli-sync"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "accounts"
target-schema = "dw"
target-table = "ods_accounts"
"""
    )
    rows = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 2), (1, "a2", "update", 3)],
        ["id", "name", "op", "seq"],
    )
    sample = str(tmp_path / "sample_accounts")
    rows.select("id", "name").limit(1).write.parquet(sample)
    env_dir = str(tmp_path / "env")
    envelope_from_typed(rows, db="src", table="accounts").write.parquet(env_dir)

    assert main([
        "--config", str(cfg),
        "--schema", f"src.accounts={sample}",
        "--primary-key", "src.accounts=id",
        "--envelope-dir", env_dir,
        "--target-root", str(tmp_path / "targets"),
        "--mode", "batch",
    ]) == 0

    got = {
        r["id"]: r["name"]
        for r in spark.read.parquet(
            str(tmp_path / "targets" / "dw" / "ods_accounts")
        ).collect()
    }
    assert got == {1: "a2", 2: "b"}


def test_cli_stream_mode(spark, tmp_path):
    """CLI end-to-end in STREAM mode (availableNow fallback trigger):
    config-driven file source → checkpointed foreachBatch apply →
    bucketed target readable with LWW semantics applied."""
    from qin_cdc_spark.__main__ import main
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import BucketedUpsertTable

    cfg = tmp_path / "pipe.toml"
    cfg.write_text(
        """
name = "cli-stream"
[input]
type = "mysql"
[output]
type = "starrocks"
[[output.config.routers]]
source-schema = "src"
source-table = "accounts"
target-schema = "dw"
target-table = "ods_accounts"
"""
    )
    rows = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 2), (1, "a2", "update", 3),
         (2, "b", "delete", 4)],
        ["id", "name", "op", "seq"],
    )
    sample = str(tmp_path / "sample_accounts")
    rows.select("id", "name").limit(1).write.parquet(sample)
    env_dir = str(tmp_path / "env")
    envelope_from_typed(rows, db="src", table="accounts").write.parquet(env_dir)

    assert main([
        "--config", str(cfg),
        "--schema", f"src.accounts={sample}",
        "--primary-key", "src.accounts=id",
        "--envelope-dir", env_dir,
        "--target-root", str(tmp_path / "targets"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--mode", "stream",
        "--await-seconds", "300",
    ]) == 0

    tbl = BucketedUpsertTable(
        spark, str(tmp_path / "targets" / "dw" / "ods_accounts"), ["id"]
    )
    got = {r["id"]: r["name"] for r in tbl.read().collect()}
    assert got == {1: "a2"}  # update applied, delete applied


def test_cli_version(capsys):
    from qin_cdc_spark.__main__ import main

    assert main(["--version"]) == 0
    assert "qin_cdc_spark" in capsys.readouterr().out


MV_CONFIG = """
name = "mv-sync"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "t"
target-schema = "dw"
target-table = "ods_t"

[[materialized-views]]
name = "t_by_grp"
type = "agg"
source-schema = "src"
source-table = "t"
[materialized-views.config]
group-cols = ["grp"]
sum-cols = ["val"]

[[materialized-views]]
name = "t_val_hist"
type = "quantile"
source-schema = "src"
source-table = "t"
[materialized-views.config]
group-cols = ["grp"]
value-col = "val"
bin-width = 25
"""


def test_pipeline_declared_materialized_views(spark, tmp_path):
    """[[materialized-views]] config blocks (engine extension): the
    compiled pipeline forces the consumed route onto a versioned
    target and refreshes every declared view inside each micro-batch;
    the views end equal to recomputes over the synced table."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("id long, grp string, val long")
    pipe = compile_pipeline(
        spark,
        MV_CONFIG,
        schemas={("src", "t"): schema},
        primary_keys={("src", "t"): ["id"]},
        target_root=str(tmp_path / "targets"),
    )
    assert pipe.routes[0].versioned  # the MV declaration forces it
    assert set(pipe.mviews) == {"t_by_grp", "t_val_hist"}

    def typed(rows):
        return spark.createDataFrame(
            rows, "op string, seq long, id long, grp string, val long"
        )

    env_dir = str(tmp_path / "envelope")
    batches = [
        typed([("insert", i, i, "g%d" % (i % 2), i * 10) for i in range(1, 8)]),
        typed([("update", 10, 1, "g0", 999), ("delete", 11, 2, "g0", 20),
               ("insert", 12, 20, "g1", 55)]),
    ]
    for t in batches:
        envelope_from_typed(
            t.select("id", "grp", "val", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)

    q = pipe.run_stream(
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    tgt = pipe.read_target("dw", "ods_t")
    exp_agg = {
        (r.grp): (r.cnt, r.s)
        for r in tgt.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("val").alias("s"))
        .collect()
    }
    got_agg = {
        r.grp: (r.cnt, r.sum_val) for r in pipe.read_mview("t_by_grp").collect()
    }
    assert got_agg == exp_agg
    exp_bins: dict = {}
    for r in tgt.collect():
        k = (r.grp, r.val // 25)
        exp_bins[k] = exp_bins.get(k, 0) + 1
    got_bins = {
        (r.grp, r.bin): r.cnt for r in pipe.read_mview("t_val_hist").collect()
    }
    assert got_bins == exp_bins


def test_pipeline_declared_coordinator(spark, tmp_path):
    """[coordinator] in TOML: every route becomes versioned, each
    micro-batch stamps a cross-table coordinate (and per-route egress
    ranges where egress is declared), coordinated reads join both
    targets at the SAME boundary, and retain-batches bounds snapshot
    history in-stream."""
    cfg = """
name = "coordinated-sync"

[input]
type = "mysql"

[output]
type = "starrocks"

[coordinator]
retain-batches = 2

[[output.config.routers]]
source-schema = "src"
source-table = "orders"
egress-format = "default"

[[output.config.routers]]
source-schema = "src"
source-table = "customer"
"""
    orders = orders_change_stream(spark, SF_SMOKE)
    cust_tbl = load_table(spark, SF_SMOKE, "customer")
    cust = cust_tbl.withColumn("op", F.lit("insert")).withColumn(
        "seq", F.col("c_custkey").cast("long")
    ).select("op", "seq", *cust_tbl.columns)
    o_env = envelope_from_typed(orders, db="src", table="orders")
    c_env = envelope_from_typed(cust, db="src", table="customer")
    env_dir = str(tmp_path / "env")
    split = 3000
    o_env.filter(F.col("seq") <= split).unionByName(
        c_env.filter(F.col("seq") <= split)
    ).coalesce(1).write.mode("append").parquet(env_dir)
    o_env.filter(F.col("seq") > split).unionByName(
        c_env.filter(F.col("seq") > split)
    ).coalesce(1).write.mode("append").parquet(env_dir)

    pipe = compile_pipeline(
        spark,
        cfg,
        schemas={
            ("src", "orders"): orders.drop("op", "seq").schema,
            ("src", "customer"): cust_tbl.schema,
        },
        primary_keys={
            ("src", "orders"): ["o_orderkey"],
            ("src", "customer"): ["c_custkey"],
        },
        target_root=str(tmp_path / "dw"),
        n_buckets=4,
    )
    assert pipe.coordinator is not None
    q = pipe.run_stream(
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    coord = pipe.coordinator
    assert coord.batches() == [0, 1]
    # coordinate 0 pins BOTH tables at the batch-0 boundary
    snap = coord.read_at(0)
    assert snap["src.customer"].count() == cust.filter(F.col("seq") <= split).count()
    # egress stamped only for the route that declares it
    assert set(coord.egress_at(0)) == {"src.orders"}
    assert coord.egress_at(0)["src.orders"][1] == coord.versions_at(0)["src.orders"]
    # retain-batches=2 kept both coordinates here (only 2 batches ran);
    # the retention path itself is exercised: expire+gc ran in-stream
    assert coord.versions_at(1)["src.orders"] == 2


def test_router_history_expire_lag_parses():
    """history-expire-lag rides the router TOML schema like
    tombstone-gc-lag: parsed to Router.history_expire_lag and handed to
    the route (behavior proven in
    test_scd2.py::test_stream_route_in_stream_history_expiry)."""
    from qin_cdc_spark.plans.config import parse_config

    cfg = """
name = "s"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "t"
history = true
history-expire-lag = 40
tombstone-gc-lag = 10
"""
    pc = parse_config(cfg)
    r = pc.routers[0]
    assert r.history is True
    assert r.history_expire_lag == 40
    assert r.tombstone_gc_lag == 10


def test_pipeline_kitchen_sink_all_options_compose(spark, tmp_path):
    """Every router-level feature at once, one TOML: versioned target
    + SCD2 history + history-expire-lag + tombstone-gc-lag +
    egress-format + a declared MV + [coordinator].  Streamed with
    max_files_per_trigger=1 and checked feature by feature against
    pure folds — the cross-feature interaction test (each option is
    proven alone elsewhere; this proves they compose):

    * target == LWW fold of the full stream,
    * history visible rows == interval fold with versions closing
      below the floor expired, floor == max(seq) - lag,
    * the declared agg MV == recompute over the live rows,
    * wire replay at the LAST stamped boundary == target,
    * fsck clean on the target store, the history store, the egress
      dir, and the coordinator manifest (with boundary checks)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        _parse_datatype_string,
    )

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.plans.pipeline import compile_pipeline
    from qin_cdc_spark.streaming.cdc_stream import (
        file_envelope_stream,
        replay_egress_state,
    )
    from qin_cdc_spark.streaming.fsck import (
        fsck_coordinator_path,
        fsck_egress_dir,
        fsck_path,
        ok,
    )

    cfg = """
name = "kitchen-sink"

[input]
type = "mysql"

[output]
type = "starrocks"

[coordinator]

[[output.config.routers]]
source-schema = "src"
source-table = "t"
target-schema = "dw"
target-table = "ods_t"
history = true
history-expire-lag = 10
tombstone-gc-lag = 6
egress-format = "default"

[[materialized-views]]
name = "t_by_grp"
type = "agg"
source-schema = "src"
source-table = "t"
[materialized-views.config]
group-cols = ["grp"]
sum-cols = ["val"]
"""
    events = [
        # batch 0
        [("insert", 1, 1, "g1", 10), ("insert", 2, 2, "g1", 20),
         ("insert", 3, 3, "g2", 30)],
        # batch 1: update moves k=2's group; k=3 deleted
        [("update", 8, 2, "g2", 25), ("delete", 9, 3, None, None),
         ("insert", 10, 4, "g2", 40)],
        # batch 2: k=1 updated twice (two history versions in one
        # batch), k=2 deleted -> tombstone GC'able at the end
        [("update", 15, 1, "g1", 11), ("update", 17, 1, "g1", 12),
         ("delete", 18, 2, None, None), ("insert", 20, 5, "g1", 50)],
    ]

    def _ev(rows):
        return spark.createDataFrame(
            rows, "op string, seq long, k long, grp string, val long"
        )

    schema = _parse_datatype_string("k long, grp string, val long")
    pipe = compile_pipeline(
        spark, cfg,
        schemas={("src", "t"): schema},
        primary_keys={("src", "t"): ["k"]},
        target_root=str(tmp_path / "dw"),
        n_buckets=4,
    )
    env_dir = str(tmp_path / "env")
    for batch in events:
        envelope_from_typed(
            _ev(batch).select("k", "grp", "val", "op", "seq"),
            db="src", table="t",
        ).coalesce(1).write.mode("append").parquet(env_dir)
    q = pipe.run_stream(
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    flat = [e for b in events for e in b]
    # pure LWW fold
    st = {}
    for op, seq, k, grp, val in flat:
        if op == "delete":
            st.pop(k, None)
        else:
            st[k] = (grp, val)
    live = {r.k: (r.grp, r.val) for r in pipe.read_target("dw", "ods_t").collect()}
    assert live == st

    # history: interval fold, versions closing at-or-before the floor
    # expired; floor = max(seq) - lag = 20 - 10 = 10
    route = pipe.routes[0]
    assert route.history.history_floor() == 10
    by_key: dict = {}
    for op, seq, k, grp, val in sorted(flat, key=lambda e: (e[2], e[1])):
        by_key.setdefault(k, []).append((op, seq, grp, val))
    expect_hist = {}
    for k, evs in by_key.items():
        for i, (op, seq, grp, val) in enumerate(evs):
            nxt = evs[i + 1][1] if i + 1 < len(evs) else None
            if op != "delete" and (nxt is None or nxt > 10):
                expect_hist[(k, seq)] = (nxt, grp, val)
    got_hist = {
        (r.k, r.valid_from): (r.valid_to, r.grp, r.val)
        for r in route.history.read_history().collect()
        if r.valid_to is None or r.valid_to != r.valid_from
    }
    assert got_hist == expect_hist

    # declared MV == recompute over the live rows
    mv = {
        (r.grp,): r.sum_val
        for r in pipe.read_mview("t_by_grp").select("grp", "sum_val").collect()
    }
    expect_mv: dict = {}
    for k, (grp, val) in st.items():
        expect_mv[(grp,)] = expect_mv.get((grp,), 0) + val
    assert mv == expect_mv

    # wire replay at the LAST stamped boundary == target live rows
    coord = pipe.coordinator
    last = coord.batches()[-1]
    wire = coord.read_egress_at(spark, last)["src.t"]
    rebuilt = replay_egress_state(
        wire,
        StructType(
            [
                StructField("k", LongType()),
                StructField("grp", StringType()),
                StructField("val", LongType()),
            ]
        ),
        ["k"],
    )
    assert {r.k: (r.grp, r.val) for r in rebuilt.collect()} == st

    # tombstone GC ran in-stream: no tombstones below max(seq) - 6
    internal = route.target.read_internal()
    import pyspark.sql.functions as F  # noqa: PLC0415

    assert internal.filter(F.col("_deleted") & (F.col("_seq") < 20 - 6)).count() == 0

    # fsck: every state kind clean
    assert ok(fsck_path(route.target.path))
    assert ok(fsck_path(route.history.store.path))
    assert ok(fsck_egress_dir(route.egress_dir))
    rep = fsck_coordinator_path(
        str(coord.path), egress_dirs={"src.t": route.egress_dir}
    )
    assert ok(rep), rep["errors"]

SCD2_STATS_CONFIG = """
name = "scd2-stats-sync"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "t"
target-schema = "dw"
target-table = "ods_t"
history = true

[[materialized-views]]
name = "t_version_stats"
type = "scd2-stats"
source-schema = "src"
source-table = "t"
[materialized-views.config]
n-buckets = 4
"""


def test_pipeline_declared_scd2_stats_view(spark, tmp_path):
    """type = "scd2-stats" in [[materialized-views]]: the SCD2
    history's derived consumer is DECLARED next to its route (requires
    history = true) and refreshes inside every batch like the rest of
    the view family — per-key version stats end equal to a recompute
    over the route's own history."""
    from pyspark.sql.types import _parse_datatype_string

    from qin_cdc_spark.cdc.envelope import envelope_from_typed

    schema = _parse_datatype_string("id long, val string")
    pipe = compile_pipeline(
        spark,
        SCD2_STATS_CONFIG,
        schemas={("src", "t"): schema},
        primary_keys={("src", "t"): ["id"]},
        target_root=str(tmp_path / "targets"),
    )
    assert set(pipe.mviews) == {"t_version_stats"}

    def typed(rows):
        return spark.createDataFrame(rows, "op string, seq long, id long, val string")

    pipe.run_batch(envelope_from_typed(
        typed([("insert", 1, 1, "a"), ("insert", 2, 2, "b")]),
        db="src", table="t",
    ))
    pipe.run_batch(envelope_from_typed(
        typed([("update", 3, 1, "a2"), ("delete", 4, 2, None)]),
        db="src", table="t",
    ))
    got = {
        r.id: (r.n_entries, r.n_closed, r.dwell, r.n_open)
        for r in pipe.read_mview("t_version_stats").collect()
    }
    # id=1: [1,3) closed (dwell 2) + [3,·) open; id=2: [2,4) closed
    assert got == {1: (2, 1, 2, 1), 2: (1, 1, 2, 0)}
    # and equals a recompute over the route's own history
    hist = pipe.routes[0].bind_history().read_history(include_markers=True)
    expect = {}
    for r in hist.collect():
        e = expect.setdefault(r.id, [0, 0, 0, 0])
        e[0] += 1
        if r.valid_to is not None and r.valid_to > r.valid_from:
            e[1] += 1
            e[2] += r.valid_to - r.valid_from
        if r.valid_to is None:
            e[3] += 1
    assert got == {k: tuple(v) for k, v in expect.items()}
    # declaring scd2-stats without history on the router is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="history = true"):
        compile_pipeline(
            spark,
            SCD2_STATS_CONFIG.replace("history = true\n", ""),
            schemas={("src", "t"): schema},
            primary_keys={("src", "t"): ["id"]},
            target_root=str(tmp_path / "targets2"),
        )


def test_pipeline_inband_rename_ddl(spark, tmp_path):
    """The TOML-compiled pipeline carries in-band DDL end to end: an
    upstream RENAME COLUMN arriving as an op='ddl' envelope row inside
    the stream evolves the registry, renames the route's target store
    value-preservingly, and the post-rename micro-batch lands under the
    new name — config surface included, not just the raw route API."""
    import os

    from qin_cdc_spark.cdc.envelope import ENVELOPE_SCHEMA

    cfg = """
name = "rename-sync"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "t"
target-schema = "dw"
target-table = "ods_t"
"""
    t1 = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 2)],
        "k long, v string, op string, seq long",
    )
    pipe = compile_pipeline(
        spark,
        cfg,
        schemas={("src", "t"): t1.drop("op", "seq").schema},
        primary_keys={("src", "t"): ["k"]},
        target_root=str(tmp_path / "targets"),
    )
    env_dir = str(tmp_path / "env")
    os.makedirs(env_dir)
    envelope_from_typed(t1, db="src", table="t").coalesce(1).write.parquet(
        f"{env_dir}/tmp0"
    )
    ddl = spark.createDataFrame(
        [(
            "src", "t", "ddl", 3, None, None,
            "ALTER TABLE `src`.`t` RENAME COLUMN `v` TO `w`", None,
        )],
        ENVELOPE_SCHEMA,
    )
    t2 = spark.createDataFrame(
        [(1, "a2", "update", 4)], "k long, w string, op string, seq long"
    )
    ddl.unionByName(envelope_from_typed(t2, db="src", table="t")).coalesce(
        1
    ).write.parquet(f"{env_dir}/tmp1")
    import shutil

    for i in (0, 1):
        src = next(
            f for f in os.listdir(f"{env_dir}/tmp{i}") if f.endswith(".parquet")
        )
        os.rename(f"{env_dir}/tmp{i}/{src}", f"{env_dir}/f{i}.parquet")
        shutil.rmtree(f"{env_dir}/tmp{i}")
    q = pipe.run_stream(
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    got = {(r.k, r.w) for r in pipe.read_target("dw", "ods_t").collect()}
    # k=2 never re-appeared post-rename: DROP+ADD semantics would null it
    assert got == {(1, "a2"), (2, "b")}
    assert [f.name for f in pipe.registry.get("src", "t").fields] == ["k", "w"]


def test_run_batch_inband_rename_ddl(spark, tmp_path):
    """run_batch (the bootstrap/backfill path) honors in-band DDL the
    same way the stream does: one envelope frame spanning a RENAME
    applies seq-segmented, and pre-rename rows keep their values."""
    from qin_cdc_spark.cdc.envelope import ENVELOPE_SCHEMA

    cfg = """
name = "batch-rename"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "t"
target-schema = "dw"
target-table = "ods_t"
"""
    t1 = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 2)],
        "k long, v string, op string, seq long",
    )
    pipe = compile_pipeline(
        spark,
        cfg,
        schemas={("src", "t"): t1.drop("op", "seq").schema},
        primary_keys={("src", "t"): ["k"]},
        target_root=str(tmp_path / "targets"),
    )
    ddl = spark.createDataFrame(
        [(
            "src", "t", "ddl", 3, None, None,
            "ALTER TABLE `src`.`t` RENAME COLUMN `v` TO `w`", None,
        )],
        ENVELOPE_SCHEMA,
    )
    t2 = spark.createDataFrame(
        [(1, "a2", "update", 4)], "k long, w string, op string, seq long"
    )
    env = (
        envelope_from_typed(t1, db="src", table="t")
        .unionByName(ddl)
        .unionByName(envelope_from_typed(t2, db="src", table="t"))
    )
    pipe.run_batch(env)
    got = {(r.k, r.w) for r in pipe.read_target("dw", "ods_t").collect()}
    assert got == {(1, "a2"), (2, "b")}
    assert [f.name for f in pipe.registry.get("src", "t").fields] == ["k", "w"]


FANOUT_CONFIG = """
name = "fanout"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "a"

[[output.config.routers]]
source-schema = "src"
source-table = "b"

[[materialized-views]]
name = "a_by_grp"
type = "keyed-agg"
source-schema = "src"
source-table = "a"
[materialized-views.config]
group-cols = ["grp"]
sum-cols = ["val"]
"""

# FANOUT_CONFIG with the trickle chain's shape on route a: SCD2 history,
# canal egress, and a view on each of its two stores
CHAIN_CONFIG = """
name = "chain"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "a"
history = true
egress-format = "canal"

[[output.config.routers]]
source-schema = "src"
source-table = "b"

[[materialized-views]]
name = "a_by_grp"
type = "keyed-agg"
source-schema = "src"
source-table = "a"
[materialized-views.config]
group-cols = ["grp"]
sum-cols = ["val"]

[[materialized-views]]
name = "a_versions"
type = "scd2-stats"
source-schema = "src"
source-table = "a"
"""

# (op, seq, id, grp, val) on src.a and (op, seq, id, name) on src.b,
# one list per micro-batch
FANOUT_A_ROWS = [
    [("insert", i, i, "g%d" % (i % 2), i * 10) for i in range(1, 7)],
    [("update", 20, 1, "g1", 99), ("delete", 21, 2, "g0", 20),
     ("insert", 22, 30, "g0", 5)],
]
FANOUT_B_ROWS = [
    [("insert", 100 + i, i, "n%d" % i) for i in range(1, 5)],
    [("update", 200, 1, "m1"), ("delete", 201, 3, "n3")],
]


def _fanout_envelope(spark, batch: int):
    a = spark.createDataFrame(
        FANOUT_A_ROWS[batch], "op string, seq long, id long, grp string, val long"
    )
    b = spark.createDataFrame(
        FANOUT_B_ROWS[batch], "op string, seq long, id long, name string"
    )
    return envelope_from_typed(
        a.select("id", "grp", "val", "op", "seq"), db="src", table="a"
    ).unionByName(
        envelope_from_typed(b.select("id", "name", "op", "seq"), db="src", table="b")
    )


def _compile_fanout(spark, cfg: str, target_root: str):
    from pyspark.sql.types import _parse_datatype_string

    return compile_pipeline(
        spark,
        cfg,
        schemas={
            ("src", "a"): _parse_datatype_string("id long, grp string, val long"),
            ("src", "b"): _parse_datatype_string("id long, name string"),
        },
        primary_keys={("src", "a"): ["id"], ("src", "b"): ["id"]},
        target_root=target_root,
        n_buckets=4,
    )


def _lww(batches, width):
    state = {}
    for op, _, k, *vals in sorted(
        (r for bt in batches for r in bt), key=lambda r: r[1]
    ):
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = tuple(vals[:width])
    return state


def _group_sums(live: dict) -> dict:
    out: dict = {}
    for grp, val in live.values():
        cnt, s = out.get(grp, (0, 0))
        out[grp] = (cnt + 1, s + val)
    return out


def _scd2_versions(batches) -> dict:
    """(id, valid_from) -> (valid_to, grp, val): every non-delete event
    opens a version that the key's next event closes."""
    by_key: dict = {}
    for op, seq, k, grp, val in sorted(
        (r for bt in batches for r in bt), key=lambda r: (r[2], r[1])
    ):
        by_key.setdefault(k, []).append((op, seq, grp, val))
    out = {}
    for k, evs in by_key.items():
        for i, (op, seq, grp, val) in enumerate(evs):
            if op != "delete":
                nxt = evs[i + 1][1] if i + 1 < len(evs) else None
                out[(k, seq)] = (nxt, grp, val)
    return out


def _scd2_stats(versions: dict) -> dict:
    """id -> (n_entries, n_closed, dwell, n_open) over the versions."""
    out: dict = {}
    for (k, vf), (vt, _, _) in versions.items():
        n, closed, dwell, n_open = out.get(k, (0, 0, 0, 0))
        if vt is None:
            out[k] = (n + 1, closed, dwell, n_open + 1)
        else:
            out[k] = (n + 1, closed + 1, dwell + vt - vf, n_open)
    return out


@pytest.mark.parametrize("failing", ["route", "view", "history"])
def test_fanout_fails_after_every_call_and_restart_converges(
    spark, tmp_path, failing
):
    """Routes, each route's history and target branches, and the views
    on each store apply concurrently.  When one call raises once, the
    micro-batch fails only after the other calls have returned, no pool
    thread outlives the batch, and a restart from the same checkpoint
    lands both targets, the history and every view equal to the
    oracle."""
    cfg = CHAIN_CONFIG if failing == "history" else FANOUT_CONFIG
    env_dir = str(tmp_path / "envelope")
    for batch in range(len(FANOUT_A_ROWS)):
        _fanout_envelope(spark, batch).coalesce(1).write.mode("append").parquet(
            env_dir
        )

    def compile_():
        return _compile_fanout(spark, cfg, str(tmp_path / "targets"))

    def run(pipe):
        return pipe.run_stream(
            file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    pipe = compile_()
    returned = []  # calls in the order they returned or raised

    def fail_once(fn):
        def call(*args, **kwargs):
            if "raised" not in returned:
                returned.append("raised")
                raise RuntimeError("injected failure")
            return fn(*args, **kwargs)

        return call

    def slow(fn, name):
        # the other call is still running when the failure is raised
        def call(*args, **kwargs):
            time.sleep(1.0)
            fn(*args, **kwargs)
            returned.append(name)

        return call

    route_a, route_b = pipe.routes
    if failing == "route":
        route_b.apply_batch = fail_once(route_b.apply_batch)
        route_a.apply_batch = slow(route_a.apply_batch, "a")
    elif failing == "view":
        mv = pipe.mviews["a_by_grp"][1]
        mv.refresh = fail_once(mv.refresh)
    else:
        history = route_a.bind_history()
        history.apply_batch = fail_once(history.apply_batch)
    q = run(pipe)
    with pytest.raises(StreamingQueryException, match="injected failure"):
        q.awaitTermination(300)
    if failing == "route":
        # the failing route raised first; the other one had returned
        assert returned == ["raised", "a"]
        assert route_a.target.current_version() == 1
    else:
        # both routes landed batch 0 before the failure surfaced
        assert returned == ["raised"]
        assert pipe.read_target("src", "a").count() == 6
        assert pipe.read_target("src", "b").count() == 4
    if failing == "history":
        # the target's branch ran to its end: egress and the target's
        # view landed batch 0; the history and its view did not
        from qin_cdc_spark.streaming.cdc_stream import egress_hwm

        assert egress_hwm(route_a.egress_dir) == route_a.target.current_version()
        got_mv = {
            r.grp: (r.cnt, r.sum_val) for r in pipe.read_mview("a_by_grp").collect()
        }
        assert got_mv == _group_sums(_lww(FANOUT_A_ROWS[:1], 2))
        assert route_a.history.read_history() is None
        assert pipe.read_mview("a_versions") is None
    assert not [t for t in threading.enumerate() if t.name.startswith("qin-fanout")]

    # restart from the same checkpoint: the failed batch replays
    pipe = compile_()
    q = run(pipe)
    assert q.awaitTermination(300)
    assert q.exception() is None

    want_a, want_b = _lww(FANOUT_A_ROWS, 2), _lww(FANOUT_B_ROWS, 1)
    got_a = {r.id: (r.grp, r.val) for r in pipe.read_target("src", "a").collect()}
    got_b = {r.id: (r.name,) for r in pipe.read_target("src", "b").collect()}
    assert (got_a, got_b) == (want_a, want_b)
    got_mv = {
        r.grp: (r.cnt, r.sum_val) for r in pipe.read_mview("a_by_grp").collect()
    }
    assert got_mv == _group_sums(want_a)
    if failing == "history":
        want_hist = _scd2_versions(FANOUT_A_ROWS)
        got_hist = {
            (r.id, r.valid_from): (r.valid_to, r.grp, r.val)
            for r in pipe.read_history("src", "a").collect()
        }
        assert got_hist == want_hist
        got_stats = {
            r.id: (r.n_entries, r.n_closed, r.dwell, r.n_open)
            for r in pipe.read_mview("a_versions").collect()
        }
        assert got_stats == _scd2_stats(want_hist)


@pytest.mark.parametrize("waiter", ["route", "history"])
def test_views_start_when_their_store_lands(spark, tmp_path, waiter):
    """A view refreshes as soon as the store it reads has landed, not
    after every store of the batch: ``[route]`` holds route b's apply
    until route a's target view has refreshed, ``[history]`` holds
    route a's history apply until the same view (which reads the
    target) has refreshed.  With a barrier between stores and views,
    the held call times out."""
    pipe = _compile_fanout(spark, CHAIN_CONFIG, str(tmp_path / "targets"))
    route_a, route_b = pipe.routes
    mv = pipe.mviews["a_by_grp"][1]
    refreshed = threading.Event()
    waits = []

    def set_after(fn):
        def call(*args, **kwargs):
            fn(*args, **kwargs)
            refreshed.set()

        return call

    def wait_before(fn):
        def call(*args, **kwargs):
            waits.append(refreshed.wait(timeout=60))
            return fn(*args, **kwargs)

        return call

    mv.refresh = set_after(mv.refresh)
    if waiter == "route":
        route_b.apply_batch = wait_before(route_b.apply_batch)
    else:
        history = route_a.bind_history()
        history.apply_batch = wait_before(history.apply_batch)
    pipe.run_batch(_fanout_envelope(spark, 0))
    assert waits == [True]
    assert pipe.read_target("src", "b").count() == 4
    assert route_a.history.read_history().count() == 6


# Spark jobs of the second batch of test_chain_batch_job_count under
# the earlier two-barrier micro-batch (every route, then every view);
# the per-store dependency chains run the same jobs, only sooner
CHAIN_BATCH_JOBS = 54


def test_chain_batch_job_count(spark, tmp_path):
    """One trickle-shaped batch (history, canal egress, a keyed-agg and
    an scd2-stats view on route a; a plain route b) through
    ``Pipeline.run_batch`` runs no more Spark jobs than the two-barrier
    micro-batch did."""
    from tests.conftest import count_jobs

    pipe = _compile_fanout(spark, CHAIN_CONFIG, str(tmp_path / "targets"))
    pipe.run_batch(_fanout_envelope(spark, 0))
    n = count_jobs(spark, pipe.run_batch, _fanout_envelope(spark, 1))
    assert n <= CHAIN_BATCH_JOBS
    want_a = _lww(FANOUT_A_ROWS, 2)
    got_a = {r.id: (r.grp, r.val) for r in pipe.read_target("src", "a").collect()}
    assert got_a == want_a
    got_stats = {
        r.id: (r.n_entries, r.n_closed, r.dwell, r.n_open)
        for r in pipe.read_mview("a_versions").collect()
    }
    assert got_stats == _scd2_stats(_scd2_versions(FANOUT_A_ROWS))
