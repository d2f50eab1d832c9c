"""SnapshotCoordinator (streaming/coordinator.py): cross-table
consistent snapshots over versioned CDC targets."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from qin_cdc_spark.cdc.apply import latest_by_key
from qin_cdc_spark.cdc.changestream import (
    lineitem_change_stream,
    orders_change_stream,
)
from qin_cdc_spark.cdc.envelope import envelope_from_typed
from qin_cdc_spark.sources.tables import load_table
from qin_cdc_spark.streaming.cdc_stream import (
    CdcStreamRoute,
    file_envelope_stream,
    start_cdc_stream,
)
from qin_cdc_spark.streaming.coordinator import SnapshotCoordinator

SF = "/root/testdata/sf0.001"
O_SPLIT = 3000
L_SPLIT = 150_000


def _lww(decoded, keys):
    return latest_by_key(decoded, keys).filter(F.col("op") != "delete")


def test_coordinated_stream_reads_are_consistent_per_batch(spark, tmp_path):
    """Two versioned routes fed from the same two-file envelope stream:
    every recorded coordinate must map BOTH tables to the snapshot
    minted by that same micro-batch — each table's coordinated content
    equals the LWW of exactly that batch prefix of its stream — and a
    fresh-checkpoint redelivery must add no coordinates and change no
    versions."""
    o_env = envelope_from_typed(
        orders_change_stream(spark, SF), db="src", table="orders"
    )
    l_env = envelope_from_typed(
        lineitem_change_stream(spark, SF), db="src", table="lineitem"
    )
    env_dir = str(tmp_path / "envelope")
    # file 1 = both tables' first halves, file 2 = both second halves:
    # each micro-batch advances BOTH tables
    o_env.filter(F.col("seq") <= O_SPLIT).unionByName(
        l_env.filter(F.col("seq") <= L_SPLIT)
    ).coalesce(1).write.mode("append").parquet(env_dir)
    o_env.filter(F.col("seq") > O_SPLIT).unionByName(
        l_env.filter(F.col("seq") > L_SPLIT)
    ).coalesce(1).write.mode("append").parquet(env_dir)

    def mk_routes():
        return [
            CdcStreamRoute(
                spark,
                db="src",
                table="orders",
                schema=load_table(spark, SF, "orders").schema,
                keys=["o_orderkey"],
                target_path=str(tmp_path / "orders_tbl"),
                versioned=True,
            ),
            CdcStreamRoute(
                spark,
                db="src",
                table="lineitem",
                schema=load_table(spark, SF, "lineitem").schema,
                keys=["l_orderkey", "l_linenumber"],
                target_path=str(tmp_path / "lineitem_tbl"),
                versioned=True,
            ),
        ]

    routes = mk_routes()
    coord = SnapshotCoordinator.for_routes(str(tmp_path / "coord"), routes)
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        routes,
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=coord.post_batch_hook(),
    )
    q.awaitTermination(300)

    assert coord.batches() == [0, 1]

    from qin_cdc_spark.cdc.apply import decode_envelope

    o_dec = decode_envelope(
        o_env, load_table(spark, SF, "orders").schema, db="src", table="orders"
    )
    l_dec = decode_envelope(
        l_env,
        load_table(spark, SF, "lineitem").schema,
        db="src",
        table="lineitem",
    )
    prefixes = {0: (O_SPLIT, L_SPLIT), 1: (10**12, 10**12)}
    for b, (so, sl) in prefixes.items():
        snap = coord.read_at(b)
        got_o = {
            (r.o_orderkey, r.o_orderstatus)
            for r in snap["src.orders"].select("o_orderkey", "o_orderstatus").collect()
        }
        want_o = {
            (r.o_orderkey, r.o_orderstatus)
            for r in _lww(o_dec.filter(F.col("seq") <= so), ["o_orderkey"])
            .select("o_orderkey", "o_orderstatus")
            .collect()
        }
        assert got_o == want_o, f"orders inconsistent at batch {b}"
        got_l = snap["src.lineitem"].count()
        want_l = _lww(
            l_dec.filter(F.col("seq") <= sl), ["l_orderkey", "l_linenumber"]
        ).count()
        assert got_l == want_l, f"lineitem inconsistent at batch {b}"

    versions_before = {b: coord.versions_at(b) for b in coord.batches()}

    # fresh-checkpoint redelivery: merges no-op on the batch-id guard,
    # record() no-ops on the duplicate coordinate
    routes2 = mk_routes()
    coord2 = SnapshotCoordinator.for_routes(str(tmp_path / "coord"), routes2)
    q2 = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir),
        routes2,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        post_batch=coord2.post_batch_hook(),
    )
    q2.awaitTermination(300)
    assert coord2.batches() == [0, 1]
    assert {b: coord2.versions_at(b) for b in coord2.batches()} == versions_before


def test_coordinator_expire_and_errors(spark, tmp_path):
    from qin_cdc_spark.streaming.versioned import VersionedBucketedTable

    tbl = VersionedBucketedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=2)
    rows = spark.createDataFrame(
        [("insert", 1, 1, "a")], "op string, seq long, id long, val string"
    )
    coord = SnapshotCoordinator(str(tmp_path / "c"), {"db.t": tbl})
    tbl.merge(rows, batch_id=0)
    coord.record(0)
    tbl.merge(
        spark.createDataFrame(
            [("update", 2, 1, "a2")], "op string, seq long, id long, val string"
        ),
        batch_id=1,
    )
    coord.record(1)
    assert coord.expire(keep_last=1) == [0]
    assert coord.batches() == [1]
    with pytest.raises(ValueError, match="no coordinate"):
        coord.read_at(0)
    assert coord.read_at(1)["db.t"].collect()[0].val == "a2"

    # a sink route (no local snapshot) must be rejected at wiring time
    class FakeSinkRoute:
        db, table, sink, versioned = "d", "t", object(), True

    with pytest.raises(ValueError, match="not a versioned local target"):
        SnapshotCoordinator.for_routes(str(tmp_path / "c2"), [FakeSinkRoute()])


def test_coordinator_expire_and_gc_with_out_of_band_versions(spark, tmp_path):
    """Versions minted OUTSIDE coordinated batches (manual merges,
    restore, rebucket) skew a count-based retention: expire(keep_last=k)
    + per-table gc(keep_last=k) count different things, so a retained
    coordinate could name a gc-expired version.  expire_and_gc keeps
    exactly the still-referenced versions, so every retained coordinate
    stays readable by construction."""
    from qin_cdc_spark.streaming.versioned import VersionedBucketedTable

    tbl = VersionedBucketedTable(spark, str(tmp_path / "t"), ["id"], n_buckets=2)
    coord = SnapshotCoordinator(str(tmp_path / "c"), {"db.t": tbl})

    def mk(op, seq, val):
        return spark.createDataFrame(
            [(op, seq, 1, val)], "op string, seq long, id long, val string"
        )

    tbl.merge(mk("insert", 1, "a"), batch_id=0)
    coord.record(0)
    v_coord0 = coord.versions_at(0)["db.t"]
    # two OUT-OF-BAND versions between coordinated batches (manual
    # merges carry no batch_id, so they don't advance the replay guard)
    tbl.merge(mk("update", 2, "oob1"))
    tbl.merge(mk("update", 3, "oob2"))
    tbl.merge(mk("update", 4, "b"), batch_id=1)
    coord.record(1)
    tbl.merge(mk("update", 5, "c"), batch_id=2)
    coord.record(2)

    # naive count-based retention WOULD break here: keep_last=2 keeps
    # coordinates {1, 2} but per-table keep_last=2 would gc the version
    # coordinate 1 references (3 table versions were minted since).
    coord.expire_and_gc(keep_last=2)
    assert coord.batches() == [1, 2]
    for b in coord.batches():
        dfs = coord.read_at(b)  # must not raise 'version not retained'
        assert dfs["db.t"].count() == 1
    assert coord.read_at(1)["db.t"].collect()[0].val == "b"
    assert coord.read_at(2)["db.t"].collect()[0].val == "c"
    # the dropped coordinate's version is reclaimed (not referenced)
    assert v_coord0 not in tbl.versions()


@pytest.mark.parametrize(
    "partition_col", [None, "yr"], ids=["versioned", "partitioned"]
)
def test_auto_retention_inside_the_stream(spark, tmp_path, partition_col):
    """post_batch_hook(retain_batches=2): a 6-micro-batch stream bounds
    its own history as it runs — after completion only the newest 2
    coordinates survive, every surviving coordinate is readable (the
    expire_and_gc invariant), and the table's version set + on-disk
    data dirs shrank accordingly (history bytes physically reclaimed,
    not just meta rows dropped).  Holds for a partitioned route too:
    its parent ``gc`` keeps the referenced parent versions and each
    live sub-store keeps only the sub-versions those reference."""
    import os

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import file_envelope_stream
    from pyspark.sql.types import _parse_datatype_string

    env_dir = str(tmp_path / "env")
    for b in range(6):
        typed = spark.createDataFrame(
            [("insert" if b == 0 else "update", b * 100 + i, i, f"v{b}.{i}",
              1990 + i % 2)
             for i in range(1, 5)],
            "op string, seq long, id long, val string, yr int",
        )
        envelope_from_typed(
            typed.select("id", "val", "yr", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)

    route = CdcStreamRoute(
        spark,
        db="src",
        table="t",
        schema=_parse_datatype_string("id long, val string, yr int"),
        keys=["id"],
        target_path=str(tmp_path / "tbl"),
        versioned=True,
        partition_col=partition_col,
    )
    coord = SnapshotCoordinator.for_routes(str(tmp_path / "coord"), [route])
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        [route],
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=coord.post_batch_hook(retain_batches=2),
    )
    q.awaitTermination(300)

    tbl = route.target
    assert coord.batches() == [4, 5]  # newest 2 coordinates only
    # every retained coordinate is readable and shows its batch's state
    for b in coord.batches():
        df = coord.read_at(b)["src.t"]
        assert {r.val for r in df.collect()} == {f"v{b}.{i}" for i in range(1, 5)}
    # table history physically bounded: only referenced versions retained
    assert set(tbl.versions()) == {
        coord.versions_at(4)["src.t"],
        coord.versions_at(5)["src.t"],
    }
    # and unreferenced data dirs are gone from disk (the publish GC):
    # with 6 versions of 1-bucket-wide updates, an unbounded table would
    # hold 6 dirs; retention leaves exactly the referenced ones
    stores = [tbl]
    if partition_col is not None:
        stores = [tbl._sub(p, e["gen"]) for p, e in tbl._manifest().items()]
        assert len(stores) == 2
    for store in stores:
        live_dirs = {d for d in os.listdir(store.path) if d.startswith("d-")}
        manifest_dirs = set()
        for v in store.versions():
            manifest_dirs |= set(
                store._meta()["versions"][str(v)]["buckets"].values()
            )
        assert live_dirs == manifest_dirs
        assert len(store.versions()) <= 2


def test_egress_stamp_and_consistent_wire_replay(spark, tmp_path):
    """Cross-table-consistent EGRESS: with egress enabled on both
    routes, every recorded coordinate also stamps the emitted
    (v_from, v_to) per route; a wire consumer selecting the batch-0
    publication set and LWW-folding each feed rebuilds exactly the
    coordinator's own batch-0 snapshot.  Compacting publications ACROSS
    the stamped boundary makes that coordinate non-reconstructible and
    the read must say so; the final boundary survives compaction."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from qin_cdc_spark.cdc.apply import decode_envelope
    from qin_cdc_spark.streaming.cdc_stream import (
        compact_egress,
        replay_egress_state,
    )

    o_env = envelope_from_typed(
        orders_change_stream(spark, SF), db="src", table="orders"
    )
    l_env = envelope_from_typed(
        lineitem_change_stream(spark, SF), db="src", table="lineitem"
    )
    env_dir = str(tmp_path / "envelope")
    o_env.filter(F.col("seq") <= O_SPLIT).unionByName(
        l_env.filter(F.col("seq") <= L_SPLIT)
    ).coalesce(1).write.mode("append").parquet(env_dir)
    o_env.filter(F.col("seq") > O_SPLIT).unionByName(
        l_env.filter(F.col("seq") > L_SPLIT)
    ).coalesce(1).write.mode("append").parquet(env_dir)

    routes = [
        CdcStreamRoute(
            spark, db="src", table="orders",
            schema=load_table(spark, SF, "orders").schema,
            keys=["o_orderkey"], target_path=str(tmp_path / "o_tbl"),
            versioned=True, egress_format="default",
        ),
        CdcStreamRoute(
            spark, db="src", table="lineitem",
            schema=load_table(spark, SF, "lineitem").schema,
            keys=["l_orderkey", "l_linenumber"],
            target_path=str(tmp_path / "l_tbl"),
            versioned=True, egress_format="default",
        ),
    ]
    coord = SnapshotCoordinator.for_routes(str(tmp_path / "coord"), routes)
    assert set(coord.egress_dirs) == {"src.orders", "src.lineitem"}
    q = start_cdc_stream(
        spark,
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        routes,
        checkpoint_dir=str(tmp_path / "ckpt"),
        post_batch=coord.post_batch_hook(),
    )
    q.awaitTermination(300)

    # the stamped ranges tile [0, hwm] batch to batch, per route
    e0, e1 = coord.egress_at(0), coord.egress_at(1)
    for name in coord.egress_dirs:
        assert e0[name][0] == 0 and e0[name][1] == e1[name][0] < e1[name][1]
        # the stamp equals the coordinate version (emission runs in the
        # same micro-batch, before the hook)
        assert e0[name][1] == coord.versions_at(0)[name]

    # wire replay at batch 0 == the coordinator's own snapshot read
    wire = coord.read_egress_at(spark, 0)
    o_state = replay_egress_state(
        wire["src.orders"],
        StructType([StructField("o_orderkey", LongType()),
                    StructField("o_orderstatus", StringType())]),
        ["o_orderkey"],
    )
    snap = coord.read_at(0)
    got = {(r.o_orderkey, r.o_orderstatus) for r in o_state.collect()}
    want = {
        (r.o_orderkey, r.o_orderstatus)
        for r in snap["src.orders"].select("o_orderkey", "o_orderstatus").collect()
    }
    assert got == want
    l_state = replay_egress_state(
        wire["src.lineitem"],
        StructType([StructField("l_orderkey", LongType()),
                    StructField("l_linenumber", LongType())]),
        ["l_orderkey", "l_linenumber"],
    )
    assert l_state.count() == snap["src.lineitem"].count()

    # oracle leg: the wire state equals the LWW of the batch-0 prefix
    o_dec = decode_envelope(
        o_env, load_table(spark, SF, "orders").schema, db="src", table="orders"
    )
    assert got == {
        (r.o_orderkey, r.o_orderstatus)
        for r in _lww(o_dec.filter(F.col("seq") <= O_SPLIT), ["o_orderkey"])
        .select("o_orderkey", "o_orderstatus").collect()
    }

    # compaction subsumes the batch-0 boundary → the coordinate is no
    # longer wire-reconstructible and the read says so…
    compact_egress(spark, coord.egress_dirs["src.orders"])
    with pytest.raises(ValueError, match="not reconstructible"):
        coord.read_egress_at(spark, 0)
    # …but the FINAL boundary still replays (v0-hwm covers it exactly),
    # and the _v_to feed-order column keeps the fold correct across the
    # combined publication (keys updated in both batches still resolve)
    wire1 = coord.read_egress_at(spark, 1)
    o_state1 = replay_egress_state(
        wire1["src.orders"],
        StructType([StructField("o_orderkey", LongType()),
                    StructField("o_orderstatus", StringType())]),
        ["o_orderkey"],
    )
    assert {(r.o_orderkey, r.o_orderstatus) for r in o_state1.collect()} == {
        (r.o_orderkey, r.o_orderstatus)
        for r in _lww(o_dec, ["o_orderkey"])
        .select("o_orderkey", "o_orderstatus").collect()
    }


def test_boundary_preserving_egress_compaction(spark, tmp_path):
    """SnapshotCoordinator.compact_egress combines publications only
    within segments delimited by RETAINED stamped boundaries — every
    retained coordinate stays wire-reconstructible after maintenance,
    and expiring coordinates releases their boundaries so compaction
    converges toward one publication per retained interval."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import replay_egress_state

    def ev(rows):
        return spark.createDataFrame(rows, "op string, seq long, k long, v string")

    batches = [
        [("insert", 1, 1, "a"), ("insert", 2, 2, "b")],
        [("update", 3, 1, "a2")],
        [("delete", 4, 2, None), ("insert", 5, 3, "c")],
        [("update", 6, 3, "c2")],
    ]
    schema = ev(batches[0]).drop("op", "seq").schema
    route = CdcStreamRoute(
        spark, db="src", table="t", schema=schema, keys=["k"],
        target_path=str(tmp_path / "t"), n_buckets=4, versioned=True,
        egress_format="default",
    )
    coord = SnapshotCoordinator.for_routes(str(tmp_path / "coord"), [route])
    for i, b in enumerate(batches):
        route.apply_batch(envelope_from_typed(ev(b), db="src", table="t"), batch_id=i)
        coord.record(i)

    # every batch stamped → every edge is a boundary → nothing combines
    assert coord.compact_egress(spark) == {"src.t": []}
    assert len(os.listdir(route.egress_dir)) == 4

    # drop the two oldest coordinates: batches 0 and 1 (stamps v1, v2)
    # stop protecting their boundaries, so v0-1 + v1-2 + v2-3 combine
    # into v0-3 — while the retained batch-2 (v3) and batch-3 (v4)
    # boundaries stay publication edges
    coord.expire(keep_last=2)
    done = coord.compact_egress(spark)
    assert done == {"src.t": [(0, 3)]}
    fold_schema = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    for b in (2, 3):
        state = replay_egress_state(
            coord.read_egress_at(spark, b)["src.t"], fold_schema, ["k"]
        )
        want = {
            (r.k, r.v)
            for r in coord.tables["src.t"]
            .read_at(coord.versions_at(b)["src.t"])
            .select("k", "v")
            .collect()
        }
        assert {(r.k, r.v) for r in state.collect()} == want
    # idempotent: nothing further to combine
    assert coord.compact_egress(spark) == {"src.t": []}

    # UNRESTRICTED compaction is the documented destructive opposite:
    # it merges across batch-2's stamp and read_egress_at says so
    from qin_cdc_spark.streaming.cdc_stream import compact_egress

    compact_egress(spark, route.egress_dir)
    with pytest.raises(ValueError, match="not reconstructible"):
        coord.read_egress_at(spark, 2)


def test_coordinator_crash_point_sweep(spark, tmp_path):
    """Exhaustive crash sweep over the per-batch commit sequence
    (merge A → emit A → merge B → emit B → record): kill after EACH
    step of the middle batch, recover by replaying the whole batch
    (merges are batch-id idempotent, emissions skip-if-published,
    record no-ops on a present coordinate), and at the end every
    coordinate must read consistently — manifest side AND wire side —
    bit-equal to the pure-Python LWW fold at that boundary."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from qin_cdc_spark.streaming.cdc_stream import (
        emit_store_egress,
        replay_egress_state,
    )
    from qin_cdc_spark.streaming.versioned import VersionedBucketedTable

    batches = {
        0: {"A": [("insert", 1, 1, "a1"), ("insert", 2, 2, "a2")],
            "B": [("insert", 1, 1, "b1")]},
        1: {"A": [("update", 3, 1, "a1x"), ("delete", 4, 2, None)],
            "B": [("insert", 5, 2, "b2"), ("update", 6, 1, "b1x")]},
        2: {"A": [("insert", 7, 3, "a3")],
            "B": [("delete", 8, 1, None)]},
    }

    def fold(name, upto):
        st = {}
        for b in range(upto + 1):
            for op, seq, k, v in batches[b][name]:
                if op == "delete":
                    st.pop(k, None)
                else:
                    st[k] = v
        return st

    data_schema = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )

    for crash_after in range(5):  # 5 steps per batch
        base = tmp_path / f"c{crash_after}"
        tabs = {
            n: VersionedBucketedTable(
                spark, str(base / f"t_{n}"), ["k"], n_buckets=2
            )
            for n in ("A", "B")
        }
        eg = {n: str(base / f"eg_{n}") for n in ("A", "B")}
        coord = SnapshotCoordinator(
            str(base / "coord"),
            {f"t.{n}": t for n, t in tabs.items()},
            egress_dirs={f"t.{n}": d for n, d in eg.items()},
        )

        def run_batch(b, stop_after=None):
            step = 0
            for n in ("A", "B"):
                ev = spark.createDataFrame(
                    batches[b][n], "op string, seq long, k long, v string"
                )
                tabs[n].merge(ev, batch_id=b)
                if stop_after is not None and step == stop_after:
                    return
                step += 1
                emit_store_egress(
                    tabs[n], eg[n], database="t", table_name=n
                )
                if stop_after is not None and step == stop_after:
                    return
                step += 1
            coord.record(b)

        run_batch(0)
        run_batch(1, stop_after=crash_after)  # crash mid-batch
        run_batch(1)                          # recovery: full replay
        run_batch(2)

        assert coord.batches() == [0, 1, 2]
        for b in range(3):
            # manifest-side coordinated read == the fold at the boundary
            snap = coord.read_at(b)
            for n in ("A", "B"):
                got = {r.k: r.v for r in snap[f"t.{n}"].collect()}
                assert got == fold(n, b), (crash_after, b, n)
            # wire-side: the stamped publication set rebuilds the same
            wire = coord.read_egress_at(spark, b)
            for n in ("A", "B"):
                msgs = wire[f"t.{n}"]
                got = {
                    r.k: r.v
                    for r in replay_egress_state(
                        msgs, data_schema, ["k"]
                    ).collect()
                }
                assert got == fold(n, b), ("wire", crash_after, b, n)

class _FakeTable:
    """current_version()-only stand-in: the scale microbench measures
    the coordinator's OWN bookkeeping, no Spark anywhere."""

    def __init__(self):
        self.v = 0

    def current_version(self):
        return self.v


def test_coordinator_append_only_scale(tmp_path):
    """VERDICT r7 #6: a month-long 100 TB stream is ~1e5 batches ×
    several routes — record() must stay O(1) per call at that history
    length (the single-JSON layout re-read and rewrote the whole
    manifest per record: quadratic).  Driver-side microbench: 1e5
    records, then assert the marginal record cost is far under the
    100 ms bound, a fresh loader folds the whole log, and expire
    compacts it away."""
    import time

    tabs = {f"db.t{i}": _FakeTable() for i in range(4)}
    coord = SnapshotCoordinator(str(tmp_path / "c"), tabs)
    n = 100_000
    t0 = time.time()
    for b in range(n):
        for t in tabs.values():
            t.v += 1
        coord.record(b)
    total = time.time() - t0
    assert total < 60, f"1e5 records took {total:.1f}s"
    # marginal cost AT 1e5 entries: 100 more records
    t1 = time.time()
    for b in range(n, n + 100):
        coord.record(b)
    per = (time.time() - t1) / 100
    assert per < 0.1, f"record() cost {per*1000:.1f} ms at 1e5 entries"
    # the active log rotated into sealed segments (VERDICT r8 #6):
    # ~1e5 records at 1e4/segment ⇒ ≥9 sealed files, none oversized
    import os

    from qin_cdc_spark.streaming.coordinator import _segment_files

    segs = _segment_files(str(tmp_path / "c"))
    assert len(segs) >= 9, f"expected rollover, got {len(segs)} segments"
    # a fresh reader folds base + segments + active log
    c2 = SnapshotCoordinator(str(tmp_path / "c"), tabs)
    assert len(c2.batches()) == n + 100
    assert c2.versions_at(n + 99)["db.t0"] == n
    # expire: active log seals, fully-expired segments UNLINK (no
    # read), the base rewrite stays bounded (floor + hwms only — never
    # the retained set), and the retained coordinates read exactly
    dropped = coord.expire(keep_last=50)
    assert len(dropped) == n + 50
    assert not (tmp_path / "c" / "_coordinates.log").exists()
    base_bytes = os.path.getsize(tmp_path / "c" / "_coordinates.json")
    assert base_bytes < 10_000, f"base grew to {base_bytes} bytes"
    remaining = _segment_files(str(tmp_path / "c"))
    assert len(remaining) < len(segs) + 2  # expired segments reclaimed
    assert all(b > n + 49 for _a, b, _f in remaining)
    c3 = SnapshotCoordinator(str(tmp_path / "c"), tabs)
    assert c3.batches() == list(range(n + 50, n + 100))
    # post-expire records keep working across the segment boundary
    for b in range(n + 100, n + 110):
        c3.record(b)
    c4 = SnapshotCoordinator(str(tmp_path / "c"), tabs)
    assert c4.batches() == list(range(n + 50, n + 110))


def test_coordinator_log_crash_windows(tmp_path):
    """The append-only log's two crash windows: (a) a torn tail (crash
    mid-append) is skipped by the loader and never swallows the
    post-crash re-record; (b) a stale log surviving an expire's
    base-publish (crash before log removal) cannot resurrect expired
    coordinates — the floor filters them."""
    import json
    import os

    tabs = {"db.t": _FakeTable()}
    cpath = str(tmp_path / "c")
    coord = SnapshotCoordinator(cpath, tabs)
    for b in range(10):
        tabs["db.t"].v += 1
        coord.record(b)
    log = os.path.join(cpath, "_coordinates.log")
    # (a) torn tail: crash mid-append of batch 10
    with open(log, "a") as f:
        f.write('{"batch": 10, "coo')
    fresh = SnapshotCoordinator(cpath, tabs)
    assert fresh.batches() == list(range(10))  # torn line ignored
    # the replayed batch re-records THROUGH the torn tail (healed, not
    # concatenated) and a later loader sees it
    tabs["db.t"].v += 1
    fresh.record(10)
    assert SnapshotCoordinator(cpath, tabs).batches() == list(range(11))
    # (b) stale log after expire's publish: copy the log, expire
    # (publishes base with floor, removes log), restore the old log
    with open(log) as f:
        stale = f.read()
    fresh2 = SnapshotCoordinator(cpath, tabs)
    dropped = fresh2.expire(keep_last=3)
    assert dropped == list(range(8))
    with open(log, "w") as f:
        f.write(stale)  # the crash window: removal didn't happen
    after = SnapshotCoordinator(cpath, tabs)
    assert after.batches() == [8, 9, 10]  # floor blocks resurrection
    # fsck reads the SAME loader: clean report on the composite layout
    from qin_cdc_spark.streaming.fsck import fsck_coordinator_path, ok

    assert ok(fsck_coordinator_path(cpath))


def test_egress_stamp_vfrom_survives_full_expire(tmp_path):
    """ADVICE r8: _prev_hwm seeds from the retained egress stamps, so
    after expire() drops every egress entry (keep_last=0, or a
    long-idle table) the next stamp would claim v_from=0 instead of
    the true prior publication hwm — a consumer deriving a replay
    window from the stamp would over-read the feed.  expire() now
    persists each table's last emitted hwm into the compacted base."""
    import os

    tabs = {"db.t": _FakeTable()}
    eg = str(tmp_path / "eg")
    os.makedirs(eg)
    cpath = str(tmp_path / "c")
    coord = SnapshotCoordinator(cpath, tabs, egress_dirs={"db.t": eg})
    tabs["db.t"].v = 3
    os.makedirs(os.path.join(eg, "v0-3"))
    coord.record(0)
    tabs["db.t"].v = 5
    os.makedirs(os.path.join(eg, "v3-5"))
    coord.record(1)
    assert coord.egress_at(1) == {"db.t": (3, 5)}
    coord.expire(keep_last=0)  # every stamp gone
    # fresh writer (cold caches, the restart case): the next stamp must
    # start where the last publication actually ended
    c2 = SnapshotCoordinator(cpath, tabs, egress_dirs={"db.t": eg})
    tabs["db.t"].v = 8
    os.makedirs(os.path.join(eg, "v5-8"))
    c2.record(2)
    assert c2.egress_at(2) == {"db.t": (5, 8)}
