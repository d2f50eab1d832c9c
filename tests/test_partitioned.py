"""Time-partitioned CDC target (streaming/partitioned.py).

Partition-grain retention (drop = manifest edit), partition-pruned
reads, per-partition generations on resurrection, and CDF composition
with the derived-MV family (a partition drop retracts through a
maintained aggregate).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from qin_cdc_spark.streaming.partitioned import PartitionedVersionedTable
from tests.test_scd2 import _intervals_py


def _ev(spark, rows):
    """rows: (op, seq, k, yr, v)"""
    return spark.createDataFrame(
        rows, "op string, seq long, k long, yr int, v long"
    )


BATCH1 = [
    ("insert", 1, 1, 1992, 10),
    ("insert", 2, 2, 1992, 20),
    ("insert", 3, 3, 1995, 30),
    ("insert", 4, 4, 1996, 40),
]
BATCH2 = [
    ("update", 5, 2, 1992, 21),   # mutate inside a partition
    ("delete", 6, 3, 1995, 30),   # delete in another
    ("insert", 7, 5, 1997, 50),   # new partition born in batch 2
]


def _mk(spark, tmp_path, name="t"):
    return PartitionedVersionedTable(
        spark, str(tmp_path / name), ["k"], partition_col="yr", n_buckets=2
    )


def _live(tbl, **kw):
    df = tbl.read(**kw)
    return {} if df is None else {r.k: (r.yr, r.v) for r in df.collect()}


def test_merge_read_and_pruning(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.merge(_ev(spark, BATCH1), batch_id=0)
    tbl.merge(_ev(spark, BATCH2), batch_id=1)
    assert _live(tbl) == {1: (1992, 10), 2: (1992, 21), 4: (1996, 40), 5: (1997, 50)}
    assert tbl.partitions() == ["1992", "1995", "1996", "1997"]
    # partition-pruned read: ONLY the named partition's files in the scan
    pruned = tbl.read(partitions=[1992])
    assert {r.k for r in pruned.collect()} == {1, 2}
    assert all("/p=1992/" in f for f in pruned.inputFiles())


def test_drop_is_metadata_only_and_time_travels(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.merge(_ev(spark, BATCH1), batch_id=0)
    v_before = tbl.merge(_ev(spark, BATCH2), batch_id=1)
    files_before = set(tbl.read().inputFiles())
    tbl.drop_partitions([1992])
    assert _live(tbl) == {4: (1996, 40), 5: (1997, 50)}
    # zero data movement: every pre-drop file still on disk …
    assert all(os.path.exists(f.replace("file:", "")) for f in files_before)
    # … and the pre-drop snapshot still reads them (time travel)
    at = {r.k: (r.yr, r.v) for r in tbl.read_at(v_before).collect()}
    assert at == {1: (1992, 10), 2: (1992, 21), 4: (1996, 40), 5: (1997, 50)}


def test_expire_reclaims_dropped_partition(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.merge(_ev(spark, BATCH1), batch_id=0)
    tbl.merge(_ev(spark, BATCH2), batch_id=1)
    tbl.drop_partitions([1992])
    tbl.gc(keep_last=1)
    assert not os.path.isdir(str(tmp_path / "t" / "p=1992"))
    # retained partitions unaffected
    assert _live(tbl) == {4: (1996, 40), 5: (1997, 50)}
    with pytest.raises(ValueError, match="not retained|expired"):
        tbl.read_at(1)


def test_resurrection_starts_fresh_generation(spark, tmp_path):
    """Late data for a dropped partition must NOT un-delete the dropped
    rows: it starts a new generation holding only the new data."""
    tbl = _mk(spark, tmp_path)
    tbl.merge(_ev(spark, BATCH1), batch_id=0)
    tbl.drop_partitions([1992])
    tbl.merge(_ev(spark, [("insert", 9, 9, 1992, 99)]), batch_id=1)
    assert _live(tbl, partitions=[1992]) == {9: (1992, 99)}
    gens = os.listdir(str(tmp_path / "t" / "p=1992"))
    assert len(gens) == 2  # old generation retained for time travel


def test_replay_and_crash_window(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.merge(_ev(spark, BATCH1), batch_id=0)
    before = _live(tbl)
    v = tbl.current_version()
    # whole-batch redelivery: parent guard short-circuits
    assert tbl.merge(_ev(spark, BATCH1), batch_id=0) == v
    assert _live(tbl) == before
    # crash BETWEEN sub-merges and the parent publish: replay converges
    boom = RuntimeError("crash before parent publish")
    orig = PartitionedVersionedTable._publish

    def dying(self, meta):
        raise boom

    PartitionedVersionedTable._publish = dying
    try:
        with pytest.raises(RuntimeError):
            tbl.merge(_ev(spark, BATCH2), batch_id=1)
    finally:
        PartitionedVersionedTable._publish = orig
    assert tbl.current_version() == v  # parent unchanged by the crash
    tbl.merge(_ev(spark, BATCH2), batch_id=1)  # replay: sub guards no-op
    assert _live(tbl) == {
        1: (1992, 10), 2: (1992, 21), 4: (1996, 40), 5: (1997, 50)
    }


def test_cdf_composes_with_derived_mv(spark, tmp_path):
    """The duck-typed CDF lets the retractable-MV family maintain
    itself from a partitioned table — and a retention DROP retracts the
    dropped rows from the aggregate through the normal refresh."""
    from qin_cdc_spark.streaming.derived import DerivedAggTable

    tbl = _mk(spark, tmp_path)
    mv = DerivedAggTable(
        spark, str(tmp_path / "mv"), group_cols=["yr"], sum_cols=["v"]
    )
    tbl.merge(_ev(spark, BATCH1), batch_id=0)
    mv.refresh(tbl)
    tbl.merge(_ev(spark, BATCH2), batch_id=1)
    mv.refresh(tbl)
    got = {r.yr: (r.cnt, r.sum_v) for r in mv.read().collect()}
    assert got == {1992: (2, 31), 1996: (1, 40), 1997: (1, 50)}
    tbl.drop_partitions([1992])
    mv.refresh(tbl)
    got = {r.yr: (r.cnt, r.sum_v) for r in mv.read().collect()}
    assert got == {1996: (1, 40), 1997: (1, 50)}


def test_cdf_shapes_match_flat_store(spark, tmp_path):
    """Preimage CDF rows from sub-stores, born partitions and dropped
    partitions all union into one consumable frame."""
    tbl = _mk(spark, tmp_path)
    v1 = tbl.merge(_ev(spark, BATCH1), batch_id=0)
    v2 = tbl.merge(_ev(spark, BATCH2), batch_id=1)
    cdf = tbl.changes_between(v1, v2, include_preimage=True)
    rows = {r.k: (r._change, r.v, r._pre_v) for r in cdf.collect()}
    assert rows == {
        2: ("update", 21, 20),
        3: ("delete", None, 30),
        5: ("insert", 50, None),
    }
    v3 = tbl.drop_partitions([1992])
    cdf = tbl.changes_between(v2, v3, include_preimage=True)
    rows = {r.k: (r._change, r.v, r._pre_v) for r in cdf.collect()}
    assert rows == {1: ("delete", None, 10), 2: ("delete", None, 21)}
    # degenerate-but-valid range: no partition moved → EMPTY frame with
    # the CDF schema (flat-store duck-typing parity), not a raise
    same = tbl.changes_between(v3, v3, include_preimage=True)
    assert same.count() == 0
    assert {"_change", "_pre_v", "k", "v"} <= set(same.columns)


PIPE_CONFIG = """
name = "partitioned-sync"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "t"
target-schema = "dw"
target-table = "ods_t"
partition-col = "yr"
partition-keep-latest = 2
history = true
"""


def test_pipeline_partitioned_route_with_retention_and_history(spark, tmp_path):
    """Router-level layout extensions end to end: a TOML-declared
    partitioned target with in-stream retention (keep newest 2 year
    partitions) plus an SCD2 history table, maintained across streamed
    micro-batches."""
    from pyspark.sql.types import _parse_datatype_string

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.plans.pipeline import compile_pipeline
    from qin_cdc_spark.streaming.cdc_stream import file_envelope_stream

    schema = _parse_datatype_string("k long, yr int, v long")
    pipe = compile_pipeline(
        spark,
        PIPE_CONFIG,
        schemas={("src", "t"): schema},
        primary_keys={("src", "t"): ["k"]},
        target_root=str(tmp_path / "targets"),
        n_buckets=2,
    )
    env_dir = str(tmp_path / "envelope")
    batches = [_ev(spark, BATCH1), _ev(spark, BATCH2)]
    for t in batches:
        envelope_from_typed(
            t.select("k", "yr", "v", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)
    q = pipe.run_stream(
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    tgt = pipe.routes[0].target
    # retention kept only the newest 2 year partitions
    assert tgt.partitions() == ["1996", "1997"]
    live = {r.k: (r.yr, r.v) for r in pipe.read_target("dw", "ods_t").collect()}
    assert live == {4: (1996, 40), 5: (1997, 50)}
    # SCD2 history rode the same batches (full event grain, pre-drop)
    hist = {
        (r.k, r.valid_from): (r.valid_to, r.v)
        for r in pipe.read_history("dw", "ods_t").collect()
    }
    assert hist == _intervals_py(
        [(op, seq, k, v) for op, seq, k, yr, v in BATCH1 + BATCH2]
    )


def test_overwrite_partition_restates_atomically(spark, tmp_path):
    """Backfill: one partition's contents replaced in a fresh
    generation + one manifest flip; other partitions and pre-restate
    time travel untouched; the CDF carries the restatement as
    delete-all + insert-all so MVs retract/adopt through the normal
    refresh."""
    from qin_cdc_spark.streaming.derived import DerivedAggTable

    tbl = _mk(spark, tmp_path)
    v1 = tbl.merge(_ev(spark, BATCH1), batch_id=0)
    mv = DerivedAggTable(
        spark, str(tmp_path / "mv"), group_cols=["yr"], sum_cols=["v"]
    )
    mv.refresh(tbl)
    fixed = spark.createDataFrame(
        [(1, 1992, 100), (9, 1992, 900)], "k long, yr int, v long"
    )
    v2 = tbl.overwrite_partition(1992, fixed)
    assert _live(tbl) == {
        1: (1992, 100), 9: (1992, 900), 3: (1995, 30), 4: (1996, 40)
    }
    # pre-restatement snapshot still readable
    at = {r.k: r.v for r in tbl.read_at(v1, partitions=[1992]).collect()}
    assert at == {1: 10, 2: 20}
    # CDF: old rows retracted, new rows inserted
    cdf = tbl.changes_between(v1, v2, include_preimage=True)
    rows = {(r.k, r._change) for r in cdf.collect()}
    assert rows == {
        (1, "delete"), (2, "delete"), (1, "insert"), (9, "insert")
    }
    mv.refresh(tbl)
    got = {r.yr: (r.cnt, r.sum_v) for r in mv.read().collect()}
    assert got[1992] == (2, 1000)


MV_PART_CONFIG = """
name = "partitioned-mv-sync"

[input]
type = "mysql"

[output]
type = "starrocks"

[[output.config.routers]]
source-schema = "src"
source-table = "t"
target-schema = "dw"
target-table = "ods_t"
partition-col = "yr"

[[materialized-views]]
name = "t_by_year"
type = "agg"
source-schema = "src"
source-table = "t"
[materialized-views.config]
group-cols = ["yr"]
sum-cols = ["v"]
"""


def test_declared_mview_over_partitioned_route(spark, tmp_path):
    """[[materialized-views]] against a PARTITIONED route: the view
    maintains itself from the partitioned table's duck-typed CDF inside
    each micro-batch — including whole-partition retractions when a
    later batch drops partitions."""
    from pyspark.sql.types import _parse_datatype_string

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.plans.pipeline import compile_pipeline
    from qin_cdc_spark.streaming.cdc_stream import file_envelope_stream

    schema = _parse_datatype_string("k long, yr int, v long")
    pipe = compile_pipeline(
        spark,
        MV_PART_CONFIG,
        schemas={("src", "t"): schema},
        primary_keys={("src", "t"): ["k"]},
        target_root=str(tmp_path / "targets"),
        n_buckets=2,
    )
    env_dir = str(tmp_path / "envelope")
    for t in (_ev(spark, BATCH1), _ev(spark, BATCH2)):
        envelope_from_typed(
            t.select("k", "yr", "v", "op", "seq"), db="src", table="t"
        ).coalesce(1).write.mode("append").parquet(env_dir)
    q = pipe.run_stream(
        file_envelope_stream(spark, env_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    got = {r.yr: (r.cnt, r.sum_v) for r in pipe.read_mview("t_by_year").collect()}
    assert got == {1992: (2, 31), 1996: (1, 40), 1997: (1, 50)}
    # retention drop retracts through the declared view
    pipe.routes[0].target.drop_partitions([1992])
    pipe.mviews["t_by_year"][1].refresh(pipe.routes[0].target)
    got = {r.yr: (r.cnt, r.sum_v) for r in pipe.read_mview("t_by_year").collect()}
    assert got == {1996: (1, 40), 1997: (1, 50)}


def test_partition_value_must_be_path_safe(spark, tmp_path):
    tbl = PartitionedVersionedTable(
        spark, str(tmp_path / "t"), ["k"], partition_col="yr_s", n_buckets=2
    )
    bad = spark.createDataFrame(
        [("insert", 1, 1, "19/92", 1)],
        "op string, seq long, k long, yr_s string, v long",
    )
    with pytest.raises(ValueError, match="path-safe"):
        tbl.merge(bad)


def test_partitioned_gc_tombstones(spark, tmp_path):
    """Partition-wise tombstone GC: each sub-store drops its
    below-watermark tombstones, one new parent version; visible rows
    unchanged; no-op when nothing is droppable."""
    tbl = _mk(spark, tmp_path)
    tbl.merge(_ev(spark, BATCH1), batch_id=0)
    tbl.merge(_ev(spark, BATCH2), batch_id=1)  # includes a delete
    before = {(r.k, r.v) for r in tbl.read().collect()}
    v = tbl.gc_tombstones(10_000)
    assert v == tbl.current_version()
    assert {(r.k, r.v) for r in tbl.read().collect()} == before
    # internal: no tombstone below the mark anywhere
    import pyspark.sql.functions as F

    for pstr in tbl.partitions():
        ent = tbl._manifest()[pstr]
        sub = tbl._sub(pstr, ent["gen"])
        internal = sub.read_internal()
        if internal is not None:
            assert internal.filter(F.col("_deleted")).count() == 0
    assert tbl.gc_tombstones(10_000) == v  # idempotent no-op
