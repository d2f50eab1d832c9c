"""Focused pins for the round-10 optimization internals.

Each optimization that changed an operator's internals gets a test that
fails if the NEW shape diverges from the OLD semantics (the old form is
inlined here as the reference implementation, lifted verbatim from the
pre-optimization code):

1. ``VersionedBucketedTable.merge(touched=...)`` — a caller-probed
   bucket set must produce a store equivalent to the self-probing merge
   (same rows, same version count, same per-version bucket placement),
   and ``touched=[]`` must advance the replay guard without minting a
   version.
2. ``envelope_from_egress`` / ``envelope_from_canal_egress`` — the
   one-``json_tuple`` parse must extract exactly what the old
   per-field ``get_json_object`` form extracted, on every edge shape
   (DDL control messages, JSON nulls, absent fields, quotes/braces
   inside values, multi-element arrays, db/table overrides).
3. ``decode_envelope``'s PK-move expansion — the constant-array
   Generate shape must keep exactly TWO ``from_json`` sites in the
   optimized plan (one per image) and return the same row set as the
   old ``normal.unionByName(moves)`` shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from qin_cdc_spark.cdc.apply import _any_of, decode_envelope, parse_row
from qin_cdc_spark.streaming.cdc_stream import (
    envelope_from_canal_egress,
    envelope_from_egress,
)
from qin_cdc_spark.streaming.versioned import VersionedBucketedTable
from tests.conftest import count_jobs


def _changes(spark, rows):
    return spark.createDataFrame(rows, "op string, seq long, id long, val string")


def _caller_probe(tbl, ch):
    """The touched-bucket probe exactly as the pass-through callers run
    it (scd2.apply_batch / derived refresh): current manifest's bucket
    space, distinct bucket ids of the batch's keys."""
    man = tbl._meta()["versions"].get(
        str(tbl.current_version()), {"buckets": {}}
    )
    nb = tbl._manifest_n_buckets(man)
    return [
        str(r[0])
        for r in ch.select(tbl._bucket_expr(nb).alias("_b")).distinct().collect()
    ]


def test_merge_touched_passthrough_matches_self_probe(spark, tmp_path):
    batches = [
        [("insert", i, i, f"v{i}") for i in range(1, 33)],
        [("update", 100 + i, i, f"w{i}") for i in range(1, 9)]
        + [("delete", 200, 9, "v9"), ("insert", 201, 99, "new")],
    ]
    probe = VersionedBucketedTable(spark, str(tmp_path / "a"), ["id"], n_buckets=8)
    passed = VersionedBucketedTable(spark, str(tmp_path / "b"), ["id"], n_buckets=8)
    for bid, rows in enumerate(batches):
        ch = _changes(spark, rows)
        probe.merge(ch, batch_id=bid)
        passed.merge(ch, batch_id=bid, touched=_caller_probe(passed, ch))

    assert probe.versions() == passed.versions()
    for v in probe.versions():
        got_a = {tuple(r) for r in probe.read_at(v).select("id", "val").collect()}
        got_b = {tuple(r) for r in passed.read_at(v).select("id", "val").collect()}
        assert got_a == got_b, f"version {v} diverged"
    # placement equivalence: each version rewrote the same bucket ids
    ma = probe._meta()["versions"]
    mb = passed._meta()["versions"]
    for v in ma:
        assert set(ma[v]["buckets"]) == set(mb[v]["buckets"])

    # touched=[] is the provably-empty contract: replay guard advances,
    # no version is minted
    v0 = passed.current_version()
    empty = _changes(spark, batches[0]).limit(0)
    passed.merge(empty, batch_id=99, touched=[])
    assert passed.current_version() == v0
    assert passed._meta()["last_batch_id"] == 99


# -- wire-parse equivalence ---------------------------------------------------
#
# Reference implementations: the pre-optimization per-field
# get_json_object forms, verbatim (each call re-parsed the message; the
# json_tuple rewrite parses once — same extraction, cheaper evaluation).


def _ref_envelope_from_egress(msgs, *, db=None, table=None):
    v = F.col("value")
    op = F.get_json_object(v, "$.type")
    return msgs.select(
        (F.lit(db) if db else F.get_json_object(v, "$.database")).alias("db"),
        (F.lit(table) if table else F.get_json_object(v, "$.table")).alias("table"),
        op.alias("op"),
        F.col("_v_to").cast("long").alias("seq"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("int").alias("schema_version"),
        F.when(op == "ddl", F.get_json_object(v, "$.data.sql"))
        .otherwise(F.get_json_object(v, "$.data"))
        .alias("data"),
        F.get_json_object(v, "$.old").alias("old"),
    )


def _ref_envelope_from_canal_egress(msgs, *, db=None, table=None):
    v = F.col("value")
    is_ddl = F.get_json_object(v, "$.isDdl") == F.lit("true")
    return msgs.select(
        (F.lit(db) if db else F.get_json_object(v, "$.database")).alias("db"),
        (F.lit(table) if table else F.get_json_object(v, "$.table")).alias("table"),
        F.when(is_ddl, F.lit("ddl"))
        .otherwise(F.lower(F.get_json_object(v, "$.type")))
        .alias("op"),
        F.col("_v_to").cast("long").alias("seq"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("int").alias("schema_version"),
        F.when(is_ddl, F.get_json_object(v, "$.sql"))
        .otherwise(F.get_json_object(v, "$.data[0]"))
        .alias("data"),
        F.get_json_object(v, "$.old[0]").alias("old"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


DEFAULT_EDGE_MSGS = [
    # plain insert; old absent
    (1, '{"database":"src","table":"t","type":"insert",'
        '"data":{"k":1,"v":"a\\"b{}"}}'),
    # update with preimage; value holds quotes/braces/colons
    (2, '{"database":"src","table":"t","type":"update",'
        '"data":{"k":1,"v":"c:}"},"old":{"k":1,"v":"a\\"b{}"}}'),
    # delete naming the removed row; JSON-null field inside data
    (3, '{"database":"src","table":"t","type":"delete",'
        '"data":{"k":1,"v":null}}'),
    # JSON-null old (distinct from absent)
    (4, '{"database":"src","table":"t","type":"insert",'
        '"data":{"k":2,"v":"d"},"old":null}'),
    # DDL control message: sql with semicolon, quotes, backticks
    (5, '{"database":"src","table":"t","type":"ddl",'
        '"data":{"sql":"ALTER TABLE t ADD COLUMN `x` VARCHAR(10); -- c\\"mt"}}'),
    # another table (router predicate feeds on db/table), empty old
    (6, '{"database":"other","table":"u","type":"insert",'
        '"data":{"k":3},"old":{}}'),
]

CANAL_EDGE_MSGS = [
    # canal stringifies values, uppercases type, 1-element arrays
    (1, '{"database":"src","table":"t","type":"INSERT","isDdl":false,'
        '"sql":"","data":[{"k":"1","v":"a"}],"old":null,"pkNames":["k"]}'),
    # update with preimage; quotes/braces inside a value
    (2, '{"database":"src","table":"t","type":"UPDATE","isDdl":false,'
        '"sql":"","data":[{"k":"1","v":"b\\"{}"}],"old":[{"k":"1","v":"a"}]}'),
    # delete; old absent entirely
    (3, '{"database":"src","table":"t","type":"DELETE","isDdl":false,'
        '"sql":"","data":[{"k":"1","v":"b"}]}'),
    # DDL: isDdl true, statement in sql, data null
    (4, '{"database":"src","table":"t","type":"ALTER","isDdl":true,'
        '"sql":"RENAME TABLE a TO b","data":null,"old":null}'),
    # multi-element data array: [0] must win in both forms
    (5, '{"database":"src","table":"t","type":"INSERT","isDdl":false,'
        '"sql":"","data":[{"k":"7","v":"x"},{"k":"8","v":"y"}],'
        '"old":[{"k":"6","v":"w"},{"k":"5","v":"q"}]}'),
]


def test_envelope_from_egress_matches_get_json_object_reference(spark):
    df = spark.createDataFrame(DEFAULT_EDGE_MSGS, "_v_to long, value string")
    assert _rows(envelope_from_egress(df)) == _rows(_ref_envelope_from_egress(df))
    # db/table override (re-routing) path
    assert _rows(envelope_from_egress(df, db="dst", table="t2")) == _rows(
        _ref_envelope_from_egress(df, db="dst", table="t2")
    )


def test_envelope_from_canal_egress_matches_get_json_object_reference(spark):
    df = spark.createDataFrame(CANAL_EDGE_MSGS, "_v_to long, value string")
    assert _rows(envelope_from_canal_egress(df)) == _rows(
        _ref_envelope_from_canal_egress(df)
    )
    assert _rows(envelope_from_canal_egress(df, db="dst", table="t2")) == _rows(
        _ref_envelope_from_canal_egress(df, db="dst", table="t2")
    )


# -- PK-move expansion --------------------------------------------------------


PK_SCHEMA = StructType(
    [StructField("k", LongType()), StructField("v", StringType())]
)

PK_ENV_ROWS = [
    ("src", "t", "insert", 1, '{"k":1,"v":"a"}', None),
    ("src", "t", "update", 2, '{"k":1,"v":"b"}', '{"k":1,"v":"a"}'),  # in place
    ("src", "t", "update", 3, '{"k":2,"v":"c"}', '{"k":1,"v":"b"}'),  # PK move
    ("src", "t", "delete", 4, '{"k":2,"v":"c"}', None),
    ("src", "t", "update", 5, '{"k":3,"v":"d"}', None),  # old missing
    ("src", "x", "insert", 6, '{"k":9,"v":"z"}', None),  # other table
    ("src", "t", "ddl", 7, "ALTER TABLE t ADD COLUMN y INT", None),  # control
]


def _ref_decode_pk_moves(env, schema, *, db, table, keys):
    """The pre-optimization union shape (data parsed twice, old once)."""
    routed = env.filter(
        (F.col("db") == db) & (F.col("table") == table) & (F.col("op") != "ddl")
    )
    decoded = routed.withColumn("_row", parse_row(F.col("data"), schema))
    with_old = decoded.withColumn("_old", parse_row(F.col("old"), schema))
    pk_moved = F.col("_old").isNotNull() & _any_of(
        [F.col(f"_old.{k}") != F.col(f"_row.{k}") for k in keys]
    )
    normal = with_old.select("op", "seq", "_row.*")
    moves = with_old.filter((F.col("op") == "update") & pk_moved).select(
        F.lit("delete").alias("op"), F.col("seq"), "_old.*"
    )
    return normal.unionByName(moves)


def test_pk_move_expansion_rowset_and_single_parse(spark):
    env = spark.createDataFrame(
        PK_ENV_ROWS, "db string, table string, op string, seq long, "
        "data string, old string"
    )
    got = decode_envelope(env, PK_SCHEMA, db="src", table="t", keys=["k"])
    want = _ref_decode_pk_moves(env, PK_SCHEMA, db="src", table="t", keys=["k"])
    assert _rows(got) == _rows(want)
    # the PK move expanded: seq=3 appears twice (delete of old key 1 +
    # update at new key 2) — pin the semantics, not just equivalence
    by_seq = {}
    for r in got.collect():
        by_seq.setdefault(r.seq, []).append((r.op, r.k, r.v))
    assert sorted(by_seq[3]) == [("delete", 1, "b"), ("update", 2, "c")]
    assert by_seq[2] == [("update", 1, "b")]  # in-place update: no expansion
    assert 7 not in by_seq  # ddl control row never decodes as data

    # the optimization itself: both images parse in ONE projection below
    # the constant-array Generate — exactly two from_json sites (one per
    # image); the old shape re-ran the data parse per union branch
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert plan.count("from_json") == 2, plan


# -- round-11 optimization internals ------------------------------------------


_PART_SCH = "op string, seq long, k long, yr int, val string"
_PART_ROWS0 = [("insert", i, i, 1990 + (i % 3), f"v{i}") for i in range(1, 25)]
_PART_ROWS1 = (
    [("update", 100 + i, i, 1990 + (i % 3), f"w{i}") for i in range(1, 9)]
    + [("delete", 200, 9, 1990, "v9")]
    # a partition born in batch 1
    + [("insert", 201, 99, 1999, "new")]
)


def _part_sub(tbl, pstr):
    return tbl._sub(pstr, tbl._manifest()[pstr]["gen"])


def _rebucket_1990(tbl):
    _part_sub(tbl, "1990").rebucket(8)


def _strip_schema_1991(tbl):
    """Make 1991's current manifest look legacy (written before
    manifests recorded their schema)."""
    sub = _part_sub(tbl, "1991")
    meta = sub._meta()
    del meta["versions"][str(meta["current"])]["schema"]
    sub._publish(meta)


@pytest.mark.parametrize(
    "rows1, prepare, table_opts",
    [
        pytest.param(_PART_ROWS1, None, {}, id="multi_partition"),
        pytest.param(
            [r for r in _PART_ROWS1 if r[3] == 1990], None, {},
            id="one_partition",
        ),
        pytest.param(_PART_ROWS1, _rebucket_1990, {}, id="rebucketed_sub"),
        pytest.param(_PART_ROWS1, _strip_schema_1991, {}, id="legacy_sub"),
        pytest.param(
            [r for r in _PART_ROWS1 if r[3] in (1990, 1991)], None,
            # any real parquet file crosses 64 bytes/bucket; a 1-byte
            # threshold would double every sub-store to the 4096 cap
            {"auto_rebucket_bytes": 64}, id="auto_rebucket",
        ),
    ],
)
def test_partitioned_merge_single_write_matches_lww(
    spark, tmp_path, rows1, prepare, table_opts
):
    """The grouped one-write partitioned merge must produce exactly the
    per-slice result: per-partition LWW over the full stream, one
    sub-version per touched partition per batch, and bucket placement
    under each sub-store's own bucket count — for a single-partition
    batch, a rebucketed sub-store, a legacy (schema-less) manifest, and
    under the sub-stores' auto-rebucket policy, which must fire on a
    multi-partition batch too."""
    from qin_cdc_spark.streaming.partitioned import PartitionedVersionedTable

    tbl = PartitionedVersionedTable(
        spark, str(tmp_path / "t"), ["k"], partition_col="yr", n_buckets=4,
        table_opts=table_opts,
    )
    tbl.merge(spark.createDataFrame(_PART_ROWS0, _PART_SCH), batch_id=0)
    if prepare is not None:
        prepare(tbl)
    before = {
        pstr: len(tbl._sub(pstr, ent["gen"]).versions())
        for pstr, ent in tbl._manifest().items()
    }
    tbl.merge(spark.createDataFrame(rows1, _PART_SCH), batch_id=1)

    from qin_cdc_spark.cdc.apply import latest_by_key

    ev = spark.createDataFrame(_PART_ROWS0 + rows1, _PART_SCH)
    want = {
        (r.k, r.yr, r.val)
        for r in latest_by_key(ev, ["k"], seq_col="seq")
        .filter(F.col("op") != "delete")
        .collect()
    }
    got = {(r.k, r.yr, r.val) for r in tbl.read().collect()}
    assert got == want
    # point reads hash with the sub-store's CURRENT bucket count
    for k in (3, 6):
        assert [r.val for r in tbl.read_key(1990, [k]).collect()] == [
            v for kk, _, v in want if kk == k
        ]
    touched = {str(r[3]) for r in rows1}
    man = tbl._manifest()
    for pstr, ent in man.items():
        sub = tbl._sub(pstr, ent["gen"])
        sub_man = sub._meta()["versions"][str(sub.current_version())]
        # the version a merge mints records its schema (legacy included)
        assert sub_man.get("schema") is not None, pstr
        if table_opts.get("auto_rebucket_bytes"):
            # the policy fired for every partition the batches touched
            assert sub._manifest_n_buckets(sub_man) > 4, pstr
            continue
        # every touched partition minted exactly one sub-version
        added = len(sub.versions()) - before.get(pstr, 0)
        assert added == (1 if pstr in touched else 0), (pstr, sub.versions())
        if pstr in touched:
            # batch guard advanced atomically with the sub publish
            assert sub.last_batch_id() == 1
    # replay of the whole batch is a parent-guard no-op
    v = tbl.current_version()
    tbl.merge(spark.createDataFrame(rows1, _PART_SCH), batch_id=1)
    assert tbl.current_version() == v


def test_partitioned_merge_jobs_independent_of_partition_count(spark, tmp_path):
    """One grouped write per batch: a one-partition batch and a
    three-partition batch of the same schema run the same number of
    Spark jobs.  The two counts are compared with each other, not with
    a fixed number — AQE adds map-stage jobs."""
    from qin_cdc_spark.streaming.partitioned import PartitionedVersionedTable

    tbl = PartitionedVersionedTable(
        spark, str(tmp_path / "t"), ["k"], partition_col="yr", n_buckets=4
    )
    tbl.merge(spark.createDataFrame(_PART_ROWS0, _PART_SCH), batch_id=0)

    def jobs_of(rows, batch_id):
        batch = spark.createDataFrame(rows, _PART_SCH)
        return count_jobs(spark, tbl.merge, batch, batch_id=batch_id)

    one = jobs_of(
        [("update", 100 + i, i, 1990, f"w{i}") for i in (3, 6, 12)], 1
    )
    three = jobs_of(
        [("update", 200 + i, i, 1990 + (i % 3), f"x{i}") for i in (3, 4, 5)], 2
    )
    assert one > 0
    assert one == three, (one, three)


def test_partitioned_merge_divergent_schemas_fall_back(spark, tmp_path):
    """Slices whose stored schemas diverged (a partition born under a
    later column vintage) must NOT share one union write — the
    per-slice fallback keeps each sub-store's column set its own."""
    from qin_cdc_spark.streaming.partitioned import PartitionedVersionedTable

    tbl = PartitionedVersionedTable(
        spark, str(tmp_path / "t"), ["k"], partition_col="yr", n_buckets=2
    )
    # batch 0: partition 1990 under (k, yr, val)
    tbl.merge(
        spark.createDataFrame(
            [("insert", 1, 1, 1990, "a")],
            "op string, seq long, k long, yr int, val string",
        ),
        batch_id=0,
    )
    # batch 1: partition 1991 born with an extra column v2
    tbl.merge(
        spark.createDataFrame(
            [("insert", 2, 2, 1991, "b", "x")],
            "op string, seq long, k long, yr int, val string, v2 string",
        ),
        batch_id=1,
    )
    # batch 2 (NO v2 column) touches both partitions: 1990's merged
    # schema lacks v2, 1991's keeps it (allowMissingColumns) — divergent
    tbl.merge(
        spark.createDataFrame(
            [("update", 3, 1, 1990, "a2"), ("update", 4, 2, 1991, "b2")],
            "op string, seq long, k long, yr int, val string",
        ),
        batch_id=2,
    )
    got = {
        (r.k, r.yr, r.val, r.v2)
        for r in tbl.read().select("k", "yr", "val", "v2").collect()
    }
    assert got == {(1, 1990, "a2", None), (2, 1991, "b2", None)}
    # 1990's sub-store must NOT have gained a v2 column
    man = tbl._manifest()
    sub90 = tbl._sub("1990", man["1990"]["gen"])
    assert "v2" not in sub90.read().columns
    sub91 = tbl._sub("1991", man["1991"]["gen"])
    assert "v2" in sub91.read().columns


def test_bucketed_merge_current_side_prunes_via_dpp(spark, tmp_path):
    """The flat store's single-action merge (OPTIMIZATION_r11, VERDICT
    r10 #6) prunes the stored side with dynamic partition pruning: the
    broadcast semi-join on the bucket partition column must plan a
    ``dynamicpruning`` PartitionFilter at the scan when the batch
    lineage carries the route's selective filter (the real stream path
    always does — decode filters on db/table)."""
    from qin_cdc_spark.streaming.cdc_stream import BucketedUpsertTable

    t = BucketedUpsertTable(spark, str(tmp_path / "t"), ["k"], n_buckets=8)
    seed = spark.createDataFrame(
        [("insert", i, i, f"v{i}") for i in range(64)],
        "op string, seq long, k long, val string",
    )
    t.merge(seed)
    raw = spark.createDataFrame(
        [("src", "update", 100, 3, "x"), ("oth", "insert", 101, 7, "z")],
        "db string, op string, seq long, k long, val string",
    )
    ch = raw.filter(F.col("db") == "src").drop("db")
    inc = ch.select(
        "k", "val",
        F.col("seq").cast("long").alias("_seq"),
        (F.col("op") == "delete").alias("_deleted"),
    ).withColumn("_bucket", t._bucket_expr())
    cur = t._pruned_current(t._stored_schema(), inc)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = cur._jdf.queryExecution().explainString(mode)
    assert "dynamicpruning" in plan, plan

    # behavior: the merge still converges LWW with deletes and updates
    t.merge(
        spark.createDataFrame(
            [("update", 100, 3, "x"), ("delete", 101, 11, "gone")],
            "op string, seq long, k long, val string",
        )
    )
    got = {(r.k, r.val) for r in t.read().collect()}
    assert (3, "x") in got and not any(k == 11 for k, _ in got)
    assert len(got) == 63
