"""SCD Type-2 history table + temporal join (streaming/scd2.py).

Reference parity: the reference streams only CURRENT row images to its
targets (outputs/starrocks/starrocks.go:136-208) and leaves dimension
history / as-of queries to the warehouse; ScdType2Table maintains them
engine-side, incrementally.  Tests compare incremental maintenance
against the one-shot window derivation (scd2_intervals) and against
pure-Python interval folding.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from qin_cdc_spark.streaming.scd2 import ScdType2Table, scd2_intervals, temporal_join
from qin_cdc_spark.streaming.versioned import META_NAME, VersionedBucketedTable
from tests.conftest import count_jobs


def _ev(spark, rows):
    """rows: (op, seq, k, v)"""
    return spark.createDataFrame(rows, "op string, seq long, k long, v string")


def _hist_rows(scd, include_tombstones=False):
    """Visible history rows; zero-width [d, d) rows are no-op-delete
    tombstones (invisible to every point-in-time read) — read_history
    excludes them by default and surfaces them via include_markers."""
    return {
        (r.k, r.valid_from): (r.valid_to, r.v)
        for r in scd.read_history(include_markers=include_tombstones).collect()
    }


def _intervals_py(events):
    """Pure-Python oracle: fold (op, seq, k, v) into interval rows."""
    out = {}
    by_key = {}
    for op, seq, k, v in sorted(events, key=lambda e: (e[2], e[1])):
        by_key.setdefault(k, []).append((op, seq, v))
    for k, evs in by_key.items():
        for i, (op, seq, v) in enumerate(evs):
            nxt = evs[i + 1][1] if i + 1 < len(evs) else None
            if op != "delete":
                out[(k, seq)] = (nxt, v)
    return out


BATCH1 = [
    ("insert", 10, 1, "a"),
    ("insert", 11, 2, "b"),
    ("update", 20, 1, "a2"),  # two events for k=1 inside ONE batch
    ("insert", 12, 3, "c"),
]
BATCH2 = [
    ("update", 30, 1, "a3"),   # closes the open (1, 20) row
    ("delete", 31, 2, "b"),    # closes (2, 11) without reopening
    ("insert", 40, 2, "b2"),   # re-insert after delete: new interval
    ("update", 32, 3, "c2"),
]


def test_incremental_matches_python_and_window(spark, tmp_path):
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    expect = _intervals_py(BATCH1 + BATCH2)
    assert _hist_rows(scd) == expect
    # and equals the one-shot window derivation over the full stream
    one_shot = {
        (r.k, r.valid_from): (r.valid_to, r.v)
        for r in scd2_intervals(_ev(spark, BATCH1 + BATCH2), ["k"]).collect()
    }
    assert one_shot == expect


def test_current_and_as_of(spark, tmp_path):
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    cur = {(r.k, r.v) for r in scd.current().collect()}
    assert cur == {(1, "a3"), (2, "b2"), (3, "c2")}
    # as-of seq 25: k1 at version (20,'a2'), k2 still 'b', k3 still 'c'
    snap = {(r.k, r.v) for r in scd.as_of(25).collect()}
    assert snap == {(1, "a2"), (2, "b"), (3, "c")}
    # as-of seq 35: k2 deleted (31) and not yet re-inserted (40)
    snap = {(r.k, r.v) for r in scd.as_of(35).collect()}
    assert snap == {(1, "a3"), (3, "c2")}
    # as-of before any event: empty
    assert scd.as_of(5).count() == 0


def test_replay_idempotent_both_guards(spark, tmp_path):
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    before = _hist_rows(scd)
    # whole-batch redelivery: store batch guard short-circuits
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    assert _hist_rows(scd) == before
    # overlap WITHOUT a batch id: the per-key high-water mark drops
    # already-folded events (at-least-once suffix replay)
    v = scd.store.current_version()
    scd.apply_batch(_ev(spark, BATCH1 + BATCH2))
    assert _hist_rows(scd) == before
    # a fully redelivered batch mints no version
    assert scd.store.current_version() == v


def test_steady_state_apply_jobs_near_plain_merge(spark, tmp_path):
    """A steady-state history apply (stored keys, one redelivered
    event, one new key) costs at most twice the Spark jobs of a plain
    versioned merge of the same batch: the batch and the touched
    buckets' stored rows go through one window, not a plan of joins
    the store's probe re-evaluates branch by branch."""
    batch = [
        ("update", 20, 1, "dup"),  # redelivered: k=1's hwm is 20
        ("update", 50, 2, "b3"),
        ("update", 51, 3, "c3"),
        ("insert", 60, 9, "z"),  # a new key
    ]
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    plain = VersionedBucketedTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    plain.merge(_ev(spark, BATCH1), batch_id=0)

    scd_jobs = count_jobs(spark, scd.apply_batch, _ev(spark, batch), batch_id=1)
    merge_jobs = count_jobs(spark, plain.merge, _ev(spark, batch), batch_id=1)
    assert merge_jobs > 0
    assert scd_jobs <= 2 * merge_jobs, (scd_jobs, merge_jobs)
    assert _hist_rows(scd) == _intervals_py(BATCH1 + batch[1:])


def test_initial_delete_records_tombstone_and_late_event_dropped(spark, tmp_path):
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, [("delete", 5, 9, "x"), ("insert", 10, 1, "a")]))
    assert _hist_rows(scd) == {(1, 10): (None, "a")}
    # the no-op delete recorded a ZERO-WIDTH tombstone [5, 5): raw
    # history carries it (null values), every point read ignores it
    assert _hist_rows(scd, include_tombstones=True) == {
        (1, 10): (None, "a"),
        (9, 5): (5, None),
    }
    assert {r.k for r in scd.current().collect()} == {1}
    assert scd.as_of(5).filter(F.col("k") == 9).count() == 0
    # at-or-below a key's high-water mark is a redelivery: dropped —
    # including at/below the tombstone's own coordinate for k=9
    scd.apply_batch(
        _ev(
            spark,
            [
                ("update", 10, 1, "ghost"),
                ("update", 9, 1, "g2"),
                ("delete", 5, 9, "again"),
                ("update", 4, 9, "below"),
            ],
        )
    )
    assert _hist_rows(scd, include_tombstones=True) == {
        (1, 10): (None, "a"),
        (9, 5): (5, None),
    }


def test_one_bucket_history_read(spark, tmp_path):
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    got = {
        (r.valid_from, r.valid_to, r.v, r.is_current)
        for r in scd.history_of([1]).collect()
    }
    assert got == {(10, 20, "a", False), (20, 30, "a2", False), (30, None, "a3", True)}
    # placement hashes the business key alone: every version of k=1
    # lives in ONE bucket of the store's current manifest
    man = scd.store._meta()["versions"][str(scd.store.current_version())]
    full = scd.store.read()
    buckets_of_k1 = (
        full.filter(F.col("k") == 1)
        .select(scd.store._bucket_expr(scd.store._manifest_n_buckets(man)).alias("b"))
        .distinct()
        .count()
    )
    assert buckets_of_k1 == 1


@pytest.mark.parametrize("seed", [7, 23])
def test_random_rounds_match_recompute(spark, tmp_path, seed):
    """N rounds of seeded random insert/update/delete: incremental
    history equals the pure-Python fold after every round."""
    import random

    rng = random.Random(seed)
    scd = ScdType2Table(spark, str(tmp_path / f"h{seed}"), keys=["k"], n_buckets=4)
    all_events, seq, live = [], 0, set()
    for rnd in range(4):
        batch = []
        for _ in range(25):
            seq += 1
            k = rng.randrange(8)
            if k in live:
                op = rng.choice(["update", "delete"])
                if op == "delete":
                    live.discard(k)
            else:
                op = "insert"
                live.add(k)
            batch.append((op, seq, k, f"v{seq}"))
        all_events += batch
        scd.apply_batch(_ev(spark, batch), batch_id=rnd)
        assert _hist_rows(scd) == _intervals_py(all_events)


def test_temporal_join_semantics_and_plan(spark):
    events = BATCH1 + BATCH2
    hist = scd2_intervals(_ev(spark, events), ["k"])
    facts = spark.createDataFrame(
        [(1, 100, 25), (1, 101, 9), (2, 102, 35), (2, 103, 40), (3, 104, 32)],
        "k long, fact_id long, asof long",
    )
    out = {
        (r.fact_id, r.v)
        for r in temporal_join(facts, hist, ["k"], "asof").collect()
    }
    assert out == {
        (100, "a2"),   # inside [20, 30)
        (101, None),   # before k=1's first event
        (102, None),   # k=2 deleted at 31, re-inserted at 40
        (103, "b2"),   # at the open interval's start
        (104, "c2"),
    }
    # scale contract: equi-join on the key, never a nested loop
    plan = temporal_join(facts, hist, ["k"], "asof")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_composite_key_history_and_temporal_join(spark, tmp_path):
    """Multi-PK parity (the reference's composite-key path,
    outputs/mysql/mysql_utils.go:90-112): history keyed (k1, k2), and
    the temporal join equi-joins on both key columns."""
    rows = [
        ("insert", 10, 1, 1, "a"),
        ("insert", 11, 1, 2, "b"),   # same k1, different k2 — distinct keys
        ("update", 20, 1, 1, "a2"),
        ("delete", 21, 1, 2, "b"),
    ]
    ev = spark.createDataFrame(rows, "op string, seq long, k1 long, k2 long, v string")
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k1", "k2"], n_buckets=4)
    scd.apply_batch(ev.filter(F.col("seq") <= 11), batch_id=0)
    scd.apply_batch(ev.filter(F.col("seq") > 11), batch_id=1)
    hist = {
        (r.k1, r.k2, r.valid_from): (r.valid_to, r.v)
        for r in scd.read_history().collect()
    }
    assert hist == {
        (1, 1, 10): (20, "a"),
        (1, 1, 20): (None, "a2"),
        (1, 2, 11): (21, "b"),
    }
    facts = spark.createDataFrame(
        [(1, 1, 15, 100), (1, 2, 15, 101), (1, 2, 22, 102)],
        "k1 long, k2 long, asof long, fact_id long",
    )
    out = {
        (r.fact_id, r.v)
        for r in temporal_join(
            facts, scd2_intervals(ev, ["k1", "k2"]), ["k1", "k2"], "asof"
        ).collect()
    }
    assert out == {(100, "a"), (101, "b"), (102, None)}


def test_hot_key_serving_reads_one_bucket(spark, tmp_path):
    """The VERDICT r5 watch item measured: history_of / read_key_asof
    on a HOT key (hundreds of versions) open exactly the key's bucket —
    cost is the key's own version list, never the table."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=8)
    hot = [("update", s, 1, f"v{s}") for s in range(1, 401)]
    cold = [("insert", i, i, f"c{i}") for i in range(401, 601)]
    scd.apply_batch(_ev(spark, hot + cold), batch_id=0)
    h = scd.history_of([1])
    man = scd.store._meta()["versions"][str(scd.store.current_version())]
    opened = {f.rsplit("/", 2)[-2] for f in h.inputFiles()}
    assert len(opened) == 1 and opened < set(man["buckets"].values())
    assert h.count() == 400  # every version of the hot key, one bucket
    # point-in-time point lookup: interval filter over the same bucket
    snap = scd.read_key_asof([1], 250)
    opened2 = {f.rsplit("/", 2)[-2] for f in snap.inputFiles()}
    assert opened2 == opened
    assert [(r.k, r.valid_from, r.v) for r in snap.collect()] == [(1, 250, "v250")]
    # before the first event → empty, not an error
    assert scd.read_key_asof([1], 0).count() == 0


def test_temporal_join_pruned_opens_fact_buckets_only(spark, tmp_path):
    """ScdType2Table.temporal_join: serving a point-lookup-shaped fact
    batch opens strictly fewer bucket dirs than the history holds
    (the test_gsi.py inputFiles discipline), and the result matches the
    stream-the-whole-history module-level join."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=16)
    rows = [("insert", i * 10, i, f"v{i}") for i in range(1, 33)] + [
        ("update", i * 10 + 5, i, f"w{i}") for i in range(1, 33)
    ]
    scd.apply_batch(_ev(spark, rows), batch_id=0)
    facts = spark.createDataFrame([(1, 12), (1, 3)], "k long, asof long")
    out = scd.temporal_join(facts, "asof", how="left")
    man = scd.store._meta()["versions"][str(scd.store.current_version())]
    opened = {f.rsplit("/", 2)[-2] for f in out.inputFiles()}
    assert opened < set(man["buckets"].values())
    got = {(r.k, r.asof, r.v) for r in out.collect()}
    assert got == {(1, 12, "v1"), (1, 3, None)}
    # parity with the full-history module-level join
    full = temporal_join(facts, scd.read_history(), ["k"], "asof", how="left")
    assert {(r.k, r.asof, r.v) for r in full.collect()} == got


@pytest.mark.parametrize("legacy", [False, True])
def test_keys_hash_under_stored_types(spark, tmp_path, legacy):
    """Every bucket lookup hashes keys under the STORED key types (the
    hash is type-sensitive): taken from the manifest's recorded schema,
    or from the files on a legacy manifest that records none.  Int-typed
    facts, point reads and events then find their long-keyed history."""
    path = str(tmp_path / "h")
    rows = [("insert", 10 + i, i, f"v{i}") for i in range(1, 9)]
    ScdType2Table(spark, path, keys=["k"], n_buckets=8).apply_batch(
        _ev(spark, rows), batch_id=0
    )
    if legacy:
        meta_path = os.path.join(path, META_NAME)
        with open(meta_path) as f:
            meta = json.load(f)
        for man in meta["versions"].values():
            man.pop("schema", None)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    scd = ScdType2Table(spark, path, keys=["k"], n_buckets=8)
    facts = spark.createDataFrame([(i, 100) for i in range(1, 9)], "k int, ts long")
    got = {(r.k, r.v) for r in scd.temporal_join(facts, "ts").collect()}
    assert got == {(i, f"v{i}") for i in range(1, 9)}
    assert [r.v for r in scd.history_of([3]).collect()] == ["v3"]
    later = [("update", 50 + i, i, f"w{i}") for i in range(1, 9)]
    scd.apply_batch(
        spark.createDataFrame(later, "op string, seq long, k int, v string"),
        batch_id=1,
    )
    assert _hist_rows(scd) == _intervals_py(rows + later)


def test_dlq_replay_folds_into_history(spark, tmp_path):
    """replay_dlq honors the history contract: recovered rows are
    dimension versions too, so after a replay the SCD2 history matches
    the target — not permanently missing the quarantined versions."""
    import pyspark.sql.types as T

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import CdcStreamRoute

    changes = _ev(spark, BATCH1)
    env = envelope_from_typed(changes, db="src", table="dim")
    good_schema = changes.drop("op", "seq").schema
    broken = T.StructType(
        [
            T.StructField("k", T.ArrayType(T.LongType()))
            if f.name == "k"
            else f
            for f in good_schema.fields
        ]
    )
    route = CdcStreamRoute(
        spark, db="src", table="dim", schema=broken, keys=["k"],
        target_path=str(tmp_path / "t"), n_buckets=4, versioned=True,
        history_path=str(tmp_path / "hist"), dlq_path=str(tmp_path / "dlq"),
    )
    route.apply_batch(env, batch_id=0)  # pk parses null → all quarantined
    assert route.history is None or route.history.read_history() is None

    route.schema = good_schema
    applied, still_bad = route.replay_dlq()
    assert (applied, still_bad) == (len(BATCH1), 0)
    assert _hist_rows(route.history) == _intervals_py(BATCH1)
    live = {(r.k, r.v) for r in route.target.read().collect()}
    assert {(r.k, r.v) for r in route.history.current().collect()} == live
    # replay idempotence extends to the history (high-water mark absorbs it)
    route.replay_dlq()
    assert _hist_rows(route.history) == _intervals_py(BATCH1)


def test_stream_route_maintains_history(spark, tmp_path):
    """CdcStreamRoute(history_path=…): the SAME decoded batches maintain
    the LWW target and the SCD2 history; current() == target live rows,
    and redelivered batches no-op on both guards."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import CdcStreamRoute

    changes = _ev(spark, BATCH1 + BATCH2)
    env = envelope_from_typed(changes, db="src", table="dim")
    schema = changes.drop("op", "seq").schema
    route = CdcStreamRoute(
        spark, db="src", table="dim", schema=schema, keys=["k"],
        target_path=str(tmp_path / "t"), n_buckets=4, versioned=True,
        history_path=str(tmp_path / "hist"),
    )
    split = 20  # BATCH1 seqs ≤ 20, BATCH2 seqs > 20
    route.apply_batch(env.filter(F.col("seq") <= split), batch_id=0)
    route.apply_batch(env.filter(F.col("seq") > split), batch_id=1)
    hist = _hist_rows(route.history)
    assert hist == _intervals_py(BATCH1 + BATCH2)
    live = {(r.k, r.v) for r in route.target.read().collect()}
    cur = {(r.k, r.v) for r in route.history.current().collect()}
    assert cur == live
    # whole-batch redelivery (fresh-checkpoint replay): both stores no-op
    route.apply_batch(env.filter(F.col("seq") > split), batch_id=1)
    assert _hist_rows(route.history) == hist


LATE = [
    ("update", 15, 1, "a15"),  # inside (1,10)→20: splits it at 15
    ("insert", 35, 2, "b35"),  # in k=2's delete gap (31..40): [35, 40)
    ("insert", 5, 3, "c5"),    # before k=3's first event: [5, 12)
    ("delete", 25, 1, None),   # inside (1,20)→30: closes it at 25
]


def test_insert_versions_retroactive_completeness(spark, tmp_path):
    """insert_versions folds below-hwm events into their true stream
    positions: splits the containing interval, fills delete gaps,
    prepends before the first event, closes on a late delete — the
    resulting history equals the clean-run derivation of the FULL
    stream (quarantine-then-replay loses nothing)."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    v = scd.insert_versions(_ev(spark, LATE))
    assert _hist_rows(scd) == _intervals_py(BATCH1 + BATCH2 + LATE)
    # idempotent: every late seq is now a stored boundary → no new version
    assert scd.insert_versions(_ev(spark, LATE)) == v
    assert _hist_rows(scd) == _intervals_py(BATCH1 + BATCH2 + LATE)
    # the open rows never changed: current() still equals the LWW state
    assert {(r.k, r.v) for r in scd.current().collect()} == {
        (k, v2) for (k, s), (vt, v2) in _intervals_py(BATCH1 + BATCH2 + LATE).items()
        if vt is None
    }


def test_insert_versions_mixed_batch_replay_order(spark, tmp_path):
    """The replay_dlq discipline — apply_batch THEN insert_versions on
    the same mixed batch (some events above hwm, some below) — lands
    every event exactly once at its true coordinate."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1 + BATCH2), batch_id=0)
    mixed = LATE + [("update", 50, 1, "a50"), ("insert", 60, 4, "d")]
    scd.apply_batch(_ev(spark, mixed))
    scd.insert_versions(_ev(spark, mixed))
    assert _hist_rows(scd) == _intervals_py(BATCH1 + BATCH2 + mixed)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_insert_versions_random_withheld_strict(spark, tmp_path, seed):
    """Randomized quarantine: withhold a random subset — upserts AND
    deletes — of a random event stream, apply the rest in seq order,
    then replay the withheld set through the replay_dlq discipline
    (apply_batch for above-hwm events, insert_versions for the rest).
    Visible history equals the full clean run STRICTLY: the zero-width
    tombstones that no-op deletes record at stream time give late
    inserts their true closing coordinate, so no key needs excluding
    (the pre-tombstone version of this test had to carve out keys that
    hit the no-op-delete reconstruction limit)."""
    import random

    rng = random.Random(seed)
    events, seq = [], 0
    for _ in range(60):
        seq += rng.randint(1, 3)
        k = rng.randint(1, 6)
        op = rng.choice(["insert", "update", "update", "delete"])
        events.append((op, seq, k, None if op == "delete" else f"v{seq}"))
    withheld = [e for e in events if rng.random() < 0.3]
    kept = [e for e in events if e not in withheld]
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    half = kept[len(kept) // 2][1]
    scd.apply_batch(_ev(spark, [e for e in kept if e[1] <= half]), batch_id=0)
    scd.apply_batch(_ev(spark, [e for e in kept if e[1] > half]), batch_id=1)
    # the replay_dlq discipline: above-hwm withheld events fold through
    # the normal path, the rest retro-insert
    scd.apply_batch(_ev(spark, withheld))
    scd.insert_versions(_ev(spark, withheld))
    assert _hist_rows(scd) == _intervals_py(events)
    # and the retro-insert is idempotent under full redelivery
    scd.insert_versions(_ev(spark, withheld))
    assert _hist_rows(scd) == _intervals_py(events)


def test_insert_versions_closes_at_noop_delete_tombstone(spark, tmp_path):
    """The former no-op-delete reconstruction limit is CLOSED: a delete
    with nothing to close records a zero-width tombstone [d, d), so a
    late insert placed BEFORE it closes at d instead of running through
    to the key's next boundary (which would resurrect the deleted key
    over the gap)."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    # k=9's insert@10 is quarantined; delete@20 tombstones; insert@30 opens
    scd.apply_batch(
        _ev(spark, [("delete", 20, 9, None), ("insert", 30, 9, "late_open")]),
        batch_id=0,
    )
    scd.insert_versions(_ev(spark, [("insert", 10, 9, "early")]))
    assert _hist_rows(scd) == {
        (9, 10): (20, "early"),
        (9, 30): (None, "late_open"),
    }
    # the tombstone survives the retro-insert (still the delete marker)
    assert _hist_rows(scd, include_tombstones=True)[(9, 20)] == (20, None)
    # idempotent: replaying the late insert merges nothing
    v = scd.store.current_version()
    assert scd.insert_versions(_ev(spark, [("insert", 10, 9, "early")])) == v
    # point reads: alive at 15, gone over the delete gap, back at 30
    assert [(r.k, r.v) for r in scd.as_of(15).collect()] == [(9, "early")]
    assert scd.as_of(25).count() == 0
    assert [(r.k, r.v) for r in scd.as_of(30).collect()] == [(9, "late_open")]


def test_consecutive_noop_deletes_tombstone_chain(spark, tmp_path):
    """delete,delete in one batch for a fresh key: BOTH record
    tombstones (the second closes nothing either); a late insert
    between them closes at the second delete's coordinate."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(
        _ev(spark, [("delete", 10, 9, None), ("delete", 20, 9, None)]), batch_id=0
    )
    assert _hist_rows(scd, include_tombstones=True) == {
        (9, 10): (10, None),
        (9, 20): (20, None),
    }
    scd.insert_versions(_ev(spark, [("insert", 15, 9, "mid")]))
    assert _hist_rows(scd) == {(9, 15): (20, "mid")}


def test_redelete_after_close_records_tombstone(spark, tmp_path):
    """A later delete for a key whose versions are all CLOSED (deleted
    in an earlier batch) also closes nothing — it records a tombstone
    too, so a late insert between the two deletes closes at the second
    instead of adopting the pre-existing close."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(
        _ev(spark, [("insert", 10, 1, "a"), ("delete", 20, 1, None)]), batch_id=0
    )
    scd.apply_batch(_ev(spark, [("delete", 40, 1, None)]), batch_id=1)
    assert _hist_rows(scd, include_tombstones=True) == {
        (1, 10): (20, "a"),
        (1, 40): (40, None),
    }
    scd.insert_versions(_ev(spark, [("insert", 30, 1, "b")]))
    assert _hist_rows(scd) == {(1, 10): (20, "a"), (1, 30): (40, "b")}
    # a second retro-insert run over the same events merges nothing
    v = scd.store.current_version()
    assert scd.insert_versions(_ev(spark, [("insert", 30, 1, "b")])) == v


def test_dlq_replay_after_later_events_completes_history(spark, tmp_path):
    """The ADVICE scenario: newer events land for a key BEFORE its
    quarantined rows replay.  replay_dlq's two-path history fold
    (apply_batch for above-hwm rows + insert_versions for the rest)
    makes the history equal the clean-run derivation — the quarantined
    versions are NOT permanently missing."""
    import pyspark.sql.types as T

    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import CdcStreamRoute

    changes = _ev(spark, BATCH1)
    good_schema = changes.drop("op", "seq").schema
    broken = T.StructType(
        [
            T.StructField("k", T.ArrayType(T.LongType())) if f.name == "k" else f
            for f in good_schema.fields
        ]
    )
    route = CdcStreamRoute(
        spark, db="src", table="dim", schema=broken, keys=["k"],
        target_path=str(tmp_path / "t"), n_buckets=4, versioned=True,
        history_path=str(tmp_path / "hist"), dlq_path=str(tmp_path / "dlq"),
    )
    # batch 0: all of BATCH1 quarantined (pk parses null under broken schema)
    route.apply_batch(envelope_from_typed(changes, db="src", table="dim"), batch_id=0)
    # schema fixed; batch 1: BATCH2 (later events for the same keys) lands
    route.schema = good_schema
    route.apply_batch(
        envelope_from_typed(_ev(spark, BATCH2), db="src", table="dim"), batch_id=1
    )
    applied, still_bad = route.replay_dlq()
    assert (applied, still_bad) == (len(BATCH1), 0)
    # history equals the in-order clean run of both batches for EVERY
    # key — including k=2, whose delete@31 no-oped at stream time
    # (insert@11 was quarantined): the delete recorded a zero-width
    # tombstone, so the replayed insert@11 closes at 31 exactly as the
    # clean run does.
    got = _hist_rows(route.history)
    assert got == _intervals_py(BATCH1 + BATCH2)
    assert got[(2, 11)] == (31, "b")
    assert got[(2, 40)] == (None, "b2")
    # target is untouched by the replay of older rows (LWW keeps newer)
    live = {(r.k, r.v) for r in route.target.read().collect()}
    assert {(r.k, r.v) for r in route.history.current().collect()} == live
    # replay idempotence still holds end-to-end
    route.replay_dlq()
    assert _hist_rows(route.history) == got


def test_expire_history_retention_floor(spark, tmp_path):
    """expire_history drops versions closing at-or-before the floor,
    keeps reads at-or-above it bit-identical, raises below it, and the
    floor (a manifest prop) gates redeliveries and late inserts whose
    evidence was expired."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    # key 9 exists and is fully closed before the floor
    scd.apply_batch(
        _ev(spark, [("insert", 5, 9, "z"), ("delete", 15, 9, None)])
    )
    pre20 = {(r.k, r.v) for r in scd.as_of(20).collect()}
    pre31 = {(r.k, r.v) for r in scd.as_of(31).collect()}

    v = scd.expire_history(before=20)
    assert scd.history_floor() == 20
    expect = {
        kk: vv
        for kk, vv in _intervals_py(
            BATCH1 + BATCH2 + [("insert", 5, 9, "z"), ("delete", 15, 9, None)]
        ).items()
        if vv[0] is None or vv[0] > 20
    }
    assert _hist_rows(scd, include_tombstones=True) == expect
    # reads at-or-above the floor are bit-identical to pre-expiry
    assert {(r.k, r.v) for r in scd.as_of(20).collect()} == pre20
    assert {(r.k, r.v) for r in scd.as_of(31).collect()} == pre31
    # reads below the floor raise loudly
    with pytest.raises(ValueError, match="retention floor"):
        scd.as_of(19)
    with pytest.raises(ValueError, match="retention floor"):
        scd.read_key_asof([1], 10)
    facts_low = spark.createDataFrame([(1, 19)], "k long, asof long")
    with pytest.raises(ValueError, match="retention floor"):
        scd.temporal_join(facts_low, "asof")
    facts_ok = spark.createDataFrame([(1, 25)], "k long, asof long")
    assert scd.temporal_join(facts_ok, "asof").count() == 1
    # idempotent
    assert scd.expire_history(before=20) == v
    assert _hist_rows(scd, include_tombstones=True) == expect
    # physical reclamation: no delete tombstones remain in the store
    raw = scd.store.read_internal()
    assert raw.filter(F.col("_deleted")).count() == 0


def test_expire_history_floor_gates_redelivery_and_late_inserts(
    spark, tmp_path
):
    """A fully-expired key loses its high-water mark; the FLOOR takes
    over: apply_batch drops sub-floor redeliveries (no resurrection),
    insert_versions refuses sub-floor late events, and at-or-above the
    floor both paths still work."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1 + BATCH2), batch_id=0)
    scd.apply_batch(_ev(spark, [("insert", 5, 9, "z"), ("delete", 15, 9, None)]))
    scd.expire_history(before=20)
    before = _hist_rows(scd, include_tombstones=True)
    # ancient redelivery of the expired key's events: dropped by the
    # floor (the expired rows can no longer supply the hwm)
    scd.apply_batch(_ev(spark, [("insert", 5, 9, "ghost"), ("update", 8, 9, "g2")]))
    assert _hist_rows(scd, include_tombstones=True) == before
    # sub-floor late events are not placeable: their closing evidence
    # was expired
    with pytest.raises(ValueError, match="retention floor"):
        scd.insert_versions(_ev(spark, [("insert", 12, 9, "late")]))
    # at-or-above the floor, retro-insert still works: update@25 splits
    # k=1's kept [20, 30) into [20, 25) + [25, 30)
    scd.insert_versions(_ev(spark, [("update", 25, 1, "a25")]))
    got = _hist_rows(scd)
    assert got[(1, 20)] == (25, "a2") and got[(1, 25)] == (30, "a25")
    # and new above-hwm traffic flows normally
    scd.apply_batch(_ev(spark, [("insert", 50, 9, "reborn")]))
    assert _hist_rows(scd)[(9, 50)] == (None, "reborn")


def test_expire_history_floor_survives_clone(spark, tmp_path):
    """The retention floor is a manifest prop, so a snapshot clone
    carries it — a restored history refuses sub-floor reads instead of
    silently serving partial answers."""
    from qin_cdc_spark.streaming.backup import clone_versioned

    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1 + BATCH2), batch_id=0)
    scd.expire_history(before=20)
    clone_versioned(scd.store, str(tmp_path / "h2"))
    restored = ScdType2Table(
        spark, str(tmp_path / "h2"), keys=["k"], n_buckets=4
    )
    assert restored.history_floor() == 20
    with pytest.raises(ValueError, match="retention floor"):
        restored.as_of(10)
    assert {(r.k, r.v) for r in restored.as_of(31).collect()} == {
        (r.k, r.v) for r in scd.as_of(31).collect()
    }


def test_stream_route_in_stream_history_expiry(spark, tmp_path):
    """CdcStreamRoute(history_expire_lag=N): after every batch the
    route expires history versions that closed below max(applied seq)
    - N — in-stream, TOML-declarable retention for the history store
    (the tombstone-gc-lag discipline applied to the SCD2 state)."""
    from qin_cdc_spark.cdc.envelope import envelope_from_typed
    from qin_cdc_spark.streaming.cdc_stream import CdcStreamRoute

    changes = _ev(spark, BATCH1 + BATCH2)
    env = envelope_from_typed(changes, db="src", table="dim")
    schema = changes.drop("op", "seq").schema
    route = CdcStreamRoute(
        spark, db="src", table="dim", schema=schema, keys=["k"],
        target_path=str(tmp_path / "t"), n_buckets=4, versioned=True,
        history_path=str(tmp_path / "hist"), history_expire_lag=15,
    )
    route.apply_batch(env.filter(F.col("seq") <= 20), batch_id=0)
    assert route.history.history_floor() == 5  # hw 20 - lag 15
    route.apply_batch(env.filter(F.col("seq") > 20), batch_id=1)
    assert route.history.history_floor() == 25  # hw 40 - lag 15
    expect = {
        kk: vv
        for kk, vv in _intervals_py(BATCH1 + BATCH2).items()
        if vv[0] is None or vv[0] > 25
    }
    assert _hist_rows(route.history, include_tombstones=True) == expect
    with pytest.raises(ValueError, match="retention floor"):
        route.history.as_of(20)
    # above the floor the snapshot is intact
    assert {(r.k, r.v) for r in route.history.as_of(35).collect()} == {
        (1, "a3"), (3, "c2")
    }
    # the option requires a history table to expire
    with pytest.raises(ValueError, match="history_path"):
        CdcStreamRoute(
            spark, db="src", table="dim", schema=schema, keys=["k"],
            target_path=str(tmp_path / "t2"), versioned=True,
            history_expire_lag=15,
        )

def test_expire_history_beats_retro_stamped_rows(spark, tmp_path):
    """ADVICE r7 (low): insert_versions re-stamps changed rows at
    smax+1 (max stored _seq over the touched buckets), which can exceed
    a later expire_history floor+1 — the expiry delete must out-seq
    whatever stamped the doomed row, or a retro-shortened interval
    closing at the floor leaks into read_history forever (each rerun
    minting a no-op version).  expire_history now stamps deletes at
    max(floor, max _seq over the doomed rows' buckets) + 1."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    # [10, 30) "a", [30, ·) "a2" — stored rows LWW-stamped at seq 30
    scd.apply_batch(
        _ev(spark, [("insert", 10, 1, "a"), ("update", 30, 1, "a2")]),
        batch_id=0,
    )
    # late update@20 splits the closed interval: changed rows
    # ([10, 20) and the new [20, 30)) merge stamped at _seq 31 > 21
    scd.insert_versions(_ev(spark, [("update", 20, 1, "mid")]))
    assert _hist_rows(scd) == {
        (1, 10): (20, "a"), (1, 20): (30, "mid"), (1, 30): (None, "a2"),
    }
    smax = scd.store.read_internal().agg(F.max("_seq")).first()[0]
    assert smax > 21  # the preconditions of the leak are real
    # floor at 20: [10, 20) closes AT the floor and must be dropped
    # even though its stored _seq (31) exceeds floor+1
    v = scd.expire_history(before=20)
    assert scd.history_floor() == 20
    expect = {(1, 20): (30, "mid"), (1, 30): (None, "a2")}
    assert _hist_rows(scd, include_tombstones=True) == expect
    # idempotent: a rerun finds nothing doomed, mints nothing
    assert scd.expire_history(before=20) == v
    assert _hist_rows(scd, include_tombstones=True) == expect
    # physical reclamation happened despite the elevated delete seq
    raw = scd.store.read_internal()
    assert raw.filter(F.col("_deleted")).count() == 0


def test_read_history_hides_noop_delete_markers_by_default(spark, tmp_path):
    """ADVICE r7 (low): zero-width [d, d) no-op-delete marker rows
    (null values) must not surface to external history consumers —
    read_history/history_of exclude them unless include_markers=True."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    # delete-first key 9 records a [5, 5) marker; key 1 is a real version
    scd.apply_batch(
        _ev(spark, [("delete", 5, 9, None), ("insert", 10, 1, "a")])
    )
    vis = scd.read_history().collect()
    assert {(r.k, r.valid_from) for r in vis} == {(1, 10)}
    assert all(r.v is not None or r.valid_to is None for r in vis)
    full = scd.read_history(include_markers=True).collect()
    assert {(r.k, r.valid_from) for r in full} == {(1, 10), (9, 5)}
    # history_of: same contract, one-bucket read
    assert scd.history_of([9]).count() == 0
    marked = scd.history_of([9], include_markers=True).collect()
    assert [(r.valid_from, r.valid_to, r.v) for r in marked] == [(5, 5, None)]

def test_history_stats_mv_incremental_and_floor(spark, tmp_path):
    """The retention floor's first derived CONSUMER (VERDICT r7 #4):
    per-key version-count/dwell stats maintained from history CDF —
    incremental refreshes equal the from-scratch derivation, expiry
    deletes fold into stats-over-the-retained-range, and the MV
    carries the floor so completeness below it raises."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    mv = scd.history_stats_mv(str(tmp_path / "stats"), n_buckets=4)

    def from_scratch():
        rows = scd.read_history(include_markers=True).collect()
        out = {}
        for r in rows:
            e = out.setdefault(r.k, [0, 0, 0, 0])
            e[0] += 1
            if r.valid_to is not None and r.valid_to > r.valid_from:
                e[1] += 1
                e[2] += r.valid_to - r.valid_from
            if r.valid_to is None:
                e[3] += 1
        return {k: tuple(v) for k, v in out.items()}

    def mv_rows():
        return {
            r.k: (r.n_entries, r.n_closed, r.dwell, r.n_open)
            for r in mv.read().collect()
        }

    # bootstrap refresh, plus a delete-first key exercising the marker
    # grain (counts in n_entries, invisible to n_closed/n_open)
    scd.apply_batch(
        _ev(spark, BATCH1 + [("delete", 5, 9, None)]), batch_id=0
    )
    assert mv.refresh() == scd.store.current_version()
    assert mv_rows() == from_scratch()
    assert mv_rows()[9] == (1, 0, 0, 0)  # the marker: storage-grain only
    # incremental refresh over the second batch's CDF
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    mv.refresh()
    assert mv_rows() == from_scratch()
    # k=1 has versions [10,20),[20,30),[30,·): dwell 10+10, one open
    assert mv_rows()[1] == (3, 2, 20, 1)
    # retro-insert changes a stored close: the CDF update retract/add
    scd.insert_versions(_ev(spark, [("update", 25, 3, "c15")]))
    mv.refresh()
    assert mv_rows() == from_scratch()
    # expiry: stats converge to the RETAINED range and carry the floor
    scd.expire_history(before=20)
    mv.refresh()
    assert mv_rows() == from_scratch()
    assert mv.floor() == 20
    mv.assert_covers(20)
    with pytest.raises(ValueError, match="retention floor"):
        mv.assert_covers(19)
    # a replayed refresh no-ops (batch-id guard in the MV store)
    before = mv_rows()
    mv.refresh()
    assert mv_rows() == before

def test_history_stats_mv_floor_records_before_state(spark, tmp_path):
    """ADVICE r8: the floor prop flips BEFORE the stats state.  The two
    writes aren't atomic, so a crash between them must land on the safe
    side — floor visible, retractions not yet folded ⇒ assert_covers
    OVER-claims incompleteness (raises for a range the stats could
    still answer) and heals on the next refresh.  The old order left a
    window where assert_covers passed for expired ranges."""
    scd = ScdType2Table(spark, str(tmp_path / "h"), keys=["k"], n_buckets=4)
    mv = scd.history_stats_mv(str(tmp_path / "stats"), n_buckets=4)
    scd.apply_batch(_ev(spark, BATCH1), batch_id=0)
    mv.refresh()
    scd.apply_batch(_ev(spark, BATCH2), batch_id=1)
    scd.expire_history(before=20)
    # crash window: the inner state refresh dies after the floor flip
    inner = mv.mv.refresh

    def boom(source):
        raise RuntimeError("crash between floor flip and state flip")

    mv.mv.refresh = boom
    with pytest.raises(RuntimeError, match="crash between"):
        mv.refresh()
    mv.mv.refresh = inner
    # the safe side: the floor is ALREADY visible, so completeness
    # below it raises even though the retractions haven't folded yet
    assert mv.floor() == 20
    with pytest.raises(ValueError, match="retention floor"):
        mv.assert_covers(19)
    # heal: the next refresh folds the expiry retractions
    mv.refresh()
    assert mv.floor() == 20
    mv.assert_covers(20)


def test_temporal_join_salted_hot_key(spark, tmp_path):
    """The CDC skew case (VERDICT r7 #7): one business key is ~50% of
    the facts.  temporal_join_salted must (a) produce exactly the
    plain temporal_join's rows, and (b) spread the hot key across all
    salt buckets in the shuffle (the join_salted_twophase distribution
    contract applied to history enrichment)."""
    from qin_cdc_spark.streaming.scd2 import temporal_join_salted

    hist = spark.createDataFrame(
        [(1, 10, 30, "a"), (1, 30, None, "a2"), (2, 5, None, "b")],
        "k long, valid_from long, valid_to long, v string",
    )
    rows = [(1, 10 + (i % 40)) for i in range(400)]  # hot key
    rows += [(2, 7 + (i % 5)) for i in range(100)]
    rows += [(3, 12)]  # key with no history: left-null enrichment
    facts = spark.createDataFrame(rows, "k long, asof long")

    plain = temporal_join(facts, hist, ["k"], "asof", how="left")
    salted = temporal_join_salted(facts, hist, ["k"], "asof", salt=8)
    key = lambda r: (r.k, r.asof, r.valid_from, r.valid_to, r.v)
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))
    assert salted.count() == facts.count()  # intervals never fan out
    # distribution: the hot key's 400 fact rows occupy ALL 8 salt
    # buckets (same expression the operator stamps)
    n = (
        facts.filter(F.col("k") == 1)
        .select(
            (F.abs(F.xxhash64(*[F.col(c) for c in facts.columns])) % 8)
            .cast("int").alias("s")
        )
        .distinct()
        .count()
    )
    assert n == 8
