"""End-to-end SCD2 pipeline golden scenarios.

Ports the reference's behavioral test suite
(``test/run_all_test.py:21-175``, FIXTURES.md §3) against the
versioned-Parquet pipeline: initial load, change-close-insert,
intra-batch chaining, dedup, idempotent re-run — plus the invariants
the reference only wrote down (notes.md:132-134).
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators import scd2
from delta_lake_pyspark_scd2_spark.pipeline import SCD2Spec, run_scd2_batch
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

SPEC = SCD2Spec(
    key_cols=("contract",),
    event_ts_col="event_time",
    tracked_cols=("status", "agent"),
    tiebreak_cols=("rid",),
)

BATCH_SCHEMA = "contract string, event_time timestamp, status string, agent string, rid int"


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def ev(contract, t, status, agent=None, rid=0):
    return Row(contract=contract, event_time=ts(t), status=status, agent=agent, rid=rid)


@pytest.fixture()
def table_path(tmp_path):
    return str(tmp_path / "scd2_table")


def _read(spark, path):
    return VersionedParquetTable(spark, path).read()


def test_1_initial_load(spark, table_path):
    batch = spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    rows = _read(spark, table_path).collect()
    assert m["n_inserted"] == 1 and len(rows) == 1
    r = rows[0]
    assert r.is_current and str(r.valid_to) == "9999-12-31 00:00:00"
    assert (r.valid_from_year, r.valid_from_month, r.valid_from_day) == (2023, 1, 21)


def test_2_change_closes_and_inserts(spark, table_path):
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-25T09:00:00", "Signed")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    assert m["n_closed"] == 1 and m["n_inserted"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert len(rows) == 2
    old, new = rows
    assert not old.is_current and old.valid_to == ts("2023-01-25T09:00:00")
    assert old.closed_by_batch == "b2"
    assert new.is_current and new.status == "Signed"
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_3_intra_batch_two_events_contiguous(spark, table_path):
    batch = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft", rid=1),
            ev("A", "2023-01-21T15:00:00", "Sent", rid=2),
        ], BATCH_SCHEMA
    )
    m = run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert m["n_inserted"] == 2
    assert rows[0].valid_to == rows[1].valid_from  # run_all_test.py:98
    assert [r.is_current for r in rows] == [False, True]


def test_4_duplicate_latest_wins(spark, table_path):
    batch = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft", rid=1),
            ev("A", "2023-01-21T10:00:00", "Signed", rid=2),  # same ts dup
        ], BATCH_SCHEMA
    )
    m = run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    assert m["n_duplicate_older"] == 1 and m["n_inserted"] == 1
    rows = _read(spark, table_path).collect()
    assert len(rows) == 1 and rows[0].status == "Signed"  # rid tiebreak


def test_5_idempotent_superset_rerun(spark, table_path):
    b1 = spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA)
    run_scd2_batch(spark, SPEC, b1, table_path, batch_id="b1")
    # superset: the old event again + one genuinely new changed event
    b2 = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft"),
            ev("A", "2023-01-26T08:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    m2 = run_scd2_batch(spark, SPEC, b2, table_path, batch_id="b2")
    assert m2["n_inserted"] == 1 and m2["n_closed"] == 1 and m2["n_stale"] == 1
    # exact re-run: nothing moves
    m3 = run_scd2_batch(spark, SPEC, b2, table_path, batch_id="b3")
    assert m3["n_inserted"] == 0 and m3["n_closed"] == 0
    versions = _read(spark, table_path)
    assert versions.count() == 2
    # single-current invariant holds even under superset re-runs
    # (the reference's Phase A/B can double-open a key here)
    assert scd2.check_invariants(versions, "contract").count() == 0


def test_unchanged_event_creates_no_version(spark, table_path):
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-22T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    assert m["n_inserted"] == 0 and m["n_closed"] == 0
    assert _read(spark, table_path).count() == 1


def test_null_transition_is_a_change(spark, table_path):
    # notes.md:124-130: NULL -> value must close/insert (null-safe compare)
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", None)], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-22T10:00:00", "Signed")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    assert m["n_closed"] == 1 and m["n_inserted"] == 1


def test_multi_key_and_partition_pruned_close(spark, table_path):
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-21T10:00:00", "Draft"),
            ev("B", "2023-02-10T10:00:00", "Draft"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, SPEC, b1, table_path, batch_id="b1")
    # change only A: the close rewrite must touch only A's partition
    b2 = spark.createDataFrame([ev("A", "2023-03-01T10:00:00", "Signed")], BATCH_SCHEMA)
    run_scd2_batch(spark, SPEC, b2, table_path, batch_id="b2")
    t = VersionedParquetTable(spark, table_path)
    merge_commit = [h for h in t.history() if h["operation"] == "SCD2_MERGE"][0]
    assert merge_commit["metrics"]["n_closed"] == 1
    assert merge_commit["metrics"]["n_inserted"] == 1
    rows = {(r.contract, r.is_current) for r in t.read().collect()}
    assert (("A", False)) in rows and (("A", True)) in rows and (("B", True)) in rows


def test_vtable_time_travel_and_history(spark, table_path):
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-21T10:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame([ev("A", "2023-01-25T09:00:00", "Signed")], BATCH_SCHEMA),
        table_path, batch_id="b2",
    )
    t = VersionedParquetTable(spark, table_path)
    assert t.read(0).count() == 1      # versionAsOf 0
    assert t.read().count() == 2
    ops = [h["operation"] for h in t.history()]
    assert ops == ["SCD2_MERGE", "CREATE"]  # closes + inserts: one version


REBUILD_SPEC = SCD2Spec(
    key_cols=("contract",),
    event_ts_col="event_time",
    tracked_cols=("status", "agent"),
    tiebreak_cols=("rid",),
    late_policy="rebuild",
)


def test_late_event_splits_closed_interval(spark, table_path):
    # notes.md:100-105: late event lands inside a closed interval
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-10T00:00:00", "Draft"),
            ev("A", "2023-01-20T00:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-15T00:00:00", "Sent")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    # n_rebuilt counts CHANGED rows: the inserted Sent version plus the
    # Draft version whose valid_to moved to the split point
    assert m["n_stale"] == 1 and m["n_rebuilt"] == 2
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [r.status for r in rows] == ["Draft", "Sent", "Signed"]
    assert rows[0].valid_to == rows[1].valid_from  # split point
    assert rows[1].valid_to == rows[2].valid_from
    assert rows[0].closed_by_batch == "b2"  # newly closed by the split
    assert rows[2].is_current
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_late_event_before_first_version(spark, table_path):
    b1 = spark.createDataFrame([ev("A", "2023-01-20T00:00:00", "Signed")], BATCH_SCHEMA)
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-05T00:00:00", "Draft")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    assert m["n_rebuilt"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [r.status for r in rows] == ["Draft", "Signed"]
    assert rows[0].valid_to == rows[1].valid_from
    assert rows[1].is_current and not rows[0].is_current


def test_late_value_identical_collapses(spark, table_path):
    # late event equal to the enclosing version's values: no new version
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-10T00:00:00", "Draft"),
            ev("A", "2023-01-20T00:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-15T00:00:00", "Draft")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    assert m["n_rebuilt"] == 0
    assert _read(spark, table_path).count() == 2


def test_late_same_value_before_first_shifts_valid_from(spark, table_path):
    # regression (hypothesis-found): a late event EARLIER than the first
    # version with the SAME tracked values must shift that version's
    # valid_from back (from-scratch ground truth collapses the pair into
    # one interval starting at the earlier event). Row count does not
    # change, so a count-based rewrite guard would silently skip it.
    b1 = spark.createDataFrame([ev("A", "2023-01-20T00:00:00", "Signed")], BATCH_SCHEMA)
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-05T00:00:00", "Signed")], BATCH_SCHEMA)
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    assert m["n_stale"] == 1 and m["n_rebuilt"] == 1
    rows = _read(spark, table_path).collect()
    assert len(rows) == 1 and rows[0].is_current
    assert rows[0].valid_from.isoformat().startswith("2023-01-05")
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_late_rerun_idempotent(spark, table_path):
    b1 = spark.createDataFrame(
        [
            ev("A", "2023-01-10T00:00:00", "Draft"),
            ev("A", "2023-01-20T00:00:00", "Signed"),
        ], BATCH_SCHEMA
    )
    run_scd2_batch(spark, REBUILD_SPEC, b1, table_path, batch_id="b1")
    late = spark.createDataFrame([ev("A", "2023-01-15T00:00:00", "Sent")], BATCH_SCHEMA)
    run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b2")
    m = run_scd2_batch(spark, REBUILD_SPEC, late, table_path, batch_id="b3")
    assert m["n_rebuilt"] == 0
    assert _read(spark, table_path).count() == 3
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


DELETE_SPEC = SCD2Spec(
    key_cols=("contract",),
    event_ts_col="event_time",
    tracked_cols=("status",),
    tiebreak_cols=("rid",),
    delete_col="deleted",
)

DEL_SCHEMA = BATCH_SCHEMA + ", deleted boolean"


def dev(contract, t, status, deleted=None, rid=0):
    return Row(
        contract=contract, event_time=ts(t), status=status, agent=None,
        rid=rid, deleted=deleted,
    )


def test_soft_delete_tombstone(spark, table_path):
    # notes.md:87-97: delete event closes the live row and opens a
    # tombstone version; a later event re-opens the entity
    run_scd2_batch(
        spark, DELETE_SPEC,
        spark.createDataFrame([dev("A", "2023-01-10T00:00:00", "Draft")], DEL_SCHEMA),
        table_path, batch_id="b1",
    )
    m = run_scd2_batch(
        spark, DELETE_SPEC,
        spark.createDataFrame(
            [dev("A", "2023-01-15T00:00:00", "Draft", deleted=True)], DEL_SCHEMA
        ),
        table_path, batch_id="b2",
    )
    assert m["n_closed"] == 1 and m["n_inserted"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [bool(r.deleted) for r in rows] == [False, True]
    assert rows[1].is_current  # tombstone is the current version
    # re-activation
    m3 = run_scd2_batch(
        spark, DELETE_SPEC,
        spark.createDataFrame([dev("A", "2023-02-01T00:00:00", "Draft")], DEL_SCHEMA),
        table_path, batch_id="b3",
    )
    assert m3["n_closed"] == 1 and m3["n_inserted"] == 1
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert [bool(r.deleted) for r in rows] == [False, True, False]
    assert rows[2].is_current and not rows[2].deleted


@pytest.mark.parametrize("close_mode", ["rewrite", "dv"])
def test_merge_schema_evolution_new_tracked_column(spark, table_path, close_mode):
    # notes.md:107-108: schema evolution inside the merge itself — a
    # batch carries a new column; when tracked, NULL→value change-detects
    spec1 = SCD2Spec(
        key_cols=("contract",), event_ts_col="event_time",
        tracked_cols=("status",), evolve_schema=True, close_mode=close_mode,
    )
    run_scd2_batch(
        spark, spec1,
        spark.createDataFrame([ev("A", "2023-01-10T00:00:00", "Draft")], BATCH_SCHEMA),
        table_path, batch_id="b1",
    )
    spec2 = SCD2Spec(
        key_cols=("contract",), event_ts_col="event_time",
        tracked_cols=("status", "risk_score"), evolve_schema=True,
        close_mode=close_mode,
    )
    b2 = spark.createDataFrame(
        [("A", ts("2023-01-15T00:00:00"), "Draft", None, 0, 0.7)],
        BATCH_SCHEMA + ", risk_score double",
    )
    m = run_scd2_batch(spark, spec2, b2, table_path, batch_id="b2")
    assert m["n_closed"] == 1 and m["n_inserted"] == 1  # NULL -> 0.7 is a change
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    assert rows[0].risk_score is None and rows[1].risk_score == 0.7
    assert rows[1].is_current
    # idempotent re-run with the evolved schema
    m2 = run_scd2_batch(spark, spec2, b2, table_path, batch_id="b3")
    assert m2["n_closed"] == 0 and m2["n_inserted"] == 0


def test_vtable_compaction(spark, table_path):
    # several merges leave multiple files per partition; COMPACT
    # coalesces them without changing data, and time travel still works
    for i, t in enumerate(["2023-01-10T00:00:00", "2023-01-10T06:00:00",
                           "2023-01-10T12:00:00"]):
        run_scd2_batch(
            spark, SPEC,
            spark.createDataFrame([ev("A", t, f"S{i}")], BATCH_SCHEMA),
            table_path, batch_id=f"b{i}",
        )
    t = VersionedParquetTable(spark, table_path)
    before = sorted(t.read().collect(), key=lambda r: r.valid_from)
    v_before = t.latest_version()
    n_files_before = len(t.snapshot()["files"])
    assert n_files_before > 1
    t.compact()
    assert len(t.snapshot()["files"]) == 1  # one partition day => one file
    after = sorted(t.read().collect(), key=lambda r: r.valid_from)
    assert [r.asDict() for r in before] == [r.asDict() for r in after]
    assert t.read(v_before).count() == len(before)  # old snapshot intact


def test_vtable_schema_evolution_append(spark, tmp_path):
    # reference schema_evolution_step1.py:139-178: add nullable column,
    # append with mergeSchema, time-travel across versions
    p = str(tmp_path / "evo")
    df1 = spark.createDataFrame([Row(k="a", v=1)])
    t = VersionedParquetTable.create(spark, df1, p)
    df2 = spark.createDataFrame([Row(k="b", v=2, risk_score=0.5)])
    t.append(df2, merge_schema=True)
    latest = t.read()
    assert set(latest.columns) == {"k", "v", "risk_score"}
    vals = {r.k: r.risk_score for r in latest.collect()}
    assert vals["a"] is None and vals["b"] == 0.5
    assert "risk_score" not in t.read(0).columns  # old snapshot unchanged


def test_vtable_generic_upsert(spark, tmp_path):
    from pyspark.sql import Row

    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    rows = [
        Row(k="A", part=1, v="a1"),
        Row(k="B", part=1, v="b1"),
        Row(k="C", part=2, v="c1"),
    ]
    df = spark.createDataFrame(rows, "k string, part int, v string")
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "u"), partition_cols=["part"]
    )
    v0 = t.latest_version()
    updates = spark.createDataFrame(
        [
            Row(k="A", part=2, v="a2"),  # update that MOVES partition 1 -> 2
            Row(k="D", part=3, v="d1"),  # brand-new key, new partition
        ],
        "k string, part int, v string",
    )
    out = t.upsert(updates, ["k"])
    assert out == {"n_updated": 1, "n_inserted": 1, "n_deleted": 0}
    got = {(r.k, r.part, r.v) for r in t.read().collect()}
    assert got == {("A", 2, "a2"), ("B", 1, "b1"), ("C", 2, "c1"), ("D", 3, "d1")}
    # time travel still sees the pre-upsert state
    old = {(r.k, r.part, r.v) for r in t.read(v0).collect()}
    assert old == {("A", 1, "a1"), ("B", 1, "b1"), ("C", 2, "c1")}
    # idempotent re-apply: same updates, same final state
    t.upsert(updates, ["k"])
    assert {(r.k, r.part, r.v) for r in t.read().collect()} == got


def test_vtable_vacuum_retention(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "vac"), partition_cols=["part"]
    )
    # three more versions: two upserts + a compaction
    t.upsert(
        spark.createDataFrame([Row(k="A", part=1, v="a2")], "k string, part int, v string"),
        ["k"],
    )
    t.upsert(
        spark.createDataFrame([Row(k="C", part=3, v="c1")], "k string, part int, v string"),
        ["k"],
    )
    versions_before = t.versions()
    assert len(versions_before) == 3
    out = t.vacuum(keep_versions=1)
    assert out["n_versions_dropped"] == 2 and out["n_files_deleted"] > 0
    # latest snapshot intact
    got = {(r.k, r.part, r.v) for r in t.read().collect()}
    assert got == {("A", 1, "a2"), ("B", 2, "b1"), ("C", 3, "c1")}
    # old versions are gone (time travel beyond retention fails)
    assert t.versions() == [versions_before[-1]]
    with _pytest.raises(FileNotFoundError):
        t.snapshot(versions_before[0])


def test_late_tombstone_rebuild(spark, table_path):
    # late-arriving DELETE event: the tombstone must split the history
    # through the rebuild path, and the final current row stays the
    # post-deletion reactivation
    spec = SCD2Spec(
        key_cols=("contract",),
        event_ts_col="event_time",
        tracked_cols=("status",),
        tiebreak_cols=("rid",),
        delete_col="deleted",
        late_policy="rebuild",
    )
    b1 = spark.createDataFrame(
        [
            dev("A", "2023-01-10T00:00:00", "Draft"),
            dev("A", "2023-01-20T00:00:00", "Draft"),  # same value: collapses
            dev("A", "2023-01-30T00:00:00", "Signed"),
        ],
        DEL_SCHEMA,
    )
    run_scd2_batch(spark, spec, b1, table_path, batch_id="b1")
    # the delete happened on the 15th but arrives late
    late = spark.createDataFrame(
        [dev("A", "2023-01-15T00:00:00", "Draft", deleted=True)], DEL_SCHEMA
    )
    m = run_scd2_batch(spark, spec, late, table_path, batch_id="b2")
    assert m["n_stale"] == 1 and m["n_rebuilt"] >= 2
    rows = sorted(_read(spark, table_path).collect(), key=lambda r: r.valid_from)
    # ground truth over all events: Draft@10, deleted@15, Draft@20
    # (reactivation IS a change vs the tombstone), Signed@30
    assert [(r.status, bool(r.deleted), r.is_current) for r in rows] == [
        ("Draft", False, False),
        ("Draft", True, False),
        ("Draft", False, False),
        ("Signed", False, True),
    ]
    assert scd2.check_invariants(_read(spark, table_path), "contract").count() == 0


def test_vtable_restore(spark, tmp_path):
    """RESTORE analogue: rollback is a new auditable commit; data files
    carry by reference; restore of a vacuumed version fails cleanly."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "res"), partition_cols=["part"]
    )
    t.upsert(
        spark.createDataFrame([Row(k="A", part=1, v="a2")], "k string, part int, v string"),
        ["k"],
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", "a2"), ("B", "b1")}
    v = t.restore(0)
    # head content equals v0, history preserved (3 commits + RESTORE)
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", "a1"), ("B", "b1")}
    assert t.history()[0]["operation"] == "RESTORE"
    assert t.history()[0]["metrics"] == {"restored_version": 0}
    # the pre-restore head is still time-travelable
    assert {(r.k, r.v) for r in t.read(v - 1).collect()} == {("A", "a2"), ("B", "b1")}
    # retention can orphan a restore target: clean failure, head intact
    t.upsert(
        spark.createDataFrame([Row(k="C", part=3, v="c1")], "k string, part int, v string"),
        ["k"],
    )
    t.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError):
        t.restore(v - 1)
    assert {(r.k, r.v) for r in t.read().collect()} == {
        ("A", "a1"),
        ("B", "b1"),
        ("C", "c1"),
    }


def test_vtable_shallow_clone_is_independent(spark, tmp_path):
    """CLONE analogue: zero data copy at clone time, then fully
    independent histories — writes/vacuum on either side never disturb
    the other."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    src = VersionedParquetTable.create(
        spark, df, str(tmp_path / "src"), partition_cols=["part"]
    )
    dst = src.clone(str(tmp_path / "dst"))
    assert {(r.k, r.v) for r in dst.read().collect()} == {("A", "a1"), ("B", "b1")}
    assert dst.history()[0]["operation"] == "CLONE"
    # diverge both sides
    dst.upsert(
        spark.createDataFrame([Row(k="A", part=1, v="clone")], "k string, part int, v string"),
        ["k"],
    )
    src.upsert(
        spark.createDataFrame([Row(k="B", part=2, v="srcv")], "k string, part int, v string"),
        ["k"],
    )
    assert {(r.k, r.v) for r in dst.read().collect()} == {("A", "clone"), ("B", "b1")}
    assert {(r.k, r.v) for r in src.read().collect()} == {("A", "a1"), ("B", "srcv")}
    # vacuum on the source must not break the clone's head (hardlinks)
    src.vacuum(keep_versions=1)
    assert {(r.k, r.v) for r in dst.read().collect()} == {("A", "clone"), ("B", "b1")}


def test_vtable_detail(spark, tmp_path):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(k="A", part=1, v="a1"), Row(k="B", part=2, v="b1")],
        "k string, part int, v string",
    )
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "det"), partition_cols=["part"]
    )
    d = t.detail()
    assert d["num_rows"] == 2 and d["num_files"] >= 2
    assert d["partition_cols"] == ["part"] and d["size_bytes"] > 0
    assert d["version"] == 0 and d["constraints"] == {}


def test_vtable_check_constraints(spark, tmp_path):
    """CHECK constraint analogue: validated on add, enforced on every
    write path pre-commit (violating write leaves no trace), carried
    through upsert commits, droppable."""
    from pyspark.sql import Row

    schema = "k string, part int, v int"
    df = spark.createDataFrame([Row(k="A", part=1, v=10), Row(k="B", part=2, v=None)], schema)
    t = VersionedParquetTable.create(
        spark, df, str(tmp_path / "chk"), partition_cols=["part"]
    )
    # NULL satisfies the check (SQL standard); add passes, is auditable
    t.add_constraint("v_positive", "v > 0")
    assert t.history()[0]["operation"] == "ADD_CONSTRAINT"
    assert t.detail()["constraints"] == {"v_positive": "v > 0"}
    # adding a constraint existing rows violate fails
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("v_big", "v > 100")
    # violating append aborts pre-commit: same version, no stray files
    v_before = t.latest_version()
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([Row(k="C", part=1, v=-5)], schema))
    assert t.latest_version() == v_before
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", 10), ("B", None)}
    # violating upsert (replace_partitions path) also aborts
    with pytest.raises(ValueError, match="v_positive"):
        t.upsert(spark.createDataFrame([Row(k="A", part=1, v=0)], schema), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", 10), ("B", None)}
    # valid writes pass and keep carrying the constraint
    t.upsert(spark.createDataFrame([Row(k="A", part=1, v=20)], schema), ["k"])
    assert {(r.k, r.v) for r in t.read().collect()} == {("A", 20), ("B", None)}
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([Row(k="D", part=2, v=-1)], schema))
    # drop, then the formerly-violating write succeeds
    t.drop_constraint("v_positive")
    t.append(spark.createDataFrame([Row(k="D", part=2, v=-1)], schema))
    assert ("D", -1) in {(r.k, r.v) for r in t.read().collect()}


def test_vtable_concurrent_append_retries(spark, tmp_path):
    """Optimistic concurrency for blind appends: when another writer
    wins the version race, the append rebases onto the new head and
    commits — both writers' rows survive. A concurrent metadata change
    (new constraint) is a real conflict and raises."""
    from pyspark.sql import Row

    schema = "k string, v int"
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame([Row(k="base", v=0)], schema), str(tmp_path / "cc")
    )

    # Simulate a concurrent writer: the next commit first loses one race
    # because a rival (an empty append) lands at the target version.
    orig_commit = t._write_commit
    rival_done = {"done": False}

    def racing_commit(base, files, op, *args, **kwargs):
        if not rival_done["done"]:
            rival_done["done"] = True
            VersionedParquetTable(spark, t.path).append(
                spark.createDataFrame([], schema)
            )
        return orig_commit(base, files, op, *args, **kwargs)

    t._write_commit = racing_commit
    v = t.append(spark.createDataFrame([Row(k="mine", v=1)], schema))
    t._write_commit = orig_commit
    # the rival took v1; our append must land at v2 with both visible
    assert v == 2
    assert {(r.k, r.v) for r in t.read().collect()} == {("base", 0), ("mine", 1)}
    assert [h["operation"] for h in t.history()[:2]] == ["APPEND", "APPEND"]

    # concurrent CONSTRAINT change during the race → hard conflict
    rival_done["done"] = False

    def constraint_racing_commit(base, files, op, *args, **kwargs):
        if not rival_done["done"]:
            rival_done["done"] = True
            VersionedParquetTable(spark, t.path).add_constraint("v_pos", "v >= 0")
        return orig_commit(base, files, op, *args, **kwargs)

    t._write_commit = constraint_racing_commit
    with pytest.raises(RuntimeError, match="concurrent schema/constraint"):
        t.append(spark.createDataFrame([Row(k="late", v=-3)], schema))
    t._write_commit = orig_commit


def test_vtable_merge_schema_rebase_keeps_winner_columns(spark, tmp_path):
    """Losing an append race to a concurrent schema-changing commit must
    rebase the schema too (new head ∪ ours), not re-commit the stale
    local union — otherwise the winner's new columns silently vanish
    from the table schema and its data reads back as absent."""
    from pyspark.sql import Row

    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame([Row(k="base", v=0)], "k string, v int"),
        str(tmp_path / "msr"),
    )
    orig_commit = t._write_commit
    rival_done = {"done": False}

    def racing_commit(base, files, op, *args, **kwargs):
        if not rival_done["done"]:
            rival_done["done"] = True
            # a REAL rival append through a second handle: adds column w
            t2 = VersionedParquetTable(spark, t.path)
            t2.append(
                spark.createDataFrame([Row(k="rival", w=7)], "k string, w int"),
                merge_schema=True,
            )
        return orig_commit(base, files, op, *args, **kwargs)

    t._write_commit = racing_commit
    t.append(
        spark.createDataFrame([Row(k="mine", c=5)], "k string, c int"),
        merge_schema=True,
    )
    t._write_commit = orig_commit

    got = t.read()
    assert {"k", "v", "w", "c"} <= set(got.columns)
    rows = {r.k: r for r in got.collect()}
    assert rows["rival"].w == 7      # the winner's column survived the rebase
    assert rows["mine"].c == 5
    assert rows["base"].v == 0


def test_vtable_commit_is_atomic_no_clobber(tmp_path, spark):
    """A commit must never overwrite an existing log entry, even without
    the pre-existence check having fired (put_if_absent fails EEXIST
    atomically; a check-then-rename can clobber)."""
    import os as _os

    from pyspark.sql import Row

    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame([Row(k="base", v=0)], "k string, v int"),
        str(tmp_path / "at"),
    )
    v = t.append(spark.createDataFrame([Row(k="next", v=1)], "k string, v int"))
    log = _os.path.join(t.path, "_delta_log")
    commit = _os.path.join(log, f"{v:020d}.json")
    before = open(commit).read()
    with pytest.raises(RuntimeError, match="already committed"):
        t._write_commit(t.snapshot(v - 1), [], "CLOBBER_ATTEMPT")
    assert open(commit).read() == before  # intact
    # no orphaned tmp files left behind
    assert not [f for f in _os.listdir(log) if ".tmp" in f]


def test_skew_preflight_split_matches_plain_merge(spark, tmp_path):
    """Round-8 directive #7: a deliberately hot-keyed batch engages the
    broadcast split path in the Phase-A change-detection joins, and the
    resulting history is row-for-row identical to the plain join's.
    Key HOT emits 600 events (one changing per hour) while 50 other
    keys emit 2 each — the single-hot-key shape AQE's skew-join cannot
    spread."""
    def batch(n_hot=600):
        rows = []
        for i in range(n_hot):
            t = dt.datetime(2023, 3, 1) + dt.timedelta(minutes=i)
            rows.append(ev("HOT", t.isoformat(), f"S{i}", rid=i))
        for k in range(50):
            for j in range(2):
                t = dt.datetime(2023, 3, 2) + dt.timedelta(hours=j)
                rows.append(ev(f"C{k}", t.isoformat(), f"S{j}", rid=j))
        return spark.createDataFrame(rows, BATCH_SCHEMA)

    def seed(path, spec):
        run_scd2_batch(
            spark, spec,
            spark.createDataFrame(
                [ev("HOT", "2023-02-01T00:00:00", "init"),
                 ev("C0", "2023-02-01T00:00:00", "init")],
                BATCH_SCHEMA,
            ),
            path, batch_id="b0",
        )

    spec_split = dataclasses.replace(SPEC, skew_policy="auto", skew_hot_rows=100)
    spec_plain = dataclasses.replace(SPEC, skew_policy="off")

    p_split = str(tmp_path / "t_split")
    p_plain = str(tmp_path / "t_plain")
    seed(p_split, spec_split)
    seed(p_plain, spec_plain)
    m_split = run_scd2_batch(spark, spec_split, batch(), p_split, batch_id="b1")
    m_plain = run_scd2_batch(spark, spec_plain, batch(), p_plain, batch_id="b1")

    # the split path ENGAGED (hot key detected) and the plain path did not
    assert m_split["n_hot_keys"] == 1
    assert m_plain["n_hot_keys"] == 0
    # identical merge accounting...
    for k in ("n_inserted", "n_closed", "n_stale"):
        assert m_split[k] == m_plain[k], k
    # ...and identical golden history, row for row
    cols = ["contract", "valid_from", "valid_to", "is_current", "status",
            "agent", "rid"]
    a = _read(spark, p_split).select(*cols)
    b = _read(spark, p_plain).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert scd2.check_invariants(_read(spark, p_split), "contract").count() == 0


def test_combined_dq_profile_matches_separate_jobs(spark):
    """Round-9 directive #5: the single-job
    ``dq_metrics_with_key_profile`` must reproduce BOTH the flat
    ``dq_metrics`` tallies and ``skew.key_count_profile`` over the
    kept rows exactly — on a batch exercising every discard reason
    (null key, duplicate-older, batch-date mismatch) plus a key whose
    rows are all discarded (must drop out of the profile)."""
    from delta_lake_pyspark_scd2_spark.operators import validation
    from delta_lake_pyspark_scd2_spark.operators.skew import key_count_profile

    rows = [
        ev("A", "2023-03-01T00:00:00", "S0", rid=0),
        ev("A", "2023-03-01T01:00:00", "S1", rid=1),
        ev("A", "2023-03-01T02:00:00", "S2", rid=2),
        ev("B", "2023-03-01T00:00:00", "S0", rid=0),
        # duplicate (key, ts) pair: loser discarded as DUPLICATE_OLDER
        ev("B", "2023-03-01T00:00:00", "S1", rid=-1),
        ev(None, "2023-03-01T00:00:00", "S0", rid=0),  # NULL_KEY
        # key D: every row lands on the wrong batch date -> all
        # discarded, so D must not count toward the kept-key profile
        ev("D", "2023-02-28T00:00:00", "S0", rid=0),
    ]
    batch = spark.createDataFrame(rows, BATCH_SCHEMA).withColumn(
        "batch_date", F.lit("2023-03-01").cast("date")
    )
    tagged = validation.tag_discards(
        batch, ["contract"], "event_time",
        batch_date_col="batch_date", tiebreak_cols=["rid"],
    )
    dq, prof = validation.dq_metrics_with_key_profile(tagged, ["contract"])
    assert dq == validation.dq_metrics(tagged)
    kept, _ = validation.split_valid(tagged)
    assert prof == key_count_profile(kept, ["contract"])
    assert prof == {"max_rows": 3, "avg_rows": 2.0, "n_keys": 2}
    assert dq["n_null_key"] == 1 and dq["n_duplicate_older"] == 1
    assert dq["n_batch_date_mismatch"] == 1 and dq["n_kept"] == 4


def test_skew_preflight_auto_stays_off_on_uniform_batches(spark, table_path):
    """A uniform batch must NOT pay the split (no hot keys detected at
    default thresholds), and the default-spec merge still reports the
    profile ran (n_hot_keys key present, zero)."""
    batch = spark.createDataFrame(
        [ev(f"K{k}", "2023-03-01T00:00:00", "S0") for k in range(40)],
        BATCH_SCHEMA,
    )
    run_scd2_batch(spark, SPEC, batch, table_path, batch_id="b1")
    m = run_scd2_batch(
        spark, SPEC,
        spark.createDataFrame(
            [ev(f"K{k}", "2023-03-02T00:00:00", "S1") for k in range(40)],
            BATCH_SCHEMA,
        ),
        table_path, batch_id="b2",
    )
    assert m["n_hot_keys"] == 0
    assert m["n_closed"] == 40 and m["n_inserted"] == 40


def test_spec_rejects_unknown_enum_values():
    """A typo like skew_policy='Auto' or 'none' must fail at spec
    construction, not silently take the auto-threshold branch
    (round-9 advice)."""
    for field, bad in [
        ("skew_policy", "Auto"),
        ("skew_policy", "none"),
        ("dedup_mode", "keep_first"),
        ("late_policy", "ignore"),
        ("close_mode", "cow"),
    ]:
        with pytest.raises(ValueError, match=field):
            dataclasses.replace(SPEC, **{field: bad})


def _history(spark, path):
    cols = ["contract", "valid_from", "valid_to", "is_current",
            "status", "closed_by_batch"]
    return sorted(
        tuple(None if r[c] is None else str(r[c]) for c in cols)
        for r in _read(spark, path).select(*cols).collect()
    )


# b1 opens A and B; b2 closes and inserts for A and B in the SAME
# partition, replays A's b1 event (idempotency conflict: a no-op) and
# opens a brand-new key C
MERGE_B1 = [
    ev("A", "2023-01-21T10:00:00", "Draft"),
    ev("B", "2023-01-21T11:00:00", "Draft"),
]
MERGE_B2 = [
    ev("A", "2023-01-21T10:00:00", "Draft"),
    ev("A", "2023-01-21T15:00:00", "Active"),
    ev("B", "2023-01-21T16:00:00", "Closed"),
    ev("C", "2023-01-21T17:00:00", "Draft"),
]
MERGE_HISTORY = sorted([
    ("A", "2023-01-21 10:00:00", "2023-01-21 15:00:00", "False", "Draft", "b2"),
    ("A", "2023-01-21 15:00:00", "9999-12-31 00:00:00", "True", "Active", None),
    ("B", "2023-01-21 11:00:00", "2023-01-21 16:00:00", "False", "Draft", "b2"),
    ("B", "2023-01-21 16:00:00", "9999-12-31 00:00:00", "True", "Closed", None),
    ("C", "2023-01-21 17:00:00", "9999-12-31 00:00:00", "True", "Draft", None),
])


@pytest.mark.parametrize("close_mode", ["rewrite", "dv"])
def test_merge_closes_and_inserts_in_one_version(spark, tmp_path, close_mode):
    """Closes and inserts of one batch land in exactly one new table
    version whose metrics carry both counts; a batch with nothing to do
    commits nothing."""
    spec = dataclasses.replace(SPEC, close_mode=close_mode)
    path = str(tmp_path / "t")
    run_scd2_batch(spark, spec, spark.createDataFrame(MERGE_B1, BATCH_SCHEMA),
                   path, batch_id="b1")
    t = VersionedParquetTable(spark, path)
    v0 = t.latest_version()
    m = run_scd2_batch(spark, spec, spark.createDataFrame(MERGE_B2, BATCH_SCHEMA),
                       path, batch_id="b2")
    assert (m["n_closed"], m["n_inserted"], m["n_stale"]) == (2, 3, 1)
    assert t.latest_version() == v0 + 1
    commit = t.history()[0]
    assert commit["metrics"]["n_closed"] == 2
    assert commit["metrics"]["n_inserted"] == 3
    assert _history(spark, path) == MERGE_HISTORY
    # replaying the batch changes nothing and commits nothing
    m = run_scd2_batch(spark, spec, spark.createDataFrame(MERGE_B2, BATCH_SCHEMA),
                       path, batch_id="b2_replay")
    assert (m["n_closed"], m["n_inserted"]) == (0, 0)
    assert t.latest_version() == v0 + 1
    # inserts alone (a new key, no close) are one version too
    m = run_scd2_batch(
        spark, spec,
        spark.createDataFrame([ev("D", "2023-01-22T09:00:00", "Draft")], BATCH_SCHEMA),
        path, batch_id="b3",
    )
    assert (m["n_closed"], m["n_inserted"]) == (0, 1)
    assert t.latest_version() == v0 + 2
    assert len(_history(spark, path)) == len(MERGE_HISTORY) + 1


@pytest.mark.parametrize("close_mode", ["rewrite", "dv"])
def test_failed_merge_commit_leaves_table_untouched(
    spark, tmp_path, monkeypatch, close_mode
):
    """Crash injection: the commit that would make the batch's inserted
    rows visible fails after the close rows are written. No version may
    land, no key may be left without a current row, and re-running the
    batch converges to the clean history."""
    spec = dataclasses.replace(SPEC, close_mode=close_mode)
    path = str(tmp_path / "t")
    run_scd2_batch(spark, spec, spark.createDataFrame(MERGE_B1, BATCH_SCHEMA),
                   path, batch_id="b1")
    t = VersionedParquetTable(spark, path)
    v0 = t.latest_version()
    real_commit = VersionedParquetTable._write_commit

    def crash_on_insert_commit(self, base, files, op, *a, **kw):
        metrics = a[0] if a else kw.get("metrics")
        if isinstance(metrics, dict) and "n_inserted" in metrics:
            raise OSError("injected crash before the commit")
        return real_commit(self, base, files, op, *a, **kw)

    monkeypatch.setattr(VersionedParquetTable, "_write_commit", crash_on_insert_commit)
    b2 = spark.createDataFrame(MERGE_B2, BATCH_SCHEMA)
    with pytest.raises(OSError, match="injected crash"):
        run_scd2_batch(spark, spec, b2, path, batch_id="b2")
    monkeypatch.undo()
    assert t.latest_version() == v0
    assert scd2.check_invariants(_read(spark, path), "contract").count() == 0
    run_scd2_batch(spark, spec, b2, path, batch_id="b2")
    assert _history(spark, path) == MERGE_HISTORY


def test_failed_rebuild_commit_leaves_merge_version(spark, tmp_path, monkeypatch):
    """Crash injection at the merge → rebuild boundary
    (``late_policy="rebuild"``): the late-event rebuild commit fails
    after the batch's merge committed. The table must stay at the
    SCD2_MERGE version with no invariant violated (every key still has
    its current row), and a re-run must converge to the history of an
    uninterrupted run."""
    b1 = [ev("A", "2023-01-10T00:00:00", "Draft"), ev("A", "2023-01-20T00:00:00", "Signed")]
    # a fresh key (merge commit) plus a late event inside A's closed
    # interval (rebuild commit)
    b2 = [ev("B", "2023-01-21T00:00:00", "Draft"), ev("A", "2023-01-15T00:00:00", "Sent")]
    clean = str(tmp_path / "clean")
    for bid, rows in (("b1", b1), ("b2", b2)):
        run_scd2_batch(spark, REBUILD_SPEC, spark.createDataFrame(rows, BATCH_SCHEMA),
                       clean, batch_id=bid)
    assert [h["operation"] for h in VersionedParquetTable(spark, clean).history()[:2]] == [
        "SCD2_REBUILD", "SCD2_MERGE",
    ]

    path = str(tmp_path / "t")
    run_scd2_batch(spark, REBUILD_SPEC, spark.createDataFrame(b1, BATCH_SCHEMA),
                   path, batch_id="b1")
    t = VersionedParquetTable(spark, path)
    v0 = t.latest_version()
    real_commit = VersionedParquetTable._write_commit

    def crash_on_rebuild_commit(self, base, files, op, *a, **kw):
        if op == "SCD2_REBUILD":
            raise OSError("injected crash before the rebuild commit")
        return real_commit(self, base, files, op, *a, **kw)

    monkeypatch.setattr(VersionedParquetTable, "_write_commit", crash_on_rebuild_commit)
    with pytest.raises(OSError, match="injected crash"):
        run_scd2_batch(spark, REBUILD_SPEC, spark.createDataFrame(b2, BATCH_SCHEMA),
                       path, batch_id="b2")
    monkeypatch.undo()
    assert t.latest_version() == v0 + 1
    assert t.history()[0]["operation"] == "SCD2_MERGE"
    assert scd2.check_invariants(_read(spark, path), "contract").count() == 0
    run_scd2_batch(spark, REBUILD_SPEC, spark.createDataFrame(b2, BATCH_SCHEMA),
                   path, batch_id="b2")
    assert _history(spark, path) == _history(spark, clean)
    assert scd2.check_invariants(_read(spark, path), "contract").count() == 0
