"""SCD2 Phase-A close via deletion vectors (close_mode="dv"):
semantically identical to the copy-on-write rewrite, but the close
commit marks rows dead in place and appends closed copies — no data
file of the touched partition is rewritten."""

from __future__ import annotations

import datetime as dt
from dataclasses import replace

from pyspark.sql import Row

from delta_lake_pyspark_scd2_spark.pipeline import SCD2Spec, run_scd2_batch
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

SPEC = SCD2Spec(
    key_cols=("contract",),
    event_ts_col="event_time",
    tracked_cols=("status", "agent"),
    tiebreak_cols=("rid",),
)

BATCH_SCHEMA = (
    "contract string, event_time timestamp, status string, agent string, rid int"
)


def ev(contract, t, status, agent=None, rid=0):
    return Row(
        contract=contract,
        event_time=dt.datetime.fromisoformat(t),
        status=status,
        agent=agent,
        rid=rid,
    )


B1 = [
    ev("A", "2023-01-21T10:00:00", "Draft"),
    ev("B", "2023-01-21T11:00:00", "Draft"),
    ev("C", "2023-02-02T09:00:00", "Active"),
]
B2 = [
    ev("A", "2023-03-05T10:00:00", "Active"),   # closes A's Draft
    ev("B", "2023-03-05T11:00:00", "Draft"),    # no change for B
    ev("D", "2023-03-06T08:00:00", "Draft"),    # new key
]
B3 = [
    ev("A", "2023-04-01T10:00:00", "Closed"),   # closes A again
    ev("C", "2023-04-02T09:00:00", "Ended"),    # closes C
]

CMP = ["contract", "valid_from", "valid_to", "is_current", "status", "agent",
       "closed_by_batch"]


def _run(spark, spec, path):
    for i, b in enumerate((B1, B2, B3), 1):
        run_scd2_batch(
            spark,
            spec,
            spark.createDataFrame(b, BATCH_SCHEMA),
            path,
            batch_id=f"b{i}",
        )
    return VersionedParquetTable(spark, path)


def test_dv_close_matches_rewrite_close(spark, tmp_path):
    t_rw = _run(spark, SPEC, str(tmp_path / "rw"))
    t_dv = _run(spark, replace(SPEC, close_mode="dv"), str(tmp_path / "dv"))
    rw = {tuple(map(str, r)) for r in t_rw.read().select(*CMP).collect()}
    dv = {tuple(map(str, r)) for r in t_dv.read().select(*CMP).collect()}
    assert rw == dv and len(rw) == 7  # A×3, B×1, C×2, D×1


def test_dv_close_rewrites_no_data_files(spark, tmp_path):
    path = str(tmp_path / "t")
    spec = replace(SPEC, close_mode="dv")
    t = _run(spark, spec, path)
    # every SCD2_MERGE_DV commit re-adds files with deletion vectors
    # and adds closed copies and inserts, but never removes (rewrites)
    # a file: each removed path comes back with a deletion vector
    ops = {h["version"]: h["operation"] for h in t.history()}
    close_vs = [v for v, op in ops.items() if op == "SCD2_MERGE_DV"]
    assert close_vs, "no DV merge commits happened"
    for v in close_vs:
        actions = t.commit_actions(v)
        adds = [a["add"] for a in actions if "add" in a]
        dv_paths = {a["path"] for a in adds if a.get("deletionVector")}
        assert dv_paths
        assert {a["remove"]["path"] for a in actions if "remove" in a} <= dv_paths
    assert t.detail()["num_dead_rows"] == 3  # A closed twice, C once
    # single-current invariant holds through DV closes
    cur = t.read().filter("is_current").groupBy("contract").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_dv_close_idempotent_rerun(spark, tmp_path):
    path = str(tmp_path / "t")
    spec = replace(SPEC, close_mode="dv")
    _run(spark, spec, path)
    before = {
        tuple(map(str, r))
        for r in VersionedParquetTable(spark, path).read().select(*CMP).collect()
    }
    # replay the last batch: no new closes, no new inserts
    m = run_scd2_batch(
        spark,
        spec,
        spark.createDataFrame(B3, BATCH_SCHEMA),
        path,
        batch_id="b3_replay",
    )
    assert m["n_closed"] == 0 and m["n_inserted"] == 0
    after = {
        tuple(map(str, r))
        for r in VersionedParquetTable(spark, path).read().select(*CMP).collect()
    }
    assert before == after


def test_dv_close_then_compact_clears(spark, tmp_path):
    path = str(tmp_path / "t")
    spec = replace(SPEC, close_mode="dv")
    t = _run(spark, spec, path)
    t.compact(max_files_per_partition=1000)
    assert t.detail()["num_dead_rows"] == 0
    cur = t.read().filter("is_current").groupBy("contract").count().collect()
    assert all(r["count"] == 1 for r in cur)
    assert t.read().count() == 7
