"""Data skipping, Z-order layout, and change-data-feed on the
versioned table.

The Delta features the reference leans on implicitly (file statistics
in add-actions, OPTIMIZE ZORDER, table_changes) re-expressed over the
manifest store: footer min/max collected at commit, plan-time file
pruning, Morton-order rewrite, and manifest-diff CDF that reads only
changed files.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import (
    VersionedParquetTable,
    zorder_column,
)


def _ids(spark, n, files):
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") * 2).alias("val"),
            F.concat(F.lit("k"), F.col("id") % 10).alias("tag"),
        )
        .repartitionByRange(files, "id")
    )


def test_footer_stats_recorded_and_carried(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _ids(spark, 1000, 4), path)
    m = t.snapshot(0)
    assert len(m["files"]) == 4
    for f in m["files"]:
        assert f["rows"] > 0
        assert set(f["stats"]) >= {"id", "val", "tag"}
        assert f["stats"]["id"]["min"] <= f["stats"]["id"]["max"]
    # append: the old files' entries must keep their stats
    t.append(_ids(spark, 10, 1))
    m1 = t.snapshot(1)
    assert sum(1 for f in m1["files"] if f["stats"]) == len(m1["files"]) == 5
    # and in the log the append commit lists only the new file (with
    # its stats); the carried-over entries are not re-serialized
    actions = t.commit_actions(1)
    adds = [a["add"] for a in actions if "add" in a]
    assert len(adds) == 1 and not any("remove" in a for a in actions)
    assert json.loads(adds[0]["stats"])["numRecords"] == 10
    assert t.history()[0]["num_files"] == 5


def test_files_pruned_and_result_exact(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _ids(spark, 1000, 8), path)
    # range-partitioned by id -> disjoint per-file ranges -> 1 survivor
    assert len(t.files_for([("id", "=", 500)])) == 1
    assert len(t.files_for([("id", "<", 130)])) <= 2
    assert len(t.files_for([("id", ">=", 990)])) == 1
    assert t.files_for([("id", "=", -5)]) == []
    got = {r.id for r in t.read_where([("id", "<", 130)]).collect()}
    assert got == set(range(130))
    # unknown column / no-stats predicate keeps everything (conservative)
    assert len(t.files_for([("tag", "=", "k3")])) == 8


def test_partition_value_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _ids(spark, 100, 1).withColumn("bucket", (F.col("id") % 4).cast("int"))
    t = VersionedParquetTable.create(
        spark, df, path, partition_cols=["bucket"]
    )
    surv = t.files_for([("bucket", "=", 2)])
    assert surv and all(e.partition["bucket"] == "2" for e in surv)
    rows = t.read_where([("bucket", "=", 2), ("id", ">", 90)]).collect()
    assert {r.id for r in rows} == {94, 98}


def test_null_count_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(100).select(
        "id",
        F.when(F.col("id") < 50, F.col("id")).alias("maybe"),
    ).repartitionByRange(2, "id")
    t = VersionedParquetTable.create(spark, df, path)
    # file [50,100) holds only nulls in `maybe`; file [0,50) holds none
    assert len(t.files_for([("maybe", "is_null", None)])) == 1
    assert len(t.files_for([("maybe", "not_null", None)])) == 1
    assert t.read_where([("maybe", "is_null", None)]).count() == 50


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    # decorrelated dimensions, hash-shuffled into files -> every file
    # spans the full range of both x and y -> zero pruning possible
    df = (
        spark.range(4096)
        .select(
            (F.col("id") % 64).alias("x"),
            F.floor(F.col("id") / 64).alias("y"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    t = VersionedParquetTable.create(spark, df, path)
    pred_x = [("x", "<", 8)]
    pred_y = [("y", ">=", 56)]
    assert len(t.files_for(pred_x)) == 8  # before: nothing prunable
    t.compact(zorder_by=["x", "y"], output_files=16)
    total = len(t.files_for([]))
    px, py = len(t.files_for(pred_x)), len(t.files_for(pred_y))
    assert px < total / 2 and py < total / 2  # both dims prune
    assert {r.payload for r in t.read_where(pred_x).collect()} == {
        i for i in range(4096) if i % 64 < 8
    }
    assert t.read_where(pred_y).count() == 64 * 8


def test_zorder_value_interleaves_bits(spark):
    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (3, 3)], "x long, y long"
    )
    z = zorder_column({"x": (0, 3), "y": (0, 3)}, bits=2)
    got = {(r.x, r.y): r.z for r in df.withColumn("z", z).collect()}
    # width_bucket over [0,3] with 4 buckets maps 0,1,2,3 -> 0,1,2,3
    # (value 3 lands in the overflow bucket, clamped to 3)
    assert got[(0, 0)] == 0
    assert got[(3, 0)] == 0b0101  # x bits at even positions
    assert got[(0, 3)] == 0b1010  # y bits at odd positions
    assert got[(3, 3)] == 0b1111


def test_table_changes_insert_update_delete(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    df0 = spark.createDataFrame(rows, "k int, name string, v int")
    t = VersionedParquetTable.create(spark, df0, path)
    df1 = spark.createDataFrame(
        [(1, "a", 99), (2, "b", 20), (4, "d", 40)], "k int, name string, v int"
    )
    t.overwrite(df1)
    got = {
        (r.k, r._change_type): (r.name, r.v, r._commit_version)
        for r in t.table_changes(["k"], 0, 1).collect()
    }
    assert got == {
        (1, "update_preimage"): ("a", 10, 1),
        (1, "update_postimage"): ("a", 99, 1),
        (3, "delete"): ("c", 30, 1),
        (4, "insert"): ("d", 40, 1),
    }  # k=2 unchanged -> absent


def test_table_changes_reads_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    df0 = spark.createDataFrame(
        [(i, i % 2, i * 10) for i in range(10)], "k int, p int, v int"
    )
    t = VersionedParquetTable.create(spark, df0, path, partition_cols=["p"])
    upd = spark.createDataFrame([(4, 0, 999), (11, 0, 110)], "k int, p int, v int")
    t.upsert(upd, ["k"])
    cdf = t.table_changes(["k"], 0)
    got = {(r.k, r._change_type, r.v) for r in cdf.collect()}
    assert got == {
        (4, "update_preimage", 40),
        (4, "update_postimage", 999),
        (11, "insert", 110),
    }
    # the untouched partition's files appear in neither read side
    assert all("p=0" in p for p in cdf.inputFiles())


def test_zorder_on_string_column_prunes(spark, tmp_path):
    """ZORDER BY (string, numeric): the order-preserving byte-prefix
    surrogate clusters string values, so footer min/max on the string
    column itself become tight and equality reads prune files."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    langs = ["de", "en", "fr", "ja", "zh"]
    rows = [(i, rng.choice(langs), rng.randrange(1000)) for i in range(4000)]
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame(rows, "id long, lang string, n long").repartition(8),
        str(tmp_path / "t"),
    )
    t.compact(zorder_by=["lang", "n"], output_files=10)
    m = t.snapshot()
    assert len(m["files"]) >= 8
    pruned = t.files_for([("lang", "=", "zh")])
    assert len(pruned) < len(m["files"])  # skipping fires on the string col
    got = t.read_where([("lang", "=", "zh")])
    expect = sum(1 for _, l, _n in rows if l == "zh")
    assert got.count() == expect
    # and the numeric dimension still prunes too
    assert len(t.files_for([("n", ">=", 900)])) < len(m["files"])
