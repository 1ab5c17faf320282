"""ALTER TABLE RENAME COLUMN via column mapping (Delta column-mapping
analogue): metadata-only commits, physical-name indirection on reads
and writes, data skipping on the renamed column, CDF across renames."""

import json

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _batch(spark, lo, n=10):
    return spark.range(lo, lo + n).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    ).coalesce(1)


def test_rename_is_metadata_only_and_reads_back(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    files_before = {f["path"] for f in t.snapshot()["files"]}
    v = t.rename_column("val", "value")
    # zero data I/O: the commit carries the same file set
    m = t.snapshot()
    assert {f["path"] for f in m["files"]} == files_before
    assert t.column_mapping() == {"value": "val"}
    df = t.read()
    assert df.columns == ["id", "value"]
    assert df.agg(F.sum("value")).collect()[0][0] == sum(2 * i for i in range(10))
    # time travel below the rename still shows the old name
    assert t.read(v - 1).columns == ["id", "val"]


def test_append_after_rename_writes_physical_names(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.rename_column("val", "value")
    t.append(
        spark.range(10, 20).select(
            F.col("id"), (F.col("id") * 2).alias("value")
        ).coalesce(1)
    )
    assert t.read().count() == 20
    assert t.read().agg(F.sum("value")).collect()[0][0] == sum(
        2 * i for i in range(20)
    )
    # every live parquet file carries the PHYSICAL name (val): reading
    # the raw files without the mapping shows no 'value' column
    import os
    raw = spark.read.parquet(os.path.join(path, "data"))
    assert "val" in raw.columns and "value" not in raw.columns


def test_rename_chain_and_double_rename(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.rename_column("val", "v2")
    t.rename_column("v2", "v3")
    assert t.column_mapping() == {"v3": "val"}
    assert t.read().columns == ["id", "v3"]
    assert t.read().agg(F.sum("v3")).collect()[0][0] == 90


def test_data_skipping_uses_physical_stats_after_rename(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0, 10), path)
    t.append(_batch(spark, 1000, 10))
    t.rename_column("val", "value")
    # stats in the manifest are keyed 'val'; filters use 'value'
    pruned = t.files_for([("value", ">=", 2000)])
    assert len(pruned) == 1  # only the high file survives pruning
    got = t.read_where([("value", ">=", 2000)])
    assert got.count() == 10
    assert got.columns == ["id", "value"]


def test_cdf_across_rename_uses_new_names(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.rename_column("val", "value")
    t.upsert(
        spark.createDataFrame([(0, 999)], "id long, value long"), ["id"]
    )
    ch = t.table_changes(["id"], 1)
    assert "value" in ch.columns and "val" not in ch.columns
    pre = ch.filter(F.col("_change_type") == "update_preimage").collect()
    assert len(pre) == 1 and pre[0]["value"] == 0
    post = ch.filter(F.col("_change_type") == "update_postimage").collect()
    assert len(post) == 1 and post[0]["value"] == 999


def test_restore_across_rename_restores_old_naming(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.rename_column("val", "value")
    t.restore(0)
    assert t.read().columns == ["id", "val"]
    assert t.column_mapping() == {}


def test_rename_rejections(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id"), (F.col("id") % 3).alias("part"), (F.col("id") * 2).alias("val")
    )
    t = VersionedParquetTable.create(spark, df, path, partition_cols=["part"])
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("part", "bucket")
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("val", "id")
    t.add_constraint("val_nonneg", "val >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.rename_column("val", "value")
    t.drop_constraint("val_nonneg")
    # Spark SQL identifiers are case-insensitive: a constraint written
    # as VAL still binds to the column, so the guard must catch it too
    t.add_constraint("val_upper", "VAL >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.rename_column("val", "value")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.drop_column("val")
    t.drop_constraint("val_upper")
    t.rename_column("val", "value")
    assert t.read().columns == ["id", "part", "value"]


def test_constraint_added_after_rename_enforces_on_write(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.rename_column("val", "value")
    t.add_constraint("value_nonneg", "value >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.append(
            spark.createDataFrame([(99, -5)], "id long, value long")
        )
    assert t.read().count() == 10


def test_drop_column_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    files_before = {f["path"] for f in t.snapshot()["files"]}
    v = t.drop_column("val")
    assert {f["path"] for f in t.snapshot()["files"]} == files_before
    assert t.read().columns == ["id"]
    assert t.read(v - 1).columns == ["id", "val"]  # time travel intact
    # appends keep working with the narrowed schema
    t.append(spark.range(10, 15).select("id").coalesce(1))
    assert t.read().count() == 15


def test_drop_then_readd_same_name_is_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.drop_column("val")
    readd = spark.range(20, 25).select(
        F.col("id"), (F.col("id") * 7).alias("val")
    )
    with pytest.raises(ValueError, match="live files hold"):
        t.append(readd, merge_schema=True)
    # a DIFFERENT new column is fine
    t.append(
        spark.range(20, 25).select(F.col("id"), (F.col("id") * 7).alias("val2")),
        merge_schema=True,
    )
    assert t.read().columns == ["id", "val2"]


def test_drop_renamed_column_tombstones_physical_name(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.rename_column("val", "value")
    t.drop_column("value")
    assert t.column_mapping() == {}
    # the PHYSICAL name (val) is the tombstone, not the logical one
    with pytest.raises(ValueError, match="live files hold"):
        t.append(
            spark.range(0, 3).select(F.col("id"), F.lit(1).alias("val")),
            merge_schema=True,
        )
    # restore to the pre-drop version revives the column and clears it
    t.restore(1)
    assert t.read().columns == ["id", "value"]
    assert t.read().agg(F.sum("value")).collect()[0][0] == 90


def test_drop_rejections(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 6).select(
        F.col("id"), (F.col("id") % 2).alias("part"), (F.col("id") * 2).alias("val")
    )
    t = VersionedParquetTable.create(spark, df, path, partition_cols=["part"])
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("part")
    t.add_constraint("val_ok", "val >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.drop_column("val")
    t.drop_constraint("val_ok")
    t.drop_column("val")
    with pytest.raises(ValueError, match="no such column"):
        t.drop_column("val")
