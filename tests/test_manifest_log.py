"""The transaction log (``_delta_log``): commits are O(touched files)
sets of Delta actions, periodic parquet checkpoints bound snapshot
replay, and vacuum keeps the log reconstructible. This is Delta's
checkpoint + incremental-log split that keeps commit metadata from
becoming the bottleneck at millions of files (vtable.py module
docstring)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.delta_reader import DeltaTableReader
from delta_lake_pyspark_scd2_spark.sources.vtable import (
    CHECKPOINT_INTERVAL,
    MANIFEST_DIR,
    VersionedParquetTable,
)


def _commit_file(path: str, version: int) -> str:
    return os.path.join(path, MANIFEST_DIR, f"{version:020d}.json")


def _checkpoints(path: str) -> list[int]:
    return sorted(
        int(f.split(".")[0])
        for f in os.listdir(os.path.join(path, MANIFEST_DIR))
        if f.endswith(".checkpoint.parquet")
    )


def _batch(spark, lo, n=10):
    return spark.range(lo, lo + n).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    ).coalesce(1)


def test_commit_size_flat_as_table_grows(spark, tmp_path):
    """25 single-file appends: every commit lists exactly one added
    file regardless of how many live files the table holds — commit
    metadata cost ∝ operation, not table size."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    sizes = []
    for i in range(1, 26):
        t.append(_batch(spark, i * 10))
        actions = t.commit_actions(i)
        assert sum("add" in a for a in actions) == 1
        assert not any("remove" in a for a in actions)
        assert t.history()[0]["num_files"] == i + 1
        sizes.append(os.path.getsize(_commit_file(path, i)))
    # flat: the 25th commit is no bigger than ~2x the 1st (timestamp
    # noise), while a full-list commit would have grown ~25x
    assert sizes[-1] < 2 * sizes[0]
    # checkpoints exist exactly at the interval versions
    assert _checkpoints(path) == [
        v for v in range(1, 26) if v % CHECKPOINT_INTERVAL == 0
    ]
    # reconstruction is correct at every version (time travel intact)
    for v in (0, 1, CHECKPOINT_INTERVAL - 1, CHECKPOINT_INTERVAL,
              CHECKPOINT_INTERVAL + 3, 25):
        assert t.read(v).count() == (v + 1) * 10
    # a fresh instance (cold cache) agrees
    t2 = VersionedParquetTable(spark, path)
    assert t2.read().count() == 260
    assert t2.read(7).count() == 80


def test_replace_partitions_commit_lists_only_touched(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("p"), F.col("id").alias("val")
    )
    t = VersionedParquetTable.create(spark, df, path, partition_cols=["p"])
    repl = spark.range(10).select(
        F.col("id"), F.lit(1).alias("p"), (F.col("id") + 1000).alias("val")
    )
    t.replace_partitions(repl, [{"p": "1"}])
    actions = t.commit_actions(1)
    # only partition p=1's files churn; p=0,2,3 are carried silently
    assert all(a["add"]["partitionValues"] == {"p": "1"} for a in actions if "add" in a)
    assert all("p=1/" in a["remove"]["path"] for a in actions if "remove" in a)
    assert t.read().filter("p = 1").agg(F.min("val")).first()[0] == 1000
    assert t.read().filter("p != 1").count() == 75


def test_vacuum_checkpoints_oldest_kept_version(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    for i in range(1, 6):
        t.append(_batch(spark, i * 10))
    # drop v0-v3 (all below any checkpoint); v4 must stay readable
    out = t.vacuum(keep_versions=2)
    assert out["oldest_kept_version"] == 4
    t2 = VersionedParquetTable(spark, path)  # cold cache
    assert t2.read(4).count() == 50
    assert t2.read(5).count() == 60
    with pytest.raises(FileNotFoundError):
        t2.read(0)
    # dropped versions' data files are gone, kept ones remain
    assert t2.detail()["num_files"] == 6


def test_restore_and_history_over_delta_log(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    for i in range(1, 13):  # crosses a checkpoint boundary
        t.append(_batch(spark, i * 10))
    v = t.restore(3)
    assert v == 13
    assert t.read().count() == 40
    h = t.history()
    assert h[0]["operation"] == "RESTORE" and h[0]["num_files"] == 4


def test_parquet_checkpoint_roundtrip(spark, tmp_path):
    """Checkpoints are Delta parquet checkpoints (columnar — no giant
    JSON parse at millions of files) with a ``_last_checkpoint``
    pointer; a cold handle, and the independent reader, reconstruct
    through them once the JSON commits below are gone."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    for i in range(1, CHECKPOINT_INTERVAL + 2):
        t.append(_batch(spark, i * 10), txn=("app", i))
    assert _checkpoints(path) == [CHECKPOINT_INTERVAL]
    with open(os.path.join(path, MANIFEST_DIR, "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == CHECKPOINT_INTERVAL
    # log cleanup: the commits the checkpoint covers are redundant
    for v in range(CHECKPOINT_INTERVAL):
        os.remove(_commit_file(path, v))
    t2 = VersionedParquetTable(spark, path)
    assert t2.read(CHECKPOINT_INTERVAL).count() == 10 * (CHECKPOINT_INTERVAL + 1)
    assert t2.read().count() == 10 * (CHECKPOINT_INTERVAL + 2)
    assert t2.last_txn_version("app") == CHECKPOINT_INTERVAL + 1
    def files(tt):
        return sorted(tt.snapshot(CHECKPOINT_INTERVAL)["files"], key=lambda f: f["path"])

    assert files(t2) == files(t)
    assert DeltaTableReader(spark, path).read().count() == 10 * (CHECKPOINT_INTERVAL + 2)
    with pytest.raises(FileNotFoundError):
        t2.read(CHECKPOINT_INTERVAL - 1)


def test_partitioned_append_writes_one_file_per_partition(spark, tmp_path):
    """A many-task append into a partitioned table lands ~one file per
    touched partition, not tasks x partitions: _write_files rebalances
    on the partition columns ahead of the partitionBy write (the
    small-file hazard the reference's partitioning_strategies.md:27
    flags). Source df is forced to 8 upstream partitions; without the
    rebalance each of the 8 tasks would emit a file into each of the 4
    value-partitions (up to 32 files)."""
    path = str(tmp_path / "t")
    base = (
        spark.range(0, 4000)
        .repartition(8)
        .select(F.col("id"), (F.col("id") % 4).cast("string").alias("p"))
    )
    t = VersionedParquetTable.create(spark, base, path, partition_cols=["p"])
    adds = [a["add"]["path"] for a in t.commit_actions(0) if "add" in a]
    assert len(adds) == 4, adds
    t.append(base)
    assert sum("add" in a for a in t.commit_actions(1)) == 4
    assert t.read().count() == 8000
