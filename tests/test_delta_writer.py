"""Delta write side: the tables VersionedParquetTable writes are Delta
tables, and must replay correctly through the independent log reader
(``DeltaTableReader``) — data, time travel, checkpoints, log cleanup,
deletion vectors and the protocol action."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.delta_reader import DeltaTableReader
from delta_lake_pyspark_scd2_spark.sources.tables import load_table
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

SF = "/root/testdata/sf0.001"


def test_create_roundtrip_partitioned(spark, tmp_path):
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = str(tmp_path / "d")
    t = VersionedParquetTable.create(
        spark, orders, path, partition_cols=["o_orderpriority"]
    )
    assert t.latest_version() == 0
    r = DeltaTableReader(spark, path)
    back = r.read()
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)
    # value-exact: anti-joins empty both ways
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0
    # partition pruning works through the log's partitionValues
    one = back.filter(F.col("o_orderpriority") == "1-URGENT")
    assert one.count() == orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


def test_writer_works_through_file_scheme_uri(spark, tmp_path):
    """A ``file:``-scheme table path behaves identically to a raw local
    one: commits, the commit publish, checkpoints and log cleanup."""
    path = "file:" + str(tmp_path / "d")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df2 = spark.createDataFrame([(3, "c")], "id long, s string")
    t = VersionedParquetTable.create(spark, df1, path, partition_cols=["s"])
    assert t.append(df2) == 1
    r = DeltaTableReader(spark, path)
    assert r.read().count() == 3
    assert t.vacuum(keep_versions=1)["n_versions_dropped"] == 1
    assert DeltaTableReader(spark, path).read().count() == 3
    assert VersionedParquetTable(spark, path).read().count() == 3


def test_append_and_overwrite_time_travel(spark, tmp_path):
    path = str(tmp_path / "d")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df2 = spark.createDataFrame([(3, "c")], "id long, s string")
    t = VersionedParquetTable.create(spark, df1, path)
    assert t.append(df2) == 1
    r = DeltaTableReader(spark, path)
    assert r.read().count() == 3
    assert r.read(version=0).count() == 2
    df3 = spark.createDataFrame([(9, "z")], "id long, s string")
    assert t.overwrite(df3) == 2
    assert [x["id"] for x in r.read().collect()] == [9]
    assert r.read(version=1).count() == 3  # history intact


def test_create_refuses_existing_table(spark, tmp_path):
    path = str(tmp_path / "d")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    VersionedParquetTable.create(spark, df, path)
    with pytest.raises(FileExistsError):
        VersionedParquetTable.create(spark, df, path)


def test_commit_stats_carry_numrecords(spark, tmp_path):
    path = str(tmp_path / "d")
    df = spark.createDataFrame([(i, "x") for i in range(10)], "id long, s string")
    VersionedParquetTable.create(spark, df.coalesce(2), path)
    commit = os.path.join(path, "_delta_log", f"{0:020d}.json")
    adds = [
        json.loads(line)["add"]
        for line in open(commit)
        if '"add"' in line
    ]
    assert adds
    stats = [json.loads(a["stats"]) for a in adds]
    assert sum(s["numRecords"] for s in stats) == 10
    assert min(s["minValues"]["id"] for s in stats) == 0
    assert max(s["maxValues"]["id"] for s in stats) == 9
    assert all(s["nullCount"]["s"] == 0 for s in stats)


def test_export_vtable_snapshot(spark, tmp_path):
    """No export step: a table's latest snapshot, after a DELETE, is
    what a Delta reader sees at the table's own path."""
    docs = load_table(spark, SF, "documents")
    t = VersionedParquetTable.create(
        spark, docs, str(tmp_path / "vt")
    )
    # mutate: delete some rows so the snapshot is non-trivial
    t.delete([("doc_id", "<", 5)])
    back = DeltaTableReader(spark, t.path).read()
    want = t.read()
    assert back.count() == want.count()
    assert back.exceptAll(want).count() == 0


def test_roundtrip_reference_shaped_table(spark, tmp_path):
    # write -> read -> write again -> read: stability under our own
    # reader/writer pair (catches asymmetric encodings)
    li = load_table(spark, SF, "lineitem").limit(200)
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    VersionedParquetTable.create(spark, li, p1, partition_cols=["l_returnflag"])
    mid = DeltaTableReader(spark, p1).read()
    VersionedParquetTable.create(
        spark, mid.select(*li.columns), p2, partition_cols=["l_returnflag"]
    )
    final = DeltaTableReader(spark, p2).read()
    assert final.count() == 200
    assert final.select(*li.columns).exceptAll(li).count() == 0


def test_checkpoint_and_log_cleanup(spark, tmp_path):
    path = str(tmp_path / "d")
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame([(1, "a")], "id long, s string"), path
    )
    for i in range(2, 13):
        t.append(spark.createDataFrame([(i, "x")], "id long, s string"))
    # v10 was checkpointed; vacuum drops the commits below v11
    assert t.vacuum(keep_versions=1)["n_versions_dropped"] == 11
    log = os.listdir(os.path.join(path, "_delta_log"))
    assert f"{0:020d}.json" not in log
    r = DeltaTableReader(spark, path)
    assert r.read().count() == 12  # replay = checkpoint + tail
    # a further append after cleanup still reads correctly
    t.append(spark.createDataFrame([(99, "z")], "id long, s string"))
    assert DeltaTableReader(spark, path).read().count() == 13
    assert VersionedParquetTable(spark, path).read().count() == 13


def test_export_preserve_dvs_roundtrip(spark, tmp_path):
    """Deletion vectors are native Delta DVs (roaring bitmaps in
    ``deletion_vector_<uuid>.bin``), read back identically by the
    independent reader; the protocol declares ``deletionVectors`` iff
    a live file carries one."""
    p = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("part"),
        (F.col("id") * 2).alias("v"),
    )
    t = VersionedParquetTable.create(spark, df, p, partition_cols=["part"])
    protocol = next(a["protocol"] for a in t.commit_actions(0) if "protocol" in a)
    assert protocol["minReaderVersion"] == 1
    assert "deletionVectors" not in protocol["writerFeatures"]
    full = t.read_partitions(t.partitions_of(), with_position=True)
    t.remove_rows(full.filter(F.col("k") % 4 == 0).select("__file", "__pos"))
    assert any(f.startswith("deletion_vector_") for f in os.listdir(p))

    got = DeltaTableReader(spark, p).read()
    want = sorted(tuple(r) for r in t.read().select("k", "part", "v").collect())
    assert len(want) == 15
    assert sorted(tuple(r) for r in got.select("k", "part", "v").collect()) == want
    protocol = next(a["protocol"] for a in t.commit_actions(1) if "protocol" in a)
    assert protocol["minReaderVersion"] == 3
    assert "deletionVectors" in protocol["readerFeatures"]

    # compaction materializes the deletes: the feature is gone again
    t.compact(max_files_per_partition=1000)
    protocol = next(a["protocol"] for a in t.commit_actions(2) if "protocol" in a)
    assert protocol["minReaderVersion"] == 1
    assert DeltaTableReader(spark, p).read().count() == 15
