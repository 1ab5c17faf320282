"""A Delta table whose ``_delta_log`` was written by hand from
PROTOCOL.md (``tests/fixtures/delta_hand``), not by this package — so
both readers are checked against a log they did not write.

The table: ``id long, name string``, partitioned by ``city``; three
commits — v0 creates two files (one under ``city=New York``, the
partition value with a space that ``add.path`` URL-encodes), v1 appends
one with a ``txn`` watermark, v2 removes a file and adds its rewrite
(an UPDATE of id 1). Each commit carries a ``commitInfo`` timestamp.
"""

from __future__ import annotations

import os
import shutil

import pytest

from delta_lake_pyspark_scd2_spark.sources.delta_reader import DeltaTableReader
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "delta_hand")

V0 = {(1, "ann", "New York"), (2, "bob", "New York"), (3, "cid", "Paris")}
V1 = V0 | {(4, "dan", "Paris"), (5, None, "Paris")}
V2 = (V1 - {(1, "ann", "New York")}) | {(1, "ann2", "New York")}
EXPECTED = [V0, V1, V2]
TS_MS = [1_700_000_000_000, 1_700_000_100_000, 1_700_000_200_000]


def _rows(df) -> set:
    return {(r["id"], r["name"], r["city"]) for r in df.collect()}


def test_reader_every_version_history_and_timestamps(spark):
    r = DeltaTableReader(spark, FIXTURE)
    assert DeltaTableReader.is_delta_table(FIXTURE)
    assert r.latest_version() == 2
    for v, want in enumerate(EXPECTED):
        assert _rows(r.read(v)) == want
    snap = r.snapshot()
    assert snap.partition_columns == ["city"]
    assert snap.txns == {"ingest": 7}
    assert [(h["version"], h["operation"], h["timestamp"]) for h in r.history()] == [
        (2, "UPDATE", TS_MS[2]),
        (1, "WRITE", TS_MS[1]),
        (0, "CREATE TABLE AS SELECT", TS_MS[0]),
    ]
    assert r.version_at_timestamp(TS_MS[1] + 1) == 1
    assert _rows(r.read(timestamp_ms=TS_MS[0])) == V0
    with pytest.raises(ValueError):
        r.version_at_timestamp(TS_MS[0] - 1)


def test_vtable_opens_hand_written_table_in_place(spark):
    t = VersionedParquetTable(spark, FIXTURE)
    assert VersionedParquetTable.is_table(FIXTURE)
    assert t.versions() == [0, 1, 2]
    for v, want in enumerate(EXPECTED):
        assert _rows(t.read(v)) == want
    assert t.partition_columns() == ["city"]
    assert t.last_txn_version("ingest") == 7
    h = t.history()
    assert [(x["version"], x["operation"]) for x in h] == [
        (2, "UPDATE"), (1, "WRITE"), (0, "CREATE TABLE AS SELECT"),
    ]
    assert [x["timestamp"] for x in h] == [ts / 1000 for ts in reversed(TS_MS)]
    # timestampAsOf in epoch seconds
    assert _rows(t.read(timestamp=TS_MS[1] / 1000 + 50)) == V1
    assert t.version_at_timestamp(TS_MS[2] / 1000) == 2
    d = t.detail()
    assert d["num_files"] == 3 and d["num_rows"] == 5
    # the URL-encoded path decodes to the on-disk directory with a space
    ny = [f for f in t.snapshot()["files"] if f["partition"] == {"city": "New York"}]
    assert [f["path"] for f in ny] == ["../city=New York/part-00002-d.parquet"]


def test_files_for_prunes_on_partition_values_and_stats(spark):
    t = VersionedParquetTable(spark, FIXTURE)
    assert len(t.files_for([])) == 3
    assert len(t.files_for([("city", "=", "Paris")])) == 2
    assert len(t.files_for([("city", "=", "New York")])) == 1
    assert len(t.files_for([("id", ">=", 4)])) == 1  # stats: max id 5
    assert len(t.files_for([("id", "=", 3)])) == 1
    assert len(t.files_for([("name", "is_null", None)])) == 1
    assert t.files_for([("id", ">", 5)]) == []
    assert len(t.files_for([("id", "<=", 2)], version=0)) == 1
    assert _rows(t.read_where([("city", "=", "Paris"), ("id", ">=", 4)])) == {
        (4, "dan", "Paris"), (5, None, "Paris"),
    }


def test_append_to_a_copy_reads_back(spark, tmp_path):
    path = str(tmp_path / "copy")
    shutil.copytree(FIXTURE, path)
    t = VersionedParquetTable(spark, path)
    new = spark.createDataFrame(
        [(6, "eve", "New York"), (7, "fay", "Oslo")], "id long, name string, city string"
    )
    assert t.append(new, txn=("ingest", 8)) == 3
    want = V2 | {(6, "eve", "New York"), (7, "fay", "Oslo")}
    assert _rows(DeltaTableReader(spark, path).read()) == want
    assert _rows(VersionedParquetTable(spark, path).read()) == want
    assert _rows(DeltaTableReader(spark, path).read(2)) == V2
    assert DeltaTableReader(spark, path).snapshot().txns == {"ingest": 8}
    # the appended files sit under data/, partition values URL-encoded
    adds = [a["add"] for a in t.commit_actions(3) if "add" in a]
    assert sorted(a["partitionValues"]["city"] for a in adds) == ["New York", "Oslo"]
    assert any("city=New%20York/" in a["path"] for a in adds)
    # the fixture itself is untouched
    assert DeltaTableReader(spark, FIXTURE).latest_version() == 2


def test_write_refuses_unimplemented_writer_feature(spark, tmp_path):
    """A table whose protocol needs a writer feature this writer does
    not implement still reads, but every write is refused."""
    path = str(tmp_path / "copy")
    shutil.copytree(FIXTURE, path)
    with open(os.path.join(path, "_delta_log", f"{3:020d}.json"), "w") as fh:
        fh.write(
            '{"commitInfo":{"timestamp":1700000300000,"operation":"UPGRADE PROTOCOL"}}\n'
            '{"protocol":{"minReaderVersion":1,"minWriterVersion":7,'
            '"writerFeatures":["appendOnly","rowTracking"]}}\n'
        )
    t = VersionedParquetTable(spark, path)
    assert _rows(t.read()) == V2
    with pytest.raises(ValueError, match="rowTracking"):
        t.set_property("k", "v")
    assert t.latest_version() == 3
