"""Delta Lake interop: read REAL Delta tables (the reference's own
data) without delta-spark, by replaying the public transaction-log
protocol.

The reference's landing tables are genuine Delta-3.1.0 output
(WRITE + three MERGEs). Every ``add`` action carries ``numRecords``
stats, so the log itself states the expected row count of every
version — the assertions below are protocol-level oracles, not
snapshot-blessed numbers.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from delta_lake_pyspark_scd2_spark.sources.delta_reader import DeltaTableReader

REF_HEADER = "/root/reference/data/landing_test/header"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(os.path.join(REF_HEADER, "_delta_log")),
    reason="reference Delta table not present",
)


def _expected_rows(path: str, version: int) -> int:
    """Row count implied by the log itself: sum of numRecords over the
    live file set after replaying adds/removes up to `version`."""
    live: dict[str, int] = {}
    for v in range(version + 1):
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    live[a["add"]["path"]] = json.loads(a["add"]["stats"])["numRecords"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
    return sum(live.values())


@needs_ref
def test_reference_delta_table_all_versions(spark):
    t = DeltaTableReader(spark, REF_HEADER)
    assert DeltaTableReader.is_delta_table(REF_HEADER)
    assert t.latest_version() == 3
    for v in range(4):
        df = t.read(v)
        assert df.count() == _expected_rows(REF_HEADER, v)
    # the log's own metrics agree (WRITE then 3 MERGE numOutputRows)
    assert _expected_rows(REF_HEADER, 0) == 4289
    assert _expected_rows(REF_HEADER, 3) == 12691


@needs_ref
def test_reference_delta_schema_and_partitions(spark):
    t = DeltaTableReader(spark, REF_HEADER)
    snap = t.snapshot()
    assert snap.partition_columns == [
        "valid_from_year",
        "valid_from_month",
        "valid_from_day",
    ]
    df = t.read()
    # partition columns come back TYPED per the table schema (integer),
    # not as directory-name strings
    types = dict(df.dtypes)
    assert types["valid_from_year"] == "int"
    assert types["net_amount"].startswith("decimal")
    # column order matches the declared schema
    assert df.columns == [f.name for f in snap.schema.fields]
    # partition pruning sanity: one day's rows only
    jan21 = df.filter(
        (df.valid_from_year == 2023) & (df.valid_from_month == 1) & (df.valid_from_day == 21)
    )
    assert 0 < jan21.count() < df.count()


@needs_ref
def test_reference_delta_history(spark):
    t = DeltaTableReader(spark, REF_HEADER)
    h = t.history()
    assert [e["version"] for e in h] == [3, 2, 1, 0]
    assert [e["operation"] for e in h] == ["MERGE", "MERGE", "MERGE", "WRITE"]


# -- synthetic tables: checkpoint replay + unsupported-feature guards --------


def _write_commit(log_dir: str, version: int, actions: list[dict]) -> None:
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _schema_string() -> str:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )


def _make_table(tmp_path) -> str:
    root = str(tmp_path / "dt")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    for i, name in enumerate(["f1.parquet", "f2.parquet", "f3.parquet"]):
        pd.DataFrame({"k": [i * 10, i * 10 + 1], "v": [name, name]}).to_parquet(
            os.path.join(root, name)
        )
    meta = {
        "metaData": {
            "id": "t",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(),
            "partitionColumns": [],
            "configuration": {},
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    _write_commit(log, 0, [proto, meta, {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0, "dataChange": True}}])
    _write_commit(log, 1, [{"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1, "modificationTime": 0, "dataChange": True}}])
    return root


def test_synthetic_checkpoint_replay(spark, tmp_path):
    """A parquet checkpoint + JSON tail reconstructs the snapshot even
    after older commit JSONs are gone (Delta's log-cleanup reality for
    any long-lived table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _make_table(tmp_path)
    log = os.path.join(root, "_delta_log")

    # checkpoint at v1 = compacted state {protocol, metaData, f1, f2},
    # written with Delta's real checkpoint column types: one action per
    # row, MAP columns for partitionValues/configuration/options.
    smap = pa.map_(pa.string(), pa.string())
    cp_schema = pa.schema(
        [
            ("protocol", pa.struct([("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())])),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string()), ("options", smap)])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", smap),
                    ]
                ),
            ),
            ("add", pa.struct([("path", pa.string()), ("partitionValues", smap), ("dataChange", pa.bool_())])),
            ("remove", pa.struct([("path", pa.string()), ("dataChange", pa.bool_())])),
        ]
    )
    cp_rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "t",
                "format": {"provider": "parquet", "options": []},
                "schemaString": _schema_string(),
                "partitionColumns": [],
                "configuration": [],
            }
        },
        {"add": {"path": "f1.parquet", "partitionValues": [], "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": [], "dataChange": True}},
    ]
    pq.write_table(
        pa.Table.from_pylist(cp_rows, schema=cp_schema),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": len(cp_rows)}, fh)
    # v2: swap f1 out for f3
    _write_commit(
        log,
        2,
        [
            {"remove": {"path": "f1.parquet", "dataChange": True}},
            {"add": {"path": "f3.parquet", "partitionValues": {}, "dataChange": True}},
        ],
    )
    # simulate log cleanup: pre-checkpoint JSONs deleted
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    t = DeltaTableReader(spark, root)
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(10, "f2.parquet"), (11, "f2.parquet"), (20, "f3.parquet"), (21, "f3.parquet")}
    # time travel to a pre-checkpoint version needs the missing commits
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(0)


def test_deletion_vectors_read_exactly(spark, tmp_path):
    """Protocol-faithful DV fixtures (Z85 uuid path + roaring-bitmap
    sidecar, built with delta_dv's own serializer of the public
    formats) read merge-on-read state exactly: dead positions vanish,
    survivors keep their values."""
    import struct
    import uuid as _uuid
    import zlib

    from delta_lake_pyspark_scd2_spark.sources.delta_dv import (
        serialize_bitmap_array,
        z85_encode,
    )

    root = _make_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    # storageType "u": file deletion_vector_<uuid>.bin under the root
    u = _uuid.uuid4()
    data = serialize_bitmap_array([0])  # kill f1.parquet's row 0 (k=0)
    blob = b"\x01" + struct.pack(">I", len(data)) + data + struct.pack(
        ">I", zlib.crc32(data) & 0xFFFFFFFF
    )
    with open(os.path.join(root, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(blob)
    _write_commit(
        log,
        2,
        [
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "u",
                        "pathOrInlineDv": z85_encode(u.bytes),
                        "offset": 1,
                        "sizeInBytes": len(data),
                        "cardinality": 1,
                    },
                }
            }
        ],
    )
    t = DeltaTableReader(spark, root)
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, "f1.parquet"), (10, "f2.parquet"), (11, "f2.parquet")}
    # time travel below the DV commit resurrects the row
    assert {(r.k) for r in t.read(1).collect()} == {0, 1, 10, 11}
    # inline DV ("i" storageType) on the other file, in the same commit
    inline = serialize_bitmap_array([1])
    _write_commit(
        log,
        3,
        [
            {
                "add": {
                    "path": "f2.parquet",
                    "partitionValues": {},
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "i",
                        "pathOrInlineDv": z85_encode(
                            inline + b"\x00" * (-len(inline) % 4)
                        ),
                        "sizeInBytes": len(inline),
                        "cardinality": 1,
                    },
                }
            }
        ],
    )
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, "f1.parquet"), (10, "f2.parquet")}


def test_column_mapping_name_mode_reads(spark, tmp_path):
    """Name-mode column mapping: files hold PHYSICAL names, the log's
    schemaString maps them to logical ones — a renamed-column table
    reads under its current logical names."""
    root = str(tmp_path / "dt")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    # physical names col-xxx, logical names k / v_renamed
    pd.DataFrame({"col-aaa": [1, 2], "col-bbb": ["x", "y"]}).to_parquet(
        os.path.join(root, "f1.parquet")
    )
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa",
                    },
                },
                {
                    "name": "v_renamed",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb",
                    },
                },
            ],
        }
    )
    _write_commit(
        log,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 2,
                    "minWriterVersion": 5,
                }
            },
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema,
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "name"},
                }
            },
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "dataChange": True,
                }
            },
        ],
    )
    df = DeltaTableReader(spark, root).read()
    assert df.columns == ["k", "v_renamed"]
    assert {(r.k, r.v_renamed) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_column_mapping_id_mode_reads_by_field_id(spark, tmp_path):
    """id-mode column mapping: parquet columns are matched by the
    field id written in the file footer (Spark's native
    fieldId.read resolution), NOT by name — a file whose physical
    names disagree with the log's physicalName still reads correctly
    as long as the ids line up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "dt")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    # footer names are arbitrary ('whatever-1/2'); only field ids count.
    # Order is also swapped vs the logical schema to prove id matching.
    tbl = pa.table(
        {
            "whatever-2": pa.array(["x", "y"], pa.string()),
            "whatever-1": pa.array([1, 2], pa.int64()),
        },
        schema=pa.schema(
            [
                pa.field(
                    "whatever-2", pa.string(),
                    metadata={b"PARQUET:field_id": b"2"},
                ),
                pa.field(
                    "whatever-1", pa.int64(),
                    metadata={b"PARQUET:field_id": b"1"},
                ),
            ]
        ),
    )
    pq.write_table(tbl, os.path.join(root, "f1.parquet"))
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa",
                    },
                },
                {
                    "name": "v",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb",
                    },
                },
            ],
        }
    )
    _write_commit(
        log,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema,
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "id"},
                }
            },
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "dataChange": True,
                }
            },
        ],
    )
    df = DeltaTableReader(spark, root).read()
    assert df.columns == ["k", "v"]
    assert {(r.k, r.v) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_column_mapping_unknown_mode_rejected(spark, tmp_path):
    root = _make_table(tmp_path)
    log = os.path.join(root, "_delta_log")
    _write_commit(
        log,
        2,
        [
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _schema_string(),
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "bogus"},
                }
            }
        ],
    )
    with pytest.raises(NotImplementedError, match="column mapping"):
        DeltaTableReader(spark, root).read()


def test_reader_works_through_file_scheme_uri(spark, tmp_path):
    """Directive: the interop layer must work via the Hadoop FS shim
    with a ``file:``-scheme path, not just raw local paths."""
    root = _make_table(tmp_path)
    t = DeltaTableReader(spark, "file:" + root)
    assert t.latest_version() == 1
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {
        (0, "f1.parquet"),
        (1, "f1.parquet"),
        (10, "f2.parquet"),
        (11, "f2.parquet"),
    }
    assert DeltaTableReader.is_delta_table("file:" + root)


@needs_ref
def test_reference_delta_table_opens_in_place(spark, tmp_path):
    """The reference repo's own Delta-3.1.0 table opens IN PLACE as a
    VersionedParquetTable (no import): identical rows and partition
    layout, and it takes writes that the independent reader sees."""
    import shutil

    from pyspark.sql import functions as F

    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    dest = str(tmp_path / "header")
    shutil.copytree(REF_HEADER, dest)  # writes must not touch the fixture
    t = VersionedParquetTable(spark, dest)
    src = DeltaTableReader(spark, REF_HEADER)
    n_src = src.read().count()
    assert t.read().count() == n_src
    assert t.partition_columns() == list(src.snapshot().partition_columns)
    pc = t.partition_columns()[0]
    a = {r[pc]: r["n"] for r in src.read().groupBy(pc).agg(F.count(F.lit(1)).alias("n")).collect()}
    b = {r[pc]: r["n"] for r in t.read().groupBy(pc).agg(F.count(F.lit(1)).alias("n")).collect()}
    assert a == b
    assert [h["version"] for h in t.history()] == [h["version"] for h in src.history()]
    t.append(t.read().limit(5))
    assert DeltaTableReader(spark, dest).read().count() == n_src + 5


def test_delta_cdf_table_changes(spark, tmp_path):
    """Change-data-feed read: append commits arrive as inserts, cdc
    actions read the _change_data files with partition values typed,
    rewrite commits without change data are rejected."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    dest = str(tmp_path / "cdf")
    df0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, part string, v int"
    )
    t = VersionedParquetTable.create(spark, df0, dest, partition_cols=["part"])  # v0
    t.append(spark.createDataFrame([(3, "a", 30)], "k int, part string, v int"))  # v1

    # v2: hand-written cdc commit (update of k=1 in part=a)
    cdc_rel = "_change_data/cdc-00000-test.parquet"
    (tmp_path / "cdf" / "_change_data").mkdir()
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 1], pa.int32()),
                "v": pa.array([10, 99], pa.int32()),
                "_change_type": ["update_preimage", "update_postimage"],
            }
        ),
        str(tmp_path / "cdf" / cdc_rel),
    )
    actions = [
        {"commitInfo": {"operation": "UPDATE"}},
        {"cdc": {"path": cdc_rel, "partitionValues": {"part": "a"},
                 "size": 1, "dataChange": False}},
        {"remove": {"path": "part=a/fake-old.parquet", "dataChange": True}},
        {"add": {"path": "part=a/fake-new.parquet", "partitionValues":
                 {"part": "a"}, "size": 1, "modificationTime": 0,
                 "dataChange": True}},
    ]
    (tmp_path / "cdf" / "_delta_log" / f"{2:020d}.json").write_text(
        "\n".join(_json.dumps(a) for a in actions)
    )
    # v3: rewrite WITHOUT change data
    (tmp_path / "cdf" / "_delta_log" / f"{3:020d}.json").write_text(
        _json.dumps({"remove": {"path": "part=b/gone.parquet",
                                "dataChange": True}})
    )

    r = DeltaTableReader(spark, dest)
    ch = r.table_changes(0, 1)
    got = {(x.k, x.part, x.v, x._change_type, x._commit_version)
           for x in ch.collect()}
    assert got == {
        (1, "a", 10, "insert", 0),
        (2, "b", 20, "insert", 0),
        (3, "a", 30, "insert", 1),
    }

    upd = r.table_changes(2, 2).collect()
    assert {(x.k, x.part, x.v, x._change_type) for x in upd} == {
        (1, "a", 10, "update_preimage"),
        (1, "a", 99, "update_postimage"),
    }
    assert all(x._commit_version == 2 for x in upd)

    import pytest as _pt

    with _pt.raises(ValueError, match="change-data"):
        r.table_changes(3, 3)


def test_delta_cdf_with_name_column_mapping(spark, tmp_path):
    """CDF read on a column-mapped (name mode) partitioned table: the
    log's cdc partitionValues keys are PHYSICAL names — they must be
    resolved through the physical→logical map, not looked up as
    logical (round-3 advice: KeyError / double-mapping before)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "dt")
    log = os.path.join(root, "_delta_log")
    os.makedirs(os.path.join(root, "col-part=a"))
    os.makedirs(os.path.join(root, "_change_data"))
    pq.write_table(
        pa.table({"col-k": pa.array([1, 2], pa.int64()),
                  "col-v": pa.array([10, 20], pa.int64())}),
        os.path.join(root, "col-part=a", "f1.parquet"),
    )
    pq.write_table(
        pa.table({
            "col-k": pa.array([1, 1], pa.int64()),
            "col-v": pa.array([10, 99], pa.int64()),
            "_change_type": ["update_preimage", "update_postimage"],
        }),
        os.path.join(root, "_change_data", "cdc-0.parquet"),
    )
    schema = _json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k"}},
            {"name": "part", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-part"}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-v"}},
        ],
    })
    os.makedirs(log, exist_ok=True)
    _write_commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema,
                      "partitionColumns": ["part"],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.enableChangeDataFeed": "true"}}},
        {"add": {"path": "col-part=a/f1.parquet",
                 "partitionValues": {"col-part": "a"}, "dataChange": True}},
    ])
    _write_commit(log, 1, [
        {"commitInfo": {"operation": "UPDATE"}},
        {"cdc": {"path": "_change_data/cdc-0.parquet",
                 "partitionValues": {"col-part": "a"},
                 "size": 1, "dataChange": False}},
        {"remove": {"path": "col-part=a/f1.parquet", "dataChange": True}},
        {"add": {"path": "col-part=a/f2.parquet",
                 "partitionValues": {"col-part": "a"}, "dataChange": True}},
    ])
    r = DeltaTableReader(spark, root)
    ch = r.table_changes(0, 1)
    assert ch.columns == ["k", "part", "v", "_change_type", "_commit_version"]
    got = {(x.k, x.part, x.v, x._change_type, x._commit_version)
           for x in ch.collect()}
    assert got == {
        (1, "a", 10, "insert", 0),
        (2, "a", 20, "insert", 0),
        (1, "a", 10, "update_preimage", 1),
        (1, "a", 99, "update_postimage", 1),
    }
