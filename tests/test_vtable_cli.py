"""vtable admin CLI: every subcommand against a real table.

In-process (`main(argv)`) so the suite's shared session is reused; the
CLI's get_spark() resolves to the same singleton.
"""

from __future__ import annotations

import json

import pytest

from delta_lake_pyspark_scd2_spark.sources import vtable_cli
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


@pytest.fixture()
def table_path(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    VersionedParquetTable.create(spark, df, p)
    t = VersionedParquetTable(spark, p)
    t.append(spark.createDataFrame([(3, "c")], ["k", "v"]))
    return p


def _run(capsys, argv) -> dict:
    assert vtable_cli.main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_describe_history_show_count(spark, table_path, capsys):
    out = _run(capsys, ["describe", table_path])
    assert out["version"] == 1 and out["n_rows"] == 3
    assert out["schema"] == "struct<k:bigint,v:string>"

    out = _run(capsys, ["history", table_path, "--limit", "1"])
    assert len(out["history"]) == 1
    assert out["history"][0]["operation"] == "APPEND"

    out = _run(capsys, ["show", table_path, "--version", "0"])
    assert {r["k"] for r in out["rows"]} == {1, 2}

    out = _run(capsys, ["count", table_path, "--version", "0"])
    assert out["n_rows"] == 2


def test_changes_and_maintenance(spark, table_path, capsys):
    out = _run(capsys, ["changes", table_path, "--keys", "k", "--from", "0"])
    assert out["n_changes"] == 1
    assert out["rows"][0]["_change_type"] == "insert"

    out = _run(capsys, ["vacuum", table_path, "--dry-run"])
    assert out["dry_run"] is True and "n_data_files" in out

    out = _run(capsys, ["restore", table_path, "--version", "0"])
    assert out["new_version"] == 2
    t = VersionedParquetTable(spark, table_path)
    assert t.read().count() == 2  # rolled back past the append


def test_maintained_table_reads_as_delta(spark, table_path, capsys):
    """The CLI needs no export step: the table it maintains is a Delta
    table that an independent Delta reader opens in place."""
    _run(capsys, ["compact", table_path])
    from delta_lake_pyspark_scd2_spark.sources.delta_reader import (
        DeltaTableReader,
    )

    got = DeltaTableReader(spark, table_path).read()
    assert got.count() == 3


def test_not_a_table_errors(tmp_path, capsys):
    assert vtable_cli.main(["describe", str(tmp_path / "nope")]) == 2
    assert "error" in json.loads(capsys.readouterr().out)


def test_delete_and_update_subcommands(spark, tmp_path, capsys):
    p = str(tmp_path / "dml")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], ["k", "price"]
    )
    VersionedParquetTable.create(spark, df, p)

    out = _run(capsys, ["update", p, "--where", "k:>=:8", "--set", "price=price*10"])
    assert out["n_updated"] == 2

    out = _run(capsys, ["delete", p, "--where", "k:<:3"])
    assert out["n_deleted"] == 3

    t = VersionedParquetTable(spark, p)
    got = {r.k: r.price for r in t.read().collect()}
    assert set(got) == set(range(3, 10))
    assert got[8] == 80.0 and got[9] == 90.0 and got[7] == 7.0
