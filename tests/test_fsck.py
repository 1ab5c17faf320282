"""fsck: read-only integrity audit — clean tables pass, missing data
files / DV sidecars and corrupted footers are reported, and the CLI
exits 1 on a broken table."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _table(spark, path: str) -> VersionedParquetTable:
    t = VersionedParquetTable.create(
        spark,
        spark.createDataFrame(
            [(i, i * 10) for i in range(100)], "id long, v long"
        ),
        path,
    )
    # second version so fsck walks more than one manifest
    t.upsert(
        spark.createDataFrame([(1, 999)], "id long, v long"), ["id"]
    )
    return t


def test_fsck_clean_table_ok(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    rep = t.fsck(deep=True)
    assert rep["ok"] and rep["deep"]
    assert rep["n_data_files"] >= 2
    assert not rep["missing_files"] and not rep["row_mismatches"]


def test_fsck_detects_missing_data_file(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    victim = sorted(
        glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                  recursive=True)
    )[0]
    os.remove(victim)
    rep = t.fsck()
    assert not rep["ok"]
    assert len(rep["missing_files"]) == 1
    assert rep["missing_files"][0]["path"] in victim


def test_fsck_deep_detects_corrupt_footer(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    victim = sorted(
        glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                  recursive=True)
    )[0]
    with open(victim, "r+b") as f:
        f.truncate(max(os.path.getsize(victim) // 2, 8))
    assert t.fsck()["ok"]  # existence-only check can't see it
    rep = t.fsck(deep=True)
    assert not rep["ok"] and len(rep["row_mismatches"]) == 1


def test_fsck_detects_missing_dv_sidecar(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    dead = (
        t.read_partitions(t.partitions_of(), with_position=True)
        .filter("id < 5")
        .select("__file", "__pos")
    )
    t.remove_rows(dead)
    # remove the deletion-vector file the log actually references
    from delta_lake_pyspark_scd2_spark.sources.delta_dv import (
        dv_file_relative_path,
    )

    m = t.snapshot(t.latest_version())
    referenced = sorted(
        {dv_file_relative_path(f["dv"]) for f in m["files"] if f["dv"]}
    )
    assert referenced, "remove_rows should have attached deletion vectors"
    os.remove(str(tmp_path / "t" / referenced[0]))
    rep = t.fsck()
    assert not rep["ok"] and len(rep["missing_dvs"]) >= 1
    assert rep["missing_dvs"][0]["path"] == referenced[0]


def test_fsck_cli_exit_codes(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    cmd = [
        sys.executable,
        "-m",
        "delta_lake_pyspark_scd2_spark.sources.vtable_cli",
        "fsck",
        str(tmp_path / "t"),
    ]
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYTHONPATH": repo_root
        + (os.pathsep + os.environ["PYTHONPATH"]
           if os.environ.get("PYTHONPATH") else ""),
    }
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    assert r.returncode == 0, r.stderr[-500:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["ok"] is True
    victim = sorted(
        glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                  recursive=True)
    )[0]
    os.remove(victim)
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    assert r.returncode == 1
    assert json.loads(r.stdout.strip().splitlines()[-1])["ok"] is False
