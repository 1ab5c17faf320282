"""Idempotent writer transactions (Delta txnAppId/txnVersion analogue)
and timestamp-based time travel (timestampAsOf) — on both the native
VersionedParquetTable and the interop Delta log reader."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.delta_reader import DeltaTableReader
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _batch(spark, lo, n=10):
    return spark.range(lo, lo + n).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    ).coalesce(1)


# ---------------------------------------------------------------------------
# txn append idempotency
# ---------------------------------------------------------------------------


def test_txn_append_replay_is_noop(spark, tmp_path):
    """Replaying the same (app, txn_version) append lands exactly once:
    the second call commits nothing and the row count is unchanged."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    v1 = t.append(_batch(spark, 10), txn=("ingest", 1))
    assert t.read().count() == 20
    v_replay = t.append(_batch(spark, 10), txn=("ingest", 1))
    assert v_replay == v1  # no new commit
    assert t.latest_version() == v1
    assert t.read().count() == 20
    # an older txn version is also skipped (watermark semantics)
    assert t.append(_batch(spark, 10), txn=("ingest", 0)) == v1
    assert t.read().count() == 20


def test_txn_watermark_advances_and_is_per_app(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.append(_batch(spark, 10), txn=("ingest", 1))
    t.append(_batch(spark, 20), txn=("ingest", 2))
    t.append(_batch(spark, 30), txn=("backfill", 7))
    assert t.last_txn_version("ingest") == 2
    assert t.last_txn_version("backfill") == 7
    assert t.last_txn_version("unknown") is None
    assert t.read().count() == 40
    # the map survives unrelated commits (inherited by _commit)
    t.append(_batch(spark, 40))
    assert t.txn_versions() == {"ingest": 2, "backfill": 7}


def test_txn_map_survives_checkpoint_replay(spark, tmp_path):
    """txns live in each commit record, so reconstruction after many
    commits (across a checkpoint boundary) still sees the watermark."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    for i in range(1, 13):
        t.append(_batch(spark, i * 10), txn=("app", i))
    t2 = VersionedParquetTable(spark, path)  # fresh handle, no cache
    assert t2.last_txn_version("app") == 12
    assert t2.append(_batch(spark, 999), txn=("app", 12)) == t2.latest_version()
    assert t2.read().count() == 130


def test_txn_race_lost_commit_still_exactly_once(spark, tmp_path):
    """If the commit race is lost to the SAME logical transaction (two
    replicas replaying one micro-batch), the loser detects the applied
    watermark on rebase and backs off without double-writing."""
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)

    orig_commit = t._write_commit
    calls = {"n": 0}

    def racing_commit(base, files, op, *a, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            # another replica lands the same (app, 1) txn first
            other = VersionedParquetTable(spark, path)
            other.append(_batch(spark, 10), txn=("app", 1))
        return orig_commit(base, files, op, *a, **kw)

    t._write_commit = racing_commit
    v = t.append(_batch(spark, 10), txn=("app", 1))
    t._write_commit = orig_commit
    assert v == t.latest_version()
    assert t.read().count() == 20  # the batch landed exactly once
    assert t.last_txn_version("app") == 1


# ---------------------------------------------------------------------------
# timestampAsOf
# ---------------------------------------------------------------------------


def _set_commit_ts(path: str, version: int, ts_ms: int):
    """Pin the ``commitInfo.timestamp`` (epoch ms) of one commit."""
    p = os.path.join(path, "_delta_log", f"{version:020d}.json")
    lines = [json.loads(line) for line in open(p)]
    for a in lines:
        if "commitInfo" in a:
            a["commitInfo"]["timestamp"] = ts_ms
    with open(p, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in lines) + "\n")


def test_vtable_timestamp_as_of(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.append(_batch(spark, 10))
    t.append(_batch(spark, 20))
    # pin deterministic commit timestamps 1000 / 2000 / 3000
    for v, ts in [(0, 1_000_000), (1, 2_000_000), (2, 3_000_000)]:
        _set_commit_ts(path, v, ts)
    t = VersionedParquetTable(spark, path)  # drop caches
    assert t.version_at_timestamp(1000.0) == 0
    assert t.version_at_timestamp(2500.0) == 1
    assert t.version_at_timestamp(time.time()) == 2
    assert t.read(timestamp=2500.0).count() == 20
    assert t.read(timestamp=999.0 + 1).count() == 10
    with pytest.raises(ValueError):
        t.version_at_timestamp(500.0)
    with pytest.raises(ValueError):
        t.read(0, timestamp=1000.0)


def test_delta_reader_timestamp_as_of(spark, tmp_path):
    """timestampAsOf over the _delta_log a VersionedParquetTable wrote:
    resolution uses commitInfo.timestamp per commit."""
    path = str(tmp_path / "d")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.append(_batch(spark, 10))
    # pin commitInfo timestamps to known values (v0=10_000ms, v1=20_000ms)
    for v, ts in [(0, 10_000), (1, 20_000)]:
        _set_commit_ts(path, v, ts)
    r = DeltaTableReader(spark, path)
    assert r.version_at_timestamp(15_000) == 0
    assert r.version_at_timestamp(20_000) == 1
    assert r.read(timestamp_ms=15_000).count() == 10
    assert r.read(timestamp_ms=25_000).count() == 20
    with pytest.raises(ValueError):
        r.version_at_timestamp(5_000)


def test_real_concurrent_appends_all_land(spark, tmp_path):
    """4 real threads x 3 blind appends each, racing on the SAME table:
    the atomic os.link commit + rebase loop must land every batch
    exactly once with a contiguous version chain."""
    import threading

    path = str(tmp_path / "cc")
    VersionedParquetTable.create(spark, _batch(spark, 0), path)
    errors = []

    def writer(tid: int):
        try:
            t = VersionedParquetTable(spark, path)
            for j in range(3):
                lo = 1000 * (tid + 1) + 100 * j
                t.append(_batch(spark, lo))
        except Exception as e:  # noqa: BLE001
            errors.append((tid, e))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = VersionedParquetTable(spark, path)
    assert t.read().count() == 10 + 12 * 10  # every batch landed once
    vs = t.versions()
    assert vs == list(range(13))  # contiguous chain, no clobbered commit


def test_mixed_write_storm_no_lost_updates(spark, tmp_path):
    """Append/merge/compact storm under partition-level OCC: 4 writer
    threads each own one partition (appends + upserts on their own
    keys) while a compactor repeatedly rewrites crowded partitions.
    Every operation must land exactly once (retrying clean conflicts),
    the version chain must stay contiguous, and no thread's writes may
    be lost or duplicated — the zero-lost-updates pin."""
    import threading

    path = str(tmp_path / "storm")
    base = spark.createDataFrame(
        [(t * 10_000 + k, t, 0) for t in range(4) for k in range(10)],
        "id long, p long, val long",
    )
    VersionedParquetTable.create(spark, base, path, partition_cols=["p"])
    errors: list = []
    landed_rounds: dict[int, list[int]] = {t: [] for t in range(4)}
    ROUNDS = 3

    def writer(t: int):
        try:
            tb = VersionedParquetTable(spark, path)
            for j in range(1, ROUNDS + 1):
                lo = t * 10_000 + 1_000 * j
                tb.append(
                    spark.createDataFrame(
                        [(lo + i, t, -1) for i in range(10)],
                        "id long, p long, val long",
                    )
                )
                ups = spark.createDataFrame(
                    [(t * 10_000 + k, t, j) for k in range(10)],
                    "id long, p long, val long",
                )
                for attempt in range(30):
                    try:
                        tb.upsert(ups, ["id"])
                        landed_rounds[t].append(j)
                        break
                    except RuntimeError:
                        continue  # lost a race (compactor/suffix) — retry
                else:
                    raise RuntimeError(f"thread {t} round {j} never landed")
        except Exception as e:  # noqa: BLE001
            errors.append((t, e))

    def compactor():
        tb = VersionedParquetTable(spark, path)
        for _ in range(4):
            try:
                tb.compact(max_files_per_partition=2)
            except RuntimeError:
                pass  # clean conflict with a concurrent rewrite — fine
            time.sleep(0.2)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
    threads.append(threading.Thread(target=compactor))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    tb = VersionedParquetTable(spark, path)
    df = tb.read()
    # contiguous version chain — no commit clobbered another
    assert tb.versions() == list(range(tb.versions()[-1] + 1))
    # no duplicates anywhere
    assert df.count() == df.select("id").distinct().count()
    for t in range(4):
        # every append landed exactly once
        appended = df.filter(
            (F.col("id") >= t * 10_000 + 1_000) & (F.col("p") == t)
        )
        assert appended.count() == 10 * ROUNDS, f"thread {t} lost appends"
        # the base keys carry the LAST landed upsert round's value
        assert sorted(landed_rounds[t]) == list(range(1, ROUNDS + 1))
        vals = {
            r["val"]
            for r in df.filter(
                (F.col("id") >= t * 10_000) & (F.col("id") < t * 10_000 + 10)
            ).collect()
        }
        assert vals == {landed_rounds[t][-1]}, f"thread {t} lost an upsert"


def test_table_changes_by_timestamp(spark, tmp_path):
    path = str(tmp_path / "t")
    t = VersionedParquetTable.create(spark, _batch(spark, 0), path)
    t.append(_batch(spark, 10))
    t.append(_batch(spark, 20))
    for v, ts in [(0, 1_000_000), (1, 2_000_000), (2, 3_000_000)]:
        _set_commit_ts(path, v, ts)
    t = VersionedParquetTable(spark, path)
    # Delta CDF startingTimestamp rule: the earliest commit at-or-after
    # the timestamp is INCLUDED — a commit landing exactly at ts=2000
    # (v1) is part of the feed, so v1+v2 batches both appear.
    ch = t.table_changes(["id"], timestamp_from=2000.0)
    got = {r["id"] for r in ch.collect()}
    assert got == set(range(10, 30))
    assert ch.filter(F.col("_change_type") != "insert").count() == 0
    # strictly between two commits → only the later one
    ch2 = t.table_changes(["id"], timestamp_from=2500.0)
    assert {r["id"] for r in ch2.collect()} == set(range(20, 30))
    # after the last commit → error, matching Delta
    with pytest.raises(ValueError, match="after the last commit"):
        t.table_changes(["id"], timestamp_from=9000.0)
    # at/before the first commit → full-snapshot territory, refused
    with pytest.raises(ValueError, match="predates the first"):
        t.table_changes(["id"], timestamp_from=1000.0)
    with pytest.raises(ValueError, match="exactly one"):
        t.table_changes(["id"], 0, timestamp_from=1000.0)
    with pytest.raises(ValueError, match="exactly one"):
        t.table_changes(["id"])
