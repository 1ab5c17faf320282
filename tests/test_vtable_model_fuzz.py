"""Model-based fuzz of the storage layer: random sequences of
append / upsert / delete / compact / restore / purge are applied both to a
VersionedParquetTable and to an in-memory model; after the sequence,
the live table must equal the model AND every historical version must
still read back as the snapshot recorded when it was committed — the
storage-layer twin of the differential query fuzzer. After every op the
``_delta_log`` itself is checked against PROTOCOL.md (no Delta library
is installed to do it)."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

# ops: ("append", [ids]) ("upsert", [ids]) ("delete", threshold)
#      ("compact",) ("restore", back_k) ("dv_remove", [ids])
#      ("update", threshold)
_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("upsert"), st.lists(st.integers(0, 30), min_size=1, max_size=4)),
    st.tuples(st.just("delete"), st.integers(0, 300)),
    st.tuples(st.just("compact")),
    st.tuples(st.just("restore"), st.integers(1, 3)),
    st.tuples(
        st.just("dv_remove"), st.lists(st.integers(0, 30), min_size=1, max_size=3)
    ),
    st.tuples(st.just("update"), st.integers(0, 300)),
    st.tuples(st.just("purge"), st.integers(0, 300)),
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, k % 3, v) for k, v in rows], "id long, part long, val long"
    )


def _check_delta_log(path: str) -> None:
    """Replay ``path``'s ``_delta_log`` from scratch, independently of
    the package, and check each commit against the protocol: one action
    per line, exactly one commitInfo, unique live ``add`` paths,
    ``partitionValues`` naming every partition column, parseable
    ``stats``, and a protocol declaring exactly the features in use."""
    log = os.path.join(path, "_delta_log")
    versions = sorted(int(f[:20]) for f in os.listdir(log) if f.endswith(".json"))
    assert versions == list(range(len(versions)))
    protocol, meta, live = None, None, {}
    for v in versions:
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        assert all(len(a) == 1 for a in actions), f"v{v}: not one action per line"
        assert sum("commitInfo" in a for a in actions) == 1, f"v{v}: commitInfo"
        adds = [a["add"] for a in actions if "add" in a]
        removed = {a["remove"]["path"] for a in actions if "remove" in a}
        assert len({a["path"] for a in adds}) == len(adds), f"v{v}: duplicate add"
        for a in actions:
            protocol = a.get("protocol", protocol)
            meta = a.get("metaData", meta)
        for p in removed:
            assert p in live, f"v{v}: remove of a file that is not live: {p}"
            live.pop(p)
        for a in adds:
            assert a["path"] not in live, f"v{v}: {a['path']} added twice"
            live[a["path"]] = a
        pcols = set(meta["partitionColumns"])
        for a in live.values():
            assert set(a["partitionValues"]) == pcols, f"v{v}: partitionValues"
            assert isinstance(json.loads(a["stats"])["numRecords"], int)
        conf = meta["configuration"]
        schema = meta["schemaString"]
        reader = {
            "deletionVectors": any("deletionVector" in a for a in live.values()),
            "columnMapping": conf.get("delta.columnMapping.mode", "none") != "none",
            "timestampNtz": '"timestamp_ntz"' in schema,
        }
        writer = {
            **reader,
            "changeDataFeed": conf.get("delta.enableChangeDataFeed") == "true",
            "checkConstraints": any(k.startswith("delta.constraints.") for k in conf),
            "generatedColumns": "delta.generationExpression" in schema,
            "identityColumns": "delta.identity.start" in schema,
        }
        assert protocol["minWriterVersion"] == 7
        assert set(protocol["writerFeatures"]) == {f for f, on in writer.items() if on}
        declared = set(protocol.get("readerFeatures", []))
        assert declared == {f for f, on in reader.items() if on}, f"v{v}: reader features"
        assert protocol["minReaderVersion"] == (3 if declared else 1)


def _read_set(t, version=None):
    return {(r["id"], r["part"], r["val"]) for r in t.read(version).collect()}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(ops=st.lists(_OP, min_size=1, max_size=7), data=st.data())
def test_random_op_sequences_match_model(spark, tmp_path_factory, ops, data):
    path = str(tmp_path_factory.mktemp("fuzz") / "t")
    seq = data.draw(st.integers(0, 10**6))  # distinguish versions' values

    # model: id -> (id, part, val); versions: list of frozensets by commit
    model: dict[int, tuple] = {}

    def snap():
        return frozenset(model.values())

    t = VersionedParquetTable.create(
        spark, _df(spark, [(0, seq)]), path, partition_cols=["part"]
    )
    model[0] = (0, 0, seq)
    history = [snap()]  # index = version

    for i, op in enumerate(ops):
        _check_delta_log(path)
        val = seq + i + 1
        if op[0] == "append":
            rows = [(k, val) for k in sorted(set(op[1]))]
            t.append(_df(spark, rows))
            for k, v in rows:
                model[(k, len(history))] = (k, k % 3, v)
            history.append(snap())
        elif op[0] == "upsert":
            rows = [(k, val) for k in sorted(set(op[1]))]
            t.upsert(_df(spark, rows), ["id"])
            # upsert keys ALL rows with that id (append may have made dups)
            for mk in [mk for mk, mv in model.items() if mv[0] in dict(rows)]:
                model.pop(mk)
            for k, v in rows:
                model[(k, len(history))] = (k, k % 3, v)
            history.append(snap())
        elif op[0] == "delete":
            thr = seq + (op[1] % 10)  # lands inside the live val range
            t.delete([("val", ">=", thr)])
            for mk in [mk for mk, mv in model.items() if mv[2] >= thr]:
                model.pop(mk)
            history.append(snap())
        elif op[0] == "update":
            thr = seq + (op[1] % 10)
            t.update([("val", "<", thr)], {"val": "val + 37"})
            for mk, mv in list(model.items()):
                if mv[2] < thr:
                    model[mk] = (mv[0], mv[1], mv[2] + 37)
            history.append(snap())
        elif op[0] == "purge":
            # history-rewriting erasure: matching rows vanish from the
            # LIVE table (one DELETE commit) AND from every recorded
            # snapshot. Skipped when any retained version carries a
            # deletion vector (purge refuses DV-covered candidates;
            # whether the refusal fires depends on file stats, which
            # the model does not track).
            if any(
                f.get("dv")
                for v_ in t.versions()
                for f in t.snapshot(v_)["files"]
            ):
                continue
            thr = seq + (op[1] % 10)
            t.purge([("val", ">=", thr)])
            for mk in [mk for mk, mv in model.items() if mv[2] >= thr]:
                model.pop(mk)
            history = [
                frozenset(r for r in h if r[2] < thr) for h in history
            ]
            history.append(snap())
        elif op[0] == "compact":
            v_before = t.latest_version()
            v_after = t.compact(max_files_per_partition=1)
            # compact may be a no-op (no crowded partition -> same version)
            for _ in range(v_after - v_before):
                history.append(snap())
        elif op[0] == "dv_remove":
            # deletion-vector removal of every row of the chosen ids:
            # zero rewrite, must be indistinguishable from a real delete
            # in every snapshot read
            ids = sorted(set(op[1]))
            cur = t.read_partitions(t.partitions_of(), with_position=True)
            dead = cur.filter(F.col("id").isin(ids)).select("__file", "__pos")
            if dead.isEmpty():
                continue  # no commit happens for an empty DV
            t.remove_rows(dead)
            for mk in [mk for mk, mv in model.items() if mv[0] in ids]:
                model.pop(mk)
            history.append(snap())
        elif op[0] == "restore":
            back = min(op[1], t.latest_version())
            target = t.latest_version() - back
            t.restore(target)
            restored = history[target]
            model.clear()
            for j, row in enumerate(restored):
                model[("r", len(history), j)] = row
            history.append(snap())

    _check_delta_log(path)
    # 1. head matches the model
    assert _read_set(t) == set(model.values())
    # 2. every version still reads back as the snapshot recorded for it
    for v, expected in enumerate(history):
        assert _read_set(t, v) == set(expected), f"version {v} drifted"
    # 3. manifest row accounting agrees with reality
    d = t.detail()
    if d["num_rows"] is not None:
        assert d["num_rows"] == len(model)
    # 4. no op sequence may leave storage inconsistent: every retained
    # version's data files + DV sidecars present, every live file's
    # footer row count matching its manifest stats
    rep = t.fsck(deep=True)
    assert rep["ok"], rep
