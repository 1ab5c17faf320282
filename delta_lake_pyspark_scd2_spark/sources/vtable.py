"""Versioned Parquet table — the storage layer under the SCD2 pipeline.

The reference relies on Delta Lake for: table-exists checks, partitioned
initial writes, MERGE upserts, ``mergeSchema`` appends, time travel and
history (SURVEY.md §2.1 S3-S10). delta-spark is not available in this
environment, so this module writes the Delta format itself
(github.com/delta-io/delta PROTOCOL.md): a table is parquet files plus
a ``_delta_log``, and any Delta reader can open it — as this class
opens, and writes to, Delta tables other engines wrote.

Layout:

  * data files are plain Parquet under ``<path>/data/<k=v>/...`` —
    written once, never mutated (the contract object stores give);
  * every commit is one newline-delimited JSON file
    ``_delta_log/{version:020d}.json`` of Delta actions: ``commitInfo``
    (operation, metrics, timestamp), ``protocol`` and ``metaData``
    when they change, ``txn`` writer watermarks, ``remove``/``add``
    file actions (``add.stats`` carries numRecords and per-column
    min/max/null counts from the parquet footer) and ``cdc`` change
    files under ``_change_data/``. A commit holds O(files touched),
    never O(table);
  * ``metaData`` holds the schema and partition columns; its
    ``configuration`` the table properties and CHECK constraints
    (``delta.enableChangeDataFeed``, ``delta.constraints.<name>``);
    per-field metadata the generated columns
    (``delta.generationExpression``), identity columns
    (``delta.identity.*``) and, after a rename or drop, name-mode
    column mapping (``delta.columnMapping.physicalName``);
  * deletion vectors are Delta roaring bitmaps in
    ``deletion_vector_<uuid>.bin`` files (``delta_dv``);
  * every ``CHECKPOINT_INTERVAL`` commits a Delta parquet checkpoint
    ``{version:020d}.checkpoint.parquet`` (+ ``_last_checkpoint``) is
    written outside the atomic-commit path, so reconstruction replays
    at most ``CHECKPOINT_INTERVAL`` JSON commits;
  * the ``protocol`` action declares exactly the table features in use
    (e.g. ``deletionVectors`` only while a live file carries a DV);
    writes to a table declaring a writer feature this class does not
    implement are refused.

Snapshot reconstruction and scans run through the same replay and scan
as :class:`~delta_lake_pyspark_scd2_spark.sources.delta_reader.DeltaTableReader`.

Readers pin a version → snapshot isolation + time travel. Updates are
partition-scoped copy-on-write: a rewrite swaps only the files of the
touched partitions; untouched partitions are carried by reference, so a
merge touching one day of data costs one day of data, not the table.

Concurrency: a commit is published with ``fsio.put_if_absent`` — an
atomic ``os.link`` on a local filesystem, ``create(overwrite=false)``
on HDFS and the object-store connectors (see ``fsio.py`` for the
conditional-PUT caveat on object stores) — so a version collision is
detected, never silently overwritten. Blind appends resolve collisions
optimistically (rebase onto the new head — files AND, under
mergeSchema, the schema union — and retry: Delta's append semantics);
rewriting commits and metadata changes stay single-writer and surface
collisions as errors.
"""

from __future__ import annotations

import json
import os
import posixpath
import re
import shutil
import time
import uuid
import warnings
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_pyspark_scd2_spark.sources import delta_dv, fsio
from delta_lake_pyspark_scd2_spark.sources.delta_reader import (
    LOG_DIR,
    DeltaTableReader,
    scan,
)

#: The transaction log directory.
MANIFEST_DIR = LOG_DIR
DATA_DIR = "data"
#: Change-data files (Delta ``_change_data``): row-level change records
#: written AT COMMIT TIME by upsert/delete/update/remove_rows when the
#: table property ``enableChangeDataFeed`` is true. The CDC streaming
#: source reads these parquet files directly on executors.
CDC_DIR = "_change_data"
#: ``_change_type`` column values, Delta CDF's vocabulary.
CDC_TYPES = ("insert", "delete", "update_preimage", "update_postimage")
#: Checkpoint cadence: reconstruction replays at most this many JSON
#: commits. Delta Lake's default is 10 as well.
CHECKPOINT_INTERVAL = 10
#: Writer features this class implements.
WRITER_FEATURES = frozenset(
    {
        "changeDataFeed",
        "checkConstraints",
        "columnMapping",
        "deletionVectors",
        "generatedColumns",
        "identityColumns",
        "timestampNtz",
    }
)
#: Table properties stored under their Delta configuration key.
_PROPERTY_KEYS = {"enableChangeDataFeed": "delta.enableChangeDataFeed"}
#: Physical names of dropped columns that live files still hold.
_RETIRED_KEY = "vtable.retiredPhysicalNames"
_PHYS = "delta.columnMapping.physicalName"
_CONSTRAINT = "delta.constraints."


@dataclass(frozen=True)
class ManifestEntry:
    """One live data file: path relative to ``data/``, its partition
    values (empty dict for unpartitioned tables), and file-level
    statistics — row count plus per-column min/max/null-count read from
    the parquet footer at commit time (the ``add.stats`` of its log
    entry). ``stats`` maps column name → ``{"min", "max", "nulls"}``;
    columns without usable footer stats are simply absent.

    ``dv``: the file's Delta deletion-vector descriptor
    (``cardinality`` = dead rows) or None for files with no dead rows
    (the common case, which keeps the plain fast scan path)."""

    path: str
    partition: dict[str, str]
    stats: dict | None = None
    rows: int | None = None
    dv: dict | None = None


def _stat_key(v):
    """Normalize a value into the JSON-storable, *order-preserving*
    domain used for both footer stats and pruning predicates.
    Timestamps/dates become fixed-width ISO strings (lexicographic ==
    chronological), numbers/strings/bools pass through. Returns None
    for types min/max pruning can't safely order (binary, decimal,
    nested) — the caller then skips stats for that column."""
    import datetime

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return None


def _file_stats(path: str) -> tuple[dict, int]:
    """Per-column min/max/null-count for one parquet file, merged across
    row groups — read from the FOOTER only (metadata I/O, no data scan,
    no Spark job). Nested columns and types ``_stat_key`` can't order
    are skipped. Returns ``(stats, num_rows)``."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    acc: dict[str, dict] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            rec = acc.setdefault(
                name, {"min": None, "max": None, "nulls": 0, "mm": True, "nn": True}
            )
            st = col.statistics
            if st is None:
                rec["mm"] = rec["nn"] = False
                continue
            if st.null_count is None:
                rec["nn"] = False
            else:
                rec["nulls"] += st.null_count
            if not st.has_min_max:
                # legal for an all-null row group; min/max unusable
                # only if some row group has values we can't see
                if st.null_count != rg.num_rows:
                    rec["mm"] = False
                continue
            try:
                mn, mx = _stat_key(st.min), _stat_key(st.max)
            except Exception:  # pyarrow can't extract for some types
                mn = mx = None
            if mn is None or mx is None:
                rec["mm"] = False
                continue
            rec["min"] = mn if rec["min"] is None else min(rec["min"], mn)
            rec["max"] = mx if rec["max"] is None else max(rec["max"], mx)
    out = {}
    for name, rec in acc.items():
        if not rec["mm"]:
            rec["min"] = rec["max"] = None
        nulls = rec["nulls"] if rec["nn"] else None
        if rec["mm"] or rec["nn"]:
            out[name] = {"min": rec["min"], "max": rec["max"], "nulls": nulls}
    return out, md.num_rows


def _same_record(a: dict, b: ManifestEntry) -> bool:
    return (a["partition"], a["stats"], a["rows"], a["dv"]) == (
        b.partition, b.stats, b.rows, b.dv,
    )


def _drop_crc_sidecar(full_path: str) -> None:
    """Remove the local Hadoop FS's ``.<name>.crc`` checksum sidecar
    for ``full_path`` if present — in-place content replacement
    (purge) would otherwise leave it stale and fail every later read
    with ChecksumException."""
    crc = os.path.join(
        os.path.dirname(full_path), "." + os.path.basename(full_path) + ".crc"
    )
    try:
        os.remove(crc)
    except FileNotFoundError:
        pass


def _entry(f: dict) -> ManifestEntry:
    """A snapshot file record as an entry, carrying stats and the
    deletion vector forward unchanged."""
    return ManifestEntry(f["path"], f["partition"], f["stats"], f["rows"], f["dv"])


def _record(add: dict, logical: dict[str, str]) -> dict:
    """A snapshot file record from an ``add`` action; ``logical`` maps
    physical partition-column names back to logical ones."""
    st = json.loads(add["stats"]) if add.get("stats") else {}
    mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
    nulls = st.get("nullCount") or {}
    return {
        "path": posixpath.relpath(unquote(add["path"]), DATA_DIR),
        "partition": {
            logical.get(k, k): v for k, v in add["partitionValues"].items()
        },
        "stats": {
            c: {"min": mins.get(c), "max": maxs.get(c), "nulls": nulls.get(c)}
            for c in {**mins, **maxs, **nulls}
        },
        "rows": st.get("numRecords"),
        "dv": add.get("deletionVector"),
        "size": add.get("size"),
        "mtime": add.get("modificationTime"),
    }


def _dv_key(dv: dict | None):
    """A deletion vector's identity (Delta's ``uniqueId``)."""
    if not dv:
        return None
    return (dv["storageType"], dv["pathOrInlineDv"], dv.get("offset"))


def _protocol(metadata: dict, has_dv: bool) -> dict:
    """The protocol action declaring exactly the table features that
    ``metadata`` and the live files use."""
    conf = metadata.get("configuration") or {}
    schema = metadata["schemaString"]
    reader = set()
    if has_dv:
        reader.add("deletionVectors")
    if conf.get("delta.columnMapping.mode", "none") != "none":
        reader.add("columnMapping")
    if '"timestamp_ntz"' in schema:
        reader.add("timestampNtz")
    writer = set(reader)
    if conf.get("delta.enableChangeDataFeed", "").lower() == "true":
        writer.add("changeDataFeed")
    if any(k.startswith(_CONSTRAINT) for k in conf):
        writer.add("checkConstraints")
    if '"delta.generationExpression"' in schema:
        writer.add("generatedColumns")
    if '"delta.identity.start"' in schema:
        writer.add("identityColumns")
    out = {"minReaderVersion": 3 if reader else 1, "minWriterVersion": 7}
    if reader:
        out["readerFeatures"] = sorted(reader)
    out["writerFeatures"] = sorted(writer)
    return out


#: Delta checkpoint columns for the actions a checkpoint carries.
def _checkpoint_schema():
    import pyarrow as pa

    smap = pa.map_(pa.string(), pa.string())
    strs = pa.list_(pa.string())
    return pa.schema(
        [
            ("txn", pa.struct(
                [("appId", pa.string()), ("version", pa.int64()),
                 ("lastUpdated", pa.int64())]
            )),
            ("add", pa.struct(
                [("path", pa.string()), ("partitionValues", smap),
                 ("size", pa.int64()), ("modificationTime", pa.int64()),
                 ("dataChange", pa.bool_()), ("stats", pa.string()),
                 ("tags", smap),
                 ("deletionVector", pa.struct(
                     [("storageType", pa.string()),
                      ("pathOrInlineDv", pa.string()),
                      ("offset", pa.int32()), ("sizeInBytes", pa.int32()),
                      ("cardinality", pa.int64())]
                 ))]
            )),
            ("metaData", pa.struct(
                [("id", pa.string()), ("name", pa.string()),
                 ("description", pa.string()),
                 ("format", pa.struct(
                     [("provider", pa.string()), ("options", smap)]
                 )),
                 ("schemaString", pa.string()),
                 ("partitionColumns", strs), ("configuration", smap),
                 ("createdTime", pa.int64())]
            )),
            ("protocol", pa.struct(
                [("minReaderVersion", pa.int32()),
                 ("minWriterVersion", pa.int32()),
                 ("readerFeatures", strs), ("writerFeatures", strs)]
            )),
        ]
    )


class VersionedParquetTable:
    def __init__(self, spark: SparkSession | None, path: str):
        self.spark = spark
        # data files move with os calls: a ``file:`` URI becomes its path
        self.path = fsio.local_path(path) or path
        self._log = DeltaTableReader(spark, self.path)
        self._fs = self._log._fs
        # Snapshot cache: version → (log replay, snapshot dict). Commits
        # are immutable once written, so a cached snapshot can never go
        # stale; bounded (oldest evicted) so long histories don't pile
        # up file lists on the driver, and a version whose predecessor
        # is cached replays one commit on top of it.
        self._snap_cache: dict[int, tuple] = {}
        self._snap_cache_max = 4

    # -- existence / versions ------------------------------------------------

    @classmethod
    def is_table(cls, path: str) -> bool:
        """Reference: ``DeltaTable.isDeltaTable`` (src/header_etl.py:157)."""
        return DeltaTableReader.is_delta_table(path)

    def versions(self) -> list[int]:
        """The versions whose commits are retained."""
        return self._log._commit_versions()

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no _delta_log commits under {self.path}")
        return vs[-1]

    def commit_actions(self, version: int) -> list[dict]:
        """The Delta actions of commit ``version``, in log order."""
        return self._log.commit_actions(version)

    def _commit_info(self, version: int) -> dict:
        """``commitInfo`` of ``version`` with ``timestamp`` in epoch
        seconds (the commit file's mtime when the writer left none)."""
        for a in self.commit_actions(version):
            if "commitInfo" in a:
                ci = dict(a["commitInfo"])
                break
        else:
            ci = {}
        if "timestamp" not in ci:
            ci["timestamp"] = self._fs.mtime_ms(self._log._commit_file(version))
        ci["timestamp"] = ci["timestamp"] / 1000
        return ci

    def history(self) -> list[dict]:
        """Commit log, newest first (reference S6: ``DeltaTable.history``).
        Reads only the commits' ``commitInfo`` — ``num_files`` is
        stamped at commit time, so no snapshot reconstruction happens
        here."""
        out = []
        for v in reversed(self.versions()):
            ci = self._commit_info(v)
            out.append(
                {
                    "version": v,
                    "timestamp": ci["timestamp"],
                    "operation": ci.get("operation"),
                    "num_files": ci.get("numFiles"),
                    "metrics": ci.get("metrics", ci.get("operationMetrics", {})),
                }
            )
        return out

    # -- snapshots -----------------------------------------------------------

    def snapshot(self, version: int | None = None) -> dict:
        """Table state at ``version`` (default: latest) — ``version``,
        ``schema`` (logical StructType JSON), ``partition_cols``,
        ``files`` (one record per live file: ``path`` relative to
        ``data/``, ``partition``, ``stats``, ``rows``, ``dv``, ``size``),
        ``constraints``, ``properties``, ``generated_cols``,
        ``identity_cols``, ``column_mapping`` (logical → physical, renamed
        columns only), ``txns``, plus the raw ``protocol`` and
        ``metadata`` actions. The dict is cached and shared: treat it
        as read-only."""
        v = self.latest_version() if version is None else version
        if v in self._snap_cache:
            return self._snap_cache[v][1]
        base = self._snap_cache.get(v - 1)
        snap = self._log.snapshot(v, base=base[0] if base else None)
        state = _snapshot_dict(snap)
        if len(self._snap_cache) >= self._snap_cache_max:
            self._snap_cache.pop(next(iter(self._snap_cache)))
        self._snap_cache[v] = (snap, state)
        return state

    def _check_writable(self, m: dict) -> None:
        """Refuse to commit to a table whose protocol needs a writer
        feature this class does not implement."""
        p, conf = m["protocol"], m["metadata"]["configuration"]
        # appendOnly and invariants constrain writes only when active
        feats = set(p.get("writerFeatures") or []) - {"appendOnly", "invariants"}
        if (p.get("minWriterVersion") or 1) > 7:
            feats.add(f"minWriterVersion={p['minWriterVersion']}")
        if conf.get("delta.appendOnly", "").lower() == "true":
            feats.add("appendOnly")
        if '"delta.invariants"' in m["metadata"]["schemaString"]:
            feats.add("invariants")
        if conf.get("delta.columnMapping.mode") == "id":
            feats.add("columnMapping(id mode)")
        missing = sorted(feats - WRITER_FEATURES)
        if missing:
            raise ValueError(
                f"cannot write to {self.path}: its protocol needs writer "
                f"feature(s) {missing} that this writer does not implement"
            )

    def _file(self, rel: str) -> str:
        """Local path of a data file given its ``data/``-relative path."""
        return os.path.normpath(os.path.join(self.path, DATA_DIR, rel))

    def _dv_file(self, dv: dict) -> str | None:
        """Local path of a deletion vector's file (None when inline)."""
        if dv["storageType"] == "i":
            return None
        if dv["storageType"] == "p":
            return fsio.local_path(dv["pathOrInlineDv"])
        return os.path.join(self.path, delta_dv.dv_file_relative_path(dv))

    def _metadata_action(self, base: dict | None, meta: dict) -> dict | None:
        """The ``metaData`` action for table metadata ``meta``, or None
        when it equals ``base``'s (a commit re-emits metaData only when
        something in it changed)."""
        schema = meta["schema"]
        if isinstance(schema, str):
            schema = T.StructType.fromJson(json.loads(schema))
        old = base["metadata"] if base else {}
        old_conf = old.get("configuration") or {}
        mapping, retired = meta["column_mapping"], meta["retired_physical"]
        conf = {
            _PROPERTY_KEYS.get(k, k): str(v) for k, v in meta["properties"].items()
        }
        conf.update({_CONSTRAINT + n: e for n, e in meta["constraints"].items()})
        # name-mode column mapping once a column was renamed or dropped;
        # column ids stay stable across commits
        name_mode = bool(mapping or retired)
        ids = {}
        if old:
            for f in T.StructType.fromJson(json.loads(old["schemaString"])).fields:
                md = f.metadata or {}
                if "delta.columnMapping.id" in md:
                    ids[md.get(_PHYS, f.name)] = md["delta.columnMapping.id"]
        max_id = int(old_conf.get("delta.columnMapping.maxColumnId", 0))
        fields = []
        for f in schema.fields:
            md = {k: v for k, v in (f.metadata or {}).items() if not k.startswith("delta.")}
            if f.name in meta["generated_cols"]:
                md["delta.generationExpression"] = meta["generated_cols"][f.name]
            spec = meta["identity_cols"].get(f.name)
            if spec:
                md["delta.identity.start"] = int(spec["start"])
                md["delta.identity.step"] = int(spec["step"])
                md["delta.identity.allowExplicitInsert"] = True
                if int(spec["next"]) != int(spec["start"]):
                    md["delta.identity.highWaterMark"] = int(spec["next"]) - int(
                        spec["step"]
                    )
            if name_mode:
                phys = mapping.get(f.name, f.name)
                if phys not in ids:
                    max_id += 1
                    ids[phys] = max_id
                md["delta.columnMapping.id"] = ids[phys]
                md[_PHYS] = phys
            fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
        if name_mode:
            conf["delta.columnMapping.mode"] = "name"
            conf["delta.columnMapping.maxColumnId"] = str(max_id)
        if retired:
            conf[_RETIRED_KEY] = json.dumps(sorted(retired))
        md = {
            **old,
            "id": old.get("id") or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": T.StructType(fields).json(),
            "partitionColumns": list(meta["partition_cols"]),
            "configuration": conf,
            "createdTime": old.get("createdTime") or int(time.time() * 1000),
        }
        if old and (
            json.loads(md["schemaString"]) == json.loads(old["schemaString"])
            and md["partitionColumns"] == old.get("partitionColumns")
            and conf == old_conf
        ):
            return None
        return md

    def _add_action(self, e: ManifestEntry, prev: dict | None, data_change: bool) -> dict:
        st: dict = {} if e.rows is None else {"numRecords": e.rows}
        for key, field in (
            ("minValues", "min"), ("maxValues", "max"), ("nullCount", "nulls")
        ):
            vals = {
                c: s[field] for c, s in (e.stats or {}).items()
                if s.get(field) is not None
            }
            if vals:
                st[key] = vals
        if prev is None:
            info = os.stat(self._file(e.path))
            size, mtime = info.st_size, int(info.st_mtime * 1000)
        else:
            size, mtime = prev["size"], prev["mtime"]
        add = {
            "path": quote(posixpath.normpath(posixpath.join(DATA_DIR, e.path)), safe="/="),
            "partitionValues": e.partition,
            "size": size,
            "modificationTime": mtime,
            "dataChange": data_change,
            "stats": json.dumps(st),
        }
        if e.dv:
            add["deletionVector"] = e.dv
        return {"add": add}

    def _write_commit(
        self,
        base: dict | None,
        files: list[ManifestEntry],
        operation: str,
        metrics: "dict | Callable[[], dict] | None" = None,
        *,
        txn: tuple[str, int] | None = None,
        cdc_files: list[str] | None = None,
        data_change: bool = True,
        **meta,
    ) -> int:
        """Publish the version after ``base`` — the snapshot the caller
        planned against (None creates the table) — whose live file set
        is ``files``: one ``_delta_log`` JSON file holding the diff
        against ``base`` as ``remove``/``add`` actions (a same-path
        entry whose deletion vector changed is removed and re-added),
        plus ``commitInfo``, the ``protocol``/``metaData`` actions when
        they change, a ``txn`` watermark and the ``cdc`` change files.
        ``meta`` overrides table metadata (``schema``,
        ``partition_cols``, ``constraints``, ``properties``,
        ``generated_cols``, ``identity_cols``, ``column_mapping``,
        ``retired_physical``); the rest is inherited from ``base``.
        ``data_change=False`` marks a pure re-layout (COMPACT/ZORDER)
        that the change feed skips. Raises RuntimeError when another
        writer already published that version."""
        if base is not None:
            self._check_writable(base)
        version = 0 if base is None else base["version"] + 1
        meta = {**(base or _EMPTY_META), **meta}
        md = self._metadata_action(base, meta)
        prev = {f["path"]: f for f in base["files"]} if base else {}
        new = {e.path: e for e in files}
        now = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": operation,
                    "metrics": (metrics() if callable(metrics) else metrics) or {},
                    "numFiles": len(files),
                    "engineInfo": "delta_lake_pyspark_scd2_spark",
                }
            }
        ]
        protocol = _protocol(md or base["metadata"], any(e.dv for e in files))
        if base is None or protocol != base["protocol"]:
            actions.append({"protocol": protocol})
        if md is not None:
            actions.append({"metaData": md})
        if txn is not None:
            actions.append(
                {"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": now}}
            )
        for p, f in prev.items():
            if p not in new or not _same_record(f, new[p]):
                rm = {
                    "path": quote(posixpath.normpath(posixpath.join(DATA_DIR, p)), safe="/="),
                    "deletionTimestamp": now,
                    "dataChange": data_change,
                    "partitionValues": f["partition"],
                    "size": f["size"],
                }
                if f["dv"]:
                    rm["deletionVector"] = f["dv"]
                actions.append({"remove": rm})
        for e in files:
            f = prev.get(e.path)
            if f is None or not _same_record(f, e):
                actions.append(self._add_action(e, f, data_change))
        for rel in cdc_files or []:
            full = os.path.join(self.path, CDC_DIR, rel)
            actions.append(
                {
                    "cdc": {
                        "path": quote(f"{CDC_DIR}/{rel}", safe="/="),
                        "partitionValues": {},
                        "size": os.path.getsize(full),
                        "dataChange": False,
                    }
                }
            )
        payload = "".join(json.dumps(a) + "\n" for a in actions).encode()
        try:
            self._fs.put_if_absent(self._log._commit_file(version), payload)
        except FileExistsError:
            raise RuntimeError(
                f"version {version} already committed (concurrent writer?)"
            ) from None
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            self._checkpoint(version)
        return version

    def _checkpoint(self, version: int, actions: list[dict] | None = None) -> None:
        """Delta parquet checkpoint of ``version`` (default: its replayed
        state) and the ``_last_checkpoint`` pointer — derived data,
        written OUTSIDE the atomic commit path (a lost checkpoint only
        means a longer replay). Rewriting one is safe: content for a
        given version is deterministic."""
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        if actions is None:
            self.snapshot(version)
            snap = self._snap_cache[version][0]
            actions = [
                {"protocol": snap.protocol},
                {"metaData": snap.metadata},
                *(
                    {"txn": {"appId": a, "version": v}}
                    for a, v in sorted(snap.txns.items())
                ),
                *({"add": a} for a in snap.adds.values()),
            ]
        keys = ("txn", "add", "metaData", "protocol")
        table = pa.Table.from_pylist(
            [{k: a.get(k) for k in keys} for a in actions if any(k in a for k in keys)],
            schema=_checkpoint_schema(),
        )
        fd, tmp = tempfile.mkstemp(suffix=".checkpoint.parquet")
        os.close(fd)
        try:
            pq.write_table(table, tmp)
            self._fs.put_file(
                tmp, fsio.join(self._log._log, f"{version:020d}.checkpoint.parquet")
            )
        finally:
            os.unlink(tmp)
        if version >= max(self._log._checkpoint_versions(), default=-1):
            self._fs.write_text(
                fsio.join(self._log._log, "_last_checkpoint"),
                json.dumps({"version": version, "size": table.num_rows}),
            )

    # -- change-data files (CDF) ---------------------------------------------

    @staticmethod
    def _cdc_enabled(m: dict) -> bool:
        """Delta's ``delta.enableChangeDataFeed``: row-level change
        files are written only when the table opted in."""
        return m["properties"].get("enableChangeDataFeed", "").lower() == "true"

    def _write_cdc(self, change_df: DataFrame) -> list[str]:
        """Stage this commit's row-level change records (data columns
        under their LOGICAL names plus ``_change_type``) as parquet
        under ``_change_data/``; returns their paths relative to it for
        the commit's ``cdc`` actions. Files are uuid-named, never
        version-named, so an OCC rebase (final version unknown until
        the commit wins) keeps them valid; files from lost races stay
        unreferenced and are vacuum's garbage."""
        rel = f"cdc-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.path, CDC_DIR, rel)
        change_df.write.parquet(out_dir)
        return [
            os.path.join(rel, f)
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet")
        ]

    # -- data-file staging ---------------------------------------------------

    def _write_files(
        self,
        df: DataFrame,
        partition_cols: list[str],
        constraints: dict[str, str] | None = None,
        generated: dict[str, str] | None = None,
        mapping: dict[str, str] | None = None,
        layout_ready: bool = False,
        side_col: str | None = None,
    ) -> list[ManifestEntry]:
        """Write df once via Spark (partitioned layout), then move the
        produced parquet files into ``data/`` under their partition
        dirs. Filenames carry Spark's task UUIDs → never collide with
        live files; a failed write leaves only unreferenced garbage
        (never a corrupt table) exactly like Delta.

        ``side_col`` names a string column that splits one write into
        sides (see :meth:`replace_partitions`): it is partitioned on
        first, its directory level is dropped on the move, and its
        value prefixes each file name as ``<side>-`` — which also keeps
        two sides' same-named task files in one partition apart.

        ``constraints`` (name → SQL boolean expr) are CHECK-enforced on
        the written rows via an Observation riding the write job itself
        (no second scan); any violation deletes the staged files and
        raises before the commit, so the table is untouched.
        SQL-standard semantics: NULL evaluations satisfy the check.

        Under a column mapping (post-rename), data files are written
        with PHYSICAL column names — the name each column was born
        with — so every live file agrees on parquet schema regardless
        of how many renames happened; constraints (logical names)
        observe BEFORE the physical rename."""
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        if generated is None:
            generated = (
                self.generated_columns() if self.is_table(self.path) else {}
            )
        if mapping is None:
            mapping = (
                self.column_mapping() if self.is_table(self.path) else {}
            )
        checks = dict(constraints or {})
        for c, e in generated.items():
            # writer-supplied generated columns must equal their
            # expression — validated on the same write job (null-safe,
            # so a derivable-to-NULL expression matches a NULL value)
            if c in df.columns:
                checks[f"__generated_{c}"] = f"{c} <=> ({e})"
        constraints = checks or None
        obs = None
        if constraints:
            obs = Observation(f"check-{uuid.uuid4().hex[:8]}")
            df = df.observe(
                obs,
                *[
                    F.sum(
                        (~F.coalesce(F.expr(e), F.lit(True))).cast("long")
                    ).alias(n)
                    for n, e in constraints.items()
                ],
            )
        if any(log != phys for log, phys in mapping.items()):
            df = df.select(
                *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
            )
        if partition_cols and not layout_ready:
            # One shuffle keyed on the partition columns ahead of the
            # partitioned write. Without it every upstream task emits a
            # file into every partition it touches — tasks × partitions
            # small files per commit (measured: a 50k-row SCD2 append
            # across 15 day-partitions wrote ~470 files from 32 shuffle
            # tasks). AQE rebalance lands ~one right-sized file per
            # partition and still splits partitions past the advisory
            # size, so hot days keep write parallelism. Callers that
            # pre-arrange the physical layout (ZORDER's range-sorted
            # files) pass layout_ready=True to skip it.
            df = df.hint("rebalance", *partition_cols)
        writer = df.write.mode("overwrite")
        dirs = ([side_col] if side_col else []) + list(partition_cols)
        if dirs:
            writer = writer.partitionBy(*dirs)
        writer.parquet(staging)
        if obs is not None:
            got = obs.get
            bad = {n: int(got[n] or 0) for n in constraints if got[n]}
            if bad:
                shutil.rmtree(staging)
                raise ValueError(
                    f"CHECK constraint violation(s), write aborted: "
                    + ", ".join(
                        f"{n} ({constraints[n]!r}): {c} row(s)"
                        for n, c in bad.items()
                    )
                )
        entries: list[ManifestEntry] = []
        data_root = os.path.join(self.path, DATA_DIR)
        for root, _dirs, fnames in os.walk(staging):
            for fname in fnames:
                if not fname.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(root, staging)
                rel_dir = "" if rel_dir == "." else rel_dir
                name = fname
                if side_col:
                    side, _, rel_dir = rel_dir.partition(os.sep)
                    name = f"{side.split('=', 1)[1]}-{fname}"
                # partitionValues carry the LOGICAL value: Spark
                # Hive-escapes special characters in directory names
                partition: dict[str, str | None] = {}
                for comp in rel_dir.split(os.sep):
                    if "=" in comp:
                        k, v = comp.split("=", 1)
                        partition[k] = (
                            None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                        )
                dest_dir = os.path.join(data_root, rel_dir)
                os.makedirs(dest_dir, exist_ok=True)
                dest = os.path.join(dest_dir, name)
                os.rename(os.path.join(root, fname), dest)
                stats, rows = _file_stats(dest)
                entries.append(
                    ManifestEntry(
                        os.path.join(rel_dir, name), partition, stats, rows
                    )
                )
        shutil.rmtree(staging)
        return entries

    # -- public write API ----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        *,
        partition_cols: list[str] | None = None,
        metrics: "dict | Callable[[], dict] | None" = None,
        txn: tuple[str, int] | None = None,
        generated_cols: dict[str, str] | None = None,
        identity_cols: dict[str, dict] | None = None,
        properties: dict[str, str] | None = None,
        layout_ready: bool = False,
    ) -> "VersionedParquetTable":
        """Initial partitioned write (reference S7,
        ``src/header_etl.py:159-162``). ``txn`` records a writer
        transaction in the first commit, so a sink whose very first
        micro-batch creates the table is still replay-idempotent.

        ``generated_cols`` (col → SQL expr) declares ``GENERATED
        ALWAYS AS`` columns: derived automatically when a writer omits
        them, validated on the write job when supplied — the Delta
        pattern that keeps partition-derivation columns (year/month/day
        of an event time) consistent table-wide by construction."""
        t = cls(spark, path)
        if cls.is_table(path):
            raise FileExistsError(path)
        pc = partition_cols or []
        gen = generated_cols or {}
        ident = {
            c: {
                "start": int(s.get("start", 1)),
                "step": int(s.get("step", 1)),
                "next": int(s.get("start", 1)),
            }
            for c, s in (identity_cols or {}).items()
        }
        df = t._apply_identity(t._apply_generated(df, gen), ident)
        files = t._write_files(df, pc, generated=gen, layout_ready=layout_ready)
        t._write_commit(
            None, files, "CREATE", metrics,
            txn=txn,
            schema=df.schema,
            partition_cols=pc,
            generated_cols=gen,
            identity_cols=t._identity_bump({"identity_cols": ident}, files),
            properties={k: str(v) for k, v in (properties or {}).items()},
        )
        return t

    def register_view(
        self, name: str, version: int | None = None
    ) -> DataFrame:
        """``createOrReplaceTempView`` over a snapshot — the
        ``spark.sql`` surface (reference §2.9) for versioned tables;
        pass ``version`` for a time-travel view."""
        df = self.read(version)
        df.createOrReplaceTempView(name)
        return df

    def txn_versions(self) -> dict[str, int]:
        """Writer-transaction watermarks at the head: app_id → the
        highest transaction version that app has committed (Delta's
        ``txn`` action / ``txnAppId``+``txnVersion`` analogue)."""
        return dict(self.snapshot()["txns"])

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed transaction version for ``app_id``, or
        None if that app never wrote. The exactly-once handshake for
        streaming ``foreachBatch`` sinks: the writer asks this before
        replaying a micro-batch after a crash."""
        return self.txn_versions().get(app_id)

    def properties(self, version: int | None = None) -> dict[str, str]:
        """Table properties (``TBLPROPERTIES`` analogue), carried per
        commit. Recognized keys: ``autoCompact`` (``"true"`` → every
        append checks its touched partitions and compacts any that
        crossed ``autoCompact.minFiles``, default 16 — Delta's
        auto-compaction trade: small steady write tax for never letting
        streaming appends accumulate a small-file problem)."""
        return dict(self.snapshot(version)["properties"])

    def set_property(self, key: str, value: str) -> int:
        m = self.snapshot()
        return self._write_commit(
            m, [_entry(f) for f in m["files"]], "SET_PROPERTY",
            {"key": key, "value": str(value)},
            properties={**m["properties"], key: str(value)},
        )

    def unset_property(self, key: str) -> int:
        m = self.snapshot()
        props = dict(m["properties"])
        if key not in props:
            raise KeyError(key)
        props.pop(key)
        return self._write_commit(
            m, [_entry(f) for f in m["files"]], "UNSET_PROPERTY", {"key": key},
            properties=props,
        )

    def generated_columns(self, version: int | None = None) -> dict[str, str]:
        """col → SQL expression for ``GENERATED ALWAYS AS`` columns
        (Delta generated-columns analogue)."""
        return dict(self.snapshot(version)["generated_cols"])

    def identity_columns(self, version: int | None = None) -> dict[str, dict]:
        """col → ``{"start", "step", "next"}`` identity state (Delta
        ``GENERATED BY DEFAULT AS IDENTITY``): ids are unique and move
        in ``step``'s direction, NOT consecutive — exactly Delta's
        contract. ``next`` is the per-commit high watermark."""
        return {
            k: dict(s) for k, s in self.snapshot(version)["identity_cols"].items()
        }

    def _apply_identity(
        self, df: DataFrame, ident: dict[str, dict] | None
    ) -> DataFrame:
        """Assign identity values to rows of ``df`` lacking the column
        (BY DEFAULT semantics: caller-supplied values pass through).
        ``next + step * monotonically_increasing_id()`` is unique
        within the write with no global window (the single-partition
        hazard Delta also avoids by allocating per-partition ranges);
        gaps are allowed by contract."""
        for c, spec in (ident or {}).items():
            if c not in df.columns:
                df = df.withColumn(
                    c,
                    (
                        F.lit(int(spec["next"]))
                        + F.lit(int(spec["step"]))
                        * F.monotonically_increasing_id()
                    ).cast("long"),
                )
        return df

    def _identity_bump(
        self, m: dict, new_files: list[ManifestEntry]
    ) -> dict[str, dict]:
        """Advance each identity column's ``next`` watermark past the
        values just written — read from the new files' FOOTER stats,
        zero extra data I/O."""
        ident = {k: dict(s) for k, s in (m.get("identity_cols") or {}).items()}
        for c, spec in ident.items():
            step = int(spec["step"])
            vals = []
            for e in new_files:
                st = (e.stats or {}).get(c)
                if st is None or st.get("max") is None:
                    if e.rows:
                        raise RuntimeError(
                            f"identity column {c}: footer stats missing in "
                            f"{e.path}; cannot advance the watermark safely"
                        )
                    continue
                vals.append(st["max"] if step > 0 else st["min"])
            if vals:
                edge = max(vals) if step > 0 else min(vals)
                cand = int(edge) + step
                spec["next"] = (
                    max(int(spec["next"]), cand)
                    if step > 0
                    else min(int(spec["next"]), cand)
                )
        return ident

    def _apply_generated(
        self, df: DataFrame, gen: dict[str, str] | None = None
    ) -> DataFrame:
        """Derive any generated column ABSENT from ``df`` (writers may
        omit them, like Delta); columns the writer did supply are
        validated against their expression at write time instead
        (see ``_write_files``)."""
        if gen is None:
            gen = (
                self.generated_columns() if self.is_table(self.path) else {}
            )
        for c, e in gen.items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(e))
        return df

    def column_mapping(self, version: int | None = None) -> dict[str, str]:
        """Logical → physical column-name mapping at ``version`` (Delta
        column-mapping analogue). Physical = the name a column was born
        with; identity for never-renamed columns (absent from the map)."""
        return dict(self.snapshot(version)["column_mapping"])

    @staticmethod
    def _check_alterable(m: dict, col: str, verb: str) -> T.StructType:
        """Refuse to rename/drop ``col`` (``verb``) when it is missing,
        a partition column (its name is baked into directory layout and
        the log's partition values), or referenced by a CHECK
        constraint or generated column (the stored SQL text would
        silently stop binding) or an identity column; returns ``m``'s
        schema."""
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        if col not in schema.fieldNames():
            raise ValueError(f"no such column: {col}")
        if col in m["partition_cols"]:
            raise ValueError(
                f"cannot {verb} partition column {col}: partition values "
                "are keyed by name in the directory layout and the log"
            )

        def uses(e: str) -> bool:
            return re.search(rf"\b{re.escape(col)}\b", e, re.IGNORECASE) is not None

        referenced = [n for n, e in m["constraints"].items() if uses(e)]
        if referenced:
            raise ValueError(
                f"cannot {verb} {col}: referenced by CHECK constraint(s) "
                f"{referenced} — drop them first"
            )
        gen_hits = [c for c, e in m["generated_cols"].items() if c == col or uses(e)]
        if gen_hits:
            raise ValueError(
                f"cannot {verb} {col}: involved in generated column(s) {gen_hits}"
            )
        if col in m["identity_cols"]:
            raise ValueError(f"cannot {verb} identity column {col}")
        return schema

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` without rewriting a single
        data file (Delta column mapping, name mode): a metadata-only
        commit that renames the schema field and records
        logical→physical indirection — existing files keep their
        on-disk (physical) name, readers alias it back, and future
        writes keep emitting the physical name so all live files agree
        on parquet schema. Refused for the columns
        :meth:`_check_alterable` protects."""
        m = self.snapshot()
        schema = self._check_alterable(m, old, "rename")
        if new in schema.fieldNames():
            raise ValueError(f"column already exists: {new}")
        mapping = dict(m["column_mapping"])
        mapping[new] = mapping.pop(old, old)
        new_schema = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        return self._write_commit(
            m, [_entry(f) for f in m["files"]], "RENAME_COLUMN",
            {"renamed": f"{old} -> {new}"},
            schema=new_schema,
            column_mapping=mapping,
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE DROP COLUMN`` without rewriting data files
        (Delta column-mapping drop): a metadata-only commit removing
        the field from the schema — readers simply never project the
        on-disk column again, and time travel below the commit still
        sees it. Same restrictions as rename; dropping the last column
        is refused."""
        m = self.snapshot()
        schema = self._check_alterable(m, name, "drop")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        mapping = dict(m["column_mapping"])
        physical = mapping.pop(name, name)
        return self._write_commit(
            m, [_entry(f) for f in m["files"]], "DROP_COLUMN", {"dropped": name},
            schema=T.StructType([f for f in schema.fields if f.name != name]),
            column_mapping=mapping,
            # tombstone the physical name: live files still hold its
            # data, so a later schema-evolving add of the same name
            # would silently resurrect old values — refused instead
            # (Delta avoids this with GUID physical names)
            retired_physical=sorted(set(m["retired_physical"]) | {physical}),
        )

    def append(self, df: DataFrame, *, merge_schema: bool = False,
               metrics: "dict | Callable[[], dict] | None" = None,
               txn: tuple[str, int] | None = None,
               layout_ready: bool = False,
               cdc_files: list[str] | None = None) -> int:
        """Append-only commit (reference S9 ``mergeSchema`` append,
        ``schema_evolution_step1.py:144``): adds files, never rewrites.
        With ``merge_schema`` the committed schema is the union; old
        files simply lack the new columns (read as NULL).

        Concurrency: appends conflict with nothing (they only add
        files), so a version collision with another writer is resolved
        optimistically — re-read the head snapshot, merge the new files
        on top, retry (Delta's blind-append semantics). The data files
        are written once; only the commit retries.

        ``txn=(app_id, txn_version)`` makes the append **idempotent**
        (Delta's ``txnAppId``/``txnVersion``): if the table has already
        recorded a transaction >= ``txn_version`` for ``app_id``, the
        append is a no-op returning the current version — so a
        micro-batch replayed after a sink crash lands exactly once.
        The check re-runs after every commit-race rebase, closing the
        window where two replicas replay the same batch concurrently.

        ``layout_ready=True`` skips the pre-write rebalance on the
        partition columns — for writers that pre-arranged the physical
        layout themselves (e.g. range-sorted batches for data
        skipping) and accept the small-file trade."""
        m = self.snapshot()
        if _txn_applied(m, txn):
            return m["version"]
        pc = list(m["partition_cols"])
        schema = _table_schema(m, df) if merge_schema else _table_schema(m)
        ident_assigned = any(
            c not in df.columns for c in (m.get("identity_cols") or {})
        )
        df = self._apply_identity(
            self._apply_generated(df, m.get("generated_cols")),
            m.get("identity_cols"),
        )
        df = _align(df, schema)
        cons = m.get("constraints") or {}
        new_files = self._write_files(
            df, pc, cons,
            generated=m.get("generated_cols"),
            mapping=m.get("column_mapping"),
            layout_ready=layout_ready,
        )
        ident = self._identity_bump(m, new_files)
        base_schema_json, base_cons = m["schema"], cons
        for attempt in range(10):
            files = [_entry(f) for f in m["files"]] + new_files
            try:
                v = self._write_commit(
                    m, files, "APPEND", metrics, txn=txn, cdc_files=cdc_files,
                    schema=schema, identity_cols=ident,
                )
                self._maybe_auto_compact(new_files)
                return v
            except RuntimeError:  # version collision: rebase on new head
                m = self.snapshot()
                if ident_assigned:
                    # identity values were allocated against the LOST
                    # head's watermark — the rival may hold overlapping
                    # ids. Hard conflict; a retry re-derives fresh ids.
                    raise RuntimeError(
                        f"append to {self.path} lost a commit race while "
                        "assigning identity values — retry the operation"
                    ) from None
                # caller-supplied identity values: rebase the watermark
                # on the NEW head so the retried commit never regresses
                # a rival's advance
                ident = self._identity_bump(m, new_files)
                if _txn_applied(m, txn):
                    # the racing writer WAS this same logical
                    # transaction (replica replay): our staged files
                    # stay unreferenced (vacuum sweeps them) and the
                    # batch still lands exactly once.
                    return m["version"]
                # a blind append rebases only onto metadata-identical
                # heads: if the winner changed the schema or the
                # constraint set, this append's files were written and
                # validated against stale metadata — real conflict.
                if (
                    m["schema"] != base_schema_json and not merge_schema
                ) or (m.get("constraints") or {}) != base_cons:
                    raise RuntimeError(
                        f"append to {self.path} conflicts with a concurrent "
                        "schema/constraint change — retry the operation"
                    ) from None
                if merge_schema and m["schema"] != base_schema_json:
                    # The winning commit changed the schema. The stale
                    # locally-computed union (base head ∪ df) would
                    # silently DROP the winner's new columns from the
                    # table schema (its files would read as absent).
                    # Rebase the schema too: new head ∪ df's fields.
                    # Our already-written files lack the winner's
                    # columns and read them as NULL — standard
                    # mergeSchema semantics.
                    schema = _table_schema(m, df)
                    base_schema_json = m["schema"]
        raise RuntimeError(
            f"append to {self.path} lost {attempt + 1} optimistic commit races"
        )

    def _maybe_auto_compact(self, new_files: list[ManifestEntry]) -> None:
        """Post-append auto-compaction (Delta ``autoCompact``): when
        the table property is set, check only THIS append's touched
        partitions (cost ∝ the write, never the table) and compact any
        whose live file count crossed ``autoCompact.minFiles``.
        Best-effort: a commit-race loss skips the compaction — the
        next crossing append retries it."""
        # ENTIRELY best-effort, and it runs AFTER the append's commit
        # has durably succeeded: no exception may escape, or a caller
        # would retry an append that actually landed (double-write).
        try:
            props = self.properties()
            if props.get("autoCompact", "").lower() != "true":
                return
            try:
                thr = max(2, int(props.get("autoCompact.minFiles", "16")))
            except ValueError:
                thr = 16  # malformed property: fall back, don't fail
            touched = {tuple(sorted(e.partition.items())) for e in new_files}
            per: dict[tuple, int] = {}
            for f in self.snapshot()["files"]:
                k = tuple(sorted(f["partition"].items()))
                if k in touched:
                    per[k] = per.get(k, 0) + 1
            crowded = [dict(k) for k, n in per.items() if n >= thr]
            if not crowded:
                return
            self.compact(
                max_files_per_partition=thr - 1, only_partitions=crowded
            )
        except Exception as e:  # noqa: BLE001 — commit-race loss, transient FS…
            # keep the no-raise contract, but a PERSISTENTLY failing
            # auto-compaction (corrupt partition, permissions) must not
            # be invisible while small files pile up
            warnings.warn(
                f"auto-compaction skipped on {self.path}: {e!r}",
                RuntimeWarning,
                stacklevel=2,
            )

    def overwrite(self, df: DataFrame, *, metrics: "dict | Callable[[], dict] | None" = None,
                  layout_ready: bool = False,
                  txn: tuple[str, int] | None = None) -> int:
        """Full-replace commit. ``txn=(app_id, txn_version)`` makes it
        idempotent exactly like :meth:`append`'s — a replayed
        micro-batch that REPLACES state (e.g. a streaming model table)
        must not re-apply its update on top of its own result."""
        m = self.snapshot()
        if _txn_applied(m, txn):
            return m["version"]
        pc = list(m["partition_cols"])
        cons = m.get("constraints") or {}
        df = self._apply_identity(
            self._apply_generated(df, m.get("generated_cols")),
            m.get("identity_cols"),
        )
        files = self._write_files(
            df, pc, cons,
            generated=m.get("generated_cols"),
            mapping=m.get("column_mapping"),
            layout_ready=layout_ready,
        )
        return self._write_commit(
            m, files, "OVERWRITE", metrics, txn=txn, schema=df.schema,
            identity_cols=self._identity_bump(m, files),
        )

    def replace_partitions(
        self,
        df: DataFrame,
        partitions: list[dict[str, str]],
        *,
        adds: DataFrame | None = None,
        operation: str = "REPLACE_PARTITIONS",
        merge_schema: bool = False,
        metrics: "dict | Callable[[], dict] | None" = None,
        layout_ready: bool = False,
        cdc_files: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Partition-scoped copy-on-write: swap the files of exactly
        ``partitions`` for ``df``'s files; every other partition is
        carried by reference. This is the engine's MERGE rewrite
        primitive — cost proportional to touched data, not table size.
        ``merge_schema`` widens the committed schema with the new
        nullable columns of ``df`` and ``adds`` (untouched partitions
        read them as NULL).

        ``adds`` appends new rows, in any partition, in the SAME commit
        (like :meth:`remove_rows`'s): one Spark write covers both
        sides, so the scheduler overlaps them, and a reader sees the
        rewrite and the appended rows together or not at all. Only
        ``df`` must stay inside ``partitions``.

        Concurrency (Delta's logical conflict rules at partition
        granularity): on a version collision the commit REBASES when
        the winning commit (a) changed no table metadata and (b)
        touched only partitions disjoint from this rewrite — e.g. two
        SCD2 merges for different days, or an unrelated append, land
        concurrently. Any overlap or metadata change is a hard
        conflict (the replacement was computed from a stale read of
        exactly those partitions). ``adds`` rebase like a blind append.
        """
        m = self.snapshot()
        if _txn_applied(m, txn):
            return m["version"]
        pc = list(m["partition_cols"])
        schema = _table_schema(m, df, adds) if merge_schema else _table_schema(m)
        touched = {tuple(sorted(p.items())) for p in partitions}
        cons = m.get("constraints") or {}
        ident = m.get("identity_cols") or {}
        gen = m.get("generated_cols")
        data, side_col, write_schema = self._apply_generated(df, gen), None, schema
        if adds is not None:
            # identity values must come from ONE plan to stay unique
            if any((c in df.columns) != (c in adds.columns) for c in ident):
                raise ValueError(
                    "df and adds must both carry or both omit each "
                    f"identity column {sorted(ident)}"
                )
            side_col = "__side"
            data = data.withColumn(side_col, F.lit("replace")).unionByName(
                self._apply_generated(adds, gen).withColumn(side_col, F.lit("add")),
                allowMissingColumns=True,
            )
            write_schema = T.StructType(
                [*schema.fields, T.StructField(side_col, T.StringType())]
            )
        ident_assigned = any(c not in data.columns for c in ident)
        new_files = self._write_files(
            _align(self._apply_identity(data, ident), write_schema),
            pc,
            cons,
            generated=gen,
            mapping=m.get("column_mapping"),
            layout_ready=layout_ready,
            side_col=side_col,
        )
        added, replaced = [], []
        for e in new_files:
            is_add = os.path.basename(e.path).startswith("add-")
            (added if is_add else replaced).append(e)
        stray = [
            e for e in replaced if tuple(sorted(e.partition.items())) not in touched
        ]
        if stray:
            raise ValueError(
                f"replacement data writes outside the declared partitions: {stray[:3]}"
            )

        def _meta_key(man: dict) -> tuple:
            return (
                man["schema"],
                man.get("constraints") or {},
                man.get("column_mapping") or {},
                man.get("generated_cols") or {},
                man.get("properties") or {},
                sorted(man.get("retired_physical") or []),
            )

        for _attempt in range(10):
            kept = [
                _entry(f)
                for f in m["files"]
                if tuple(sorted(f["partition"].items())) not in touched
            ]
            # computed OUTSIDE the try: its own RuntimeError (missing
            # identity footer stats) must surface as itself, not be
            # misread as a lost commit race
            ident_state = self._identity_bump(m, new_files)
            try:
                v = self._write_commit(
                    m, kept + new_files, operation, metrics,
                    txn=txn, cdc_files=cdc_files,
                    # pure re-layout commits rewrite the same visible
                    # rows — Delta's dataChange=false; the change feed
                    # skips them
                    data_change=operation not in ("COMPACT", "ZORDER"),
                    schema=schema, identity_cols=ident_state,
                )
                if added:
                    self._maybe_auto_compact(added)
                return v
            except RuntimeError:  # lost the version race — try to rebase
                m2 = self.snapshot()
                if _txn_applied(m2, txn):
                    # the racing writer WAS this logical transaction
                    # (replica replay): land-once; staged files stay
                    # unreferenced for vacuum to sweep
                    return m2["version"]
                if ident_assigned:
                    raise RuntimeError(
                        f"partition rewrite of {self.path} lost a commit "
                        "race while assigning identity values — retry the "
                        "operation"
                    ) from None
                if _meta_key(m2) != _meta_key(m) and not (
                    merge_schema and _meta_key(m2)[1:] == _meta_key(m)[1:]
                ):
                    raise RuntimeError(
                        f"partition rewrite of {self.path} conflicts with a "
                        "concurrent metadata change — retry the operation"
                    ) from None
                base_files = {f["path"]: f for f in m["files"]}
                head_files = {f["path"]: f for f in m2["files"]}
                winner_parts = {
                    tuple(sorted(f["partition"].items()))
                    for p, f in head_files.items()
                    if p not in base_files or not _same_record(f, _entry(base_files[p]))
                } | {
                    tuple(sorted(f["partition"].items()))
                    for p, f in base_files.items()
                    if p not in head_files
                }
                if winner_parts & touched:
                    raise RuntimeError(
                        f"partition rewrite of {self.path} conflicts with a "
                        "concurrent commit touching the same partition(s) "
                        f"{[dict(t) for t in sorted(winner_parts & touched)][:3]}"
                        " — re-read and retry"
                    ) from None
                if m2["schema"] != m["schema"]:
                    # merge_schema rebase: re-union onto the winner's schema
                    schema = _table_schema(m2, df, adds)
                m = m2
        raise RuntimeError(
            f"partition rewrite of {self.path} lost 10 optimistic commit races"
        )

    def upsert(
        self,
        updates: DataFrame,
        key_cols: "Sequence[str]",
        *,
        deletes: DataFrame | None = None,
        sync_deletes: bool = False,
        mode: str = "rewrite",
        operation: str = "UPSERT",
        metrics: "dict | Callable[[], dict] | None" = None,
        txn: tuple[str, int] | None = None,
        skew_policy: str = "off",
        skew_hot_rows: int = 100_000,
        skew_ratio: float = 32.0,
    ) -> dict:
        """Generic MERGE (reference S8's ``whenMatchedUpdate`` +
        ``whenNotMatchedInsert``, src/header_etl.py:205-215 shape, made
        table-generic): rows of ``updates`` replace same-key rows and
        insert otherwise. ``updates`` must be unique per key (classic
        MERGE multiple-source-rows-match error, left to the caller).
        ``deletes`` (key rows; the ``whenMatchedDelete`` clause) drops
        those keys in the same commit.

        ``sync_deletes=True`` is the ``WHEN NOT MATCHED BY SOURCE THEN
        DELETE`` clause: target keys absent from ``updates`` are
        dropped, making the table an exact mirror of the source — the
        dimension-snapshot-sync shape. Inherently a full-key
        comparison: the key anti-join scans the target's key columns
        (column-pruned), and every partition holding a vanished key is
        rewritten; partition scoping still skips partitions whose rows
        all survive.

        Partition-scoped: only partitions holding a matched/deleted
        key's old row or receiving a new row are rewritten — including
        the move case where an update changes its own partition values.
        Cost ∝ touched partitions, never table size.

        ``mode="dv"`` is **merge-on-read**: old rows of matched/deleted
        keys are marked dead via deletion vectors and the
        updates append in the SAME commit — write amplification
        O(changed rows) instead of O(touched partitions). The trade is
        Delta's: reads of DV'd files pay a tiny anti-join until
        ``compact()`` materializes the deletes. Same result as
        ``rewrite`` in every snapshot read.

        ``txn=(app_id, txn_version)`` makes the merge **idempotent**
        (same contract as :meth:`append`): an already-applied batch is
        skipped before any work, and a lost commit race against the
        same logical transaction lands once — exactly-once foreachBatch
        MERGE sinks.

        ``skew_policy`` (round-9 directive #4, opt-in, default
        ``"off"``): pre-flight the TARGET's key distribution
        (``operators/skew.decide_hot_keys`` — "auto" profiles +
        thresholds, "force" always splits) and route hot keys' target
        rows through broadcast split joins for every target-side
        semi/anti probe (match counts, CDC pre-images, the DV dead-row
        scan, the rewrite survivors anti-join). This is the planned
        defense for the one shape AQE's skew-join cannot fix: a single
        key whose target rows exceed a task even after partition
        splitting. The probe sides (``upd_keys``/``gone_keys``) are
        key-distinct, so the broadcast branch is replication-free. The
        "auto" profile is one key-aggregation over the current
        snapshot — that scan cost is why the default stays "off"; turn
        it on for tables with power-law keys.
        """
        keys = list(key_cols)
        if mode not in {"rewrite", "dv"}:
            raise ValueError(f"unknown upsert mode: {mode!r}")
        if mode == "dv" and txn is not None:
            raise ValueError(
                "txn-idempotent upsert supports mode='rewrite' only "
                "(the DV commit path does not thread writer "
                "transactions yet)"
            )
        m = self.snapshot()
        if _txn_applied(m, txn):
            return {
                "n_updated": 0,
                "n_inserted": 0,
                "n_deleted": 0,
                "skipped_txn": True,
            }
        pc = list(m["partition_cols"])
        cur = self.read()
        updates = self._apply_generated(updates, m.get("generated_cols"))
        # Identity semantics match Delta MERGE with BY DEFAULT columns:
        # only NOT-MATCHED (insert) rows get fresh ids; a matched row
        # whose update omits the identity column KEEPS its existing id
        # (carried from the old row — reassigning would silently break
        # every downstream reference to the surrogate key).
        ident = m.get("identity_cols") or {}
        omitted = [c for c in ident if c not in updates.columns]
        if omitted:
            old_ids = cur.groupBy(*keys).agg(
                *[F.min(c).alias(c) for c in omitted]
            )
            matched_upd = updates.join(old_ids, on=keys, how="inner")
            new_upd = self._apply_identity(
                updates.join(old_ids.select(*keys), on=keys, how="left_anti"),
                ident,
            )
            updates = matched_upd.unionByName(
                new_upd.select(*matched_upd.columns)
            )
        upd_keys = updates.select(*keys).distinct()
        if sync_deletes:
            if deletes is not None:
                raise ValueError("pass deletes or sync_deletes, not both")
            deletes = cur.select(*keys).distinct().join(
                upd_keys, on=keys, how="left_anti"
            )
        del_keys = deletes.select(*keys).distinct() if deletes is not None else None
        gone_keys = (
            upd_keys if del_keys is None else upd_keys.unionByName(del_keys).distinct()
        )
        from delta_lake_pyspark_scd2_spark.operators.skew import (
            decide_hot_keys,
            hot_split_join,
        )

        hot_df, _, n_hot_keys = decide_hot_keys(
            cur,
            keys,
            policy=skew_policy,
            hot_rows=skew_hot_rows,
            ratio=skew_ratio,
        )

        def _semi(left: DataFrame, right: DataFrame) -> DataFrame:
            if hot_df is None:
                return left.join(right, on=keys, how="left_semi")
            return hot_split_join(left, right, keys, hot=hot_df, how="left_semi")

        def _anti(left: DataFrame, right: DataFrame) -> DataFrame:
            if hot_df is None:
                return left.join(right, on=keys, how="left_anti")
            return hot_split_join(left, right, keys, hot=hot_df, how="left_anti")

        n_matched = _semi(cur, upd_keys).count()
        n_updates = updates.count()
        n_deleted = (
            _semi(cur, del_keys).count() if del_keys is not None else 0
        )
        out = {
            "n_updated": n_matched,
            "n_inserted": n_updates - n_matched,
            "n_deleted": n_deleted,
        }
        if skew_policy != "off":
            out["n_hot_keys"] = n_hot_keys
        cdc_files = None
        if self._cdc_enabled(m):
            # Row-level change records, written WITH the commit (Delta
            # CDF's _change_data): full update pre/post-image pairing,
            # so the streaming source reads changes from these files on
            # executors instead of re-deriving them by join.
            upd = updates.select(*cur.columns)
            cur_keys = cur.select(*keys).distinct()
            change = (
                _semi(cur, upd_keys)
                .withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    upd.join(cur_keys, on=keys, how="left_semi")
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
                .unionByName(
                    upd.join(cur_keys, on=keys, how="left_anti")
                    .withColumn("_change_type", F.lit("insert"))
                )
            )
            if del_keys is not None:
                # a key in BOTH updates and deletes ends up present
                # (updates win in the merged output), so it must not
                # also emit a delete record
                change = change.unionByName(
                    _semi(
                        cur, del_keys.join(upd_keys, on=keys, how="left_anti")
                    ).withColumn("_change_type", F.lit("delete"))
                )
            cdc_files = self._write_cdc(change)
        if mode == "dv":
            # merge-on-read: DV the old rows of every matched/deleted
            # key (positional read scoped to the partitions that hold
            # them), append the updates in the same commit
            if pc:
                old_parts = (
                    _semi(cur, gone_keys)
                    .select(*pc)
                    .distinct()
                )
                touched = [
                    {k: str(r[k]) for k in pc} for r in old_parts.collect()
                ]
            else:
                touched = [{}]
            dead = None
            if touched:
                # persisted: the positional scan + semi-join feeds the
                # emptiness gate, remove_rows' per-file counts, AND the
                # deletion-vector build — without it the dominant I/O runs 3x
                dead = (
                    _semi(
                        self.read_partitions(touched, with_position=True),
                        gone_keys,
                    )
                    .select("__file", "__pos")
                    .persist()
                )
            try:
                if dead is not None and not dead.isEmpty():
                    self.remove_rows(
                        dead,
                        adds=updates.select(*cur.columns),
                        operation=operation,
                        metrics=metrics or out,
                        cdc_files=cdc_files,
                    )
                else:
                    self.append(
                        updates.select(*cur.columns), metrics=metrics or out,
                        cdc_files=cdc_files,
                    )
            finally:
                if dead is not None:
                    dead.unpersist()
                if hot_df is not None:
                    hot_df.unpersist()
            return out
        if pc:
            old_parts = (
                _semi(cur, gone_keys).select(*pc).distinct()
            )
            parts = old_parts.unionByName(updates.select(*pc).distinct()).distinct()
            touched = [{k: str(r[k]) for k in pc} for r in parts.collect()]
            base = self.read_partitions(touched)
        else:
            touched = [{}]
            base = cur
        survivors = _anti(base, gone_keys)
        merged = survivors.unionByName(updates.select(*base.columns))
        try:
            self.replace_partitions(
                merged, touched, operation=operation, metrics=metrics or out,
                cdc_files=cdc_files, txn=txn,
            )
        finally:
            if hot_df is not None:
                hot_df.unpersist()
        return out

    def delete(
        self,
        filters: "Sequence[tuple]",
        *,
        metrics: "dict | Callable[[], dict] | None" = None,
    ) -> dict:
        """``DELETE FROM`` (Delta deletion analogue) at FILE
        granularity: data skipping (``files_for``) first narrows the
        rewrite set to files whose stats admit a match; only those are
        re-written without the matching rows, every other file is
        carried by reference. Cost ∝ files that might hold deleted
        rows — at 100 TB a predicate on a clustered column touches a
        handful of files, not the table. Rewritten files whose rows all
        matched simply vanish from the snapshot.
        """
        m = self.snapshot()
        pc = list(m["partition_cols"])
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        candidates = {e.path for e in self.files_for(filters)}
        kept = [_entry(f) for f in m["files"] if f["path"] not in candidates]
        if not candidates:
            self._write_commit(m, kept, "DELETE", metrics or {"n_deleted": 0})
            return {"n_deleted": 0, "n_files_rewritten": 0}
        cand_df = self._read_paths(m, sorted(candidates))
        hit = _hit(filters)
        survivors = cand_df.filter(~hit)
        cdc_files = None
        if self._cdc_enabled(m):
            cdc_files = self._write_cdc(
                cand_df.filter(hit)
                .withColumn("_change_type", F.lit("delete"))
            )
        n_before = sum(
            (f["rows"] or 0) - (f["dv"] or {}).get("cardinality", 0)
            for f in m["files"]
            if f["path"] in candidates
        )
        new_files = self._write_files(
            _align(survivors, schema), pc,
            mapping=m.get("column_mapping"),
            # narrow per-file rewrite: survivors keep their source
            # files' (possibly z-ordered) row order and tight stats;
            # a rebalance here would merge-shuffle them and widen
            # every rewritten file's min/max
            layout_ready=True,
        )
        n_after = sum(e.rows or 0 for e in new_files)
        out = {
            "n_deleted": n_before - n_after,
            "n_files_rewritten": len(candidates),
        }
        self._write_commit(
            m, kept + new_files, "DELETE", metrics or out, cdc_files=cdc_files
        )
        return out

    def purge(self, filters: "Sequence[tuple]") -> dict:
        """Right-to-be-forgotten erasure ACROSS RETAINED HISTORY: after
        this, NO retained version — time travel, CDF replay, or CDC
        stream bootstrap — can return a matching row. (Plain
        ``delete`` only removes rows going forward; every older
        version still serves them, which is exactly what GDPR-style
        erasure cannot allow.)

        Mechanics:

        1. A normal :meth:`delete` commits at head first — so the live
           table's evolution is an honest DELETE (CDF pre-images,
           observation metrics, constraints) and downstream MVs fold
           it correctly.
        2. Every earlier retained version's log is then rewritten IN
           PLACE: data skipping (``files_for`` per version) narrows to
           files whose stats admit a match, each is re-read under the
           head schema, matching rows are dropped, and the replacement
           entries (fresh footer stats) are substituted into every
           commit's ``add``/``remove`` actions and every checkpoint
           that referenced the old file. Files whose rows all matched
           vanish from history entirely.
        3. Past commits' change-data files are scrubbed the same way
           (in place, path-stable) so a CDF replay cannot resurrect
           purged rows either.
        4. The replaced physical files are deleted.

        Cost ∝ files-that-might-match across history, not table size —
        the same data-skipping bound as ``delete``, times retained
        versions that share those files (shared files rewrite ONCE).

        Files covered by a deletion vector in ANY retained version
        (merge-on-read tables — ``upsert(mode="dv")`` /
        ``close_mode="dv"``) are handled, not refused (round-9
        directive #2): the rewrite shifts row positions, so a DV'd
        file's replacement is forced to a single file written in
        ascending old-position order, and every deletion vector of it
        is remapped into a new one — purged positions dropped,
        surviving dead positions moved to the new position — so each
        retained version still sees exactly its own dead rows, minus
        the purged ones.

        Limitations (explicit, never silent): commit and checkpoint
        rewrites are per-file atomic (``os.replace``, local
        filesystem) but not transactional across versions; a crash
        mid-purge leaves a partially-scrubbed history and RE-RUNNING
        the same purge completes it (idempotent: already-scrubbed files
        no longer match). Rows already delivered to external consumers
        cannot be recalled — that is inherent to erasure, not this
        mechanism.
        """
        # candidate files across ALL retained versions (dedup by path;
        # a file shared by many versions is rewritten once), plus every
        # deletion vector any version holds for each — collected BEFORE
        # any mutation
        candidates: dict[str, dict] = {}
        dvs_by_path: dict[str, dict] = {}
        for v in self.versions():
            admitted = {e.path for e in self.files_for(filters, v)}
            for f in self.snapshot(v)["files"]:
                if f["path"] not in admitted:
                    continue
                candidates.setdefault(f["path"], f)
                if f["dv"]:
                    dvs_by_path.setdefault(f["path"], {})[_dv_key(f["dv"])] = f["dv"]

        head_out = self.delete(filters)
        head_m = self.snapshot()
        pc = list(head_m["partition_cols"])
        schema = T.StructType.fromJson(json.loads(head_m["schema"]))
        mapping = head_m["column_mapping"]

        hit = _hit(filters)
        retained = self.versions()

        # rewrite candidate data files (None = every row matched)
        replacement: dict[str, list[ManifestEntry] | None] = {}
        # (old path, old DV identity) -> remapped DV (None: none survive)
        new_dvs: dict[tuple, dict | None] = {}
        n_purged = 0
        for p, f in sorted(candidates.items()):
            has_dv = p in dvs_by_path
            df = self._scan([dict(f, dv=None)], head_m, with_position=has_dv)
            survivors = df.filter(~hit)
            n_kept = survivors.count()
            n_before = f["rows"]
            if n_before is None:
                # log entry lacks a row stat: one extra action on
                # the already-scanned file beats a needless rewrite
                # (and a negative erasure count in the report)
                n_before = df.count()
            if n_kept == n_before:
                continue  # stats admitted, no actual match
            n_purged += n_before - n_kept
            if n_kept == 0:
                replacement[p] = None
                continue
            if not has_dv:
                replacement[p] = self._write_files(
                    _align(survivors, schema), pc, mapping=mapping,
                    layout_ready=True,
                )
                continue
            # The rewrite shifts row positions, so (a) the replacement
            # must be exactly ONE file written in ascending old-position
            # order, and (b) an old->new position map remaps the dead
            # rows. Dead-but-unpurged rows STAY in the file — the
            # per-version deletion vectors keep marking them dead.
            # global-window-ok: scope is the rows of ONE data file,
            # the same bound as the single-task rewrite below.
            w = Window.orderBy("__pos").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            pos_map = (
                df.select("__pos", (~hit).alias("__keep"))
                .withColumn(
                    "__new_pos",
                    F.sum(F.col("__keep").cast("long")).over(w) - 1,
                )
                .filter("__keep")
                .select("__pos", "__new_pos")
                .persist()
            )
            ordered = (
                survivors.repartition(1)
                .sortWithinPartitions("__pos")
                .drop("__file", "__pos")
            )
            new_entries = self._write_files(
                _align(ordered, schema), pc, mapping=mapping,
                layout_ready=True,
            )
            if len(new_entries) != 1:  # pragma: no cover - invariant
                raise AssertionError(
                    f"purge: DV'd file {p} rewrote to "
                    f"{len(new_entries)} files; position remap "
                    "requires exactly one"
                )
            replacement[p] = new_entries
            keys = sorted(dvs_by_path[p], key=str)
            vectors = []
            for k in keys:
                dead = self.spark.createDataFrame(
                    [(x,) for x in self._dead_positions(dvs_by_path[p][k])],
                    "__pos long",
                )
                vectors.append(
                    sorted(
                        r[0]
                        for r in pos_map.join(dead, "__pos")
                        .select("__new_pos")
                        .collect()
                    )
                )
            pos_map.unpersist()
            written = iter(
                delta_dv.write_dv_file([x for x in vectors if x], self.path, self._fs)
                if any(vectors)
                else []
            )
            for k, vec in zip(keys, vectors):
                new_dvs[(p, k)] = next(written) if vec else None

        def _map(actions: list[dict]) -> tuple[list[dict], bool]:
            """Substitute the replacements into log actions."""
            out, changed = [], False
            for a in actions:
                kind = next((k for k in ("add", "remove") if k in a), None)
                rel = (
                    posixpath.relpath(unquote(a[kind]["path"]), DATA_DIR)
                    if kind
                    else None
                )
                if rel not in replacement:
                    out.append(a)
                    continue
                changed = True
                old = a[kind]
                dv = old.get("deletionVector")
                dv = new_dvs[(rel, _dv_key(dv))] if dv else None
                for e in replacement[rel] or []:
                    add = self._add_action(
                        ManifestEntry(e.path, e.partition, e.stats, e.rows, dv),
                        None,
                        old.get("dataChange", True),
                    )["add"]
                    if kind == "remove":
                        add = {
                            k: add[k]
                            for k in ("path", "dataChange", "partitionValues", "size")
                        } | {"deletionTimestamp": old.get("deletionTimestamp")}
                        if dv:
                            add["deletionVector"] = dv
                    out.append({kind: add})
            return out, changed

        if replacement:
            # substitute into every retained commit and checkpoint,
            # atomically per file
            for v in retained:
                mapped, changed = _map(self.commit_actions(v))
                if changed:
                    target = fsio.local_path(self._log._commit_file(v))
                    tmp = f"{target}.tmp-{uuid.uuid4().hex}"
                    with open(tmp, "w") as fh:
                        fh.writelines(json.dumps(a) + "\n" for a in mapped)
                    os.replace(tmp, target)
            for v in self._log._checkpoint_versions():
                mapped, changed = _map(self._log.checkpoint_actions(v))
                if changed:
                    self._checkpoint(v, mapped)
            self._snap_cache.clear()
            for p in replacement:
                full = self._file(p)
                _drop_crc_sidecar(full)
                try:
                    os.remove(full)
                except FileNotFoundError:
                    pass

        n_cdc = self._purge_cdc(retained, filters)
        return {
            **head_out,
            "n_history_files_rewritten": sum(
                1 for r in replacement.values() if r is not None
            ),
            "n_history_files_dropped": sum(
                1 for r in replacement.values() if r is None
            ),
            "n_history_rows_purged": int(n_purged),
            "n_cdc_files_scrubbed": n_cdc,
        }

    def _purge_cdc(self, retained: list[int], filters) -> int:
        """Scrub matching rows out of past commits' change-data files,
        IN PLACE (paths are referenced by commit records and must not
        move). Files missing a filter column (pre-evolution) cannot
        match and are skipped."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        n = 0
        for v in retained:
            for rel in self._cdc_paths(v):
                full = os.path.join(self.path, CDC_DIR, rel)
                if not os.path.exists(full):
                    continue
                df = self.spark.read.parquet(full)
                if any(c not in df.columns for c, _, _ in filters):
                    continue  # pre-evolution file: cannot match
                survivors = df.filter(~_hit(filters))
                n_kept = survivors.count()
                if n_kept == df.count():
                    continue
                n += 1
                tmp_dir = full + f".tmp-{uuid.uuid4().hex}"
                survivors.coalesce(1).write.parquet(tmp_dir)
                parts = [
                    x for x in os.listdir(tmp_dir) if x.endswith(".parquet")
                ]
                empty_schema = None if parts else pq.read_schema(full)
                # the local Hadoop FS keeps a .<name>.crc sidecar per
                # file; replacing content in place leaves it stale and
                # every later read dies with ChecksumException
                _drop_crc_sidecar(full)
                if parts:
                    os.replace(os.path.join(tmp_dir, parts[0]), full)
                else:  # all rows matched: keep an empty, schema-true file
                    pq.write_table(
                        pa.Table.from_pylist([], schema=empty_schema), full
                    )
                shutil.rmtree(tmp_dir, ignore_errors=True)
        return n

    def update(
        self,
        filters: "Sequence[tuple]",
        set_exprs: dict[str, str],
        *,
        metrics: "dict | Callable[[], dict] | None" = None,
    ) -> dict:
        """``UPDATE ... SET ... WHERE`` (Delta UPDATE analogue) at FILE
        granularity: data skipping narrows the rewrite to files whose
        stats admit a match; those files are re-written with
        ``set_exprs`` (column → SQL expression over the OLD row, so
        ``{"price": "price * 2"}`` works) applied to matching rows,
        everything else carried by reference.

        Updated rows may move partitions (a SET touching a partition
        column lands its rows in their new partition directories, like
        Delta). Generated columns are re-derived for updated rows;
        setting one directly is rejected. CHECK constraints validate
        the rewritten files on the write job. CDF emits
        update_preimage/update_postimage pairs.
        """
        m = self.snapshot()
        gen = m.get("generated_cols") or {}
        bad = sorted(set(set_exprs) & set(gen))
        if bad:
            raise ValueError(
                f"cannot SET generated column(s) {bad}: they derive from "
                "their expression — update the source columns instead"
            )
        unknown = sorted(set(set_exprs) - {f["name"] for f in
                                           json.loads(m["schema"])["fields"]})
        if unknown:
            raise ValueError(f"UPDATE sets unknown column(s): {unknown}")
        pc = list(m["partition_cols"])
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        candidates = {e.path for e in self.files_for(filters)}
        kept = [_entry(f) for f in m["files"] if f["path"] not in candidates]
        if not candidates:
            self._write_commit(m, kept, "UPDATE", metrics or {"n_updated": 0})
            return {"n_updated": 0, "n_files_rewritten": 0}
        cand_df = self._read_paths(m, sorted(candidates))
        hit = _hit(filters)
        matched = cand_df.filter(hit)
        updated = matched.withColumns(
            {c: F.expr(e) for c, e in set_exprs.items()}
        )
        if gen:
            # re-derive generated columns from the updated source values
            updated = self._apply_generated(updated.drop(*gen.keys()), gen)
        survivors = cand_df.filter(~hit)
        merged = survivors.unionByName(updated.select(*cand_df.columns))
        cdc_files = None
        if self._cdc_enabled(m):
            cdc_files = self._write_cdc(
                matched.withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    updated.select(*cand_df.columns).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
            )
        # bounded extra scan: candidate files only, column-pruned
        n_updated = matched.count()
        cons = m.get("constraints") or {}
        new_files = self._write_files(
            _align(merged, schema), pc, cons,
            generated=gen,
            mapping=m.get("column_mapping"),
            layout_ready=True,
        )
        out = {
            "n_updated": n_updated,
            "n_files_rewritten": len(candidates),
        }
        self._write_commit(
            m, kept + new_files, "UPDATE", metrics or out, cdc_files=cdc_files
        )
        return out

    def remove_rows(
        self,
        dead: DataFrame,
        *,
        adds: DataFrame | None = None,
        operation: str = "DELETE_ROWS",
        merge_schema: bool = False,
        metrics: "dict | Callable[[], dict] | None" = None,
        cdc_files: list[str] | None = None,
    ) -> int:
        """Row-level delete WITHOUT rewriting files (Delta deletion
        vectors): ``dead`` is a ``(__file, __pos)`` frame — typically
        built from a ``with_position=True`` read — whose rows are
        marked dead in a Delta deletion vector: each affected file gets
        a new bitmap (its old dead rows plus these), all written to one
        ``deletion_vector_<uuid>.bin``, and every file's bytes stay
        untouched. ``adds`` appends new files in the same commit — the
        UPDATE pattern (DV the old row + append its replacement), which
        is what turns an O(partition) copy-on-write rewrite into an
        O(changed rows) commit. At 100 TB closing 10 keys in a 1 TB
        day-partition writes 10 rows + a KB-sized bitmap, not the day.

        ``merge_schema`` widens the committed schema with the new
        nullable columns of ``adds``.

        Read cost until compaction: scans of DV'd files pay a broadcast
        anti-join against the (tiny) dead-row set; ``compact()`` rewrites
        DV'd partitions and clears them.
        """
        m = self.snapshot()
        pc = list(m["partition_cols"])
        schema = _table_schema(m, adds) if merge_schema else _table_schema(m)
        cons = m["constraints"]
        # dead positions per file, on the driver: the bitmaps are built
        # here, and their size is bounded by the rows deleted
        per_file = {
            r["__file"]: r["ps"]
            for r in dead.groupBy("__file")
            .agg(F.collect_list("__pos").alias("ps"))
            .collect()
        }
        by_path = {f["path"]: f for f in m["files"]}
        unknown = sorted(set(per_file) - set(by_path))
        if unknown:
            raise ValueError(
                f"deletion vector targets unknown files: {unknown[:3]}"
            )
        dvs: dict[str, dict] = {}
        if per_file:
            paths = sorted(per_file)
            vectors = [
                sorted(set(per_file[p]).union(self._dead_positions(by_path[p]["dv"])))
                for p in paths
            ]
            dvs = dict(
                zip(paths, delta_dv.write_dv_file(vectors, self.path, self._fs))
            )
        entries = [
            ManifestEntry(
                f["path"], f["partition"], f["stats"], f["rows"],
                dvs.get(f["path"], f["dv"]),
            )
            for f in m["files"]
        ]
        new_files: list[ManifestEntry] = []
        if adds is not None:
            adds = self._apply_identity(
                self._apply_generated(adds, m.get("generated_cols")),
                m.get("identity_cols"),
            )
            new_files = self._write_files(
                _align(adds, schema), pc, cons,
                generated=m.get("generated_cols"),
                mapping=m.get("column_mapping"),
            )
            entries.extend(new_files)
        if cdc_files is None and self._cdc_enabled(m) and (
            per_file or adds is not None
        ):
            # Standalone CDF fallback (the dv-mode upsert passes its
            # richer pre/post-image records instead): the newly-dead
            # positions re-read as delete records, adds as inserts.
            parts = []
            if per_file:
                affected = [f for f in m["files"] if f["path"] in per_file]
                pre = (
                    self._scan(affected, m, schema=schema, with_position=True)
                    .join(
                        dead.select("__file", "__pos"),
                        on=["__file", "__pos"],
                        how="left_semi",
                    )
                    .drop("__file", "__pos")
                )
                parts.append(pre.withColumn("_change_type", F.lit("delete")))
            if adds is not None:
                parts.append(
                    _align(adds, schema).withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            change = parts[0]
            for p in parts[1:]:
                change = change.unionByName(p)
            cdc_files = self._write_cdc(change)
        n_dead = sum(len(ps) for ps in per_file.values())
        v = self._write_commit(
            m,
            entries,
            operation,
            metrics or {"n_deleted": n_dead, "n_files_dv": len(per_file)},
            cdc_files=cdc_files,
            schema=schema,
            # the appended replacements may carry identity values
            # (dv-mode upsert): advance the watermark past them, or a
            # later assignment would reuse their ids
            identity_cols=self._identity_bump(m, new_files),
        )
        if new_files:
            self._maybe_auto_compact(new_files)
        return v

    def compact(
        self,
        *,
        max_files_per_partition: int = 1,
        zorder_by: "Sequence[str] | None" = None,
        output_files: int = 1,
        only_partitions: "list[dict[str, str]] | None" = None,
    ) -> int:
        """Small-file compaction (Delta ``OPTIMIZE`` analogue — the
        reference flags small files as the partitioning hazard,
        ``partitioning_strategies.md:27``): rewrite every partition
        holding more than ``max_files_per_partition`` files into
        coalesced files, committing one COMPACT snapshot. Readers of
        older versions still see the old files (never deleted here —
        a VACUUM-style retention sweep would remove unreferenced ones).
        At 100 TB this runs per-partition-subset, not whole-table.

        With ``zorder_by`` (``OPTIMIZE ... ZORDER BY`` analogue) EVERY
        partition is rewritten as ``output_files`` files range-split
        and sorted on the interleaved-bits z-value of the named
        columns, so each file's footer min/max is tight on ALL of them
        and ``read_where`` prunes on any — multidimensional data
        skipping, the layout Delta uses for the same job. Plain
        compaction keeps ``output_files=1`` per partition.
        """
        m = self.snapshot()
        pc = list(m["partition_cols"])
        if zorder_by:
            if only_partitions is not None:
                crowded = only_partitions
                if not crowded:  # empty scope = nothing to rewrite
                    return m["version"]
                df = self.read_partitions(crowded)
            else:
                # partitions_of() is [] only for an EMPTY unpartitioned
                # table; [{}] then targets the (empty) root partition
                crowded = self.partitions_of() or [{}]
                df = self.read()
            # String columns get an ORDER-PRESERVING numeric surrogate:
            # the first 7 bytes, NUL-padded to fixed width, read as a
            # big-endian integer (fits a signed long) — lexicographic
            # byte order == numeric order, so width_bucket ranges and
            # the interleaved bits cluster strings correctly and the
            # files' footer min/max stay tight on the STRING column
            # itself (which is what read_where prunes on).
            surrogate: dict[str, str] = {}
            work = df
            for c in zorder_by:
                if isinstance(df.schema[c].dataType, T.StringType):
                    s = f"__zsrc_{c}"
                    surrogate[c] = s
                    # BYTE-accurate: substring on binary slices UTF-8
                    # bytes (rpad on the string would count CHARS — 7
                    # multibyte chars hex to >16 digits and overflow
                    # conv); hex is zero-right-padded to 14 digits, so
                    # short values stay order-consistent with long ones
                    work = work.withColumn(
                        s,
                        F.coalesce(
                            F.conv(
                                F.rpad(
                                    F.hex(
                                        F.substring(
                                            F.col(c).cast("binary"), 1, 7
                                        )
                                    ),
                                    14,
                                    "0",
                                ),
                                16,
                                10,
                            ).cast("long"),
                            F.lit(0),
                        ),
                    )
            zcols = [surrogate.get(c, c) for c in zorder_by]
            bounds = work.agg(
                *[F.min(c).alias(f"mn_{c}") for c in zcols],
                *[F.max(c).alias(f"mx_{c}") for c in zcols],
            ).first()
            z = zorder_column(
                {c: (bounds[f"mn_{c}"], bounds[f"mx_{c}"]) for c in zcols}
            )
            work = work.withColumn("__z", z)
            n = max(1, output_files) * max(1, len(crowded))
            df = (
                work.repartitionByRange(n, *[F.col(c) for c in pc], F.col("__z"))
                .sortWithinPartitions(*pc, "__z")
                .drop("__z", *surrogate.values())
            )
            return self.replace_partitions(
                df, crowded, operation="ZORDER",
                metrics={"n_partitions": len(crowded), "zorder_by": list(zorder_by)},
                # the range-sorted layout IS the point — no rebalance
                layout_ready=True,
            )
        scope = (
            {tuple(sorted(p.items())) for p in only_partitions}
            if only_partitions is not None
            else None
        )
        per_part: dict[tuple, int] = {}
        dv_parts: set[tuple] = set()
        for f in m["files"]:
            k = tuple(sorted(f["partition"].items()))
            if scope is not None and k not in scope:
                continue
            per_part[k] = per_part.get(k, 0) + 1
            if f.get("dv"):
                # deletion-vector'd files always qualify: compaction is
                # what materializes the deletes and clears the DVs
                dv_parts.add(k)
        crowded = [
            dict(k)
            for k, n in per_part.items()
            if n > max_files_per_partition or k in dv_parts
        ]
        if not crowded:
            return m["version"]
        df = self.read_partitions(crowded)
        # Deterministic post-compact layout: exactly one file per
        # partition (the max_files_per_partition<=1 contract the
        # auto-compact trigger sizes its threshold against — an AQE
        # rebalance could re-split an oversized partition above the
        # threshold and turn auto-compact into a rewrite treadmill).
        df = df.repartition(*[F.col(c) for c in pc]) if pc else df.coalesce(1)
        return self.replace_partitions(
            df, crowded, operation="COMPACT",
            metrics={"n_partitions": len(crowded)},
            layout_ready=True,
        )

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (Delta
        ``RESTORE TABLE ... TO VERSION AS OF`` analogue): the restored
        snapshot's file list, schema and partitioning are re-committed
        at head, so history is preserved and the rollback is itself
        time-travelable / auditable. O(1) data I/O — files are
        immutable and carried by reference; fails cleanly if retention
        (``vacuum``) already deleted any file of the target version,
        exactly like Delta."""
        m = self.snapshot(version)  # raises if version unknown
        missing = [
            f["path"] for f in m["files"] if not os.path.exists(self._file(f["path"]))
        ] + [
            p
            for f in m["files"]
            if f["dv"] and (p := self._dv_file(f["dv"])) and not os.path.exists(p)
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore v{version}: {len(missing)} data file(s) "
                f"removed by retention, e.g. {missing[0]!r}"
            )
        return self._write_commit(
            self.snapshot(),
            [_entry(f) for f in m["files"]],
            "RESTORE",
            {"restored_version": version},
            **{
                k: m[k]
                for k in (
                    "schema", "partition_cols", "constraints", "column_mapping",
                    "retired_physical", "generated_cols",
                )
            },
        )

    # -- CHECK constraints ---------------------------------------------------

    def add_constraint(self, name: str, expr_sql: str) -> int:
        """``ALTER TABLE ... ADD CONSTRAINT ... CHECK`` analogue.
        Existing rows are validated first (one column-pruned scan, like
        Delta); from then on every write enforces the check on the
        write job itself and aborts pre-commit on violation."""
        m = self.snapshot()
        cons = dict(m.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        n_bad = (
            self.read()
            .filter(~F.coalesce(F.expr(expr_sql), F.lit(True)))
            .limit(1)
            .count()
        )
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows violate "
                f"{expr_sql!r}"
            )
        cons[name] = expr_sql
        return self._write_commit(
            m, [_entry(f) for f in m["files"]], "ADD_CONSTRAINT",
            {"name": name, "expr": expr_sql}, constraints=cons,
        )

    def drop_constraint(self, name: str) -> int:
        m = self.snapshot()
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint {name!r}")
        del cons[name]
        return self._write_commit(
            m, [_entry(f) for f in m["files"]], "DROP_CONSTRAINT",
            {"name": name}, constraints=cons,
        )

    def clone(self, dest_path: str) -> "VersionedParquetTable":
        """Shallow clone (Delta ``CREATE TABLE ... SHALLOW CLONE``
        analogue): a new independent table whose v0 commit carries the
        source's current snapshot and metadata with zero data copied —
        data and deletion-vector files are hardlinked (copy fallback
        across filesystems). Because files are immutable-once-written in
        both tables, later writes, compaction or ``vacuum`` on either
        side never disturb the other: each manipulates only its own log
        and link names."""
        if self.is_table(dest_path):
            raise FileExistsError(dest_path)
        m = self.snapshot()
        t = VersionedParquetTable(self.spark, dest_path)
        links = [(self._file(f["path"]), t._file(f["path"])) for f in m["files"]]
        links += [
            (src, os.path.join(dest_path, os.path.relpath(src, self.path)))
            for src in {self._dv_file(f["dv"]) for f in m["files"] if f["dv"]}
            if src
        ]
        for src, dst in links:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except FileExistsError:  # one DV file shared by many entries
                pass
            except OSError:  # cross-device: fall back to a real copy
                shutil.copy2(src, dst)
        t._write_commit(
            None,
            [_entry(f) for f in m["files"]],
            "CLONE",
            {"source_path": self.path, "source_version": m["version"]},
            **{k: m[k] for k in _EMPTY_META},
            schema=m["schema"],
        )
        return t

    def partition_columns(self) -> list[str]:
        """The partition columns the table was created with — log
        metadata only, no data or file I/O."""
        return list(self.snapshot()["partition_cols"])

    def detail(self) -> dict:
        """``DESCRIBE DETAIL`` analogue: one dict of table-level facts
        from the log alone (no data I/O — sizes and footer stats were
        captured at commit time)."""
        m = self.snapshot()
        rows = [f["rows"] for f in m["files"]]
        n_dead = sum((f["dv"] or {}).get("cardinality", 0) for f in m["files"])
        return {
            "location": self.path,
            "version": m["version"],
            "num_files": len(m["files"]),
            "size_bytes": sum(f["size"] or 0 for f in m["files"]),
            "num_rows": sum(r for r in rows if r is not None) - n_dead
            if all(r is not None for r in rows)
            else None,
            "num_dead_rows": n_dead,
            "partition_cols": list(m["partition_cols"]),
            "num_versions": len(self.versions()),
            "constraints": dict(m["constraints"]),
            "generated_cols": dict(m["generated_cols"]),
            "properties": dict(m["properties"]),
        }

    def fsck(self, *, deep: bool = False) -> dict:
        """Read-only storage-integrity audit (the detection half of
        ``FSCK REPAIR TABLE``): re-resolve every RETAINED version's
        snapshot and verify each referenced data file and
        deletion-vector file is actually present on storage;
        ``deep=True`` additionally re-reads every distinct live data
        file's parquet FOOTER and compares its row count to the log's
        recorded ``numRecords`` — catching truncation or corruption
        that an existence check can't.

        Files are immutable once committed, so each distinct path is
        checked once even when many versions reference it. Cost:
        metadata-only (existence stats; ``deep`` adds one footer read
        per live file) — no Spark job, no data scan. Nothing is
        repaired here: a missing file means restoring from storage
        backup or ``restore``-ing to an intact version, which must be
        a human decision.
        """
        checked: set[str] = set()
        missing_files: list[dict] = []
        missing_dvs: list[dict] = []
        row_mismatches: list[dict] = []
        n_files = n_dvs = 0
        versions = self.versions()
        for v in versions:
            for f in self.snapshot(v)["files"]:
                rel = f["path"]
                if rel not in checked:
                    checked.add(rel)
                    n_files += 1
                    full = self._file(rel)
                    if not os.path.exists(full):
                        missing_files.append({"version": v, "path": rel})
                    elif deep and f["rows"] is not None:
                        try:
                            _, footer_rows = _file_stats(full)
                        except Exception as e:  # unreadable footer
                            row_mismatches.append(
                                {"version": v, "path": rel,
                                 "error": str(e)[:200]}
                            )
                        else:
                            if footer_rows != f["rows"]:
                                row_mismatches.append(
                                    {"version": v, "path": rel,
                                     "manifest_rows": f["rows"],
                                     "footer_rows": footer_rows}
                                )
                dvp = self._dv_file(f["dv"]) if f["dv"] else None
                if dvp and (dvp, rel) not in checked:
                    checked.add((dvp, rel))
                    n_dvs += 1
                    if not os.path.exists(dvp):
                        missing_dvs.append(
                            {"version": v, "path": os.path.relpath(dvp, self.path),
                             "file": rel}
                        )
        return {
            "ok": not (missing_files or missing_dvs or row_mismatches),
            "deep": deep,
            "versions_checked": versions,
            "n_data_files": n_files,
            "n_dv_files": n_dvs,
            "missing_files": missing_files,
            "missing_dvs": missing_dvs,
            "row_mismatches": row_mismatches,
        }

    def vacuum(
        self,
        *,
        keep_versions: int = 1,
        dry_run: bool = False,
        orphan_grace_s: float = 3600.0,
    ) -> dict:
        """Retention sweep (Delta ``VACUUM`` plus log cleanup): delete
        data files referenced ONLY by versions older than the newest
        ``keep_versions``, then drop those versions' commits (a
        checkpoint at the oldest kept version keeps it reconstructible).
        Time travel is retained for the kept versions; older versions
        become unreadable — the same trade Delta makes. Never touches
        files the kept versions still reference, so concurrent readers
        of kept versions are safe.

        Also sweeps **orphans** — files under ``data/`` referenced by
        NO retained version, deletion-vector and change-data files no
        retained commit references, and stale ``_staging-*`` dirs —
        which crashed writes and lost commit races legitimately leave
        behind (the write-once design's garbage, exactly like Delta's).
        Orphans younger than ``orphan_grace_s`` are spared so an
        in-flight concurrent write is never swept mid-commit.

        ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``): report what
        WOULD be deleted — counts and the candidate paths — without
        touching anything.
        """
        keep_versions = max(1, keep_versions)
        vs = self.versions()
        kept_vs, dropped_vs = vs[-keep_versions:], vs[:-keep_versions]
        cutoff = time.time() - max(0.0, orphan_grace_s)

        def old(p: str) -> bool:
            # a concurrent writer can remove its staging debris between
            # the listing and the stat — skip, don't die
            try:
                return os.path.getmtime(p) < cutoff
            except FileNotFoundError:
                return False

        kept = [f for v in kept_vs for f in self.snapshot(v)["files"]]
        live = {f["path"] for f in kept}
        doomed = sorted(
            {f["path"] for v in dropped_vs for f in self.snapshot(v)["files"]}
            - live
        )
        data_root = os.path.join(self.path, DATA_DIR)
        orphans = sorted(
            rel
            for root, _dirs, fnames in os.walk(data_root)
            for fname in fnames
            if (rel := os.path.relpath(os.path.join(root, fname), data_root))
            not in live
            and rel not in doomed
            and old(os.path.join(root, fname))
        )
        staging = [
            n for n in os.listdir(self.path)
            if n.startswith("_staging-") and old(os.path.join(self.path, n))
        ]
        # a dv-mode upsert writes its deletion vectors BEFORE its commit,
        # so a young unreferenced one may belong to an in-flight writer
        live_dv = {
            os.path.basename(p) for f in kept if f["dv"] and (p := self._dv_file(f["dv"]))
        }
        dead_dv = sorted(
            n for n in os.listdir(self.path)
            if n.startswith("deletion_vector_")
            and n not in live_dv
            and old(os.path.join(self.path, n))
        )
        dead_cdc = self._dead_cdc_dirs(kept_vs, cutoff)
        if dry_run:
            return {
                "dry_run": True,
                "n_data_files": len(doomed),
                "n_versions": len(dropped_vs),
                "paths": doomed,
                "n_orphans": len(orphans) + len(staging),
                "orphan_paths": orphans + staging,
                "n_dv": len(dead_dv),
                "n_cdc": len(dead_cdc),
                "oldest_kept_version": kept_vs[0],
            }
        if dropped_vs:
            self._checkpoint(kept_vs[0])
        n_deleted = 0
        for rel in doomed:
            if os.path.exists(self._file(rel)):
                os.remove(self._file(rel))
                n_deleted += 1
        for v in dropped_vs:
            self._fs.delete(self._log._commit_file(v))
            self._snap_cache.pop(v, None)
        for v in self._log._checkpoint_versions():
            if v < kept_vs[0]:
                self._fs.delete(
                    fsio.join(self._log._log, f"{v:020d}.checkpoint.parquet")
                )
        for rel in orphans:
            os.remove(os.path.join(data_root, rel))
        for n in staging:
            shutil.rmtree(os.path.join(self.path, n), ignore_errors=True)
        for n in dead_dv:
            os.remove(os.path.join(self.path, n))
        for n in dead_cdc:
            shutil.rmtree(os.path.join(self.path, CDC_DIR, n), ignore_errors=True)
        # prune emptied partition dirs so listings stay honest
        for root, dirs, files in os.walk(data_root, topdown=False):
            if root != data_root and not dirs and not files:
                os.rmdir(root)
        return {
            "n_files_deleted": n_deleted,
            "n_versions_dropped": len(dropped_vs),
            "n_dv_deleted": len(dead_dv),
            "n_cdc_deleted": len(dead_cdc),
            "n_orphans_deleted": len(orphans) + len(staging),
            "oldest_kept_version": kept_vs[0],
        }

    def _cdc_paths(self, version: int) -> list[str]:
        """Change-data files of commit ``version``, relative to
        ``_change_data/``."""
        return [
            posixpath.relpath(unquote(a["cdc"]["path"]), CDC_DIR)
            for a in self.commit_actions(version)
            if "cdc" in a
        ]

    def _dead_cdc_dirs(self, kept_vs: list[int], cutoff: float) -> list[str]:
        """Top-level ``_change_data/`` dirs referenced by NO retained
        commit and older than the grace cutoff."""
        cdc_root = os.path.join(self.path, CDC_DIR)
        if not os.path.isdir(cdc_root):
            return []
        live = {p.split("/", 1)[0] for v in kept_vs for p in self._cdc_paths(v)}
        out = []
        for name in sorted(set(os.listdir(cdc_root)) - live):
            try:
                if os.path.getmtime(os.path.join(cdc_root, name)) < cutoff:
                    out.append(name)
            except FileNotFoundError:
                pass
        return out

    # -- read API ------------------------------------------------------------

    def _scan(
        self,
        files: list[dict],
        m: dict,
        *,
        schema: T.StructType | None = None,
        with_position: bool = False,
    ) -> DataFrame:
        """One scan over snapshot records ``files`` of ``m`` (the shared
        Delta scan): deletion vectors applied, files read under their
        PHYSICAL column names and aliased back to ``schema`` (default:
        ``m``'s) — how a rename costs zero data I/O. ``with_position``
        keeps ``__file`` (the ``data/``-relative path) and ``__pos``
        (``_metadata.row_index``) so callers can build NEW deletion
        vectors from what they read."""
        if schema is None:
            schema = T.StructType.fromJson(json.loads(m["schema"]))
        return scan(
            self.spark,
            self.path,
            [
                (posixpath.normpath(posixpath.join(DATA_DIR, f["path"])), f["dv"])
                for f in files
            ],
            schema,
            m["partition_cols"],
            physical=m["column_mapping"],
            with_position=with_position,
            rel_base=DATA_DIR,
            fs=self._fs,
        )

    def _dead_positions(self, dv: dict | None) -> list[int]:
        if not dv:
            return []
        return delta_dv.read_dv_positions(dv, self.path, self._fs)

    def version_at_timestamp(self, ts: float) -> int:
        """Largest committed version whose commit timestamp is <= ``ts``
        (epoch seconds) — Delta's ``timestampAsOf`` resolution rule.
        Raises if ``ts`` predates the table. Commit timestamps are
        monotone here (single log, atomic commits), so this is a scan
        of commit records only — no snapshot reconstruction."""
        best = None
        for v in self.versions():
            if self._commit_info(v)["timestamp"] <= ts:
                best = v
            else:
                break
        if best is None:
            raise ValueError(
                f"timestamp {ts} predates the first commit of {self.path}"
            )
        return best

    def read(
        self,
        version: int | None = None,
        *,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Snapshot read (S3) / time travel (S4): ``version`` is
        Delta's ``versionAsOf``, ``timestamp`` (epoch seconds) is
        ``timestampAsOf`` — mutually exclusive."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version or timestamp, not both")
        if timestamp is not None:
            version = self.version_at_timestamp(timestamp)
        m = self.snapshot(version)
        return self._scan(m["files"], m)

    def read_partitions(
        self,
        partitions: list[dict[str, str]],
        version: int | None = None,
        *,
        with_position: bool = False,
    ) -> DataFrame:
        """Log-level partition pruning: only the named partitions'
        files are even listed — the scan never sees the rest."""
        m = self.snapshot(version)
        wanted = {tuple(sorted(p.items())) for p in partitions}
        files = [
            f
            for f in m["files"]
            if tuple(sorted(f["partition"].items())) in wanted
        ]
        return self._scan(files, m, with_position=with_position)

    # -- data skipping -------------------------------------------------------

    def files_for(
        self,
        filters: "Sequence[tuple]",
        version: int | None = None,
    ) -> list[ManifestEntry]:
        """The live files that might satisfy ``filters`` — everything
        else is skipped at PLAN time from log metadata alone, before
        Spark ever lists a path (Delta data skipping / Zen of file
        pruning). ``filters`` is a conjunction of
        ``(col, op, value)`` with op in ``= < <= > >= in is_null
        not_null``. Pruning is conservative: a file survives unless its
        footer min/max (or partition value) PROVES no row can match;
        files with no stats for a column always survive.

        At 100 TB this is the difference between a query touching one
        day's files and listing the whole table: O(#files) log
        arithmetic on the driver, zero data I/O. (A table with millions
        of files pages the log into a parquet checkpoint —
        same trade Delta makes.)
        """
        m = self.snapshot(version)
        pc = set(m["partition_cols"])
        # file stats are keyed by PHYSICAL column names (renames never
        # touch data files); partition columns cannot be renamed, so
        # partition-value matching stays on the logical name
        mapping = m.get("column_mapping") or {}
        out = []
        for f in m["files"]:
            e = _entry(f)
            if all(
                _file_may_match(e, mapping.get(c, c), op, v, c in pc)
                for c, op, v in filters
            ):
                out.append(e)
        return out

    def read_where(
        self,
        filters: "Sequence[tuple]",
        version: int | None = None,
    ) -> DataFrame:
        """Filtered snapshot read with log-level data skipping:
        only ``files_for(filters)`` enter the scan, and the same
        predicate is applied to the rows (pushed into the parquet
        reader by Catalyst), so results are exact whether or not
        pruning fired."""
        m = self.snapshot(version)
        keep = {e.path for e in self.files_for(filters, version)}
        df = self._scan([f for f in m["files"] if f["path"] in keep], m)
        for c, op, v in filters:
            df = df.filter(_filter_expr(c, op, v))
        return df

    # -- change data feed ----------------------------------------------------

    def table_changes(
        self,
        key_cols: "Sequence[str]",
        version_from: int | None = None,
        version_to: int | None = None,
        *,
        timestamp_from: float | None = None,
    ) -> DataFrame:
        """Row-level diff between two snapshots — the Delta change data
        feed (``table_changes``) analogue the reference's consumers
        would use for downstream incremental loads. Output = the
        ``version_to`` schema plus ``_change_type`` (``insert`` /
        ``delete`` / ``update_preimage`` / ``update_postimage``) and
        ``_commit_version``. ``timestamp_from`` (epoch seconds) is the
        ``startingTimestamp`` form and follows Delta CDF's resolution
        rule: the earliest commit at or after the timestamp is the
        first INCLUDED commit (a commit landing exactly at the
        timestamp is part of the feed). Raises if every commit
        precedes the timestamp, as Delta does.

        Scale: the two snapshots are diffed FIRST — data files are
        immutable, so any row whose file is referenced by both versions
        is bit-identical in both and cannot be a change. Only files
        dropped or added between the versions are read; with
        partition-scoped copy-on-write that is the touched partitions,
        not the table. The remaining join keys on ``key_cols`` over
        just that changed slice.
        """
        keys = list(key_cols)
        if (version_from is None) == (timestamp_from is None):
            raise ValueError("pass exactly one of version_from / timestamp_from")
        if timestamp_from is not None:
            # Delta CDF startingTimestamp: first INCLUDED commit is the
            # earliest one at-or-after ts, so the diff base (excluded)
            # is the version just below it.
            vs = self.versions()
            idx = None
            for i, v in enumerate(vs):
                if self._commit_info(v)["timestamp"] >= timestamp_from:
                    idx = i
                    break
            if idx is None:
                raise ValueError(
                    f"timestamp {timestamp_from} is after the last commit of "
                    f"{self.path}: no changes to feed (Delta CDF raises here)"
                )
            if idx == 0:
                raise ValueError(
                    f"timestamp {timestamp_from} predates the first retained "
                    f"commit of {self.path}: changes since table creation are "
                    "a full snapshot read, not a change feed — use read()"
                )
            version_from = vs[idx - 1]
        v_to = self.latest_version() if version_to is None else version_to
        m_from = self.snapshot(version_from)
        m_to = self.snapshot(v_to)
        schema = T.StructType.fromJson(json.loads(m_to["schema"]))

        # Identity = (path, deletion-vector state): a DV update changes
        # a file's VISIBLE rows without changing its path, so such a
        # file must enter the diff on both sides (read with each
        # version's own DVs — only the rows the DV killed differ).
        def ident(f: dict) -> tuple:
            return (f["path"], _dv_key(f["dv"]))

        fa = {ident(f) for f in m_from["files"]}
        fb = {ident(f) for f in m_to["files"]}
        pre_df = _align(
            self._read_paths(
                m_from, sorted(p for p, _ in fa - fb), naming=m_to
            ),
            schema,
        )
        post_df = self._read_paths(m_to, sorted(p for p, _ in fb - fa))
        cols = [f.name for f in schema.fields]
        nonkey = [c for c in cols if c not in keys]
        payload = (
            (lambda d: F.struct(*[d[c] for c in nonkey]))
            if nonkey
            else (lambda d: F.lit(0))
        )
        pre = pre_df.select(*keys, payload(pre_df).alias("_pre"))
        post = post_df.select(*keys, payload(post_df).alias("_post"))
        j = pre.join(post, on=keys, how="full_outer")
        inserted = j.filter(F.col("_pre").isNull() & F.col("_post").isNotNull())
        deleted = j.filter(F.col("_post").isNull() & F.col("_pre").isNotNull())
        updated = j.filter(
            F.col("_pre").isNotNull()
            & F.col("_post").isNotNull()
            & ~F.col("_pre").eqNullSafe(F.col("_post"))
        )

        def rows(frame: DataFrame, side: str, change: str) -> DataFrame:
            sel = (
                [
                    F.col(c) if c in keys else F.col(f"{side}.{c}").alias(c)
                    for c in cols
                ]
                if nonkey
                else [F.col(c) for c in cols]
            )
            return frame.select(
                *sel,
                F.lit(change).alias("_change_type"),
                F.lit(v_to).alias("_commit_version"),
            )

        return (
            rows(inserted, "_post", "insert")
            .unionByName(rows(deleted, "_pre", "delete"))
            .unionByName(rows(updated, "_pre", "update_preimage"))
            .unionByName(rows(updated, "_post", "update_postimage"))
        )

    def _read_paths(
        self,
        m: dict,
        rel_paths: list[str],
        naming: dict | None = None,
    ) -> DataFrame:
        """Read a path-subset of snapshot ``m`` with THAT version's
        deletion vectors applied — time-travel-correct row content.
        ``naming`` (a snapshot) overrides which version's schema and
        column mapping label the result: physical names are stable, so
        CDF can read an old snapshot's files under the new version's
        logical names after a rename."""
        nm = naming or m
        wanted = set(rel_paths)
        return self._scan(
            [f for f in m["files"] if f["path"] in wanted],
            {**m, "column_mapping": nm["column_mapping"]},
            schema=T.StructType.fromJson(json.loads(nm["schema"])),
        )

    def partitions_of(self, version: int | None = None) -> list[dict[str, str]]:
        m = self.snapshot(version)
        seen: dict[tuple, dict[str, str]] = {}
        for f in m["files"]:
            seen[tuple(sorted(f["partition"].items()))] = f["partition"]
        return list(seen.values())


def zorder_column(bounds: "dict[str, tuple]", bits: int = 8):
    """Morton (Z-order) curve value over numeric columns, as a pure
    built-in column expression (JVM whole-stage codegen, no UDF):
    each column is bucketed into ``2**bits`` equal-width bins between
    its ``(min, max)`` bounds via ``width_bucket``, then the bucket
    ids' bits are interleaved. Sorting by this value clusters rows so
    every file's min/max range is tight on ALL the columns at once —
    the layout behind ``OPTIMIZE ... ZORDER BY``.

    Numeric columns only (cast dates to epoch days / timestamps to
    epoch seconds first); null buckets as 0 (sorts first).
    """
    cols = list(bounds)
    if not cols:
        raise ValueError("zorder_column needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError("bits * n_cols must fit a signed 64-bit value")
    nb = 2 ** bits
    buckets = []
    for c, (mn, mx) in bounds.items():
        if mn is None or mx is None or float(mn) == float(mx):
            buckets.append(F.lit(0).cast("long"))
            continue
        b = (
            F.width_bucket(
                F.col(c).cast("double"),
                F.lit(float(mn)),
                F.lit(float(mx)),
                F.lit(nb),
            )
            - 1
        )
        b = F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(nb - 1).cast("long"), F.coalesce(b, F.lit(0)).cast("long")),
        )
        buckets.append(b)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for ji, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * len(buckets) + ji)
    return z


def _range_may_match(mn, mx, op: str, v) -> bool:
    if op == "=":
        return mn <= v <= mx
    if op == "<":
        return mn < v
    if op == "<=":
        return mn <= v
    if op == ">":
        return mx > v
    if op == ">=":
        return mx >= v
    raise ValueError(f"unknown pruning op {op!r}")


def _file_may_match(
    e: ManifestEntry, col: str, op: str, value, is_partition_col: bool
) -> bool:
    """Conservative can-this-file-contain-a-match test for one
    conjunct. Any uncertainty (no stats, uncastable partition value,
    unorderable predicate value) keeps the file."""
    if is_partition_col and e.partition.get(col) is not None and op not in (
        "is_null",
        "not_null",
    ):
        pv: object = e.partition[col]
        try:
            if isinstance(value, bool):
                pv = pv.lower() == "true"
            elif isinstance(value, int):
                pv = int(pv)
            elif isinstance(value, float):
                pv = float(pv)
        except (TypeError, ValueError):
            return True
        if op == "in":
            return any(pv == x for x in value)
        return _range_may_match(pv, pv, op, value)
    st = (e.stats or {}).get(col)
    nulls = st.get("nulls") if st else None
    if op == "is_null":
        return st is None or nulls is None or nulls > 0
    if op == "not_null":
        if st is None or nulls is None or e.rows is None:
            return True
        return e.rows > nulls
    if st is None:
        return True
    if nulls is not None and e.rows is not None and nulls == e.rows:
        return False  # every row is NULL — no value predicate can match
    if st["min"] is None or st["max"] is None:
        return True
    if op == "in":
        vals = [_stat_key(x) for x in value]
        return any(
            x is not None and _range_may_match(st["min"], st["max"], "=", x)
            for x in vals
        ) or any(x is None for x in vals)
    v = _stat_key(value)
    if v is None:
        return True
    try:
        return _range_may_match(st["min"], st["max"], op, v)
    except TypeError:  # predicate/stat type mismatch — don't prune
        return True


def _txn_applied(m: dict, txn: tuple[str, int] | None) -> bool:
    """Whether snapshot ``m`` already records writer transaction ``txn``
    (or a later one of the same app)."""
    applied = None if txn is None else m["txns"].get(txn[0])
    return applied is not None and applied >= txn[1]


def _hit(filters: "Sequence[tuple]"):
    """Rows matching every ``(col, op, value)`` filter (NULL: no match)."""
    pred = F.lit(True)
    for c, op, v in filters:
        pred = pred & _filter_expr(c, op, v)
    return F.coalesce(pred, F.lit(False))


def _filter_expr(col: str, op: str, value):
    c = F.col(col)
    if op == "=":
        return c == F.lit(value)
    if op == "<":
        return c < F.lit(value)
    if op == "<=":
        return c <= F.lit(value)
    if op == ">":
        return c > F.lit(value)
    if op == ">=":
        return c >= F.lit(value)
    if op == "in":
        return c.isin(list(value))
    if op == "is_null":
        return c.isNull()
    if op == "not_null":
        return c.isNotNull()
    raise ValueError(f"unknown filter op {op!r}")


def _table_schema(m: dict, *dfs: "DataFrame | None") -> T.StructType:
    """The commit record ``m``'s schema, widened (``mergeSchema``) with
    every column of ``dfs`` it lacks as a nullable field; old files
    read the new columns as NULL. Blocked names: dropped-column
    tombstones AND the live physical slots of renamed columns — a new
    logical column under either would collide with on-disk data."""
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    have = {f.name for f in schema.fields}
    retired = set(m.get("retired_physical", [])) | set(
        (m.get("column_mapping") or {}).values()
    )
    for df in dfs:
        if df is None:
            continue
        for f in df.schema.fields:
            if f.name in have:
                continue
            if f.name in retired:
                raise ValueError(
                    f"cannot add column {f.name}: live files hold "
                    "data under that physical name (dropped or "
                    "renamed-away column) — rewrite the table first"
                )
            schema = schema.add(f.name, f.dataType, True)
            have.add(f.name)
    return schema


def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto the table schema: missing columns become NULL,
    order normalized (positional parquet safety)."""
    cols = []
    names = set(df.columns)
    for f in schema.fields:
        if f.name in names:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


_EMPTY_META = {
    "partition_cols": [],
    "constraints": {},
    "properties": {},
    "generated_cols": {},
    "identity_cols": {},
    "column_mapping": {},
    "retired_physical": [],
}


def _snapshot_dict(snap) -> dict:
    """:meth:`VersionedParquetTable.snapshot`'s view of a log replay:
    the Delta field metadata and configuration keys unpacked into this
    class's metadata fields, and one record per live ``add``."""
    conf = snap.configuration
    name_mode = snap.column_mapping_mode != "none"
    fields, mapping, gen, ident = [], {}, {}, {}
    for f in snap.schema.fields:
        md = f.metadata or {}
        if name_mode and md.get(_PHYS, f.name) != f.name:
            mapping[f.name] = md[_PHYS]
        if "delta.generationExpression" in md:
            gen[f.name] = md["delta.generationExpression"]
        if "delta.identity.start" in md:
            start, step = int(md["delta.identity.start"]), int(md["delta.identity.step"])
            hwm = md.get("delta.identity.highWaterMark")
            ident[f.name] = {
                "start": start,
                "step": step,
                "next": start if hwm is None else int(hwm) + step,
            }
        fields.append(
            T.StructField(
                f.name, f.dataType, f.nullable,
                {k: v for k, v in md.items() if not k.startswith("delta.")},
            )
        )
    props = {v: k for k, v in _PROPERTY_KEYS.items()}
    logical = {snap.physical_name(c): c for c in snap.partition_columns}
    return {
        "version": snap.version,
        "schema": T.StructType(fields).json(),
        "partition_cols": snap.partition_columns,
        "constraints": {
            k[len(_CONSTRAINT):]: v for k, v in conf.items() if k.startswith(_CONSTRAINT)
        },
        "properties": {
            props.get(k, k): v
            for k, v in conf.items()
            if not k.startswith((_CONSTRAINT, "delta.columnMapping."))
            and k != _RETIRED_KEY
        },
        "generated_cols": gen,
        "identity_cols": ident,
        "column_mapping": mapping,
        "retired_physical": json.loads(conf.get(_RETIRED_KEY, "[]")),
        "txns": dict(snap.txns),
        "files": [_record(a, logical) for a in snap.adds.values()],
        "protocol": snap.protocol,
        "metadata": snap.metadata,
    }
