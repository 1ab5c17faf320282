"""Delta Lake log replay and snapshot scan — no delta-spark required.

The reference's storage layer IS Delta: parquet files plus a
``_delta_log`` of JSON commits (PAPER.md §1.1). delta-spark is absent
in this environment, but the Delta *transaction-log protocol* is a
public, documented format (github.com/delta-io/delta PROTOCOL.md):
newline-delimited JSON actions (``protocol`` / ``metaData`` / ``add`` /
``remove`` / ``txn`` / ``cdc`` / ``commitInfo``) per commit, with a
parquet **checkpoint** holding the compacted state every N commits.
Replaying it needs no library — just JSON + parquet.

This module holds the one replay (:meth:`DeltaTableReader.snapshot`)
and the one scan (:func:`scan`) of the package:
``VersionedParquetTable`` (``vtable.py``) reads and writes its tables
through them, and :class:`DeltaTableReader` is the read-only view of
any Delta table, whoever wrote it.

Supported:
  * snapshot reads at latest or any retained version (time travel);
  * partitioned tables (partition values come from the log, typed via
    the table schema — Delta schemaString IS Spark's StructType JSON);
  * parquet checkpoints + incremental JSON tail;
  * history() from commitInfo actions;
  * **deletion vectors** (``add.deletionVector``): Z85 + roaring-
    bitmap files decoded per the protocol (``delta_dv.py``), dead
    rows anti-joined out by ``_metadata.row_index``;
  * **column mapping, name mode**: files are scanned under each
    column's ``delta.columnMapping.physicalName`` and aliased back to
    logical names;
  * **column mapping, id mode**: parquet columns matched by field id —
    each read-schema field carries ``parquet.field.id`` metadata
    (from ``delta.columnMapping.id``) and Spark's native
    ``fieldId.read`` resolver does the matching.

Rejected explicitly (conservative checks, never silent corruption):
protocol ``minReaderVersion`` > 3 or reader features beyond
deletionVectors / columnMapping / timestampNtz.

All log access (listing, commit/checkpoint reads, DV bytes) goes
through the Hadoop FileSystem shim (``sources/fsio.py``), so a table on
``file:``, HDFS, ``s3a://`` or ``abfss://`` reads identically. The data
scan itself is a plain Spark partitioned-parquet read: Catalyst
pushdown and partition pruning apply unchanged.

Scale: snapshot reconstruction is O(#actions) driver-side JSON work on
the *tail* since the newest checkpoint (Delta's own design). DV
bitmaps are decoded driver-side and shipped as a (file, position)
DataFrame for the anti-join — cost ∝ deleted-rows-since-compaction
(the same bound Delta accepts for its DV broadcast).
"""

from __future__ import annotations

import io
import json
import os
import posixpath
from dataclasses import dataclass
from functools import cached_property
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_pyspark_scd2_spark.sources import fsio

LOG_DIR = "_delta_log"

#: Reader features this module actually implements (protocol v3 tables
#: list their required features explicitly).
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "deletionVectors",
    "columnMapping",
}

_PHYS_NAME_KEY = "delta.columnMapping.physicalName"


def _as_dict(v) -> dict:
    """Checkpoint MAP columns come back from pyarrow as [(k, v), ...]."""
    return v if isinstance(v, dict) else dict(v or [])


@dataclass
class DeltaSnapshot:
    """Table state at ``version``: the protocol and metaData actions in
    effect, every live ``add`` action (keyed by its log path, i.e.
    URL-encoded and relative to the table root) and the ``txn``
    watermarks (appId → version)."""

    version: int
    protocol: dict
    metadata: dict
    adds: dict[str, dict]
    txns: dict[str, int]

    @cached_property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def configuration(self) -> dict[str, str]:
        return dict(self.metadata.get("configuration") or {})

    @property
    def column_mapping_mode(self) -> str:
        return self.configuration.get("delta.columnMapping.mode", "none")

    def physical_name(self, logical: str) -> str:
        if self.column_mapping_mode == "none":
            return logical
        for f in self.schema.fields:
            if f.name == logical:
                return (f.metadata or {}).get(_PHYS_NAME_KEY, logical)
        return logical


def _apply_actions(state: dict, actions) -> None:
    """Fold one commit's (or one checkpoint's) actions into ``state``.
    Removes apply before adds: a commit that replaces a file's deletion
    vector removes and re-adds the same path, in either order."""
    adds = []
    for action in actions:
        if "add" in action:
            a = dict(action["add"])
            a["partitionValues"] = _as_dict(a.get("partitionValues"))
            dv = a.get("deletionVector")
            if dv:
                a["deletionVector"] = {
                    k: v for k, v in _as_dict(dv).items() if v is not None
                }
            else:
                a.pop("deletionVector", None)
            adds.append(a)
        elif "remove" in action:
            state["adds"].pop(action["remove"]["path"], None)
        elif "metaData" in action:
            md = dict(action["metaData"])
            md["configuration"] = _as_dict(md.get("configuration"))
            mode = md["configuration"].get("delta.columnMapping.mode", "none")
            if mode not in ("none", "name", "id"):
                raise NotImplementedError(
                    f"Delta column mapping mode {mode!r} is not supported "
                    "by this reader (none/name/id are)"
                )
            state["metadata"] = md
        elif "protocol" in action:
            p = action["protocol"]
            if (p.get("minReaderVersion") or 1) > 3:
                raise NotImplementedError(
                    f"Delta minReaderVersion {p['minReaderVersion']} > 3"
                )
            unsupported = set(p.get("readerFeatures") or []) - (
                _SUPPORTED_READER_FEATURES
            )
            if unsupported:
                raise NotImplementedError(
                    f"unsupported Delta reader features: {sorted(unsupported)}"
                )
            state["protocol"] = {k: v for k, v in p.items() if v is not None}
        elif "txn" in action:
            state["txns"][action["txn"]["appId"]] = int(action["txn"]["version"])
        # cdc / commitInfo / domainMetadata: no snapshot effect
    for a in adds:
        state["adds"][a["path"]] = a


class DeltaTableReader:
    """Snapshot/time-travel reads of a Delta table directory."""

    def __init__(self, spark: SparkSession | None, path: str):
        self.spark = spark
        self.path = path
        self._log = fsio.join(path, LOG_DIR)
        self._fs = fsio.get_fs(path, spark)

    # -- log plumbing --------------------------------------------------------

    @classmethod
    def is_delta_table(cls, path: str) -> bool:
        fs = fsio.get_fs(path)  # active session if any, else local
        d = fsio.join(path, LOG_DIR)
        return fs.is_dir(d) and any(
            f.endswith(".json") or f.endswith(".checkpoint.parquet")
            for f in fs.list_names(d)
        )

    def _commit_versions(self) -> list[int]:
        out = []
        for f in self._fs.list_names(self._log):
            if f.endswith(".json") and f[:-5].isdigit():
                out.append(int(f[:-5]))
        return sorted(out)

    def _checkpoint_versions(self) -> list[int]:
        return sorted(
            int(f.split(".")[0])
            for f in self._fs.list_names(self._log)
            if f.endswith(".checkpoint.parquet") and f.split(".")[0].isdigit()
        )

    def _checkpoint_version_at_or_before(self, version: int) -> int | None:
        cps = [v for v in self._checkpoint_versions() if v <= version]
        return cps[-1] if cps else None

    def latest_version(self) -> int:
        vs = self._commit_versions()
        if vs:
            return vs[-1]
        cp = self._checkpoint_version_at_or_before(1 << 62)
        if cp is None:
            raise FileNotFoundError(f"no Delta log at {self._log}")
        return cp

    def _commit_file(self, version: int) -> str:
        return fsio.join(self._log, f"{version:020d}.json")

    def commit_actions(self, version: int) -> list[dict]:
        """The actions of commit ``version``, in log order."""
        p = self._commit_file(version)
        if not self._fs.exists(p):
            raise FileNotFoundError(
                f"Delta commit {version} missing (vacuumed?) in {self.path}"
            )
        return [
            json.loads(line)
            for line in self._fs.read_text(p).splitlines()
            if line.strip()
        ]

    # -- action replay -------------------------------------------------------

    def checkpoint_actions(self, cp_version: int) -> list[dict]:
        """The actions of the parquet checkpoint at ``cp_version`` (one
        action per row, the other columns null)."""
        import pyarrow.parquet as pq

        cp_path = fsio.join(self._log, f"{cp_version:020d}.checkpoint.parquet")
        tbl = pq.read_table(io.BytesIO(self._fs.read_bytes(cp_path)))
        return [
            {k: v for k, v in row.items() if v is not None}
            for row in tbl.to_pylist()
        ]

    def snapshot(
        self, version: int | None = None, *, base: "DeltaSnapshot | None" = None
    ) -> DeltaSnapshot:
        """Replay the log up to ``version``: from ``base`` (an earlier
        snapshot of this table) when given, else from the newest
        checkpoint at or below ``version``, then the JSON commits."""
        v = self.latest_version() if version is None else version
        if base is not None and base.version <= v:
            state = {
                "protocol": base.protocol,
                "metadata": base.metadata,
                "adds": dict(base.adds),
                "txns": dict(base.txns),
            }
            start = base.version + 1
        else:
            state = {"protocol": {}, "metadata": None, "adds": {}, "txns": {}}
            cp = self._checkpoint_version_at_or_before(v)
            start = 0
            if cp is not None:
                _apply_actions(state, self.checkpoint_actions(cp))
                start = cp + 1
        for cv in range(start, v + 1):
            try:
                actions = self.commit_actions(cv)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"Delta commit {cv} missing (vacuumed?); cannot "
                    f"reconstruct version {v} of {self.path}"
                ) from None
            _apply_actions(state, actions)
        if state["metadata"] is None:
            raise ValueError(f"no metaData action found for version {v}")
        return DeltaSnapshot(
            v, state["protocol"], state["metadata"], state["adds"], state["txns"]
        )

    # -- reads ---------------------------------------------------------------

    def _commit_timestamp_ms(self, version: int) -> int:
        """Commit timestamp in epoch ms: the ``commitInfo.timestamp``
        when present, else the commit file's mtime — the same fallback
        order delta-spark uses for ``timestampAsOf`` resolution."""
        for a in self.commit_actions(version):
            if "commitInfo" in a and "timestamp" in a["commitInfo"]:
                return int(a["commitInfo"]["timestamp"])
        return self._fs.mtime_ms(self._commit_file(version))

    def version_at_timestamp(self, ts_ms: int) -> int:
        """Largest version committed at or before ``ts_ms`` (epoch ms) —
        ``timestampAsOf``. Raises if the timestamp predates the table."""
        best = None
        for v in self._commit_versions():
            if self._commit_timestamp_ms(v) <= ts_ms:
                best = v
            else:
                break
        if best is None:
            raise ValueError(
                f"timestamp {ts_ms} predates the first commit of {self.path}"
            )
        return best

    def read(
        self,
        version: int | None = None,
        *,
        timestamp_ms: int | None = None,
        snapshot: "DeltaSnapshot | None" = None,
    ) -> DataFrame:
        """Snapshot DataFrame in the table schema's column order, with
        partition columns typed per the schema (Delta stores them as
        strings in the log / directory names). ``version`` is
        ``versionAsOf``; ``timestamp_ms`` is ``timestampAsOf``; a
        caller that already built a ``snapshot`` passes it to skip a
        second log replay."""
        if version is not None and timestamp_ms is not None:
            raise ValueError("pass version or timestamp_ms, not both")
        if timestamp_ms is not None:
            version = self.version_at_timestamp(timestamp_ms)
        snap = snapshot if snapshot is not None else self.snapshot(version)
        by_id = snap.column_mapping_mode == "id"
        return scan(
            self.spark,
            self.path,
            # PROTOCOL.md: add.path is the RELATIVE path, URL-encoded —
            # decode before touching the filesystem (a partition value
            # with a space yields %20 in the log but a space on disk)
            [(unquote(p), a.get("deletionVector")) for p, a in snap.adds.items()],
            snap.schema,
            snap.partition_columns,
            physical={f.name: snap.physical_name(f.name) for f in snap.schema.fields},
            field_ids=_field_ids(snap.schema) if by_id else None,
            fs=self._fs,
        )

    def table_changes(
        self, version_from: int, version_to: int | None = None
    ) -> DataFrame:
        """Delta change-data-feed READ — see :func:`_cdf_changes`."""
        return _cdf_changes(self, version_from, version_to)

    def history(self) -> list[dict]:
        """commitInfo per version, newest first (Delta DESCRIBE HISTORY
        analogue)."""
        out = []
        for v in reversed(self._commit_versions()):
            for a in self.commit_actions(v):
                if "commitInfo" in a:
                    out.append({"version": v, **a["commitInfo"]})
                    break
        return out


def _field_ids(schema: T.StructType) -> dict[str, int]:
    out = {}
    for f in schema.fields:
        fid = (f.metadata or {}).get("delta.columnMapping.id")
        if fid is None:
            raise ValueError(
                f"column {f.name!r}: id-mode column mapping requires "
                "delta.columnMapping.id metadata on every field"
            )
        out[f.name] = int(fid)
    return out


def scan(
    spark: SparkSession,
    root: str,
    files: "list[tuple[str, dict | None]]",
    schema: T.StructType,
    partition_cols: list[str],
    *,
    physical: dict[str, str] | None = None,
    field_ids: dict[str, int] | None = None,
    with_position: bool = False,
    rel_base: str = "",
    fs=None,
) -> DataFrame:
    """One scan over ``files`` — ``(path relative to root, deletion
    vector descriptor or None)`` pairs — with deletion vectors applied,
    in ``schema``'s logical names, types and column order.

    Files are read under their ``physical`` names (logical → physical;
    column mapping) or, with ``field_ids``, matched by parquet field id.
    Partition columns come from hive-style directories, typed by
    ``schema``. ``with_position`` keeps ``__file`` (the path relative
    to ``rel_base``; files outside it get a ``../`` prefix) and
    ``__pos`` (``_metadata.row_index``), so callers can build new
    deletion vectors from what they read. Files without deletion
    vectors take the plain scan with no extra columns or joins."""
    physical = {k: v for k, v in (physical or {}).items() if k != v}
    extras = ["__file", "__pos"]
    if not files:
        out = T.StructType([T.StructField(f.name, f.dataType, f.nullable) for f in schema.fields])
        if with_position:
            out = out.add("__file", T.StringType()).add("__pos", T.LongType())
        return spark.createDataFrame([], out)
    if field_ids:
        # Spark's resolver honours parquet.field.id only with this conf;
        # it is a no-op for schemas without field-id metadata
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    read_schema = T.StructType(
        [
            T.StructField(
                physical.get(f.name, f.name),
                f.dataType,
                f.nullable,
                {"parquet.field.id": field_ids[f.name]}
                if field_ids and f.name in field_ids
                else None,
            )
            for f in schema.fields
        ]
    )
    lp = fsio.local_path(root)
    if lp is not None:
        root = os.path.abspath(lp)
    dead = []
    for p, dv in files:
        if dv:
            from delta_lake_pyspark_scd2_spark.sources.delta_dv import (
                read_dv_positions,
            )

            key = posixpath.relpath(p, rel_base) if rel_base else p
            fs = fs or fsio.get_fs(root, spark)
            dead.extend((key, pos) for pos in read_dv_positions(dv, root, fs))
    positions = with_position or bool(dead)
    # _metadata.file_path is a URI: strip the scheme, percent-decode
    # (a literal '+' stays '+'), then the root prefix
    rel = F.expr(
        "substring(url_decode(replace(regexp_replace(_metadata.file_path, "
        f"'^[a-zA-Z0-9+.-]+:/+', '/'), '+', '%2B')), "
        f"{len(fsio.scan_root(root)) + 2})"
    )
    if rel_base:
        rel = F.when(
            rel.startswith(rel_base + "/"), F.substring(rel, len(rel_base) + 2, 1 << 30)
        ).otherwise(F.concat(F.lit("../"), rel))
    # partition discovery needs one basePath per directory prefix above
    # the partition directories (one group for tables this engine wrote)
    depth = len(partition_cols) + 1
    groups: dict[str, list[str]] = {}
    for p, _ in files:
        groups.setdefault("/".join(p.split("/")[:-depth]), []).append(p)
    df = None
    for base, ps in groups.items():
        part = (
            spark.read.option("basePath", fsio.join(root, base) if base else root)
            .schema(read_schema)
            .parquet(*[fsio.join(root, p) for p in ps])
        )
        if positions:
            part = part.select(
                "*", rel.alias("__file"), F.col("_metadata.row_index").alias("__pos")
            )
        df = part if df is None else df.unionByName(part)
    if dead:
        df = df.join(
            F.broadcast(spark.createDataFrame(dead, "__file string, __pos long")),
            on=extras,
            how="left_anti",
        )
    if positions and not with_position:
        df = df.drop(*extras)
    if physical or field_ids:
        # physical → logical, AFTER the _metadata-derived columns (a
        # projection would sever access to the scan's _metadata)
        df = df.select(
            *[F.col(physical.get(f.name, f.name)).alias(f.name) for f in schema.fields],
            *(extras if with_position else []),
        )
    return df


def _cdf_changes(
    reader: "DeltaTableReader",
    version_from: int,
    version_to: int | None = None,
) -> DataFrame:
    """Change rows between versions — Delta change-data-feed READ
    (``table_changes`` / ``readChangeFeed`` analogue), inclusive of
    ``version_from`` like Delta's ``startingVersion``.

    Per commit, in order of fidelity:
      1. ``cdc`` actions (the writer ran with
         ``delta.enableChangeDataFeed``): their ``_change_data``
         parquet files are read as-is — full pre/post-image fidelity.
         Partition columns come from the action's ``partitionValues``
         when it carries them, else from the file.
      2. pure-append commits (``add`` with ``dataChange`` and no
         ``remove``): the added files ARE the inserts. Version 0's
         snapshot arrives this way, matching ``startingVersion=0``.
      3. anything else (rewrite commits without change data) raises —
         the file diff cannot distinguish an update from delete+insert,
         so guessing would corrupt downstream folds.

    ``dataChange=false`` commits (compaction/zorder) contribute
    nothing, as in Delta. Output: data columns (at the head schema) +
    ``_change_type`` + ``_commit_version``.

    Scale note: planning is log-replay only; every file read is a
    normal distributed parquet scan of just that commit's files.
    """
    spark = reader.spark
    hi = reader.latest_version() if version_to is None else version_to
    snap = reader.snapshot(hi)
    schema = snap.schema
    physical = {f.name: snap.physical_name(f.name) for f in schema.fields}
    logical_of = {p: n for n, p in physical.items()}
    ids = _field_ids(schema) if snap.column_mapping_mode == "id" else None
    names = [f.name for f in schema.fields]

    def _scan(paths: list[str], sch: T.StructType, pc: list[str]) -> DataFrame:
        return scan(
            spark, reader.path, [(unquote(p), None) for p in paths], sch, pc,
            physical=physical, field_ids=ids, fs=reader._fs,
        )

    pieces = []
    for v in range(version_from, hi + 1):
        try:
            actions = reader.commit_actions(v)
        except FileNotFoundError:
            # the log was checkpointed + cleaned past this version:
            # its row-level changes are GONE. Raising matches Delta's
            # behavior for startingVersion outside the retained log —
            # a silent skip would hand the caller an incomplete feed.
            raise ValueError(
                f"Delta commit {v} is no longer in the log (checkpoint "
                "cleanup); bootstrap from a snapshot read instead of "
                "replaying changes from that version"
            ) from None
        cdc = [a["cdc"] for a in actions if "cdc" in a]
        adds = [
            a["add"] for a in actions
            if "add" in a and a["add"].get("dataChange", True)
        ]
        removes = [
            a for a in actions
            if "remove" in a and a["remove"].get("dataChange", True)
        ]
        stamp = F.lit(v).cast("long").alias("_commit_version")
        if cdc:
            # group by partition values so each distinct partition reads
            # once; under name-mode column mapping the keys are PHYSICAL
            by_part: dict[tuple, list[str]] = {}
            for c in cdc:
                pv = _as_dict(c.get("partitionValues"))
                by_part.setdefault(tuple(sorted(pv.items())), []).append(c["path"])
            for pv_items, paths in by_part.items():
                given = {logical_of.get(k, k): val for k, val in pv_items}
                sch = T.StructType(
                    [f for f in schema.fields if f.name not in given]
                ).add("_change_type", T.StringType())
                df = _scan(paths, sch, [])
                for k, val in given.items():
                    df = df.withColumn(k, F.lit(val).cast(schema[k].dataType))
                pieces.append(df.select(*names, "_change_type", stamp))
        elif adds and not removes:
            df = _scan([a["path"] for a in adds], schema, snap.partition_columns)
            pieces.append(
                df.select(*names, F.lit("insert").alias("_change_type"), stamp)
            )
        elif removes:
            raise ValueError(
                f"Delta commit {v} rewrites files without change-data "
                "actions; its row-level changes are not recoverable — "
                "enable delta.enableChangeDataFeed on the writer"
            )
    if not pieces:
        return spark.createDataFrame(
            [],
            T.StructType(
                [T.StructField(f.name, f.dataType, f.nullable) for f in schema.fields]
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            ),
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
