"""Which program functions the traced run wraps, and the per-layer
metrics derived from the spans and Spark counters.

Layers are named after the program's modules: ``pipeline``
(``run_scd2_batch``), ``validation`` (``operators.validation``),
``vtable`` (``sources.vtable.VersionedParquetTable``, write side and
read side) and ``plans`` (a registry builder, then its action).
"""

from __future__ import annotations

import os

from common import dir_bytes, median
from spans import Span, Tracer

VALIDATION = ("tag_discards", "split_valid", "dq_metrics", "dq_metrics_with_key_profile")
VTABLE_WRITE = ("create", "append", "replace_partitions", "remove_rows")
VTABLE_READ = ("read", "read_where", "read_partitions", "table_changes", "versions")
#: position of the version argument of each read function (after self)
_VERSION_ARG = {"read": 1, "read_where": 2, "read_partitions": 2, "table_changes": 2}

__all__ = ["Tracer", "Tree", "instrument", "merge_layers", "trace_common"]


def _version_of(fn: str):
    kw = "version_from" if fn == "table_changes" else "version"
    pos = _VERSION_ARG.get(fn)

    def attrs(args, kwargs):
        v = kwargs.get(kw)
        if v is None and pos is not None and len(args) > pos:
            v = args[pos]
        return {"version": v}

    return attrs


def instrument(tracer: Tracer) -> Tracer:
    from delta_lake_pyspark_scd2_spark.operators import validation
    from delta_lake_pyspark_scd2_spark.pipeline import scd2_pipeline
    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    tracer.add(scd2_pipeline, "run_scd2_batch", "pipeline.run_scd2_batch")
    for fn in VALIDATION:
        tracer.add(validation, fn, f"validation.{fn}")
    for fn in VTABLE_WRITE:
        tracer.add(VersionedParquetTable, fn, f"vtable.{fn}")
    for fn in VTABLE_READ:
        tracer.add(VersionedParquetTable, fn, f"vtable.{fn}", _version_of(fn))
    return tracer


class Tree:
    """Span-tree helpers over one traced run."""

    def __init__(self, tracer: Tracer):
        self.t = tracer
        self.kids = tracer.children()

    def under(self, root: Span) -> list[Span]:
        out, todo = [], list(self.kids.get(root.id, ()))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s.id, ()))
        return out

    def topmost(self, root: Span, names: set[str]) -> list[Span]:
        """Spans named ``names`` under ``root`` with no such ancestor."""
        out, todo = [], list(self.kids.get(root.id, ()))
        while todo:
            s = todo.pop()
            if s.name in names:
                out.append(s)
            else:
                todo.extend(self.kids.get(s.id, ()))
        return out

    def inc(self, spans: list[Span], key: str) -> float:
        return sum(self.t.inclusive(s, self.kids)[key] for s in spans)

    def self_time(self, s: Span) -> float:
        return self.t.self_time(s, self.kids)

    def cover(self, tops: list[Span], timed_s: float) -> float:
        """Share of the timed region covered by the self times of the
        top spans and every span under them."""
        spans = list(tops) + [s for t in tops for s in self.under(t)]
        return sum(self.self_time(s) for s in spans) / timed_s


def trace_common(
    tracer: Tracer, tree: Tree, tops: list[Span], timed_s: float, overhead: float
) -> dict:
    return {
        "spark.failed_tasks": tracer.failed_tasks,
        "trace.overhead_frac": overhead,
        "trace.jobs_by_window": tracer.jobs_by_window,
        "trace.jobs_unattributed": tracer.jobs_unattributed,
        "trace.span_cover_frac": tree.cover(tops, timed_s),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def merge_layers(spark, tracer: Tracer, mr, reads: list, overhead: float) -> dict:
    from common import nproc
    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        DATA_DIR,
        MANIFEST_DIR,
        VersionedParquetTable,
    )

    tree = Tree(tracer)
    batches = sorted(tracer.named("pipeline.run_scd2_batch"), key=lambda s: s.start)
    n = len(batches)
    m: dict = {}
    # -- pipeline
    src = [
        os.path.getsize(mr.paths[i + 1]) + mr.table_bytes_before[i] for i in range(n)
    ]
    wall = sum(s.dur for s in batches)
    m["pipeline.self_s"] = median([tree.self_time(s) for s in batches])
    m["pipeline.jobs"] = tree.inc(batches, "jobs") / n
    m["pipeline.tasks"] = tree.inc(batches, "tasks") / n
    m["pipeline.cpu_frac"] = tree.inc(batches, "cpu_s") / (wall * nproc())
    m["pipeline.input_bytes_per_source_byte"] = tree.inc(batches, "input_bytes") / sum(src)
    m["pipeline.shuffle_bytes"] = tree.inc(batches, "shuffle_write_bytes") / n
    m["pipeline.spill_bytes"] = tree.inc(batches, "spill_bytes") / n
    recs = mr.records[1:]
    for k in ("n_closed", "n_inserted", "n_stale", "n_parts_closed"):
        m[f"pipeline.{k}"] = _mean(r[k] for r in recs)
    # -- validation
    val = [tree.topmost(s, {f"validation.{f}" for f in VALIDATION}) for s in batches]
    m["validation.s"] = _mean(sum(x.dur for x in v) for v in val)
    m["validation.jobs"] = _mean(tree.inc(v, "jobs") for v in val)
    m["validation.kept_frac"] = sum(r["n_kept"] for r in recs) / sum(
        r["n_total"] for r in recs
    )
    # -- vtable, write side
    wr = [tree.topmost(s, {f"vtable.{f}" for f in VTABLE_WRITE}) for s in batches]
    m["vtable.commit_s"] = _mean(sum(x.dur for x in w) for w in wr)
    m["vtable.commit_jobs"] = _mean(tree.inc(w, "jobs") for w in wr)
    b = mr.boundary
    m["vtable.commits_per_batch"] = (b[n] - b[0]) / n
    t = VersionedParquetTable(spark, mr.table)
    live = [{e.path for e in t.files_for([], v)} for v in b[: n + 1]]
    added = [live[i + 1] - live[i] for i in range(n)]
    m["vtable.files_added"] = _mean(len(a) for a in added)
    m["vtable.files_removed"] = _mean(len(live[i] - live[i + 1]) for i in range(n))
    data = os.path.join(mr.table, DATA_DIR)
    written = sum(os.path.getsize(os.path.join(data, p)) for a in added for p in a)
    batch_in = sum(os.path.getsize(mr.paths[i + 1]) for i in range(n))
    m["vtable.bytes_written_per_input_byte"] = written / batch_in
    m["vtable.log_bytes_per_commit"] = dir_bytes(
        os.path.join(mr.table, MANIFEST_DIR)
    ) / len(t.versions())
    m["table.bytes_per_input_byte"] = dir_bytes(mr.table) / sum(
        os.path.getsize(p) for p in mr.paths[: n + 1]
    )
    # -- vtable, read side (the read mix after the timed merges)
    latest = b[n]
    is_travel = [r[1] is not None and r[1] < latest for r in reads]
    travel = [r for r, tt in zip(reads, is_travel) if tt]
    at_latest = [r for r, tt in zip(reads, is_travel) if not tt]
    m["vtable.snapshot_latest_s"] = median([r[2] for r in at_latest])
    m["vtable.snapshot_timetravel_s"] = median([r[2] for r in travel])
    m["vtable.read_exec_s"] = median([r[3] for r in reads])
    files, pruned, all_files = [], [], {}
    for kind, v, _, _, df in reads:
        f = len(df.inputFiles())
        files.append(f)
        if kind != "changes":
            if v not in all_files:
                all_files[v] = len(t.files_for([], v))
            pruned.append(1 - f / all_files[v] if all_files[v] else 0.0)
    m["vtable.files_per_read"] = _mean(files)
    m["vtable.pruned_frac"] = _mean(pruned)
    rspans = [s for s in tracer.spans if s.name.startswith("read.")]
    m["vtable.read_jobs"] = tree.inc(rspans, "jobs") / len(rspans)
    m["vtable.read_input_bytes"] = tree.inc(rspans, "input_bytes") / len(rspans)
    m.update(trace_common(tracer, tree, batches, wall, overhead))
    return m
