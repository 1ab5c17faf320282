"""Workload ``scd2_daily_merge``: an initial load, then daily 100k-row
batches merged through ``run_scd2_batch`` into one growing SCD2 table.

Inputs are generated from the seed with NumPy and written as parquet
during set-up; the program sees only those files. Every batch has the
same shape: 1% null keys, 1% duplicate ``(key, ts)`` rows that lose the
``event_id`` tiebreak, 1% stale events (dated before every version in
the table), and the rest split evenly between new keys and updates of
existing keys. Every event carries a distinct ``value``, so no event is
collapsed as unchanged and each fresh event is exactly one version.

The expected outcome is computed by DuckDB from the input files alone,
never from the table: per-batch counts, the current row of every key,
and the table's state after each batch. The state is compared through
the table's read API (time travel, current snapshot, as-of read, one
key's history, a partition's day count and the change feed), which
also gives the traced run its read-side counters.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

from common import Checks, dir_bytes, geomean, median

BATCH_ROWS = 100_000
#: batch rows of the ``--size tiny`` smoke run
TINY_ROWS = 2_000
NULL_FRAC = DUP_FRAC = STALE_FRAC = 0.01
LOAD_DAYS = 10
#: ``--seconds`` buys one timed daily batch per this many seconds, so
#: every run with the same ``--seconds`` merges the same batches however
#: fast the box is: about one batch's time on a busy 4-core box
SECONDS_PER_BATCH = 5
MIN_BATCHES, MAX_BATCHES = 2, 4
#: set-up repetitions whose median is reported as set-up time
SETUP_REPS = 3
DAY0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
EVENT_TYPES = np.array(["click", "view", "purchase", "signup"])


def batch_id(b: int) -> str:
    return f"b{b:03d}"


# -- inputs --------------------------------------------------------------------


def _table(user, ts, eid, rng):
    import pyarrow as pa

    return pa.table(
        {
            "user_id": pa.array(user, type=pa.int64()),
            "ts": pa.array(ts * 1_000_000, type=pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "event_id": pa.array(eid, type=pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 4, len(eid))]),
            # distinct per event, integer-valued: sums compare exactly
            "value": pa.array(eid.astype(np.float64)),
        }
    )


def make_inputs(seed: int, out_dir: str, n_batches: int, rows: int) -> list[str]:
    """Batch 0 is the initial load; batches 1..n are the daily merges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    day0 = int(DAY0.timestamp())
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    next_key = 0
    for b in range(n_batches + 1):
        n_null = round(rows * NULL_FRAC)
        n_dup = round(rows * DUP_FRAC)
        n_stale = round(rows * STALE_FRAC) if b else 0
        n_prim = rows - n_null - n_dup - n_stale
        base = b * 1_000_000
        if b == 0:
            keys = np.arange(n_prim, dtype=np.int64)
            ts = day0 + rng.integers(0, LOAD_DAYS * 86400, n_prim)
            stale_keys = np.empty(0, dtype=np.int64)
            next_key = n_prim
        else:
            n_new = n_prim // 2
            n_upd = n_prim - n_new
            picked = rng.choice(next_key, n_upd + n_stale, replace=False)
            keys = np.concatenate(
                [np.arange(next_key, next_key + n_new, dtype=np.int64), picked[:n_upd]]
            )
            stale_keys = picked[n_upd:]
            next_key += n_new
            day = day0 + (LOAD_DAYS - 1 + b) * 86400
            ts = day + rng.integers(0, 86400, n_prim)
        eid = base + 2 * np.arange(1, n_prim + 1, dtype=np.int64)
        dup = rng.choice(n_prim, n_dup, replace=False)
        # a duplicate shares (key, ts) and loses the event_id tiebreak
        parts = [
            _table(keys, ts, eid, rng),
            _table(keys[dup], ts[dup], eid[dup] - 1, rng),
        ]
        tail = base + 2 * n_prim + 2 + 2 * np.arange(n_null + n_stale, dtype=np.int64)
        null_ts = ts[rng.integers(0, n_prim, n_null)]
        parts.append(_table(np.full(n_null, None), null_ts, tail[:n_null], rng))
        if n_stale:
            stale_ts = day0 - 86400 + rng.integers(0, 86400, n_stale)
            parts.append(_table(stale_keys, stale_ts, tail[n_null:], rng))
        t = pa.concat_tables(parts)
        t = t.take(rng.permutation(t.num_rows))
        p = os.path.join(out_dir, f"{batch_id(b)}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    return paths


# -- DuckDB expectations -------------------------------------------------------


class Expected:
    """SCD2 semantics over the input files, computed by DuckDB."""

    def __init__(self, paths: list[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        union = " UNION ALL ".join(
            f"SELECT *, {b} AS b FROM read_parquet('{p}')" for b, p in enumerate(paths)
        )
        self.con.execute(f"CREATE TABLE ev AS {union}")
        self.con.execute(
            """CREATE TABLE kept AS SELECT * EXCLUDE (rn) FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY b, user_id, ts ORDER BY event_id DESC) AS rn
                 FROM ev WHERE user_id IS NOT NULL) WHERE rn = 1"""
        )
        # the key's latest earlier-batch event; stale events are older
        # than every version, so they never are that maximum
        self.con.execute(
            """CREATE TABLE fresh AS
               SELECT k.*, p.prior_ts FROM kept k LEFT JOIN LATERAL (
                 SELECT max(ts) AS prior_ts FROM kept k2
                 WHERE k2.user_id = k.user_id AND k2.b < k.b) p ON TRUE"""
        )

    def batch_counts(self, b: int) -> dict:
        dq = self.con.execute(
            f"""SELECT count(*), count(*) FILTER (user_id IS NULL),
                  (SELECT count(*) FROM kept WHERE b = {b})
                FROM ev WHERE b = {b}"""
        ).fetchone()
        n_total, n_null, n_kept = (int(x) for x in dq)
        m = self.con.execute(
            f"""SELECT count(*) FILTER (prior_ts IS NOT NULL AND ts <= prior_ts),
                  count(*) FILTER (prior_ts IS NULL OR ts > prior_ts),
                  count(*) FILTER (prior_ts IS NOT NULL AND ts > prior_ts),
                  count(DISTINCT CAST(prior_ts AS DATE))
                    FILTER (prior_ts IS NOT NULL AND ts > prior_ts)
                FROM fresh WHERE b = {b}"""
        ).fetchone()
        return {
            "n_total": n_total,
            "n_kept": n_kept,
            "n_null_key": n_null,
            "n_batch_date_mismatch": 0,
            "n_duplicate_older": n_total - n_null - n_kept,
            "n_stale": int(m[0]),
            "n_inserted": int(m[1]),
            "n_closed": int(m[2]),
            "n_parts_closed": int(m[3]),
        }

    def _state(self, k: int) -> str:
        return f"""(SELECT user_id, ts, event_id, event_type, value,
                ts AS valid_from,
                coalesce(lead(ts) OVER w, TIMESTAMPTZ '9999-12-31 00:00:00+00')
                  AS valid_to,
                lead(ts) OVER w IS NULL AS is_current
              FROM fresh WHERE b <= {k} AND (prior_ts IS NULL OR ts > prior_ts)
              WINDOW w AS (PARTITION BY user_id ORDER BY ts))"""

    def fingerprint(self, k: int, where: str = "TRUE") -> tuple:
        return tuple(
            self.con.execute(
                f"""SELECT count(*), coalesce(sum(user_id), 0),
                      coalesce(sum(event_id), 0), coalesce(sum(value), 0),
                      coalesce(sum(is_current::BIGINT), 0),
                      coalesce(sum(epoch(valid_from)::BIGINT), 0),
                      coalesce(sum(epoch(valid_to)::BIGINT), 0)
                    FROM {self._state(k)} WHERE {where}"""
            ).fetchone()
        )

    def changes(self, k: int) -> dict:
        """Change feed between the states after batches k-1 and k on
        (user_id, valid_from): new versions are inserts, closed ones
        are update pre/post images."""
        rows = self.con.execute(
            f"""WITH a AS {self._state(k - 1)}, c AS {self._state(k)}
                SELECT 'insert', count(*), coalesce(sum(c.event_id), 0)
                  FROM c ANTI JOIN a USING (user_id, valid_from)
                UNION ALL
                SELECT 'update_postimage', count(*), coalesce(sum(c.event_id), 0)
                  FROM c JOIN a USING (user_id, valid_from)
                  WHERE a.is_current AND NOT c.is_current"""
        ).fetchall()
        out = {r[0]: (int(r[1]), int(r[2])) for r in rows if r[1]}
        if "update_postimage" in out:
            out["update_preimage"] = out["update_postimage"]
        return out

    def some_key(self, k: int, i: int) -> int:
        """The i-th (mod count) key updated in batch k."""
        return int(self.con.execute(
            f"""SELECT user_id FROM fresh WHERE b = {k} AND prior_ts IS NOT NULL
                ORDER BY event_id LIMIT 1 OFFSET {i} % (SELECT count(*) FROM fresh
                  WHERE b = {k} AND prior_ts IS NOT NULL)"""
        ).fetchone()[0])

    def current(self, k: int):
        return self.con.execute(
            f"""SELECT user_id, event_type, value, valid_from
                FROM {self._state(k)} WHERE is_current"""
        ).df()


# -- Spark side ----------------------------------------------------------------


def spark_fingerprint(df) -> tuple:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum("user_id"), F.lit(0)),
        F.coalesce(F.sum("event_id"), F.lit(0)),
        F.coalesce(F.sum("value"), F.lit(0.0)),
        F.coalesce(F.sum(F.col("is_current").cast("long")), F.lit(0)),
        F.coalesce(F.sum(F.unix_timestamp("valid_from")), F.lit(0)),
        F.coalesce(F.sum(F.unix_timestamp("valid_to")), F.lit(0)),
    ).collect()[0]
    return tuple(r)


def same(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(float(x) == float(y) for x, y in zip(a, b))


def spec():
    from delta_lake_pyspark_scd2_spark.pipeline.scd2_pipeline import SCD2Spec

    return SCD2Spec(
        key_cols=("user_id",),
        event_ts_col="ts",
        tracked_cols=("event_type", "value"),
        tiebreak_cols=("event_id",),
    )


class MergeRun:
    """One table: initial load during set-up, timed daily merges after."""

    def __init__(self, spark, paths: list[str], table_dir: str):
        self.spark = spark
        self.paths = paths
        self.table = table_dir
        self.spec = spec()
        self.records: list[dict] = []
        self.batch_s: list[float] = []
        #: latest version after each batch, index = batch number
        self.boundary: list[int] = []
        self.table_bytes_before: list[int] = []

    def _batch(self, path: str, bid: str, tracer=None) -> float:
        # looked up per call, so a traced run sees the spanned function
        from delta_lake_pyspark_scd2_spark.pipeline import scd2_pipeline
        from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

        df = self.spark.read.parquet(path)
        with tracer.active() if tracer else nullcontext():
            t0 = time.perf_counter()
            rec = scd2_pipeline.run_scd2_batch(
                self.spark,
                self.spec,
                df,
                self.table,
                batch_id=bid,
                quarantine_path=self.table + "_quarantine",
            )
            dt_s = time.perf_counter() - t0
        self.records.append(rec)
        self.boundary.append(VersionedParquetTable(self.spark, self.table).latest_version())
        return dt_s

    def drop(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.rmtree(self.table + "_quarantine", ignore_errors=True)

    def load(self) -> None:
        self._batch(self.paths[0], batch_id(0))

    def merge(self, b: int, tracer=None) -> None:
        """One timed daily batch; spanned while ``tracer`` is given."""
        self.table_bytes_before.append(dir_bytes(self.table))
        self.batch_s.append(self._batch(self.paths[b], batch_id(b), tracer))



def n_batches(seconds: float) -> int:
    """Timed daily batches of a run of ``seconds``."""
    return max(MIN_BATCHES, min(MAX_BATCHES, math.ceil(seconds / SECONDS_PER_BATCH)))


def setup(spark, sess, seed: int, rows: int, n: int, keep_spare: bool):
    """Generate the inputs and build the initial table ``SETUP_REPS``
    times; report the median. The last table is measured. The first
    one takes the warm-up merge; the second is kept, when asked, for
    the untraced reference run of a traced run."""
    reps, runs = [], []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        paths = make_inputs(seed, sess.path(f"inputs{i}"), n, rows)
        mr = MergeRun(spark, paths, sess.path(f"table{i}"))
        mr.load()
        reps.append(time.perf_counter() - t0)
        runs.append(mr)
    # warm-up: batch 1 merged into a table not measured
    warm_s = runs[0]._batch(runs[0].paths[1], "warm")
    spare = runs[1] if keep_spare else None
    for mr in runs[:-1]:
        if mr is not spare:
            mr.drop()
    return runs[-1], spare, reps, warm_s


# -- checks ---------------------------------------------------------------------


def check_run(spark, mr: MergeRun, exp: Expected, checks: Checks) -> None:
    """Per-batch counts, one current row per key, the invariants, and
    every key's current values, all against DuckDB."""
    from pyspark.sql import functions as F

    from delta_lake_pyspark_scd2_spark.operators import scd2
    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    for b, rec in enumerate(mr.records):
        want = exp.batch_counts(b)
        if b == 0:  # the create path reports no merge-only counts
            for k in ("n_stale", "n_closed", "n_parts_closed"):
                want.pop(k)
        got = {k: rec.get(k) for k in want}
        checks.check(f"batch{b}_counts", got == want, {"got": got, "want": want})

    t = VersionedParquetTable(spark, mr.table)
    full = t.read()
    bad_current = (
        full.groupBy("user_id")
        .agg(F.sum(F.col("is_current").cast("int")).alias("c"))
        .filter(F.col("c") != 1)
        .count()
    )
    checks.check("one_current_per_key", bad_current == 0, f"{bad_current} keys")
    viol = scd2.check_invariants(full, "user_id").count()
    checks.check("check_invariants", viol == 0, f"{viol} violations")

    cur = (  # noqa: F841 - read by DuckDB below
        t.read_where([("is_current", "=", True)])
        .select("user_id", "event_type", "value", "valid_from")
        .toPandas()
    )
    want_cur = exp.current(len(mr.records) - 1)  # noqa: F841
    mism = exp.con.execute(
        """SELECT count(*) FROM want_cur w FULL OUTER JOIN cur c USING (user_id)
           WHERE w.user_id IS NULL OR c.user_id IS NULL
              OR w.event_type IS DISTINCT FROM c.event_type
              OR w.value IS DISTINCT FROM c.value
              OR epoch(w.valid_from) IS DISTINCT FROM epoch(c.valid_from)"""
    ).fetchone()[0]
    checks.check("current_values", mism == 0, f"{mism} keys differ")


def history_reads(
    spark, mr: MergeRun, exp: Expected, checks: Checks, seed: int, span=None
):
    """The read mix over the merged table, each result compared with
    DuckDB: time travel to every batch boundary, the current snapshot,
    a partition's day, an as-of read, one key's history, and the change
    feed of the last batch. Returns one record per read:
    ``(kind, version, call_s, action_s, df)``."""
    from pyspark.sql import functions as F

    from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable

    t = VersionedParquetTable(spark, mr.table)
    k = len(mr.records) - 1
    latest = mr.boundary[-1]
    rng = np.random.default_rng([seed, k])
    reads = []

    def read(kind, make, version):
        t0 = time.perf_counter()
        df = make()
        t1 = time.perf_counter()
        with span(f"read.{kind}") if span else nullcontext():
            if kind == "changes":
                rows = (
                    df.groupBy("_change_type")
                    .agg(F.count(F.lit(1)), F.sum("event_id"))
                    .collect()
                )
                got = {r[0]: (int(r[1]), int(r[2])) for r in rows}
            else:
                got = spark_fingerprint(df)
        reads.append((kind, version, t1 - t0, time.perf_counter() - t1, df))
        return got

    for j, v in enumerate(mr.boundary):
        got = read("timetravel", lambda v=v: t.read(version=v), v)
        checks.check(f"read_version_{v}", same(got, exp.fingerprint(j)), got)
    got = read("current", lambda: t.read_where([("is_current", "=", True)]), latest)
    checks.check("read_current", same(got, exp.fingerprint(k, "is_current")), got)
    day = DAY0 + dt.timedelta(days=int(rng.integers(0, LOAD_DAYS + k)))
    parts = [
        ("valid_from_year", "=", day.year),
        ("valid_from_month", "=", day.month),
        ("valid_from_day", "=", day.day),
    ]
    got = read("day", lambda: t.read_where(parts), latest)
    want = exp.fingerprint(k, f"CAST(valid_from AS DATE) = DATE '{day.date()}'")
    checks.check(f"read_day_{day.date()}", same(got, want), got)
    at = DAY0 + dt.timedelta(seconds=int(rng.integers(0, (LOAD_DAYS + k) * 86400)))
    got = read(
        "asof",
        lambda: t.read_where([("valid_from", "<=", at), ("valid_to", ">", at)]),
        latest,
    )
    lit = f"TIMESTAMPTZ '{at.isoformat()}'"
    want = exp.fingerprint(k, f"valid_from <= {lit} AND valid_to > {lit}")
    checks.check("read_asof", same(got, want), got)
    key = exp.some_key(k, int(rng.integers(0, 1000)))
    got = read("key", lambda: t.read_where([("user_id", "=", key)]), latest)
    want = exp.fingerprint(k, f"user_id = {key}")
    checks.check(f"read_key_{key}", same(got, want), got)
    a, c = mr.boundary[k - 1], mr.boundary[k]
    got = read(
        "changes", lambda: t.table_changes(["user_id", "valid_from"], a, c), a
    )
    checks.check(f"changes_{a}_{c}", got == exp.changes(k), got)
    return reads


# -- the workload -----------------------------------------------------------------


def run(sess, seed: int, seconds: float, trace: bool, size: str) -> dict:
    spark = sess.spark
    rows = BATCH_ROWS if size == "full" else TINY_ROWS
    n = n_batches(seconds)
    measured, spare, reps, warm_s = setup(spark, sess, seed, rows, n, keep_spare=trace)
    out: dict = {"setup_reps_s": reps, "warmup_s": warm_s, "setup_s": median(reps) + warm_s}
    checks = Checks()
    if not trace:
        for b in range(1, n + 1):
            measured.merge(b)
        out["peak_rss_mb"] = sess.peak_rss_mb()
        exp = Expected(measured.paths)
        check_run(spark, measured, exp, checks)
        history_reads(spark, measured, exp, checks, seed)
        out["end_to_end"] = {
            "op_geomean_s": geomean(measured.batch_s),
            "ops_per_s": n / sum(measured.batch_s),
        }
        out["ops"] = measured.batch_s
    else:
        # the spare table merges the same batches untraced; the order
        # alternates from batch to batch so warm-up favours neither side
        from layers import Tracer, instrument, merge_layers

        tracer = instrument(Tracer(spark))
        for b in range(1, n + 1):
            for traced in ((False, True) if b % 2 else (True, False)):
                (measured.merge(b, tracer) if traced else spare.merge(b))
        out["peak_rss_mb"] = sess.peak_rss_mb()
        spare.drop()
        exp = Expected(measured.paths)
        with tracer.active(), tracer.span("reads"):
            reads = history_reads(spark, measured, exp, checks, seed, tracer.span)
        check_run(spark, measured, exp, checks)
        tracer.attribute()
        overhead = sum(measured.batch_s) / sum(spare.batch_s) - 1
        out["per_layer"] = merge_layers(spark, tracer, measured, reads, overhead)
        out["ops"] = measured.batch_s
    out["checks"] = checks
    return out
