"""SCD2 ETL volume benchmark — the engine-side replica of the
reference's volume-scaling harness (``infra/scale_size_runner.sh`` +
``src/utils/generate_header_datasets.py``; numbers in BASELINE.md).

The reference's headline metric is the end-to-end duration of a *batch2
merge run* (extract + validate + transform + two-phase merge) against an
already-loaded SCD2 table: 43.96 s at 100k rows / 226.76 s at 10M rows
on a 6-worker cluster. This module reproduces that workload shape from
the driver-supplied ``events`` table (TESTDATA.md) instead of a
synthetic generator:

  * key       = ``user_id``   (1.5k keys/sf0.1 — many versions per key)
  * event ts  = ``ts``        (one month of events)
  * tracked   = ``event_type``, ``value`` (changes on ~every event —
    maximal merge stress, like the reference's 50%-new-keys batch2)
  * batch1    = first half of the month  → initial load (CREATE path)
  * batch2    = second half of the month → close + insert merge path

At sf0.1 the events table is 100k rows, directly comparable to the
reference's 100k-row line.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.pipeline.scd2_pipeline import (
    SCD2Spec,
    run_scd2_batch,
)
from delta_lake_pyspark_scd2_spark.sources.tables import load_table

EVENTS_SPEC = SCD2Spec(
    key_cols=("user_id",),
    event_ts_col="ts",
    tracked_cols=("event_type", "value"),
    tiebreak_cols=("event_id",),
)


def run_volume_bench(spark: SparkSession, sf_dir: str, table_path: str) -> dict:
    """Run batch1 (initial load) + batch2 (merge) over ``events``;
    return ``{"scd2_etl_load": s, "scd2_etl_merge": s, "rows_batch2": n,
    "merge_rows_per_s": n}``."""
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.select(F.min("ts"), F.max("ts")).collect()[0]
    split_ts = lo + (hi - lo) / 2

    batch1 = events.filter(F.col("ts") < F.lit(split_ts))
    batch2 = events.filter(F.col("ts") >= F.lit(split_ts))
    n2 = batch2.count()

    t0 = time.time()
    run_scd2_batch(spark, EVENTS_SPEC, batch1, table_path, batch_id="bench_b1")
    load_s = round(time.time() - t0, 3)

    t1 = time.time()
    run_scd2_batch(spark, EVENTS_SPEC, batch2, table_path, batch_id="bench_b2")
    merge_s = round(time.time() - t1, 3)

    return {
        "scd2_etl_load": load_s,
        "scd2_etl_merge": merge_s,
        "rows_batch2": n2,
        "merge_rows_per_s": round(n2 / merge_s) if merge_s else None,
    }


def run_synthetic_volume_bench(
    spark: SparkSession, n_rows: int, table_path: str, *, pct_new: float = 50.0
) -> dict:
    """The reference's volume-scaling experiment at an arbitrary row
    count (``infra/scale_size_runner.sh`` sizes 100k/1M/5M/10M): batch1
    initial load, then a batch2 with a ``pct_new`` new-vs-updated key
    mix, every batch2 event fresh (timestamps shifted past batch1's
    whole span). Single-node reference points (local[32], this repo):

    ========  =========  ==========  ============  ================
    rows      load (s)   merge (s)   merge rows/s  baseline (6 wrk)
    1M        9.5        10.9        ~92k          54.73 s
    10M       14.4       23.2        431k          226.76 s
    ========  =========  ==========  ============  ================

    (Post rebalance-on-partition-columns write layout: the load path
    dropped ~40% — one right-sized file per partition instead of
    tasks × partitions small files.)

    (Warm-session numbers; a cold first run pays one-time JIT/codegen.
    Every synthetic event carries distinct tracked values, so versions
    ≈ input rows — the reference's kept-rows regime.)
    """
    import time as _t

    from delta_lake_pyspark_scd2_spark.sources import generators as G

    n_keys = max(1, n_rows // 10)
    spec = SCD2Spec(
        key_cols=("user_id",),
        event_ts_col="ts",
        tracked_cols=("event_type", "value"),
        tiebreak_cols=("event_id",),
    )
    b1 = G.synthetic_events(spark, n_rows, n_keys=n_keys, seed=1)
    b2 = G.evolve_batch(
        G.synthetic_events(spark, n_rows, n_keys=n_keys, seed=1),
        pct_new=pct_new,
        seed=2,
        n_keys=n_keys,
        ts_shift_seconds=31 * 86400,
    )
    t0 = _t.time()
    run_scd2_batch(spark, spec, b1, table_path, batch_id="vol_b1")
    t1 = _t.time()
    m2 = run_scd2_batch(spark, spec, b2, table_path, batch_id="vol_b2")
    t2 = _t.time()
    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(spark, table_path)
    manifest = t.snapshot()
    return {
        "n_rows": n_rows,
        "load_s": round(t1 - t0, 2),
        "merge_s": round(t2 - t1, 2),
        "merge_rows_per_s": round(n_rows / (t2 - t1)),
        "n_closed": m2["n_closed"],
        "n_inserted": m2["n_inserted"],
        # Phase-A scoping evidence at volume (round-9 directive #6):
        # partitions rewritten must track the batch's 31-day shift
        # window, not the table's total partition count, and the
        # file count must stay ~1 file per partition per commit
        # (write-layout rebalance), not tasks × partitions.
        "n_parts_closed": m2.get("n_parts_closed"),
        "n_table_files": len(manifest["files"]),
        "n_table_partitions": len(
            {
                tuple(sorted((f.get("partition") or {}).items()))
                for f in manifest["files"]
            }
        ),
    }
