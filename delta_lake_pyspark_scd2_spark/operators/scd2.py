"""SCD2 (Slowly Changing Dimension type 2) operators.

Re-derives the semantics of the reference's header/items ETLs
(``/root/reference/src/header_etl.py:106-280``,
``src/items_etl.py:93-143`` — cited per SURVEY.md §2.11) as pure,
parameterized DataFrame transforms:

  * :func:`intervalize` — intra-batch version chaining (reference W1:
    ``lead(event_time) OVER (PARTITION BY key ORDER BY event_time)``,
    ``src/header_etl.py:106-116``).
  * :func:`latest_per_key` — latest-wins dedup (reference W2,
    ``src/utils/validations_utils.py:75-78``).
  * :func:`detect_changes` — null-safe change detection between a
    staged batch and the current open versions (reference J1+P6+A1,
    ``src/header_etl.py:183-200``). Null-safe (``<=>``) comparison is
    the default here — the reference's items job used ``<>`` and its
    ``notes.md:3-20`` records that as a bug.
  * :func:`asof_join` — point-in-time enrichment. The reference only
    has as-of semantics implicitly (interval predicates,
    ``test/items_etl_test.py:135-139``); we provide it as a first-class
    scalable operator (single shuffle union+window, no join explosion).
  * :func:`check_invariants` — the reference's notes-only invariants
    (``notes.md:132-134``): no overlapping intervals per key, exactly
    one current row per active key.

Scale notes: every operator here is one hash-shuffle on the SCD2 key
(window or groupBy); none collects to the driver; none uses Python UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Open-interval sentinel (reference ``MAX_TS``, ``src/header_etl.py:23``).
MAX_TS = "9999-12-31 00:00:00"


def _keys(key_cols: Sequence[str] | str) -> list[str]:
    return [key_cols] if isinstance(key_cols, str) else list(key_cols)


def intervalize(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    ts_col: str,
    *,
    tiebreak_cols: Sequence[str] = (),
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
    max_ts: str = MAX_TS,
) -> DataFrame:
    """Chain events of one key into contiguous SCD2 version intervals.

    Row *i* gets ``valid_from = ts_i`` and ``valid_to = ts_{i+1}``; the
    last row gets the open sentinel and ``is_current = true``.
    Intervals are contiguous and non-overlapping by construction
    (asserted by the reference at ``test/run_all_test.py:98``).

    ``tiebreak_cols`` make ordering total when ``ts_col`` can tie
    (required for deterministic results — the reference orders by the
    timestamp alone and is nondeterministic under ties).
    """
    keys = _keys(key_cols)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(ts_col).over(w)
    return (
        df.withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, F.coalesce(nxt, F.lit(max_ts).cast("timestamp")))
        .withColumn(is_current, nxt.isNull())
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    ts_col: str,
    *,
    tiebreak_cols: Sequence[str] = (),
    keep_rank_col: str | None = None,
) -> DataFrame:
    """Latest-wins dedup: keep the newest row per key.

    Ordering is ``ts DESC NULLS LAST`` then ``tiebreak_cols DESC`` so the
    result is total and deterministic (reference W2 uses
    ``desc_nulls_last`` on the timestamp only).
    """
    keys = _keys(key_cols)
    order = [F.col(ts_col).desc_nulls_last()] + [
        F.col(c).desc_nulls_last() for c in tiebreak_cols
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    rn = F.row_number().over(w)
    if keep_rank_col:
        return df.withColumn(keep_rank_col, rn)
    return df.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


def null_safe_neq(left: Column, right: Column) -> Column:
    """``NOT (l <=> r)`` — treats NULL==NULL as *equal* (no change)."""
    return ~left.eqNullSafe(right)


def any_tracked_change(
    staged_prefix: str, existing_prefix: str, tracked_cols: Sequence[str]
) -> Column:
    """OR of null-safe inequality across the tracked columns
    (reference ``src/header_etl.py:189-194``)."""
    cond = F.lit(False)
    for c in tracked_cols:
        cond = cond | null_safe_neq(
            F.col(f"{staged_prefix}.{c}"), F.col(f"{existing_prefix}.{c}")
        )
    return cond


def detect_changes(
    existing_current: DataFrame,
    staged: DataFrame,
    key_cols: Sequence[str] | str,
    tracked_cols: Sequence[str],
    ts_col: str,
    *,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Keys whose staged batch differs (null-safely) from the current
    open version, with the timestamp of the *first* changing event.

    Returns one row per changed key: ``key_cols + [first_change_ts]``
    (+ ``carry_cols`` copied from the existing current row — there is
    exactly one per key, so ``min`` in the same aggregate is exact and
    free). This is the reference's Phase-A input (J1 inner join on the
    key, P6 null-safe filter, A1 ``min(valid_from_ts)`` — all at
    ``src/header_etl.py:183-200``), with the same guard applied later by
    the merge: close only when ``first_change_ts > existing.valid_from``.

    Scale: inner join shuffles on the key (or broadcasts the staged side
    when small — Catalyst/AQE decides); the groupBy reuses the same key
    so AQE can avoid a second full exchange. Carrying the current row's
    ``valid_from`` here is what lets the merge derive its touched
    partitions arithmetically instead of re-joining the table.
    """
    keys = _keys(key_cols)
    st = staged.alias("st")
    ex = existing_current.alias("ex")
    changed = (
        st.join(ex, on=keys, how="inner")
        .filter(any_tracked_change("st", "ex", tracked_cols))
        .select(
            *keys,
            F.col(f"st.{ts_col}").alias(ts_col),
            *[F.col(f"ex.{c}").alias(c) for c in carry_cols],
        )
    )
    return changed.groupBy(*keys).agg(
        F.min(ts_col).alias("first_change_ts"),
        *[F.min(c).alias(c) for c in carry_cols],
    )


def collapse_unchanged(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    ts_col: str,
    tracked_cols: Sequence[str],
    *,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Drop events whose tracked values null-safely equal the previous
    event of the same key (change-only filter). The first event of a
    key is always kept. One window shuffle on the key.

    This is the batch analogue of the merge rule "value-identical
    events create no version" and the building block of history
    rebuilds under late-arriving data (notes.md:100-105).
    """
    keys = _keys(key_cols)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    changed = F.lit(False)
    for c in tracked_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    keep = (F.row_number().over(w) == 1) | changed
    return df.withColumn("__keep", keep).filter(F.col("__keep")).drop("__keep")


def merge_late_events(
    history: DataFrame,
    late: DataFrame,
    key_cols: Sequence[str] | str,
    ts_col: str,
    tracked_cols: Sequence[str],
    *,
    tiebreak_cols: Sequence[str] = (),
    max_ts: str = MAX_TS,
) -> DataFrame:
    """Rebuild SCD2 histories with late-arriving events merged in —
    the interval *splitting* the reference planned but never built
    (notes.md:100-105).

    ``history``: existing version rows of the affected keys (must still
    carry the original event columns — our pipeline's versions do).
    ``late``: event rows (original batch schema) with timestamps at or
    before each key's current ``valid_from``.

    Semantics: the rebuilt history is exactly what a from-scratch run
    over (history's events ∪ late events) would produce — (key, ts)
    collisions resolve in favor of the existing version (idempotent
    re-runs are no-ops), value-identical neighbors collapse, intervals
    re-chain contiguously. Cost ∝ affected keys' history, not table
    size: callers pre-filter ``history`` to the late keys.
    """
    keys = _keys(key_cols)
    event_cols = list(late.columns)
    hist_events = history.select(*event_cols).withColumn("__prio", F.lit(0))
    late_events = late.withColumn("__prio", F.lit(1))
    merged = hist_events.unionByName(late_events)
    # (key, ts) dedup: existing version first, then latest-wins among lates
    order = [F.col("__prio").asc()] + [F.col(c).desc_nulls_last() for c in tiebreak_cols]
    w = Window.partitionBy(*keys, ts_col).orderBy(*order)
    deduped = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )
    events = collapse_unchanged(
        deduped, keys, ts_col, tracked_cols, tiebreak_cols=tiebreak_cols
    )
    return intervalize(
        events, keys, ts_col, tiebreak_cols=tiebreak_cols, max_ts=max_ts
    )


def asof_join(
    probes: DataFrame,
    events: DataFrame,
    key_cols: Sequence[str] | str,
    probe_ts: str,
    event_ts: str,
    value_cols: Sequence[str],
    *,
    strict: bool = False,
    event_tiebreak_cols: Sequence[str] = (),
    direction: str = "backward",
    skew_policy: str = "off",
    skew_hot_rows: int = 100_000,
    skew_ratio: float = 32.0,
    skew_max_events_per_key: int = 100_000,
) -> DataFrame:
    """As-of join: for each probe row, the latest event with
    ``event_ts <= probe_ts`` (``<`` when ``strict``) for the same key —
    or, with ``direction="forward"``, the earliest event with
    ``event_ts >= probe_ts`` (``>`` when ``strict``), pandas
    ``merge_asof`` direction semantics.

    Implementation is the scalable union+window form: tag both inputs,
    union them, and carry the adjacent event value across with
    ``last(..., ignorenulls=True)`` over ``(key) ORDER BY (ts, side)``
    (``first`` over the following frame for forward). One shuffle on
    the key; no range-join explosion; skew handled by AQE. (Spark has
    no native as-of join; ``pd.merge_asof`` via ``applyInPandas``
    would serialize every group through Python.)

    Tiebreak among equal-ts events: backward keeps the greatest
    ``event_tiebreak_cols`` value (latest wins), forward the smallest
    (earliest wins) — the natural "closest in its direction" reading.

    ``skew_policy`` (round-9 directive #4, opt-in, default ``"off"``):
    the window form's one weakness is a hot PROBE key — the whole
    (key) window partition lands in one task, and AQE cannot split a
    window partition the way it splits a join. With the pre-flight on
    (``operators/skew.decide_hot_keys`` over the probe side), hot
    keys' probes stay fully distributed: their events collapse to ONE
    per-key timestamp-sorted array (bounded by
    ``skew_max_events_per_key``, fail-loud above it), broadcast to
    every probe task, and each probe picks its adjacent event with
    array ``filter``+``get`` — map-side, no window, row-identical to
    the window form (pytest-pinned). Cold keys keep the plain path.
    The shape this serves is the classic one: millions of probes
    against a dimension whose per-key history is modest.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = _keys(key_cols)
    if skew_policy != "off":
        from delta_lake_pyspark_scd2_spark.operators.skew import (
            decide_hot_keys,
        )

        hot_df, _, n_hot = decide_hot_keys(
            probes,
            keys,
            policy=skew_policy,
            hot_rows=skew_hot_rows,
            ratio=skew_ratio,
            track=True,
        )
        if hot_df is not None:
            cold = asof_join(
                probes.join(F.broadcast(hot_df), keys, "left_anti"),
                events.join(F.broadcast(hot_df), keys, "left_anti"),
                keys,
                probe_ts,
                event_ts,
                value_cols,
                strict=strict,
                event_tiebreak_cols=event_tiebreak_cols,
                direction=direction,
            )
            hot = _asof_join_broadcast_arrays(
                probes.join(F.broadcast(hot_df), keys, "left_semi"),
                events.join(F.broadcast(hot_df), keys, "left_semi"),
                keys,
                probe_ts,
                event_ts,
                value_cols,
                strict=strict,
                event_tiebreak_cols=event_tiebreak_cols,
                direction=direction,
                max_events_per_key=skew_max_events_per_key,
            )
            return cold.unionByName(hot)
    # Window-order sides. Backward scans the preceding frame: events
    # sort before probes at equal ts => inclusive (<=); strict flips.
    # Forward scans the following frame: probes sort before events at
    # equal ts => inclusive (>=); strict flips.
    if direction == "backward":
        ev_side, pr_side = (1, 0) if strict else (0, 1)
    else:
        ev_side, pr_side = (0, 1) if strict else (1, 0)
    # Tiebreak columns ride the union as standalone columns (value
    # columns travel inside __state, so even a tiebreak that is also a
    # value column needs its own copy for the window ordering).
    extra_tb = [c for c in event_tiebreak_cols if c not in keys]
    # ALL value columns travel as ONE struct, so every output column
    # comes from the SAME adjacent event (merge_asof semantics). A
    # per-column carry would skip an event's NULL field and tear values
    # from different events.
    ev = events.select(
        *keys,
        F.col(event_ts).alias("__ts"),
        F.lit(ev_side).alias("__side"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__state"),
        *[F.col(c) for c in extra_tb],
    )
    pr_cols = [c for c in probes.columns]
    pr = probes.select(
        *[F.col(c) for c in pr_cols],
        F.col(probe_ts).alias("__ts"),
        F.lit(pr_side).alias("__side"),
        F.lit(None).cast(ev.schema["__state"].dataType).alias("__state"),
        *[F.lit(None).cast(ev.schema[c].dataType).alias(c) for c in extra_tb],
    )
    ev2 = ev.withColumn("__is_probe", F.lit(False))
    pr2 = pr.withColumn("__is_probe", F.lit(True))
    merged = ev2.unionByName(pr2, allowMissingColumns=True)
    # Tiebreak among equal-ts events: backward takes the *last* row in
    # window order (ascending tiebreaks => max wins); forward takes the
    # *first* row of the following frame (ascending => min wins).
    order = [F.col("__ts").asc(), F.col("__side").asc()] + [
        F.col(c).asc_nulls_first() for c in event_tiebreak_cols
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    if direction == "backward":
        w = w.rowsBetween(Window.unboundedPreceding, 0)
        picked = F.last("__state", ignorenulls=True).over(w)
    else:
        w = w.rowsBetween(0, Window.unboundedFollowing)
        picked = F.first("__state", ignorenulls=True).over(w)
    merged = merged.withColumn("__state", picked)
    out_cols = [F.col(c) for c in pr_cols] + [
        F.col(f"__state.{c}").alias(c) for c in value_cols
    ]
    return merged.filter(F.col("__is_probe")).select(*out_cols)


def _asof_join_broadcast_arrays(
    probes: DataFrame,
    events: DataFrame,
    keys: Sequence[str],
    probe_ts: str,
    event_ts: str,
    value_cols: Sequence[str],
    *,
    strict: bool,
    event_tiebreak_cols: Sequence[str],
    direction: str,
    max_events_per_key: int,
) -> DataFrame:
    """Hot-key arm of :func:`asof_join`'s skew split: per-key events
    collapse to ONE timestamp-sorted array of ``(ts, tiebreaks,
    state)`` structs, broadcast to the probe side, and every probe
    picks its adjacent event with ``filter`` + ``get`` — pure column
    expressions, so a hot key's probes process map-side across all
    tasks instead of collapsing into one window partition.

    Equivalence to the window form: the array is ``array_sort``-ed
    ascending on ``(__ts, tiebreaks)`` — the window's event order —
    so "last candidate at-or-before" == backward's
    ``last(ignorenulls)`` carry and "first candidate at-or-after" ==
    forward's ``first``. Bounds are enforced IN the plan, fail-loud:
    a hot key with more than ``max_events_per_key`` events, or a null
    probe/event timestamp on the hot path (whose window-order
    placement the array filter cannot mirror), raises at execution.
    """
    tb = list(event_tiebreak_cols)
    ev_ts = F.col(event_ts)
    guarded_ev_ts = F.when(
        ev_ts.isNull(),
        F.raise_error(
            F.lit(
                "asof_join skew path requires non-null event timestamps "
                "on hot keys"
            )
        ),
    ).otherwise(ev_ts)
    e_struct = F.struct(
        guarded_ev_ts.alias("__ts"),
        *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tb)],
        F.struct(*[F.col(c) for c in value_cols]).alias("__state"),
    )
    ev_arr = (
        events.select(*keys, e_struct.alias("__e"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("__e")).alias("__evs"))
        .select(
            *keys,
            F.when(
                F.size("__evs") > max_events_per_key,
                F.raise_error(
                    F.lit(
                        "asof_join hot key exceeds "
                        f"skew_max_events_per_key={max_events_per_key} "
                        "events; raise the cap or pre-collapse the "
                        "event history"
                    )
                ),
            )
            .otherwise(F.col("__evs"))
            .alias("__evs"),
        )
    )
    pr_cols = list(probes.columns)
    raw_pts = F.col(probe_ts)
    # null guard evaluated ONCE per probe row as its own column — a
    # raise_error branch inside the filter lambda would re-evaluate
    # per array element and blocks codegen in the hot loop
    guarded_pts = F.when(
        raw_pts.isNull(),
        F.raise_error(
            F.lit(
                "asof_join skew path requires non-null probe timestamps "
                "on hot keys"
            )
        ),
    ).otherwise(raw_pts)
    pts = F.col("__pts")
    if direction == "backward":
        cond = (
            (lambda e: e["__ts"] < pts) if strict else (lambda e: e["__ts"] <= pts)
        )
    else:
        cond = (
            (lambda e: e["__ts"] > pts) if strict else (lambda e: e["__ts"] >= pts)
        )
    joined = probes.withColumn("__pts", guarded_pts).join(
        F.broadcast(ev_arr), list(keys), "left"
    )
    cand = F.filter(F.col("__evs"), cond)
    picked = (
        F.get(cand, F.size(cand) - 1)
        if direction == "backward"
        else F.get(cand, F.lit(0))
    )
    return joined.withColumn("__pick", picked).select(
        *[F.col(c) for c in pr_cols],
        *[F.col("__pick.__state").getField(c).alias(c) for c in value_cols],
    )


def check_invariants(
    versions: DataFrame,
    key_cols: Sequence[str] | str,
    *,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Return violation rows (empty == healthy table).

    Checks the reference's notes-only invariants (``notes.md:132-134``):
      * ``overlap``: interval [from, to) overlaps the next version's.
      * ``multi_current``: more than one ``is_current`` row per key.
      * ``no_current``: no ``is_current`` row for a key (tombstones are
        current rows, so a deleted key still has one) — the trace of a
        close committed without its insert.
      * ``bad_interval``: ``valid_to < valid_from`` (zero-length
        intervals are allowed: equal-timestamp events chained by a
        tiebreak produce degenerate-but-ordered versions; the reference
        avoids them only because it dedups on (key, event_time) first).
    """
    keys = _keys(key_cols)
    w = Window.partitionBy(*keys).orderBy(F.col(valid_from).asc())
    nxt_from = F.lead(valid_from).over(w)
    cur_count = F.sum(F.col(is_current).cast("int")).over(Window.partitionBy(*keys))
    annotated = versions.withColumn("__nxt_from", nxt_from).withColumn(
        "__cur_cnt", cur_count
    )
    overlap = annotated.filter(
        F.col("__nxt_from").isNotNull() & (F.col(valid_to) > F.col("__nxt_from"))
    ).withColumn("violation", F.lit("overlap"))
    multi = annotated.filter(F.col("__cur_cnt") > 1).withColumn(
        "violation", F.lit("multi_current")
    )
    none = annotated.filter(F.col("__cur_cnt") == 0).withColumn(
        "violation", F.lit("no_current")
    )
    bad = annotated.filter(F.col(valid_to) < F.col(valid_from)).withColumn(
        "violation", F.lit("bad_interval")
    )
    return (
        overlap.unionByName(multi)
        .unionByName(none)
        .unionByName(bad)
        .drop("__nxt_from", "__cur_cnt")
    )


def align_intervals(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str] | str,
    *,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "inner",
    seg_from: str = "seg_from",
    seg_to: str = "seg_to",
) -> DataFrame:
    """Temporal (interval-overlap) join of two SCD2 version sets.

    For each key, splits time at every version boundary of EITHER side
    and emits one row per elementary segment with the attributes of the
    version covering it on each side — the temporal-table join the
    reference approximates with ad-hoc interval predicates
    (``test/items_etl_test.py:135-141``), as a first-class operator.
    ``how``: ``inner`` keeps segments covered on both sides, ``left``
    segments covered on the left, ``full`` segments covered on either.

    Implementation is a JOIN-FREE sweep line: each version contributes
    an open row at ``valid_from`` and a close row at ``valid_to``; the
    union is windowed per key with ``last(state, ignorenulls)`` to
    carry each side's active version, and consecutive boundaries form
    the output segments. One hash shuffle on the key, no range-join
    explosion — cost O((|L|+|R|) log) per key regardless of how
    versions interleave, where the equi-join + overlap-residual plan
    (the oracle formulation) evaluates O(|L|·|R|) candidate pairs per
    key. Measured crossover on local[32]: the codegen'd join's
    constant factor wins up to ~10^4 versions/key (0.5 s vs 1.1 s at
    33/key, sf0.1); the sweep wins past ~5·10^4 (4.0 s vs 6.8 s at
    5·10^4/key) and diverges quadratically-vs-linearly beyond — and a
    single hot key degrades the join to one task's cross product,
    while the sweep's per-key cost stays linear. BENCH_NOTES.md
    "temporal align" has the run table.

    Inputs must hold non-overlapping ``[valid_from, valid_to)``
    intervals per key on each side (the SCD2 invariant —
    :func:`check_invariants`); empty intervals are ignored.
    """
    if how not in ("inner", "left", "full"):
        raise ValueError(f"how must be inner|left|full, got {how!r}")
    keys = _keys(key_cols)

    def _boundaries(df: DataFrame, cols: Sequence[str], tag: int) -> DataFrame:
        payload = F.struct(
            F.lit(True).alias("__on"), *[F.col(c) for c in cols]
        )
        base = df.filter(F.col(valid_from) < F.col(valid_to))
        opens = base.select(
            *keys,
            F.col(valid_from).alias("__t"),
            F.lit(1).alias("__ord"),
            F.lit(tag).alias("__tag"),
            payload.alias("__state"),
        )
        closes = base.select(
            *keys,
            F.col(valid_to).alias("__t"),
            F.lit(0).alias("__ord"),
            F.lit(tag).alias("__tag"),
            F.struct(
                F.lit(False).alias("__on"),
                *[F.lit(None).cast(df.schema[c].dataType).alias(c) for c in cols],
            ).alias("__state"),
        )
        return opens.unionByName(closes)

    lb = _boundaries(left, left_cols, 0).withColumnRenamed("__state", "__l")
    rb = _boundaries(right, right_cols, 1).withColumnRenamed("__state", "__r")
    merged = lb.withColumn(
        "__r", F.lit(None).cast(rb.schema["__r"].dataType)
    ).unionByName(rb.withColumn("__l", F.lit(None).cast(lb.schema["__l"].dataType)))

    # Cumulative state per key: closes (__ord 0) apply before opens at
    # the same instant, so contiguous chains hand over atomically.
    order = [F.col("__t").asc(), F.col("__ord").asc(), F.col("__tag").asc()]
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    state = merged.select(
        *keys,
        "__t",
        "__ord",
        "__tag",
        F.last("__l", ignorenulls=True).over(w_cum).alias("__lcur"),
        F.last("__r", ignorenulls=True).over(w_cum).alias("__rcur"),
    )
    # Collapse simultaneous boundaries: the window-order-last row at
    # each instant carries the settled state.
    w_t = Window.partitionBy(*keys, "__t").orderBy(
        F.col("__ord").desc(), F.col("__tag").desc()
    )
    settled = (
        state.withColumn("__rn", F.row_number().over(w_t))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ord", "__tag")
    )
    w_seg = Window.partitionBy(*keys).orderBy(F.col("__t").asc())
    seg = settled.withColumn("__next_t", F.lead("__t").over(w_seg))
    l_on = F.coalesce(F.col("__lcur.__on"), F.lit(False))
    r_on = F.coalesce(F.col("__rcur.__on"), F.lit(False))
    keep = {"inner": l_on & r_on, "left": l_on, "full": l_on | r_on}[how]
    return (
        seg.filter(F.col("__next_t").isNotNull() & keep)
        .select(
            *keys,
            F.col("__t").alias(seg_from),
            F.col("__next_t").alias(seg_to),
            *[F.col(f"__lcur.{c}").alias(c) for c in left_cols],
            *[F.col(f"__rcur.{c}").alias(c) for c in right_cols],
        )
    )


def repair_intervals(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    tiebreak_cols: Sequence[str] = (),
    is_current: str = "is_current",
    sentinel: Column | None = None,
) -> DataFrame:
    """Heal a corrupted SCD2 dimension: re-chain each key's intervals
    so they are contiguous, non-overlapping, and single-open — the
    repair half of :func:`check_invariants` (which only detects).
    Upstream merges that bypassed the pipeline, replayed batches, or
    hand edits leave three defect classes: an interval's ``valid_to``
    overshoots the next version's start (overlap — point-in-time reads
    return TWO rows), undershoots it (gap — reads return none), or a
    non-last row sits open. All three have the same deterministic fix:
    ``valid_to`` := the next version's ``valid_from`` (per key, ordered
    by ``from_col`` then ``tiebreak_cols``), the last row gets the open
    sentinel, and ``is_current`` is recomputed. The original
    ``valid_from`` order is treated as the truth of record succession;
    rows are never dropped or reordered.

    Emits ``was_overlap`` / ``was_gap`` audit flags (old ``valid_to``
    vs the healed one, false on the last row) so the repair doubles as
    the defect report.

    Scale: one window per key partition — partitioned by the dimension
    key like every SCD2 chain op here, never a global sort.
    """
    keys = _keys(key_cols)
    order = [F.col(from_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(from_col).over(w)
    if sentinel is None:
        sentinel = F.lit(MAX_TS).cast("timestamp")
    healed = F.coalesce(nxt, sentinel)
    return (
        df.withColumn("__healed", healed)
        .withColumn(
            "was_overlap",
            nxt.isNotNull() & (F.col(to_col) > F.col("__healed")),
        )
        .withColumn(
            "was_gap",
            nxt.isNotNull() & (F.col(to_col) < F.col("__healed")),
        )
        .withColumn(is_current, nxt.isNull())
        .withColumn(to_col, F.col("__healed"))
        .drop("__healed")
    )
