"""DELETE FROM, MERGE-with-deletes, and CDF-driven incremental
aggregate maintenance.

The headline property: after ANY sequence of upsert/delete batches on
a base table, folding each batch's change feed into an aggregate table
leaves it bit-identical to recomputing the aggregate from scratch —
the self-maintainable-view algebra, machine-checked.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators.incremental import (
    aggregate_of,
    incremental_agg_refresh,
)
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("v")
    ).repartitionByRange(8, "id")
    t = VersionedParquetTable.create(spark, df, path)
    before = {f["path"] for f in t.snapshot(0)["files"]}
    out = t.delete([("id", ">=", 875)])
    assert out == {"n_deleted": 125, "n_files_rewritten": 1}
    after = {f["path"] for f in t.snapshot(1)["files"]}
    # 7 of 8 range files carried by reference, 1 rewritten
    assert len(before & after) == 7
    assert t.read().count() == 875
    assert t.read(0).count() == 1000  # time travel unaffected

    # deleting an entire file's rows drops the file, writes nothing
    out = t.delete([("id", "<", 125)])
    assert out["n_deleted"] == 125
    assert t.read().count() == 750
    assert {r.id for r in t.read_where([("id", "<", 130)]).collect()} == {
        125, 126, 127, 128, 129,
    }


def test_delete_null_predicate_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, None), (2, 5), (3, 9)], "id int, v int"
    )
    t = VersionedParquetTable.create(spark, df, path)
    t.delete([("v", "<", 7)])  # NULL predicate -> row kept, like SQL
    assert {r.id for r in t.read().collect()} == {1, 3}


def test_upsert_with_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(9)], "k int, p int, v int"
    )
    t = VersionedParquetTable.create(spark, df, path, partition_cols=["p"])
    ups = spark.createDataFrame([(4, 1, 999), (90, 0, 900)], "k int, p int, v int")
    dels = spark.createDataFrame([(2,), (5,)], "k int")
    out = t.upsert(ups, ["k"], deletes=dels.select(F.col("k")))
    assert out == {"n_updated": 1, "n_inserted": 1, "n_deleted": 2}
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {0: 0, 1: 10, 3: 30, 4: 999, 6: 60, 7: 70, 8: 80, 90: 900}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.tuples(
            # upserts: key -> (group, value)
            st.dictionaries(
                st.integers(min_value=0, max_value=12),
                st.tuples(
                    st.integers(min_value=0, max_value=3),
                    st.integers(min_value=-50, max_value=50),
                ),
                max_size=5,
            ),
            # delete keys
            st.lists(st.integers(min_value=0, max_value=12), max_size=3),
        ),
        min_size=1,
        max_size=3,
    )
)
def test_any_change_sequence_keeps_aggregate_exact(spark, tmp_path_factory, batches):
    base_path = str(tmp_path_factory.mktemp("ivm") / "base")
    agg_path = str(tmp_path_factory.mktemp("ivm") / "agg")
    seed = spark.createDataFrame(
        [(k, k % 4, k) for k in range(8)], "k int, g int, val long"
    )
    base = VersionedParquetTable.create(spark, seed, base_path)
    agg = VersionedParquetTable.create(
        spark, aggregate_of(seed, ["g"], ["val"], "n"), agg_path
    )
    since = 0
    for ups, dels in batches:
        upd = spark.createDataFrame(
            [(k, g, v) for k, (g, v) in ups.items()], "k int, g int, val long"
        ) if ups else spark.createDataFrame([], "k int, g int, val long")
        dels_df = (
            spark.createDataFrame([(k,) for k in dels], "k int")
            if dels
            else None
        )
        base.upsert(upd, ["k"], deletes=dels_df)
        out = incremental_agg_refresh(
            base, agg, ["k"], ["g"], ["val"], since, count_col="n"
        )
        since = out["refreshed_to_version"]
        truth = {
            (r.g,): (r.n, r.val)
            for r in aggregate_of(base.read(), ["g"], ["val"], "n").collect()
        }
        got = {(r.g,): (r.n, r.val) for r in agg.read().collect()}
        assert got == truth


def test_streaming_aggregate_maintenance_exactly_once(spark, tmp_path):
    """The CDC-stream MV consumer: bootstrap from the v0 snapshot,
    track an upsert+delete batch, and never double-apply a delta on
    replay (writer-txn idempotence)."""
    from delta_lake_pyspark_scd2_spark.operators.incremental import (
        apply_change_rows,
    )
    from delta_lake_pyspark_scd2_spark.streaming.stream_jobs import (
        maintain_aggregate_stream,
    )

    base_path = str(tmp_path / "base")
    agg_path = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")
    seed = spark.createDataFrame(
        [(k, k % 3, k * 10) for k in range(12)], "k int, g int, val long"
    )
    base = VersionedParquetTable.create(
        spark, seed, base_path, properties={"enableChangeDataFeed": "true"}
    )
    VersionedParquetTable.create(
        spark, aggregate_of(seed.limit(0), ["g"], ["val"], "n"), agg_path
    )

    def truth():
        return {
            r.g: (r.n, r.val)
            for r in aggregate_of(base.read(), ["g"], ["val"], "n").collect()
        }

    def got():
        agg = VersionedParquetTable(spark, agg_path)
        return {r.g: (r.n, r.val) for r in agg.read().collect()}

    run = lambda: maintain_aggregate_stream(
        spark, base_path, agg_path, ckpt,
        key_cols=["k"], group_cols=["g"], sum_cols=["val"],
    )
    run()  # bootstrap: v0 snapshot arrives as inserts
    assert got() == truth()

    # change batch: updates + deletes
    upd = spark.createDataFrame([(1, 1, 999), (12, 0, 7)], "k int, g int, val long")
    dels = spark.createDataFrame([(6,), (9,)], "k int")
    base.upsert(upd, ["k"], deletes=dels)
    run()  # incremental catch-up from the checkpoint
    assert got() == truth()

    # idle re-run: nothing double-applied
    run()
    assert got() == truth()

    # direct replay of one logical batch: second apply is skipped
    agg_t = VersionedParquetTable(spark, agg_path)
    fake = spark.createDataFrame(
        [(99, 0, 5, "insert")], "k int, g int, val long, _change_type string"
    )
    v_before = agg_t.latest_version()
    out1 = apply_change_rows(agg_t, fake, ["g"], ["val"], txn=("replay", 1))
    out2 = apply_change_rows(agg_t, fake, ["g"], ["val"], txn=("replay", 1))
    assert out2.get("skipped_txn") is True
    assert agg_t.latest_version() == v_before + 1  # one commit, not two


def test_update_where_file_granular(spark, tmp_path):
    """UPDATE ... SET ... WHERE: only files whose stats admit a match
    rewrite; SET expressions see the OLD row; CDF pairs emitted."""
    path = str(tmp_path / "t")
    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("v")
    ).repartitionByRange(8, "id")
    t = VersionedParquetTable.create(
        spark, df, path, properties={"enableChangeDataFeed": "true"}
    )
    before = {f["path"] for f in t.snapshot(0)["files"]}
    out = t.update([("id", ">=", 900)], {"v": "v + 100"})
    assert out == {"n_updated": 100, "n_files_rewritten": 1}
    after = {f["path"] for f in t.snapshot(1)["files"]}
    assert len(before & after) == 7  # 7 of 8 range files untouched
    assert t.read().count() == 1000
    got = {r.id: r.v for r in t.read_where([("id", ">=", 898)]).collect()}
    assert got[898] == 898 % 7 and got[899] == 899 % 7
    assert got[900] == 900 % 7 + 100 and got[999] == 999 % 7 + 100
    assert t.read(0).count() == 1000  # time travel unaffected

    # CDF: pre/post image pairs for exactly the updated rows
    ch = t.table_changes(["id"], 0, 1)
    kinds = {
        r["_change_type"]: c
        for r, c in (
            (row, row["cnt"])
            for row in ch.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
    }
    assert kinds == {"update_preimage": 100, "update_postimage": 100}

    # no-match predicate: clean no-op commit
    out = t.update([("id", ">=", 5000)], {"v": "0"})
    assert out == {"n_updated": 0, "n_files_rewritten": 0}


def test_update_moves_partitions_and_guards_generated(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0), (3, "2024-02-05", 30.0)],
        "id int, d string, price double",
    )
    t = VersionedParquetTable.create(
        spark, df, path,
        partition_cols=["month"],
        generated_cols={"month": "substring(d, 1, 7)"},
    )
    # moving d moves the row's partition AND re-derives the generated col
    t.update([("id", "=", 2)], {"d": "'2024-03-09'"})
    got = {r.id: (r.d, r.month) for r in t.read().collect()}
    assert got[2] == ("2024-03-09", "2024-03")
    assert got[1] == ("2024-01-01", "2024-01")

    import pytest as _pt

    with _pt.raises(ValueError, match="generated"):
        t.update([("id", "=", 1)], {"month": "'2025-01'"})
    with _pt.raises(ValueError, match="unknown"):
        t.update([("id", "=", 1)], {"nope": "1"})


def test_no_match_dml_preserves_constraints(spark, tmp_path):
    """A DELETE/UPDATE whose predicate matches no file must not drop
    the table's CHECK constraints from the manifest (regression:
    _commit defaulted missing constraints to {} instead of
    inheriting)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, price double")
    t = VersionedParquetTable.create(spark, df, path)
    t.add_constraint("pos_price", "price > 0")

    t.update([("id", "=", -1)], {"price": "0.0"})   # no file matches
    t.delete([("id", "=", -1)])                      # no file matches
    assert "pos_price" in (t.snapshot().get("constraints") or {})

    # the constraint still enforces on the next real write
    import pytest as _pt

    with _pt.raises(Exception, match="pos_price|constraint"):
        t.append(spark.createDataFrame([(3, -5.0)], "id int, price double"))
