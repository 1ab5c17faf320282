"""Incremental LSH dedup: batch-vs-stored-index must equal the full
self-join restricted to new-involving pairs, and appending the batch's
buckets must leave the index identical to a from-scratch build — the
property that makes multi-batch ingest exact, not approximate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators import dedup
from delta_lake_pyspark_scd2_spark.sources.tables import load_table
from delta_lake_pyspark_scd2_spark.sources.vtable import VersionedParquetTable


def _buckets(d):
    return dedup.lsh_band_buckets(
        dedup.minhash_signatures(d, num_hashes=16, shingle_n=3),
        bands=4,
        rows_per_band=4,
    )


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_incremental_equals_full_restricted(docs):
    old = docs.filter(F.col("doc_id") % 5 < 3)
    new = docs.filter(F.col("doc_id") % 5 >= 3)
    got = _pairs(dedup.lsh_incremental_pairs(_buckets(old), _buckets(new)))
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = _pairs(
        dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, num_hashes=16, shingle_n=3),
            bands=4,
            rows_per_band=4,
        )
    )
    want = {(a, b) for a, b in full if a in new_ids or b in new_ids}
    assert got == want


def test_index_append_then_next_batch(spark, docs, tmp_path):
    """Three-batch ingest through a persisted index == from-scratch."""
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    index = VersionedParquetTable.create(
        spark, _buckets(batches[0]), str(tmp_path / "lsh_index")
    )
    got = set()
    for batch in batches[1:]:
        bb = _buckets(batch)
        got |= _pairs(dedup.lsh_incremental_pairs(index.read(), bb))
        index.append(bb)
    # stored index now equals a from-scratch bucket build of the corpus
    stored = {
        (r["doc_id"], r["band"], r["bucket"])
        for r in index.read().collect()
    }
    scratch = {
        (r["doc_id"], r["band"], r["bucket"])
        for r in _buckets(docs).collect()
    }
    assert stored == scratch
    # pair union over batches == full self-join minus batch-0-internal
    full = _pairs(
        dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, num_hashes=16, shingle_n=3),
            bands=4,
            rows_per_band=4,
        )
    )
    b0 = {r["doc_id"] for r in batches[0].select("doc_id").collect()}
    want = {(a, b) for a, b in full if not (a in b0 and b in b0)}
    assert got == want


def test_incremental_semantic_probes_only_batch_clusters(spark, tmp_path):
    """semantic_dedup_incremental reads ONLY the batch's clusters'
    partitions from the stored index (manifest-level pruning), and its
    pair set equals the full within-cluster pair set restricted to
    pairs involving a batch id."""
    from pyspark.sql import functions as F

    from delta_lake_pyspark_scd2_spark.operators import dedup
    from delta_lake_pyspark_scd2_spark.operators.clustering import kmeans_fit
    from delta_lake_pyspark_scd2_spark.operators.similarity import (
        assign_to_centroids,
    )
    from delta_lake_pyspark_scd2_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    stored_df = emb.filter(F.col("vec_id") >= 10)
    batch = emb.filter(F.col("vec_id") < 3)  # tiny batch, few clusters
    cents = kmeans_fit(stored_df, k=8, iters=1, dim=64)
    index = dedup.build_semantic_index(
        stored_df, cents, str(tmp_path / "sem")
    )
    batch_clusters = {
        r["centroid_id"]
        for r in assign_to_centroids(batch, cents)
        .select("centroid_id")
        .distinct()
        .collect()
    }
    # manifest pruning: the probed read lists only those partitions
    m = index.snapshot(index.latest_version())
    all_parts = {f["partition"]["cluster_id"] for f in m["files"]}
    assert len(batch_clusters) < len(all_parts)
    probed = index.read_partitions(
        [{"cluster_id": str(c)} for c in sorted(batch_clusters)]
    )
    got_parts = {
        r["cluster_id"]
        for r in probed.select("cluster_id").distinct().collect()
    }
    assert got_parts <= {int(p) for p in all_parts}
    assert got_parts == {
        int(c) for c in batch_clusters if str(c) in all_parts
    }

    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.semantic_dedup_incremental(
            index, batch, cents, threshold=-1.0
        ).collect()
    }
    # brute-force twin: all within-cluster pairs involving a batch id
    assign_all = assign_to_centroids(
        stored_df.unionByName(batch), cents
    ).select("vec_id", "centroid_id")
    rows = {r["vec_id"]: r["centroid_id"] for r in assign_all.collect()}
    bids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    want = {
        (a, b)
        for a in rows
        for b in rows
        if a < b and rows[a] == rows[b] and (a in bids or b in bids)
    }
    assert got == want and got
