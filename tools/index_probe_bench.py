"""Probe-economics bench for the persistent IVF-PQ index (round-6
VERDICT directive #5, carried to round 8): what does a probed search
actually SAVE over a full-scan ADC on the same stored codes?

Both arms run the identical code path (`ivfpq_search_index`) against
the same adopted-config table (kmeans-32 coarse, PQ-32x256 codes,
partitioned by centroid_id) — the probe arm at the adopted nprobe=12,
the full-scan arm at nprobe=n_centroids (probes everything, i.e. the
ADC brute-force baseline with the same LUT machinery). Reported per
arm: wall time (min of ``REPS`` warm runs) AND the files/partitions
actually listed from the vtable manifest — the number a 1000-executor
cluster cares about, since manifest-level pruning is what keeps a
probe from even LISTING the other buckets' files.

Batch size matters: one query probes 12/32 partitions; a 50-query
batch's probe UNION can cover the whole table (the buckets are
near-uniform on this synthetic corpus), collapsing the file savings —
so both batch sizes are measured and reported. At 100 TB the
interesting regime is small concurrent batches against thousands of
buckets, where per-query unions stay tiny.

Usage: python tools/index_probe_bench.py [sf_dir]
       (default /root/testdata/sf0.1; one JSON line per measurement)
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

REPS = 3


def _probed_partitions(q_rows, cent_rows, nprobe) -> set:
    from delta_lake_pyspark_scd2_spark.operators.similarity import (
        _probe_from_rows,
    )

    out = set()
    for _, qv in q_rows:
        out.update(_probe_from_rows(qv, cent_rows, nprobe))
    return out


def main() -> int:
    from pyspark.sql import functions as F

    from delta_lake_pyspark_scd2_spark.operators import similarity as S
    from delta_lake_pyspark_scd2_spark.operators.clustering import kmeans_fit
    from delta_lake_pyspark_scd2_spark.session import get_spark
    from delta_lake_pyspark_scd2_spark.sources.tables import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("index_probe_bench")
    emb = load_table(spark, sf_dir, "embeddings")
    n_cents = S.ADOPTED_IVFPQ["n_centroids"]
    nprobe = S.ADOPTED_IVFPQ["nprobe"]
    cents = kmeans_fit(emb, k=n_cents, iters=4, dim=64)
    books = S.pq_train(
        emb,
        m_subspaces=S.ADOPTED_PQ["m_subspaces"],
        k_codes=S.ADOPTED_PQ["k_codes"],
        sample=2048,
        iters=8,
    )
    with tempfile.TemporaryDirectory() as tmp:
        index = S.build_ivfpq_index(emb, cents, books, tmp + "/ivfpq")
        manifest = index.snapshot()
        all_files = manifest["files"]
        files_by_part = {}
        for f in all_files:
            files_by_part.setdefault(
                f["partition"]["centroid_id"], []
            ).append(f)
        print(
            json.dumps(
                {
                    "index": "ivfpq_adopted",
                    "partitions": len(files_by_part),
                    "files_total": len(all_files),
                    "rows": emb.count(),
                }
            )
        )

        mx = emb.agg(F.max("vec_id")).collect()[0][0]
        cent_rows = [
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in cents.collect()
        ]
        for batch in (1, 50):
            qs = emb.filter(F.col("vec_id") > mx - batch)
            q_rows = [
                (int(r["vec_id"]), [float(x) for x in r["embedding"]])
                for r in qs.select("vec_id", "embedding").collect()
            ]
            for label, np_ in (("probe", nprobe), ("full_scan", n_cents)):
                probed = _probed_partitions(q_rows, cent_rows, np_)
                files = sum(
                    len(files_by_part.get(str(c), [])) for c in probed
                )
                times = []
                for _ in range(REPS + 1):  # first run warms codegen
                    t0 = time.time()
                    S.ivfpq_search_index(
                        index, cents, qs, k=10, nprobe=np_
                    ).collect()
                    times.append(time.time() - t0)
                print(
                    json.dumps(
                        {
                            "arm": label,
                            "batch": batch,
                            "nprobe": np_,
                            "partitions_read": len(probed),
                            "files_read": files,
                            "sec": round(min(times[1:]), 3),
                        }
                    )
                )
    return 0


if __name__ == "__main__":
    sys.exit(main())
