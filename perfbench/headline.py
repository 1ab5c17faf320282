"""Workload ``llm_headline``: the ``bench=True`` registry queries over
the read-only sf0.1 tables, in registry order, less the seven in
``LEFT_OUT``.

The seven left out cost 38 s of a 63-s pass on a busy 4-core box; with
them a run took 80-85 s, and a measurement set of 4 + 22 runs per
workload overran its time limit. What stays keeps the relational,
SCD2, text, similarity and windowed plans, and the iterative operators
that ROADMAP item 3 names: ``dedup_semantic``, ``graph_label_prop`` and
``rank_bradley_terry``.

The order is fixed, not drawn from the seed: each query's first run in
a session pays its own code generation and JIT, and how much of that an
earlier query already paid depends on the order. Seeded orders spread
the median query time by 30% across seeds; a warm pass at sf0.001
removed that but cost as much as the timed pass. The inputs are the
fixed tables, so the seed changes nothing here.

Per query: build the DataFrame, collect its result to the driver as
an Arrow table (``toArrow()``, the cheapest full collect), then
``clearCache()``. Passes repeat until ``--seconds`` have gone by; one
pass takes longer than that on a 4-core box, so a run is one pass.

The first pass's results are kept and checked after the timed region
and after peak RSS is read, so neither the check nor a DuckDB oracle
computed on a cache miss counts in time or memory. A result must equal
the registry's DuckDB oracle after canonicalisation (column set, row
count, values with floats at 9 significant digits, order-insensitive);
every ``bench=True`` query has an oracle (one with ``None`` would
pass once collected).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd  # module level: the warm-up UDF's type hints resolve here

from common import Checks, geomean, median

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str).str.replace(
                ".000000", "", regex=False
            )
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.map(
                lambda v: "NaN"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else f"{0.0 if v == 0 else v:.9g}"  # -0.0 equals 0.0 in SQL
            )
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: str(v).replace(".000000", "") if v is not None else "\0NULL"
            )
        else:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _to_pandas(tbl):
    """The collected Arrow table as pandas, with what Spark's
    ``toPandas`` would give for the session's UTC time zone: naive UTC
    timestamps, kept at microseconds so 9999-12-31 fits."""
    import pyarrow as pa

    cols = [
        c.cast(pa.timestamp(c.type.unit))
        if pa.types.is_timestamp(c.type) and c.type.tz
        else c
        for c in tbl.columns
    ]
    return pa.table(cols, names=tbl.column_names).to_pandas(
        coerce_temporal_nanoseconds=False
    )


def _digest(canon: pd.DataFrame) -> str:
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()


class Oracle:
    """The registry's DuckDB oracles. An oracle's canonical result
    depends only on its SQL and the read-only tables, so its row count,
    columns and digest are kept in ``cache_file`` and reused by later
    runs in the same checkout."""

    def __init__(self, sf_dir: str, cache_file: str):
        self.sf_dir = sf_dir
        self.cache_file = cache_file
        self.con = None
        try:
            with open(cache_file) as fh:
                self.cache = json.load(fh)
        except (OSError, ValueError):
            self.cache = {}
        self._tables = [
            (t, os.stat(f"{sf_dir}/{t}.parquet").st_size,
             os.stat(f"{sf_dir}/{t}.parquet").st_mtime_ns)
            for t in TABLES
        ]

    def _expected(self, sql: str) -> dict:
        key = hashlib.sha256(
            json.dumps([sql, self.sf_dir, self._tables]).encode()
        ).hexdigest()
        if key not in self.cache:
            if self.con is None:
                import duckdb

                self.con = duckdb.connect()
                for t in TABLES:
                    self.con.sql(f"CREATE VIEW {t} AS FROM '{self.sf_dir}/{t}.parquet'")
            want = self.con.sql(sql).df()
            self.cache[key] = {
                "rows": len(want),
                "columns": sorted(want.columns),
                "digest": _digest(_canon(want)),
            }
            os.makedirs(os.path.dirname(self.cache_file), exist_ok=True)
            tmp = f"{self.cache_file}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.cache_file)
        return self.cache[key]

    def verify(self, spec, got: pd.DataFrame) -> tuple[bool, str]:
        if spec.oracle is None:
            return True, "collected, no oracle"
        want = self._expected(spec.oracle)
        if len(got) != want["rows"]:
            return False, f"rows spark={len(got)} oracle={want['rows']}"
        if sorted(got.columns) != want["columns"]:
            return False, f"columns {sorted(got.columns)} != {want['columns']}"
        if _digest(_canon(got)) != want["digest"]:
            return False, "values differ"
        return True, "values"


def sf_dirs() -> dict[str, str]:
    """The sf0.1 tables the package reads by default, and their sf0.001
    sibling for the smoke run."""
    from delta_lake_pyspark_scd2_spark.sources.tables import DEFAULT_SF_DIR

    root = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
    return {"full": os.path.join(root, "sf0.1"), "tiny": os.path.join(root, "sf0.001")}


#: bench queries the workload skips to fit the run budget
LEFT_OUT = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_prefix",
    "dedup_embedding_lsh",
    "split_cluster_safe",
    "pipeline_corpus_prep",
    "w_exact_quantiles",
    "text_novelty",
)


def specs():
    from delta_lake_pyspark_scd2_spark.plans import REGISTRY

    return [s for s in REGISTRY.values() if s.bench and s.name not in LEFT_OUT]


def warm_up(spark, sf_dir: str, first) -> None:
    """Session warm-up: the JVM, parquet footers, and the Python worker
    pool (pandas and NumPy imported in each Arrow worker)."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    first.builder(spark, sf_dir).limit(1).count()

    @pandas_udf("double")
    def _warm(x: pd.Series) -> pd.Series:
        return x * np.float64(1.0)

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 100 * n).repartition(n).select(_warm(F.col("id").cast("double"))).count()
    _clear(spark)


def run_query(spark, sf_dir, spec, span=None):
    """One timed execution: (build_s, exec_s, result as Arrow)."""
    sp = (lambda name: span(name, query=spec.name)) if span else (lambda _: nullcontext())
    t0 = time.perf_counter()
    with sp("plans.build"):
        df = spec.builder(spark, sf_dir)
    t1 = time.perf_counter()
    with sp("plans.exec"):
        tbl = df.toArrow()
    return t1 - t0, time.perf_counter() - t1, tbl


def _clear(spark) -> None:
    from delta_lake_pyspark_scd2_spark.functions.caching import release_tracked

    spark.catalog.clearCache()
    release_tracked()


def run(sess, seed: int, seconds: float, trace: bool, size: str) -> dict:
    spark = sess.spark
    sf_dir = sf_dirs()[size]
    if not all(os.path.exists(f"{sf_dir}/{t}.parquet") for t in TABLES):
        raise FileNotFoundError(f"{sf_dir} lacks the tables {TABLES}")
    qs = specs()
    t0 = time.perf_counter()
    warm_up(spark, sf_dir, qs[0])
    warm_s = time.perf_counter() - t0
    out: dict = {"warmup_s": warm_s, "setup_s": warm_s}
    checks = Checks()
    results = {}  # query -> its first pass's result, checked afterwards

    def check_all() -> None:
        oracle = Oracle(sf_dir, os.path.join(sess.root, ".perfbench_cache", "oracle.json"))
        for spec in qs:
            checks.check(spec.name, *oracle.verify(spec, _to_pandas(results.pop(spec.name))))

    times: dict[str, list[float]] = {s.name: [] for s in qs}
    if not trace:
        # closed loop of full passes until `seconds` pass, at least one
        t_start = time.perf_counter()
        p = 0
        while p == 0 or time.perf_counter() - t_start < seconds:
            for spec in qs:
                b, e, tbl = run_query(spark, sf_dir, spec)
                times[spec.name].append(b + e)
                results.setdefault(spec.name, tbl)
                _clear(spark)
            p += 1
        out["peak_rss_mb"] = sess.peak_rss_mb()
        check_all()
        per_q = {q: median(ts) for q, ts in times.items()}
        out["end_to_end"] = {
            "op_geomean_s": geomean(list(per_q.values())),
            "ops_per_s": sum(len(ts) for ts in times.values())
            / sum(sum(ts) for ts in times.values()),
        }
        out["ops"] = per_q
        out["checks"] = checks
        return out

    # traced: one pass, every query traced. Every other query also runs
    # untraced for the overhead estimate, which one goes first
    # alternating so warm-up favours neither side.
    from layers import Tracer, Tree, instrument, trace_common

    tracer = instrument(Tracer(spark))
    plain = twin = 0.0
    for j, spec in enumerate(qs):
        order = (True,) if j % 2 else ((False, True) if j % 4 == 0 else (True, False))
        for traced in order:
            if not traced:
                b, e, _ = run_query(spark, sf_dir, spec)
                plain += b + e
                _clear(spark)
                continue
            with tracer.active():
                b, e, results[spec.name] = run_query(spark, sf_dir, spec, tracer.span)
                times[spec.name].append(b + e)
            if j % 2 == 0:
                twin += b + e
            _clear(spark)
    out["peak_rss_mb"] = sess.peak_rss_mb()
    check_all()
    tracer.attribute()
    tree = Tree(tracer)
    build = [s for s in tracer.spans if s.name == "plans.build"]
    exe = [s for s in tracer.spans if s.name == "plans.exec"]
    m: dict = {
        "plans.build_s": sum(s.dur for s in build),
        "plans.exec_s": sum(s.dur for s in exe),
    }
    for q, ts in times.items():
        mine = [s for s in build + exe if s.attrs.get("query") == q]
        m[f"plans.{q}_s"] = median(ts)
        m[f"plans.{q}_jobs"] = tree.inc(mine, "jobs")
        m[f"plans.{q}_shuffle_bytes"] = tree.inc(mine, "shuffle_write_bytes")
    traced_s = sum(sum(ts) for ts in times.values())
    m.update(trace_common(tracer, tree, build + exe, traced_s, twin / plain - 1))
    out["per_layer"] = m
    out["ops"] = {q: median(ts) for q, ts in times.items()}
    out["checks"] = checks
    return out
