"""Parquet table loaders for the test corpus (SURVEY §2.1 S4).

The driver corpus (TESTDATA.md) is one parquet file per table under
``/root/testdata/sf*/``. One quirk: ``events.parquet`` stores ``ts`` as
parquet TIMESTAMP(NANOS, isAdjustedToUTC=false), which Spark's vectorized
reader rejects outright. With ``spark.sql.legacy.parquet.nanosAsLong=true``
(set by session.apply_runtime_confs) the column arrives as a raw int64
nanosecond count; ``load_table`` converts it back to a naive timestamp
(TIMESTAMP_NTZ) so downstream code sees the intended type. The
conversion is pure column arithmetic — stays inside whole-stage codegen,
no UDF, no extra scan.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import apply_runtime_confs

#: Canonical corpus tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_to_ntz(col_name: str):
    """int64 nanoseconds-since-epoch (naive) -> TIMESTAMP_NTZ.

    Integer DIV, not `/`: epoch-nanos (~1.7e18) exceeds double's 53-bit
    mantissa, so float division corrupts the microsecond by up to
    ~128 ns. timestamp_micros() yields an instant (TIMESTAMP_LTZ);
    casting to NTZ renders it in the session time zone, which
    apply_runtime_confs pins to UTC — naive-nanos round-trips exactly
    (sub-microsecond truncated, matching DuckDB's ns->us truncation).
    """
    return F.timestamp_micros(F.expr(f"`{col_name}` DIV 1000")).cast(
        T.TimestampNTZType()
    )


#: In-process PLAN cache (guide §1.2 step 2 / §7.3 — driver planning
#: overhead). Measured r14: every ``load_table`` call paid ~70-90 ms of
#: parquet footer/schema inference, ~30-50 ms of repeated conf.set
#: round trips, and ~50 ms of DataSource resolution — 0.1-0.4 s of
#: DRIVER time per query BUILD (a 4-table join pays it 4x), pure
#: planning overhead at any scale. The cache holds the analyzed base
#: DataFrame handle per (SparkSession, SparkContext, absolute path,
#: mtime_ns, size) — the exact semantics of registering each table as a
#: temp view once (``register_all``, the reference's shared-copy
#: contract), just keyed automatically. A DataFrame handle is an
#: immutable logical plan, NOT data: every action still scans the
#: parquet files, results are recomputed on every invocation, and
#: nothing persists across processes. A rewritten table (new
#: mtime/size), another session on the same context (its own confs and
#: catalog) or a new context (new applicationId) misses the cache and
#: re-resolves.
_TABLE_CACHE: dict[tuple[SparkSession, str, str, int, int], DataFrame] = {}
_CONFS_APPLIED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def _ensure_confs(spark: SparkSession) -> None:
    """apply_runtime_confs once per SparkSession. RUNTIME_CONFS are
    per-session SQL confs — a ``newSession()`` on the same context
    starts from the defaults — and engine invariants (UTC, nanosAsLong,
    AQE) that nothing in the engine unsets; callers that deliberately
    mutate them mid-session can call session.apply_runtime_confs
    directly."""
    if spark not in _CONFS_APPLIED:
        apply_runtime_confs(spark)
        _CONFS_APPLIED.add(spark)


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn("ts", _nanos_to_ntz("ts"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table, normalizing known type quirks."""
    _ensure_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        app = spark.sparkContext.applicationId
    except Exception:
        return _read_table(spark, path, name)  # unstat-able path — no caching
    key = (spark, app, os.path.abspath(path), st.st_mtime_ns, st.st_size)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _read_table(spark, path, name)
        _TABLE_CACHE[key] = df
    return df


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Round-robin fan-out for compute-heavy work over an UNSPLITTABLE
    scan (optimization guide §2.5, input skew): a parquet file is
    splittable only at row-group boundaries, so a one-file/one-row-group
    table — the 1x test corpus's layout — runs its entire scan stage
    (filter, tokenize, explode, hashing, partial aggregation, Python
    batch functions) as ONE task while the rest of the cluster idles.

    Scale-adaptive by construction, derived from the input layout
    rather than tuned to any core count: when the input already splits
    into at least half as many files as the session has slots (the
    production layout — inflated bench corpora, any Spark-written
    dataset), this is a NO-OP and no exchange is added. Only callers
    whose per-row work is heavy enough to amortize one round-robin
    shuffle of the input rows should use it (measured per plan —
    OPTIMIZATION_r13.md); results are unaffected because every such
    caller aggregates order-insensitively (exact decimal/integer sums)
    or re-sorts its output.

    KEYED mode (r14): pass grouping columns to hash-partition instead
    of round-robin. For a downstream high-cardinality groupBy on the
    same key, this both parallelizes the aggregation AND satisfies its
    required distribution, so the aggregation's own exchange is
    REPLACED, not added to (guide §2.4 — two operations keyed the same
    way share one exchange); round-robin would scatter each group
    across partitions and defeat map-side combining. Only worth it
    when the key cardinality is far above the slot count (guide §2.5
    on synthetic keys); hash partitioning on real key columns is
    deterministic, so task retries are safe.

    Caveats (ADVICE r13): splittability is inferred from file count —
    one file with many row groups IS splittable yet still fans out
    (acceptable: the 1x corpora are one-row-group files, and a real
    multi-row-group table usually ships as many files); under dynamic
    allocation defaultParallelism reflects plan-build-time executors.
    Perf-only in both directions — results are order-insensitive as
    documented above.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        return df  # non-file-backed relation — nothing to adapt
    if nfiles == 0 or nfiles * 2 >= target:
        return df
    if cols:
        return df.repartition(target, *cols)
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (reference capability:
    one shared registered copy per table — aws_utils.py:203-220)."""
    for n in TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
