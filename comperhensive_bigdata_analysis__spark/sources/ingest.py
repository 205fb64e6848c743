"""CSV -> typed, sanitized, registered table — the reference's core pipeline.

Re-expresses the behavioral contract of the reference's ingestion path
(``helper_utils.py:27-197``, ``Main_File.py:23-67``):

  read CSV (header, inferred schema)              [S1, helper_utils.py:173]
  -> sanitize column names to [A-Za-z0-9_]        [F6, helper_utils.py:27-36]
  -> profile every column in ONE aggregate: non-null count, timestamp
     parse count (strings), min/max (integral columns)
  -> apply every change in ONE projection:
       drop all-NULL columns                      [helper_utils.py:88-90]
       eager string->timestamp coercion           [helper_utils.py:91-95]
       date -> timestamp
       int-width minimization at +/-2**30         [helper_utils.py:105-110]
  -> write parquet + register in catalog          [S2/S5, helper_utils.py:177]

Scale notes: the profile is one map-side-combined aggregate over all
columns, not per-column scans; timestamp coercion is a try-cast
expression, not a Python loop. At 100 TB the whole pipeline is
scan -> aggregate -> scan -> write, all whole-stage-codegen'd, no
driver-side row handling.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import register_plan_cache
from ..session import register

#: helper_utils.py:107 — "max for int is 2**31 but we will go with 2**30"
INT_WIDTH_BOUND = 2**30
_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def sanitize_name(name: str) -> str:
    """Column/table name sanitizer (reference helper_utils.py:27-36):
    every char outside [a-zA-Z0-9_] -> '_', then collapse '__' -> '_'.
    Idempotent."""
    out = re.sub(r"[^a-zA-Z0-9_]", "_", name)
    while "__" in out:
        out = out.replace("__", "_")
    return out


def table_name_for(path: str) -> str:
    """File path -> table name (reference helper_utils.py:52-66)."""
    base = os.path.basename(path)
    stem = base.rsplit(".", 1)[0] if "." in base else base
    return sanitize_name(stem).lower()


def sanitize_columns(df: DataFrame) -> DataFrame:
    """Rename all columns through sanitize_name, deduplicating collisions
    with the next numeric suffix not already taken (pure metadata op —
    no job runs). Names compare case-insensitively, as Spark resolves
    them by default."""
    taken: set[str] = set()
    last_suffix: dict[str, int] = {}
    new = []
    for c in df.columns:
        base = s = sanitize_name(c)
        while s.lower() in taken:
            last_suffix[base] = last_suffix.get(base, 0) + 1
            s = f"{base}_{last_suffix[base]}"
        taken.add(s.lower())
        new.append(s)
    return df.toDF(*new)


# Timestamp shapes the reference's pd.to_datetime would accept; we
# enumerate the formats present in its data ('YYYY-MM-DD' dates,
# ISO timestamps) rather than accepting anything parseable.
_TS_PATTERNS = [
    "yyyy-MM-dd",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd",
    "MM/dd/yyyy",
]


def _try_ts(col):
    expr = F.lit(None).cast("timestamp")
    for fmt in reversed(_TS_PATTERNS):
        expr = F.coalesce(F.try_to_timestamp(col, F.lit(fmt)), expr)
    return expr


def _ts_candidate(col):
    """Cheap necessary condition for ``_try_ts(col)`` to be non-NULL:
    every pattern starts with a digit field, which the parser accepts
    with one leading sign. A failed ``try_to_timestamp`` costs far more
    than this regex, and most strings in a wide CSV fail all five."""
    return col.rlike("^[+-]?[0-9]")


def preprocess(df: DataFrame) -> DataFrame:
    """Reference preprocess_file semantics (helper_utils.py:83-110) in
    two distributed passes:

    pass 1 (one aggregate): per column, is it entirely NULL? per string
      column, does every non-null value parse as a timestamp? per
      integral column, its min and max.
    pass 2 (one projection): drop all-NULL columns, coerce timestamp
      strings, cast dates to timestamps (Spark's CSV inference may yield
      `date`; the reference's pandas path always lands on datetime64)
      and narrow integers.

    Int-width rule (helper_utils.py:105-110): an integral column
    entirely strictly inside +/-2**30 is `int`, anything else is
    `bigint` — in BOTH directions (a value in (2**30, 2**31) fits int32
    but the reference still declares bigint).
    """
    aggs = []
    for i, (c, t) in enumerate(df.dtypes):
        col = F.col(c)
        aggs.append(F.count(col).alias(f"__nn_{i}"))
        if t == "string":
            aggs.append(
                F.count(F.when(_ts_candidate(col) & _try_ts(col).isNotNull(), 1))
                .alias(f"__ts_{i}")
            )
        elif t in _INTEGRAL_TYPES:
            aggs.append(F.min(col).alias(f"__mn_{i}"))
            aggs.append(F.max(col).alias(f"__mx_{i}"))
    stats = df.agg(*aggs).first()

    out = []
    for i, (c, t) in enumerate(df.dtypes):
        col = F.col(c)
        nn = stats[f"__nn_{i}"]
        if nn == 0:  # all-NULL column -> drop (hu:88-90)
            continue
        if t == "string" and stats[f"__ts_{i}"] == nn:
            col = _try_ts(col)  # every non-null value is a timestamp (hu:91-95)
        elif t == "date":
            col = col.cast("timestamp")
        elif t in _INTEGRAL_TYPES:
            mn, mx = stats[f"__mn_{i}"], stats[f"__mx_{i}"]
            narrow = mn > -INT_WIDTH_BOUND and mx < INT_WIDTH_BOUND
            col = col.cast("int" if narrow else "bigint")
        out.append(col.alias(c))
    return df.select(*out)


def ingest_csv(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    parquet_dir: str | None = None,
) -> DataFrame:
    """Full single-file pipeline (reference Main_File.py:23-35 behavior).
    Returns the registered frame (``session.register``: a small table
    comes back as one partition)."""
    raw = spark.read.csv(path, header=True, inferSchema=True)
    df = preprocess(sanitize_columns(raw))
    name = table or table_name_for(path)
    if parquet_dir:
        out = os.path.join(parquet_dir, name)
        df.write.mode("overwrite").parquet(out)
        df = spark.read.parquet(out)
    return register(spark, df, name)


def ingest_folder(
    spark: SparkSession,
    folder: str,
    parquet_dir: str | None = None,
    extensions: tuple[str, ...] = (".csv",),
) -> dict[str, list[tuple[str, str]]]:
    """Directory-batch ingest (reference helper_utils.py:185-197): convert
    every matching file, return {table_name: [(col, type), ...]}."""
    registry: dict[str, list[tuple[str, str]]] = {}
    for fname in sorted(os.listdir(folder)):
        if not fname.lower().endswith(extensions):
            continue
        df = ingest_csv(spark, os.path.join(folder, fname), parquet_dir=parquet_dir)
        registry[table_name_for(fname)] = df.dtypes
    return registry


def union_evolving(dfs: list[DataFrame]) -> DataFrame:
    """Union frames whose schemas drifted (columns added/dropped over
    time) — the schema-evolution reality of a long-lived ingest folder.
    Name-based alignment with missing columns null-filled; the column
    order of the FIRST frame wins, later additions append in first-seen
    order. Equivalent to parquet mergeSchema at read time, but usable on
    already-transformed frames. Narrow-then-wide int drift is fine
    (Spark widens in the union); incompatible type drift raises, which
    is the correct loud failure for a corrupted folder."""
    if not dfs:
        raise ValueError("union_evolving: no frames")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def ingest_csv_audited(
    spark: SparkSession,
    path: str,
    schema: str,
    table: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced CSV ingest that QUARANTINES malformed rows
    instead of silently nulling (Spark's PERMISSIVE default) or
    dropping (DROPMALFORMED) them — the posture a 100 TB ingest needs:
    bad input is data, not noise.

    ``schema`` is a DDL string (``"a INT, b STRING"``); the corrupt
    capture column is appended internally. Returns ``(clean, rejects)``
    where ``rejects`` carries the raw offending line for replay after a
    schema fix. Both frames are lazy single-pass scans — no driver
    materialization. Generalizes the reference's sanitize-only pipeline
    (helper_utils.py:83-95), which assumes every row parses.
    """
    full = f"{schema}, _corrupt_record STRING"
    raw = spark.read.options(
        header=True,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).csv(path, schema=full)
    # Spark leaves _corrupt_record null for clean rows and sets it to the
    # raw line when any field failed to parse under the declared schema.
    # one scan feeds both split sides; registered so the session
    # owner's release_plan_caches() drops it (DEPLOY.md)
    raw = register_plan_cache(raw)
    clean = sanitize_columns(raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record"))
    rejects = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    clean = register(spark, clean, table or table_name_for(path))
    return clean, rejects
