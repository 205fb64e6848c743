"""SparkSession factory and catalog operations.

Replaces the reference's entire control plane — EMR provisioning,
Presto connection bootstrap, Hive schema DDL (``Main_File.py:19-67``,
``aws_utils.py:115-220``, ``helper_utils.py:199-220``) — with a single
in-process SparkSession plus Spark catalog calls. The capability
contract kept from the reference: multi-analyst access to ONE
registered copy of each table via a catalog (SURVEY §7.5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Confs every session needs, whether we created it or the host did.
#: - UTC session time zone: deterministic timestamp rendering regardless
#:   of host TZ (oracle comparisons are naive-UTC).
#: - nanosAsLong: the test corpus's events.parquet carries
#:   TIMESTAMP(NANOS) which Spark refuses by default; we read the raw
#:   int64 and convert explicitly (see sources.load_table).
#: - AQE: runtime re-planning (coalesce small shuffle partitions,
#:   skew-join splitting) — essential at 100 TB, free at test scale.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.orderByOrdinal": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an existing session.

    Called once per session so the engine behaves identically on a
    session it did not create (e.g. a notebook host's): by ``get_spark``,
    by ``query.Engine`` on construction, and by ``sources.tables`` before
    a session's first ``load_table`` (memoized per SparkSession, since
    these are per-session SQL confs). A caller that mutates one of them
    mid-session calls this again itself. All keys in RUNTIME_CONFS are
    runtime-settable.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — keep going
    return spark


def get_spark(
    app_name: str = "comperhensive_bigdata_analysis__spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local default is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    caller passes ``master``/conf through. Shuffle partitions default to
    the local core count — at cluster scale, size them so a shuffle
    partition holds ~128-200 MB (set explicitly via the argument).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else cpus),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.debug.maxToStringFields", "1000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Static and JVM-wide, so only the builder can set it. Spark's
        # 100 compiled classes evict each other every curation round,
        # which needs ~140 (DEPLOY.md "Session").
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache key is the generated source; with the stage id in the
        # class name, a stage AQE numbers differently compiles again.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())


# --- catalog operations (reference: schema/table DDL + existence probe) ---


def create_namespace(spark: SparkSession, name: str, drop_first: bool = False) -> None:
    """CREATE SCHEMA semantics (reference Main_File.py:59-63, sql_utils.py:65-80)."""
    if drop_first:
        spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def drop_namespace(spark: SparkSession, name: str) -> None:
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def table_exists(spark: SparkSession, name: str) -> bool:
    """Existence probe (reference sql_utils.py:103-120 SELECT 1 ... LIMIT 1)."""
    return spark.catalog.tableExists(name)


def register(spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
    """Register a DataFrame as a queryable view (reference: Hive external
    table per parquet dir, aws_utils.py:203-220) and return the frame
    the view resolves to.

    A relation that reads files and whose planner size estimate (the
    statistic the broadcast-join choice reads) is at most
    ``spark.sql.files.openCostInBytes`` — Spark's own measure of the
    bytes one task scans in the time it takes to open a file — is
    registered as ``df.coalesce(1)``: its one partition satisfies every
    required distribution, so aggregates, windows and global sorts over
    it plan without an exchange and an analyst query runs as one Spark
    job instead of one per stage (plus a sampling job per global sort).
    Larger relations, and frames that read no files, register as they
    are. Nothing is cached; the view is still a lazy plan.
    """
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    if size <= open_cost and df.inputFiles():
        df = df.coalesce(1)
    df.createOrReplaceTempView(name)
    return df
