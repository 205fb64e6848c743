"""Catalog operations: namespace lifecycle, existence probe, registration
(reference Main_File.py:59-63 DROP/CREATE SCHEMA, sql_utils.py:103-120
probe)."""

from __future__ import annotations

from comperhensive_bigdata_analysis__spark.session import (
    create_namespace,
    drop_namespace,
    register,
    table_exists,
)
from comperhensive_bigdata_analysis__spark.sources.tables import load_table

NS = "cba_test_ns"


def test_namespace_lifecycle(spark):
    drop_namespace(spark, NS)
    create_namespace(spark, NS)
    assert spark.catalog.databaseExists(NS)
    create_namespace(spark, NS, drop_first=True)  # idempotent with drop
    assert spark.catalog.databaseExists(NS)
    drop_namespace(spark, NS)
    assert not spark.catalog.databaseExists(NS)


def test_register_and_existence_probe(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    assert not table_exists(spark, "cba_probe_view")
    register(spark, n, "cba_probe_view")
    assert table_exists(spark, "cba_probe_view")
    assert spark.table("cba_probe_view").count() == n.count()
    spark.catalog.dropTempView("cba_probe_view")
    assert not table_exists(spark, "cba_probe_view")


def test_load_table_is_per_session(spark, sf_dir):
    """RUNTIME_CONFS are per-session SQL confs: a second session on the
    same context (e.g. a host's, lacking them) gets them from its first
    load_table, and table handles bound to itself, never the first
    session's."""
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    other = spark.newSession()
    other.conf.set(nanos, "false")
    mine = load_table(spark, sf_dir, "events")
    theirs = load_table(other, sf_dir, "events")
    assert other.conf.get(nanos) == "true"
    assert theirs is not mine and theirs.sparkSession is other
    assert dict(theirs.dtypes)["ts"] == "timestamp_ntz"
    assert theirs.count() == mine.count()


def test_cli_list_names_all_plans(capsys):
    from comperhensive_bigdata_analysis__spark import plans
    from comperhensive_bigdata_analysis__spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in ("pricing_summary", "bitmap_distinct_users"):
        assert name in out
    assert len(out.strip().splitlines()) == len(plans.QUERIES)
