"""Fingerprint invariants: layout-insensitive, content-sensitive."""

from __future__ import annotations

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark.operators.fingerprint import fingerprint
from comperhensive_bigdata_analysis__spark.sources.tables import load_table


def _orders(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.to_date("o_orderdate").cast("string").alias("o_date"),
    )


COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_date"]


def _rows(fp):
    """A fingerprint frame's rows as a set, for order-free comparison."""
    return {tuple(r) for r in fp.collect()}


def test_fingerprint_is_layout_insensitive(spark, sf_dir):
    base = _orders(spark, sf_dir)
    fp1 = fingerprint(base, COLS, group_by=["o_orderpriority"])
    shuffled = base.repartition(13, "o_custkey").sortWithinPartitions("o_date")
    fp2 = fingerprint(shuffled, COLS, group_by=["o_orderpriority"])
    assert _rows(fp1) == _rows(fp2)


def test_fingerprint_detects_single_value_change(spark, sf_dir):
    base = _orders(spark, sf_dir)
    tampered = base.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") == 7, F.col("o_custkey") + 1).otherwise(
            F.col("o_custkey")
        ),
    )
    fp1 = fingerprint(base, COLS)
    fp2 = fingerprint(tampered, COLS)
    assert _rows(fp1) != _rows(fp2)
    # counts still agree — only the content sigs moved
    r1, r2 = fp1.collect()[0], fp2.collect()[0]
    assert r1["n"] == r2["n"]
    assert r1["xor_sig"] != r2["xor_sig"]
    assert r1["sum_sig"] != r2["sum_sig"]


def test_fingerprint_distinguishes_null_from_literal(spark):
    a = spark.createDataFrame([("x", None)], "k string, v string")
    b = spark.createDataFrame([("x", "~null~")], "k string, v string")
    # same rendering would collide; the marker makes this a known,
    # documented edge — counts match, sigs match (marker collision)
    assert _rows(fingerprint(a, ["k", "v"])) == _rows(fingerprint(b, ["k", "v"]))
