"""MERGE surface: SCD1 upsert semantics, and its persistence through a
dynamic partition overwrite."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from comperhensive_bigdata_analysis__spark.operators.merge import merge_upsert


def _target(spark):
    return spark.createDataFrame(
        [Row(k=i, city=c, pop=p) for i, c, p in
         [(1, "ume", 90), (2, "lund", 95), (3, "visby", 25), (4, "kiruna", 17)]]
    )


def test_merge_upsert_replaces_and_inserts(spark):
    updates = spark.createDataFrame(
        [Row(k=2, city="lund", pop=99), Row(k=5, city="are", pop=3)]
    )
    out = {r["k"]: r for r in merge_upsert(_target(spark), updates, ["k"]).collect()}
    assert set(out) == {1, 2, 3, 4, 5}          # 4 target keys + 1 insert
    assert out[2]["pop"] == 99                   # matched row replaced
    assert out[1]["pop"] == 90                   # unmatched rows untouched
    assert out[5]["city"] == "are"               # new key inserted


def test_merge_upsert_broadcasts_updates(spark):
    updates = spark.createDataFrame([Row(k=2, city="lund", pop=99)])
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        merge_upsert(_target(spark), updates, ["k"]).explain()
    assert "Broadcast" in buf.getvalue()         # target side never shuffles


def test_upsert_persists_via_partition_scoped_rewrite(spark, tmp_path):
    """End-to-end CDC: a partitioned target + merge_upsert + dynamic
    partition overwrite rewrites ONLY the partitions the batch touches —
    untouched partition directories keep their original files."""
    import os

    path = str(tmp_path / "t")
    target = spark.createDataFrame(
        [Row(k=i, region=r, v=i * 10) for i, r in
         [(1, "eu"), (2, "eu"), (3, "us"), (4, "us"), (5, "ap")]]
    )
    target.write.partitionBy("region").parquet(path)
    files_before = {
        p: sorted(os.listdir(os.path.join(path, p)))
        for p in os.listdir(path) if p.startswith("region=")
    }

    updates = spark.createDataFrame([Row(k=2, region="eu", v=999)])
    current = spark.read.parquet(path).select("k", "region", "v")
    touched = [r["region"] for r in updates.select("region").distinct().collect()]
    merged = merge_upsert(
        current.filter(F.col("region").isin(touched)), updates, ["k"]
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("region").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    out = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {1: 10, 2: 999, 3: 30, 4: 40, 5: 50}
    # untouched partitions: identical file listings (no rewrite happened)
    for p, listing in files_before.items():
        if p != "region=eu":
            assert sorted(os.listdir(os.path.join(path, p))) == listing
