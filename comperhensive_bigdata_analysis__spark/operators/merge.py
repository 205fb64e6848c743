"""Batch MERGE (upsert) — the CDC-apply surface of the engine.

Spark's open-format parquet tables have no transactional MERGE INTO, so
the engine expresses it as the classic two-step: (1) compute the merged
state as a DataFrame (pure, testable), (2) swap it in with Spark's own
writer — a full rewrite, or, when the table is hive-partitioned, a
dynamic partition overwrite (``spark.sql.sources.partitionOverwriteMode
=dynamic``) of ONLY the partitions the update batch touches, which is
the 100 TB posture: a daily CDC batch touching 3 of 3,000
day-partitions rewrites 0.1% of the table.

Join strategy: the updates side of a CDC batch is small relative to the
target, so the anti-join that drops stale target rows broadcasts the
updates; the big side never shuffles. SCD2 history built from snapshots
is the catalog plan ``plans/relational.scd2_customer_history``.

Reference parity: the reference overwrites whole Hive tables from
Presto CTAS (bigdata-project-analysis (1).ipynb cells 5-11 re-create
result tables per run); this generalizes that to keyed in-place updates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def merge_upsert(target: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """SCD1 MERGE: rows in ``updates`` replace same-key rows in
    ``target``; unmatched update rows insert. Pure transform — persist
    it with a dynamic partition overwrite (partitioned tables) or a
    staged full rewrite.

    One broadcast anti-join + a union: the target side is never
    shuffled, so cost scales with |target partitions touched|, not
    |target|.
    """
    kept = target.join(F.broadcast(updates.select(*key_cols)), key_cols, "left_anti")
    return kept.unionByName(updates.select(*target.columns))
