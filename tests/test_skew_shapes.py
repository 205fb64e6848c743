"""Hot-key dedup shapes (VERDICT r9 ask #1 + the r10 window audit).

The digest-frequency dedup pipelines run the census shape (persist +
partial-agg census + broadcast semi/anti join — skew-safe: no stage
colocates one key's full mass). The planted-skew probe rows in
SCALE_PROBE.md only measure cost, so these tests pin the census
output on a boilerplate-heavy corpus, and that the probe's corpus
planter behaves deterministically.

The second half covers the r10 skew operators the window audit
introduced (operators/skew.py): salted_top_k, distributed_scan, and
ntile_from_rank, each pinned output-identical to the bare window it
replaces on a 90%-hot-key frame and on its edge cases (salts >> rows,
fewer rows than k, null keys, every c mod n residue class). The
long-tail input space is covered by tests/test_scan_properties.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from comperhensive_bigdata_analysis__spark.operators.curation import (
    exact_substr_span_table,
)
from comperhensive_bigdata_analysis__spark.sources.inflate import (
    SKEW_TOKEN,
    plant_skew_corpus,
)


def _boilerplate_docs(spark):
    """Tiny corpus with one mega-hot shingle digest: most docs are the
    same boilerplate run, plus one true copy pair whose shared passage
    is rare (df=2)."""
    boiler = ("spam " * 40).strip()
    passage = "alpha bravo charlie delta echo foxtrot golf hotel " * 4
    rows = [(i, f"doc {i} opener {boiler}") for i in range(12)]
    rows.append((100, f"left intro {passage} left outro"))
    rows.append((101, f"right intro {passage} right outro"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_substr_shapes_identical(spark):
    """The census shape finds the rare copied passage beside one
    mega-hot boilerplate digest."""
    d = _boilerplate_docs(spark)
    rows = exact_substr_span_table(d, "doc_id", "text").collect()
    assert rows
    # the true copy pair's passage must be flagged in both docs
    flagged = {r["doc_id"] for r in rows}
    assert {100, 101} <= flagged


def test_plant_skew_corpus_deterministic(spark, sf_dir, tmp_path):
    out1 = plant_skew_corpus(spark, sf_dir, str(tmp_path / "s1"))
    out2 = plant_skew_corpus(spark, sf_dir, str(tmp_path / "s2"))
    d1 = spark.read.parquet(f"{out1}/documents.parquet")
    d2 = spark.read.parquet(f"{out2}/documents.parquet")
    sig = lambda d: d.select(  # noqa: E731 - order-insensitive corpus sig
        F.expr("bit_xor(xxhash64(doc_id, text))").alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert sig(d1) == sig(d2)
    # even doc_ids got the boilerplate, odd did not
    marked = d1.withColumn("has", F.col("text").contains(SKEW_TOKEN))
    bad = marked.filter(
        ((F.col("doc_id") % 2 == 0) & ~F.col("has"))
        | ((F.col("doc_id") % 2 == 1) & F.col("has"))
    ).count()
    assert bad == 0


def test_salted_top_k_matches_bare_window_on_hot_key(spark):
    """salted_top_k is EXACT: on a frame where one key holds ~90% of
    the rows (the case the salted shape exists for), it must emit the
    same (rows, ranks) as the bare rank window it replaces — including
    a key with fewer than k rows (all kept, ranks 1..n)."""
    from pyspark.sql.window import Window

    from comperhensive_bigdata_analysis__spark.operators.skew import (
        salted_top_k,
    )

    rows = [("hot", i) for i in range(180)] + [
        ("warm", i) for i in range(17)
    ] + [("tiny", 0), ("tiny", 1)]
    df = spark.createDataFrame(rows, "k string, v long").withColumn(
        "pri", F.md5(F.col("v").cast("string").cast("binary"))
    )
    got = sorted(
        map(
            tuple,
            salted_top_k(df, ["k"], ["pri", "v"], 5, salts=7)
            .select("k", "v", "__rk")
            .collect(),
        )
    )
    w = Window.partitionBy("k").orderBy("pri", "v")
    want = sorted(
        map(
            tuple,
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= 5)
            .select("k", "v", "__rk")
            .collect(),
        )
    )
    assert got == want
    assert len({r[:1] for r in got}) == 3  # all three keys present
    # a key with fewer rows than k keeps all of them, ranks 1..n
    assert sorted(r[2] for r in got if r[0] == "tiny") == [1, 2]


def test_salted_top_k_more_salts_than_rows(spark):
    """salts >> rows must not lose rows: every salt bucket has <= 1
    row, the prune keeps everything, the exact pass ranks it."""
    from comperhensive_bigdata_analysis__spark.operators.skew import (
        salted_top_k,
    )

    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 2), ("b", 9)], "k string, v long"
    )
    got = sorted(
        map(
            tuple,
            salted_top_k(df, ["k"], ["v"], 2, salts=64)
            .select("k", "v", "__rk")
            .collect(),
        )
    )
    assert got == [("a", 1, 1), ("a", 2, 2), ("b", 9, 1)]


def test_distributed_scan_matches_bare_window_on_hot_key(spark):
    """distributed_scan's rank, exclusive running sum, and per-key
    total must equal the bare window's on a frame where one key holds
    ~90% of rows — including keys small enough to fit one range
    partition and a single-row key."""
    from pyspark.sql.window import Window

    from comperhensive_bigdata_analysis__spark.operators.skew import (
        distributed_scan,
    )

    rows = [("hot", i, (i * 7) % 13) for i in range(200)] + [
        ("warm", i, i) for i in range(9)
    ] + [("one", 0, 42)]
    df = spark.createDataFrame(rows, "k string, i long, v long")
    got = sorted(
        map(
            tuple,
            distributed_scan(
                df,
                ["k"],
                ["i"],
                rank_col="r",
                prior_sum_of="v",
                prior_col="p",
                total_count_col="c",
            ).collect(),
        )
    )
    w = Window.partitionBy("k").orderBy("i")
    want = sorted(
        map(
            tuple,
            df.select(
                "k",
                "i",
                "v",
                F.row_number().over(w).cast("long").alias("r"),
                F.coalesce(
                    F.sum("v").over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ).alias("p"),
                F.count(F.lit(1))
                .over(Window.partitionBy("k"))
                .alias("c"),
            ).collect(),
        )
    )
    assert got == want


def test_ntile_from_rank_matches_window_ntile(spark):
    """ntile_from_rank (used by ccnet terciles, price quartiles,
    revenue deciles) must reproduce SQL-standard NTILE(n) for every
    residue class of c mod n and for c < n."""
    from pyspark.sql.window import Window

    from comperhensive_bigdata_analysis__spark.operators.skew import (
        ntile_from_rank,
    )

    rows = []
    for key, cnt in [
        ("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5),
        ("f", 10), ("g", 11), ("h", 23),
    ]:
        rows += [(key, i) for i in range(cnt)]
    df = spark.createDataFrame(rows, "k string, i long")
    w = Window.partitionBy("k").orderBy("i")
    for n in (3, 4, 10):
        both = df.select(
            "k",
            "i",
            F.row_number().over(w).cast("long").alias("__r"),
            F.count(F.lit(1)).over(Window.partitionBy("k")).alias("__c"),
            F.ntile(n).over(w).cast("long").alias("want"),
        ).withColumn("got", ntile_from_rank(n, "__r", "__c"))
        assert both.filter(F.col("got") != F.col("want")).count() == 0, n


def test_distributed_scan_keeps_null_keys(spark):
    """A bare window treats NULL as its own partition; the scan's
    offsets join must be null-safe or every null-keyed row silently
    drops (NULL never equi-joins NULL)."""
    from pyspark.sql.window import Window

    from comperhensive_bigdata_analysis__spark.operators.skew import (
        distributed_scan,
    )

    rows = [(None, 1, 10), (None, 2, 20), ("a", 1, 5), (None, 3, 30)]
    df = spark.createDataFrame(rows, "k string, i long, v long")
    got = sorted(
        map(
            tuple,
            distributed_scan(
                df, ["k"], ["i"], rank_col="r",
                prior_sum_of="v", prior_col="p", total_count_col="c",
            ).collect(),
        ),
        key=str,
    )
    w = Window.partitionBy("k").orderBy("i")
    want = sorted(
        map(
            tuple,
            df.select(
                "k", "i", "v",
                F.row_number().over(w).cast("long").alias("r"),
                F.coalesce(
                    F.sum("v").over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ).alias("p"),
                F.count(F.lit(1)).over(Window.partitionBy("k")).alias("c"),
            ).collect(),
        ),
        key=str,
    )
    assert got == want and len(got) == 4


def test_salted_top_k_exact_on_byte_identical_duplicate_rows(spark):
    """ADVICE r10: a hot key made of byte-identical duplicate rows —
    the exact-duplicate case dedup pipelines target — used to collapse
    into ONE (key, salt) bucket because the salt hashed row content
    only. The salt now mixes in the map partition id, so duplicate
    mass spreads across salts; the OUTPUT (global top-k + exact rank
    under a total order) must stay identical either way. The frame
    deliberately lacks a unique id inside the hot duplicates' order
    columns tie range, so the top-k is the duplicate row repeated."""
    from pyspark.sql.window import Window

    from comperhensive_bigdata_analysis__spark.operators.skew import (
        SALT,
        salted_top_k,
    )

    # 9000 byte-identical rows of key 1 spread over 16 input partitions
    # + a spine of distinct keys; order ends in v then doc so the dup
    # rows tie — row_number breaks ties arbitrarily but the SELECTED
    # ROW VALUES are identical, which is what the comparison pins.
    rows = [(1, 0.5, "dup") for _ in range(9000)] + [
        (k, float(k), f"d{k}") for k in range(2, 50)
    ]
    df = spark.createDataFrame(
        rows, "k long, v double, payload string"
    ).repartition(16)
    got = (
        salted_top_k(df, ["k"], ["v", "payload"], 3)
        .orderBy("k", "__rk")
        .collect()
    )
    w = Window.partitionBy("k").orderBy("v", "payload")
    want = (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 3)
        .orderBy("k", "__rk")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # and the mechanism: the duplicate rows now occupy MANY salt
    # buckets (pre-fix: exactly one)
    salted = df.filter(F.col("k") == 1).withColumn(
        SALT,
        F.pmod(
            F.xxhash64("k", "v", "payload", F.spark_partition_id()),
            F.lit(32),
        ).cast("int"),
    )
    assert salted.select(SALT).distinct().count() > 4


def test_distributed_scan_rejects_reserved_column_collision(spark):
    """ADVICE r10: the operator fabricates __pid plus the caller-named
    rank/prior/count columns; a collision with input columns must be a
    loud error, not silent corruption."""
    import pytest

    from comperhensive_bigdata_analysis__spark.operators.skew import (
        distributed_scan,
    )

    df = spark.createDataFrame([(1, 2, 3)], "k long, __pid long, v long")
    with pytest.raises(ValueError, match="__pid"):
        distributed_scan(df, ["k"], ["v"], rank_col="r")
    df2 = spark.createDataFrame([(1, 2, 3)], "k long, r long, v long")
    with pytest.raises(ValueError, match="'r'"):
        distributed_scan(df2, ["k"], ["v"], rank_col="r")
    # prior_col default name is only reserved when a prior sum is asked
    df3 = spark.createDataFrame([(1, 2, 3)], "k long, __prior long, v long")
    assert distributed_scan(df3, ["k"], ["v"], rank_col="rr").count() == 1
    with pytest.raises(ValueError, match="__prior"):
        distributed_scan(df3, ["k"], ["v"], prior_sum_of="v")


def test_distributed_scan_accepts_column_sort_expressions(spark):
    """ADVICE r10: callers pass Column sort expressions (e.g. .desc());
    the operator must order — and range-partition — by them exactly as
    the bare window would."""
    from pyspark.sql.window import Window

    from comperhensive_bigdata_analysis__spark.operators.skew import (
        distributed_scan,
    )

    rows = [(i % 3, float(i), i) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v double, id long")
    order = [F.col("v").desc(), F.col("id").desc()]
    got = (
        distributed_scan(df, ["k"], order, rank_col="r")
        .orderBy("k", "r")
        .collect()
    )
    w = Window.partitionBy("k").orderBy(*order)
    want = (
        df.withColumn("r", F.row_number().over(w)).orderBy("k", "r").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_plan_cache_registry_releases_census_persists(spark, sf_dir):
    """VERDICT r10 'What's wrong #1': census persists are session-scoped
    by design (warm reuse within a phase) and released in one call at
    phase boundaries. The registry must (a) capture the persist, (b)
    leave the frame cached after the consuming action, (c) drop it on
    release_plan_caches()."""
    from comperhensive_bigdata_analysis__spark import plans
    from comperhensive_bigdata_analysis__spark.cache import (
        _PLAN_CACHES,
        release_plan_caches,
    )

    release_plan_caches()  # clean slate
    assert not _PLAN_CACHES
    plans.QUERIES["exact_substr_spans"](spark, sf_dir).collect()
    assert _PLAN_CACHES, "census plan did not register its persist"
    cached = list(_PLAN_CACHES)
    assert any(df.storageLevel.useMemory for df in cached)
    n = release_plan_caches()
    assert n == len(cached)
    assert not _PLAN_CACHES
    assert all(not df.storageLevel.useMemory for df in cached)


def test_run_phase_releases_caches_at_the_boundary(spark, sf_dir):
    """VERDICT r11 ask #5: the pipeline runner is the lifecycle
    contract's exercised call site — a phase mixing a cache-registering
    census plan with a plain plan must (a) produce every plan's rows,
    (b) leave ZERO registered handles behind, (c) report the release
    count, and (d) release even when a plan raises mid-phase."""
    from comperhensive_bigdata_analysis__spark.cache import (
        _PLAN_CACHES,
        release_plan_caches,
    )
    from comperhensive_bigdata_analysis__spark.plans.pipeline import run_phase

    release_plan_caches()  # clean slate
    results, released = run_phase(
        spark, sf_dir, ["exact_substr_spans", "corpus_clean_pipeline"]
    )
    assert set(results) == {"exact_substr_spans", "corpus_clean_pipeline"}
    assert results["corpus_clean_pipeline"]  # the phase really ran
    assert released >= 1, "census persist was not registered/released"
    assert not _PLAN_CACHES

    # a raising plan must still hit the boundary release
    import pytest as _pytest

    with _pytest.raises(KeyError):
        run_phase(spark, sf_dir, ["exact_substr_spans", "no_such_plan"])
    assert not _PLAN_CACHES
