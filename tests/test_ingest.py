"""Ingestion property tests (SURVEY §5.2 #3): round-trip preservation,
sanitizer idempotence, all-NULL column drop, eager timestamp coercion,
and the exact ±2**30 int-width rule of the reference
(helper_utils.py:27-36, 88-95, 105-110)."""

from __future__ import annotations

import csv
import os
import uuid

import pytest

from comperhensive_bigdata_analysis__spark.sources.ingest import (
    INT_WIDTH_BOUND,
    ingest_csv,
    ingest_folder,
    preprocess,
    sanitize_columns,
    sanitize_name,
    table_name_for,
)


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvs")
    rows = [
        # headers with spaces/hyphens/specials; all-null col; date col;
        # small and large ints (around +/-2**30); headers that sanitize
        # onto a suffixed name ("a-b" -> "a_b" -> "a_b_1" is taken)
        ["NUTS level", "Code-2021", "all null!", "commissioning date",
         "small_int", "big int", "capacity (MW)", "a_b_1", "a b", "a-b"],
        ["1", "DE1", "", "2011-12-16", "123", str(2**30 + 5), "1.5", "x", "y", "z"],
        ["2", "DE21", "", "2015-01-02", "-456", str(-(2**31) + 7), "2.75", "x", "y", "z"],
        ["3", "DE212", "", "1999-07-31", "789", "42", "0.25", "x", "y", "z"],
    ]
    p = d / "Power Plants-DE.csv"
    with open(p, "w", newline="") as f:
        csv.writer(f).writerows(rows)
    return str(d)


def test_sanitize_name_semantics():
    assert sanitize_name("NUTS level") == "NUTS_level"
    assert sanitize_name("capacity (MW)") == "capacity_MW_"
    assert sanitize_name("a--b  c") == "a_b_c"
    # idempotence
    for s in ("NUTS level", "a!!b", "x__y", "ok_name"):
        assert sanitize_name(sanitize_name(s)) == sanitize_name(s)


def test_table_name_for():
    assert table_name_for("/data/Power Plants-DE.csv") == "power_plants_de"


def test_ingest_semantics(spark, csv_dir):
    df = ingest_csv(spark, os.path.join(csv_dir, "Power Plants-DE.csv"))
    cols = dict(df.dtypes)
    # all-NULL column dropped (helper_utils.py:88-90)
    assert not any("null" in c for c in cols)
    # names sanitized, collisions suffixed with a name not yet taken
    assert "NUTS_level" in cols and "Code_2021" in cols and "capacity_MW_" in cols
    assert df.columns[-3:] == ["a_b_1", "a_b", "a_b_2"]
    # string date column coerced to timestamp (helper_utils.py:91-95)
    assert cols["commissioning_date"] == "timestamp"
    # +/-2**30 widening rule (helper_utils.py:105-110)
    assert cols["small_int"] == "int"
    assert cols["big_int"] == "bigint"
    # row count preserved
    assert df.count() == 3
    # registered in catalog
    assert spark.catalog.tableExists("power_plants_de")
    got = spark.sql(
        "SELECT Code_2021 FROM power_plants_de WHERE NUTS_level = 2"
    ).first()[0]
    assert got == "DE21"


def test_int_bound_is_exactly_2_pow_30(spark):
    df = spark.createDataFrame(
        [(INT_WIDTH_BOUND - 1, INT_WIDTH_BOUND, -INT_WIDTH_BOUND + 1, -INT_WIDTH_BOUND)],
        "at_bound long, over long, at_neg_bound long, under long",
    )
    out = dict(preprocess(df).dtypes)
    assert out["at_bound"] == "int"  # strictly inside (-2**30, 2**30)
    assert out["over"] == "bigint"  # max == 2**30 -> NOT narrowed
    assert out["at_neg_bound"] == "int"
    assert out["under"] == "bigint"  # min == -2**30 -> NOT narrowed


def test_preprocess_applies_every_rule_in_one_frame(spark):
    """All-NULL drop, timestamp coercion, date -> timestamp and the
    int-width rule, each on its own column of one frame."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (None, "2011-12-16", dt.date(2020, 1, 2), 7, INT_WIDTH_BOUND + 5, "x"),
            (None, "2012-01-01 10:00:00", dt.date(2021, 3, 4), -7, -3, "y"),
        ],
        "nulls bigint, ts string, d date, small bigint, big int, s string",
    )
    out = preprocess(df)
    assert out.dtypes == [
        ("ts", "timestamp"),
        ("d", "timestamp"),
        ("small", "int"),
        ("big", "bigint"),
        ("s", "string"),
    ]
    rows = out.orderBy("small").selectExpr(
        *[f"CAST({c} AS STRING)" for c in out.columns]
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("2012-01-01 10:00:00", "2021-03-04 00:00:00", "-7", "-3", "y"),
        ("2011-12-16 00:00:00", "2020-01-02 00:00:00", "7", str(INT_WIDTH_BOUND + 5), "x"),
    ]


def test_preprocess_keeps_non_datetime_strings(spark):
    df = spark.createDataFrame(
        [("DE1", "2011-12-16"), ("not a date", "2012-01-01")], "a string, b string"
    )
    out = dict(preprocess(df).dtypes)
    assert out == {"a": "string", "b": "timestamp"}


def test_folder_ingest_registry(spark, csv_dir, tmp_path):
    reg = ingest_folder(spark, csv_dir, parquet_dir=str(tmp_path / "pq"))
    assert "power_plants_de" in reg
    names = [c for c, _ in reg["power_plants_de"]]
    assert "commissioning_date" in names
    # parquet round-trip happened
    assert os.path.isdir(str(tmp_path / "pq" / "power_plants_de"))


def test_union_evolving_aligns_drifted_schemas(spark):
    from comperhensive_bigdata_analysis__spark.sources.ingest import union_evolving

    v1 = spark.createDataFrame([(1, "a")], "id: int, name: string")
    v2 = spark.createDataFrame([(2, "b", 9.5)], "id: int, name: string, score: double")
    v3 = spark.createDataFrame([(3, 7.5)], "id: bigint, score: double")  # name dropped
    out = union_evolving([v1, v2, v3]).orderBy("id")
    assert out.columns == ["id", "name", "score"]  # first frame order + appends
    assert dict(out.dtypes)["id"] == "bigint"  # int widened by v3
    rows = [tuple(r) for r in out.collect()]
    assert rows == [(1, "a", None), (2, "b", 9.5), (3, None, 7.5)]


def test_union_evolving_rejects_incompatible_drift(spark):
    import pytest as _pytest

    from comperhensive_bigdata_analysis__spark.sources.ingest import union_evolving

    a = spark.createDataFrame([(1,)], "x: int")
    b = spark.createDataFrame([(["nope"],)], "x: array<string>")
    with _pytest.raises(Exception):
        union_evolving([a, b]).collect()


def test_format_roundtrips(spark, tmp_path):
    """orders survives parquet/json/orc/csv round-trips value-intact
    (csv via explicit schema — inference would re-derive types)."""
    import pytest as _pytest

    from comperhensive_bigdata_analysis__spark.sources.formats import (
        read_table,
        write_table,
    )
    from comperhensive_bigdata_analysis__spark.sources.tables import load_table

    # deterministic subset — an unordered limit() re-executes differently
    # per job, so the written rows could differ from the collected ones
    src = load_table(spark, "/root/testdata/sf0.001", "orders").filter(
        "o_orderkey < 200"
    )
    key = lambda rows: sorted(map(str, rows))  # noqa: E731 — null-safe sort
    want = key(tuple(r) for r in src.collect())
    for fmt in ("parquet", "json", "orc", "csv"):
        p = str(tmp_path / f"rt_{fmt}")
        write_table(src, p, fmt)
        back = read_table(spark, p, fmt, schema=src.schema)
        assert key(tuple(r) for r in back.collect()) == want, fmt
    with _pytest.raises(ValueError):
        write_table(src, str(tmp_path / "x"), "avro")


def test_csv_roundtrip_text_lossless(spark, tmp_path):
    """CSV round-trips hostile text BYTE-VERBATIM (r13 torture-corpus
    findings, each a silent default-lossy case in stock Spark CSV):
    embedded newlines misparse without multiLine; the WRITER Java-trims
    leading/trailing chars <= U+0020 (spaces, tabs, \\x01 control
    bytes) unless told not to; NULL and '' conflate without the \\N
    sentinel; \\r and quotes must survive quoting."""
    from comperhensive_bigdata_analysis__spark.sources.formats import (
        read_table,
        write_table,
    )

    rows = [
        (1, "line\nbreak\ttab\rcarriage end"),
        (2, "   leading spaces"),
        (3, "trailing spaces   "),
        (4, " "),
        (5, "\t\n  \t"),
        (6, ""),
        (7, None),
        (8, 'quote"inside and, comma'),
        (9, "\x01control\x02chars\x03 here"),
    ]
    src = spark.createDataFrame(rows, "doc_id: long, text: string")
    p = str(tmp_path / "lossless_csv")
    write_table(src, p, "csv")
    back = read_table(spark, p, "csv", schema=src.schema)
    got = {r.doc_id: r.text for r in back.collect()}
    want = dict(rows)
    assert got == want, {
        k: (want[k], got.get(k)) for k in want if got.get(k) != want[k]
    }

    # Documented seam, same as Hive text tables: a LITERAL \N in the
    # data is indistinguishable from NULL (quoting doesn't help —
    # Spark's writer escape turns both into the same bytes). Pinned so
    # a Spark upgrade that starts disambiguating breaks this and the
    # seam note gets removed.
    lit = spark.createDataFrame([(1, "\\N")], "doc_id: long, text: string")
    p2 = str(tmp_path / "sentinel_csv")
    write_table(lit, p2, "csv")
    assert read_table(spark, p2, "csv", schema=lit.schema).collect()[0].text is None


def test_audited_ingest_quarantines_malformed_rows(spark, tmp_path):
    """PERMISSIVE + corrupt-record capture: clean rows parse under the
    declared schema, malformed rows come back verbatim for replay."""
    from comperhensive_bigdata_analysis__spark.sources.ingest import (
        ingest_csv_audited,
    )

    p = tmp_path / "dirty.csv"
    p.write_text(
        "id,amount,when\n"
        "1,10.5,2024-01-01T00:00:00\n"
        "2,not_a_number,2024-01-02T00:00:00\n"
        "3,30.25,2024-01-03T00:00:00\n"
        "4,40.0,never\n"
    )
    clean, rejects = ingest_csv_audited(
        spark, str(p), "id INT, amount DOUBLE, when TIMESTAMP", table="dirty"
    )
    assert clean.count() == 2
    assert [r["id"] for r in clean.orderBy("id").collect()] == [1, 3]
    bad = sorted(r["raw_line"] for r in rejects.collect())
    assert len(bad) == 2
    assert any("not_a_number" in b for b in bad)
    assert any("never" in b for b in bad)
    # registered and queryable
    assert spark.table("dirty").count() == 2


def test_ingest_csv_audited_cache_is_released(spark, tmp_path):
    """The scan cache shared by the clean and reject sides is a
    registered plan cache: release_plan_caches() leaves the
    CacheManager empty."""
    from comperhensive_bigdata_analysis__spark.cache import release_plan_caches
    from comperhensive_bigdata_analysis__spark.sources.ingest import (
        ingest_csv_audited,
    )

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    release_plan_caches()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()

    p = tmp_path / "audited.csv"
    p.write_text("id,amount\n1,10.5\n2,oops\n3,30.25\n")
    clean, rejects = ingest_csv_audited(
        spark, str(p), "id INT, amount DOUBLE", table="audited"
    )
    assert clean.count() == 2
    assert rejects.count() == 1
    assert not cache_manager.isEmpty()

    release_plan_caches()
    assert cache_manager.isEmpty()


_Q6 = """select technology, sum(electrical_capacity) electrical_capacity_sum
from {table}
group by technology
order by electrical_capacity_sum desc"""


def _plants_csv(path, n=2000):
    techs = ["Photovoltaics", "Onshore", "Offshore", "Biomass and biogas"]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["technology", "electrical capacity", "commissioning date"])
        for i in range(n):
            w.writerow(
                [techs[i % 4], f"{i * 37 % 1009 / 8:.3f}", f"20{10 + i % 10}-01-{1 + i % 28:02d}"]
            )
    return str(path)


def _run_counting_jobs(spark, df):
    """(rows, number of Spark jobs the collect ran), counted through a
    job group of its own."""
    sc = spark.sparkContext
    group = f"cba-job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _ingest_counting_jobs(spark, path, parquet_dir):
    sc = spark.sparkContext
    group = f"cba-job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        df = ingest_csv(spark, path, parquet_dir=parquet_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_int_width_rule_adds_no_ingest_job(spark, tmp_path):
    """The int-width rule reads the same profile aggregate as the
    all-NULL and timestamp rules: ingesting a table with integral
    columns runs as many Spark jobs as the same table with those
    columns fractional."""
    counts = {}
    for kind, fmt in (("ints", "{}"), ("fracs", "{}.5")):
        p = tmp_path / f"{kind}.csv"
        with open(p, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["code", "n", "big", "when"])
            for i in range(50):
                w.writerow([f"c{i}", fmt.format(i), fmt.format(2**31 + i), "2020-01-02"])
        df, counts[kind] = _ingest_counting_jobs(
            spark, str(p), str(tmp_path / f"pq_{kind}")
        )
        types = dict(df.dtypes)
        assert types["when"] == "timestamp"
        if kind == "ints":
            assert (types["n"], types["big"]) == ("int", "bigint")
        else:
            assert (types["n"], types["big"]) == ("double", "double")
    assert counts["ints"] == counts["fracs"], counts


def test_small_ingested_table_runs_a_query_as_one_job(spark, tmp_path):
    """A table under spark.sql.files.openCostInBytes registers as one
    partition, so GROUP BY + ORDER BY plan no exchange: one job."""
    from comperhensive_bigdata_analysis__spark.query import Engine

    eng = Engine(spark)
    df = eng.ingest(
        _plants_csv(tmp_path / "plants.csv"), table="small_plants",
        parquet_dir=str(tmp_path / "pq"),
    )
    assert df.rdd.getNumPartitions() == 1
    rows, jobs = _run_counting_jobs(spark, eng.sql(_Q6.format(table="small_plants")))
    assert jobs == 1
    sums = [r["electrical_capacity_sum"] for r in rows]
    assert len(rows) == 4 and sums == sorted(sums, reverse=True)


def test_table_over_open_cost_keeps_parallel_scan(spark, tmp_path):
    """The same table with openCostInBytes lowered below its size keeps
    its multi-partition scan, and the query its exchange."""
    from comperhensive_bigdata_analysis__spark.query import Engine

    key = "spark.sql.files.openCostInBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        eng = Engine(spark)
        df = eng.ingest(
            _plants_csv(tmp_path / "plants.csv"), table="big_plants",
            parquet_dir=str(tmp_path / "pq"),
        )
        assert "Coalesce" not in df._jdf.queryExecution().optimizedPlan().toString()
        assert spark.table("big_plants").rdd.getNumPartitions() > 1
        rows, jobs = _run_counting_jobs(spark, eng.sql(_Q6.format(table="big_plants")))
    finally:
        spark.conf.set(key, before)
    assert jobs > 1
    assert len(rows) == 4


def test_register_leaves_non_file_frames_unchanged(spark):
    from comperhensive_bigdata_analysis__spark.session import register

    df = spark.range(8).repartition(3)
    assert register(spark, df, "cba_range_view") is df
    assert spark.table("cba_range_view").rdd.getNumPartitions() == 3
    spark.catalog.dropTempView("cba_range_view")
