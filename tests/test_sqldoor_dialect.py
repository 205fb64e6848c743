"""Pins the front door's Presto NULL-ordering rewrite (SURVEY §7.4):
translate() must append NULLS LAST to unqualified items of the FINAL
top-level ORDER BY only — never inside OVER() windows or subqueries —
and the executed semantics must match DuckDB's Presto-equivalent
default (nulls_last) when a LIMIT makes NULL placement row-selective.
"""

from __future__ import annotations

import re

from comperhensive_bigdata_analysis__spark.query import Engine, translate


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def test_appends_nulls_last_to_each_item():
    out = translate("SELECT a, b FROM t ORDER BY a DESC, b LIMIT 5")
    assert _norm(out) == _norm(
        "SELECT a, b FROM t ORDER BY a DESC NULLS LAST, b NULLS LAST LIMIT 5"
    )


def test_respects_explicit_qualifier():
    out = translate("SELECT a FROM t ORDER BY a NULLS FIRST, b DESC")
    assert _norm(out) == _norm(
        "SELECT a FROM t ORDER BY a NULLS FIRST, b DESC NULLS LAST"
    )


def test_ignores_window_and_subquery_order_by():
    q = """
    SELECT a, row_number() OVER (PARTITION BY g ORDER BY ts DESC) rn
    FROM (SELECT * FROM t ORDER BY x LIMIT 10)
    ORDER BY a
    """
    out = translate(q)
    # window + subquery ORDER BYs untouched, final one rewritten
    assert "ORDER BY ts DESC)" in out
    assert "ORDER BY x LIMIT 10)" in out
    assert _norm(out).endswith("ORDER BY a NULLS LAST")


def test_no_order_by_is_identity():
    q = "SELECT count(*) FROM t GROUP BY a"
    assert translate(q) == q


def test_function_args_with_commas_stay_one_item():
    out = translate("SELECT a FROM t ORDER BY coalesce(a, b), c")
    assert _norm(out) == _norm(
        "SELECT a FROM t ORDER BY coalesce(a, b) NULLS LAST, c NULLS LAST"
    )


def test_null_rows_fall_out_of_limit(spark, sf_dir):
    """End to end: with NULLs in the key and Presto semantics, the top-k
    excludes NULL rows; Spark's native default would return only them."""
    from comperhensive_bigdata_analysis__spark.plans.sqldoor import (
        sql_null_order_limit,
    )

    rows = sql_null_order_limit(spark, sf_dir).collect()
    assert len(rows) == 50
    assert all(r["seg"] is not None for r in rows)
    assert [r["seg"] for r in rows] == sorted(r["seg"] for r in rows)


# -- Presto function-compat layer (query.register_presto_compat) -----------


def test_presto_scalar_functions(spark):
    from comperhensive_bigdata_analysis__spark.query import Engine

    e = Engine(spark)
    cases = {
        "SELECT strpos('hello', 'll') AS v": 3,
        "SELECT strpos('hello', 'zz') AS v": 0,
        "SELECT json_extract_scalar('{\"k\": 5}', '$.k') AS v": "5",
        "SELECT to_unixtime(TIMESTAMP'1970-01-01 00:00:01.5') AS v": 1.5,
        "SELECT day_of_week(DATE'2024-01-01') AS v": 1,  # Monday (ISO)
        "SELECT day_of_week(DATE'2024-01-07') AS v": 7,  # Sunday (ISO)
        "SELECT truncate(1.567) AS v": 1.0,
        "SELECT truncate(-1.567) AS v": -1.0,  # toward zero, not floor
        "SELECT week_of_year(DATE'2020-01-10') AS v": 2,
    }
    for q, want in cases.items():
        assert e.sql(q).collect()[0]["v"] == want, q


def test_presto_rewrites_aggregates_and_datediff(spark):
    from comperhensive_bigdata_analysis__spark.query import Engine, translate

    e = Engine(spark)
    # aggregate spellings
    assert (
        e.sql(
            "SELECT approx_distinct(x) AS v FROM (SELECT 1 AS x UNION ALL SELECT 2)"
        ).collect()[0]["v"]
        == 2
    )
    assert e.sql("SELECT arbitrary(x) AS v FROM (SELECT 5 AS x)").collect()[0]["v"] == 5
    # Presto 3-arg date_diff rewrites; Spark's own 2-arg passes through
    assert (
        e.sql(
            "SELECT date_diff('day', DATE'2020-01-01', DATE'2020-02-01') AS v"
        ).collect()[0]["v"]
        == 31
    )
    assert (
        e.sql(
            "SELECT date_diff(DATE'2020-02-01', DATE'2020-01-01') AS v"
        ).collect()[0]["v"]
        == 31
    )
    assert (
        str(
            e.sql(
                "SELECT date_add('hour', 3, TIMESTAMP'2020-01-01 00:00:00') AS v"
            ).collect()[0]["v"]
        )
        == "2020-01-01 03:00:00"
    )
    # the rewrite is spelling-targeted: translate leaves Spark names alone
    assert "approx_count_distinct(x)" in translate("SELECT approx_count_distinct(x)")
    assert "timestampdiff(DAY," in translate("SELECT date_diff('day', a, b)")


def test_translate_idempotent_and_literal_safe():
    from comperhensive_bigdata_analysis__spark.query import translate

    cases = [
        "SELECT a FROM t ORDER BY a;",
        "SELECT a FROM t ORDER BY a DESC LIMIT 5",
        "SELECT a, b FROM t ORDER BY a DESC, b",
        "SELECT concat(a, ')') FROM t ORDER BY 1",
        "SELECT a FROM t WHERE x = 'it''s' ORDER BY a",
        "SELECT a FROM (SELECT a FROM t ORDER BY a) q",
        "SELECT a FROM t WHERE b = 'order by oops'",
        "SELECT date_diff('day', x, y) AS d FROM t ORDER BY d",
    ]
    for q in cases:
        once = translate(q)
        assert translate(once) == once, q  # idempotent
    # string literals never trigger the ORDER BY splice
    assert translate("SELECT a FROM t WHERE b = 'order by oops'") == (
        "SELECT a FROM t WHERE b = 'order by oops'"
    )
    # trailing semicolon never lands after the splice
    assert translate("SELECT a FROM t ORDER BY a;").endswith("NULLS LAST")


def test_token_rewrites_skip_string_literals():
    """Presto spellings INSIDE string literals survive verbatim — the
    rewrites are guarded by literal positions, not run on raw text
    (ADVICE r3/r4). Spellings outside the literal in the same statement
    still rewrite."""
    q = (
        "SELECT approx_distinct(x), 'use approx_distinct(x) here' AS note"
        " FROM t"
    )
    out = translate(q)
    assert out.startswith("SELECT approx_count_distinct(x)")
    assert "'use approx_distinct(x) here'" in out
    # date_diff with the literal-unit first arg still rewrites (the
    # unit literal is an ARGUMENT — only matches STARTING inside a
    # literal are skipped)
    assert "timestampdiff(DAY," in translate(
        "SELECT date_diff('day', a, b) FROM t"
    )
    q_lit = "SELECT 'keep date_diff(''day'', a, b) text' FROM t"
    assert translate(q_lit) == q_lit
    # arbitrary() inside a literal is kept, outside is rewritten
    q2 = "SELECT arbitrary(v), 'arbitrary(v)' FROM t"
    out2 = translate(q2)
    assert out2.startswith("SELECT any_value(v)")
    assert "'arbitrary(v)'" in out2


def test_double_quoted_identifiers_masked():
    """A quoted identifier like "order by" (a legal ANSI column name)
    must not trigger the NULLS LAST splice or token rewrites
    (VERDICT r3 ask #7)."""
    q = 'SELECT "order by" FROM t'
    assert translate(q) == q
    q2 = 'SELECT "approx_distinct(" FROM t'
    assert translate(q2) == q2
    # and a real ORDER BY after a quoted identifier still splices
    out = translate('SELECT "order by" AS c FROM t ORDER BY c')
    assert out.endswith("NULLS LAST")


def test_presto_url_functions(spark):
    """url_extract_host/path/protocol/parameter map to parse_url."""
    from comperhensive_bigdata_analysis__spark.query import register_presto_compat

    register_presto_compat(spark)
    row = spark.sql(
        """
        SELECT url_extract_host(u) h,
               url_extract_path(u) p,
               url_extract_protocol(u) pr,
               url_extract_parameter(u, 'q') qv,
               url_extract_parameter(u, 'missing') miss
        FROM (SELECT 'https://api.example.com/v1/items?q=7&x=1' AS u)
        """
    ).first()
    assert row["h"] == "api.example.com"
    assert row["p"] == "/v1/items"
    assert row["pr"] == "https"
    assert row["qv"] == "7"
    assert row["miss"] is None


def test_unnest_rewrite():
    """CROSS JOIN UNNEST(arr) AS t(c) becomes LATERAL VIEW explode;
    literals are respected, unsupported forms raise the capability
    error, and the rewrite is idempotent."""
    import pytest

    out = translate(
        "SELECT t.w FROM docs CROSS JOIN UNNEST(split(text, ' ')) AS t(w)"
    )
    assert "LATERAL VIEW explode(split(text, ' ')) t AS w" in out
    assert "UNNEST" not in out
    # nested parens in the array expression survive the balanced scan
    out2 = translate(
        "SELECT x FROM d CROSS JOIN UNNEST(slice(arr, 1, size(arr))) AS u(x)"
    )
    assert "explode(slice(arr, 1, size(arr))) u AS x" in out2
    # inside a string literal: untouched
    q_lit = "SELECT a FROM t WHERE b = 'CROSS JOIN UNNEST(x) AS z(y)'"
    assert translate(q_lit) == q_lit
    # idempotent
    once = translate(
        "SELECT t.w FROM d CROSS JOIN UNNEST(a) AS t(w) ORDER BY w"
    )
    assert translate(once) == once
    # bare UNNEST (no alias) still raises — Spark needs the column names
    with pytest.raises(NotImplementedError):
        translate("SELECT * FROM t CROSS JOIN UNNEST(a)")
    # single-arg two-column alias on a BARE COLUMN is ambiguous
    # (map or array-of-row) — raises with the workaround spelled out
    with pytest.raises(NotImplementedError):
        translate("SELECT * FROM t CROSS JOIN UNNEST(a) AS u(k, v)")
    # column-count / arity mismatch is a loud error, not a mis-parse
    with pytest.raises(ValueError):
        translate("SELECT * FROM t CROSS JOIN UNNEST(a, b) AS u(x)")


def test_unnest_with_ordinality_rewrite():
    """WITH ORDINALITY compiles to inline(transform(...)) with a
    1-based BIGINT ordinality column LAST — Presto's column order —
    instead of raising (r5 ask #2)."""
    out = translate(
        "SELECT w, i FROM d CROSS JOIN UNNEST(split(t, ' ')) "
        "WITH ORDINALITY AS u(w, i)"
    )
    assert "UNNEST" not in out
    assert "inline(transform(split(t, ' ')" in out
    assert "CAST(i + 1 AS BIGINT)" in out
    assert "u AS w, i" in out


def test_unnest_zip_rewrite():
    """Multi-array UNNEST(a, b[, c]) compiles to inline(zip_with(...))
    named structs — positional alignment with NULL padding, exactly
    Presto's zip semantics — instead of raising (r5 ask #2)."""
    out2 = translate("SELECT x, y FROM d CROSS JOIN UNNEST(a, b) AS u(x, y)")
    assert "inline(zip_with(a, b, (e0, e1) -> named_struct('x', e0, 'y', e1))) u AS x, y" in out2
    # three arrays fold pairwise
    out3 = translate(
        "SELECT * FROM d CROSS JOIN UNNEST(a, b, c) AS u(x, y, z)"
    )
    assert "zip_with(zip_with(a, b" in out3
    assert "'z', e2" in out3
    # zip + ordinality together
    out4 = translate(
        "SELECT * FROM d CROSS JOIN UNNEST(a, b) WITH ORDINALITY AS u(x, y, i)"
    )
    assert "transform(zip_with(a, b" in out4
    assert "'i', CAST(i + 1 AS BIGINT)" in out4


def test_unnest_typed_argument_disambiguation():
    """The single-argument multi-column UNNEST resolves when the
    argument's outermost function pins the type (r6 ask #7): map-
    returning functions -> `explode(m)` (key, value), array(row)-
    returning ones -> `inline(a)`."""
    import pytest

    # map-returning argument -> explode
    out = translate(
        "SELECT k, v FROM t CROSS JOIN UNNEST(map_concat(m)) AS u(k, v)"
    )
    assert "LATERAL VIEW explode(map_concat(m)) u AS k, v" in out
    out = translate(
        "SELECT k, v FROM t CROSS JOIN UNNEST(map_filter(m, (k, v) -> v > 0)) AS u(k, v)"
    )
    assert "explode(map_filter(m, (k, v) -> v > 0))" in out
    # array(row)-returning argument -> inline (2 and 3 alias columns)
    out = translate(
        "SELECT k, v FROM t CROSS JOIN UNNEST(map_entries(m)) AS u(k, v)"
    )
    assert "LATERAL VIEW inline(map_entries(m)) u AS k, v" in out
    out = translate(
        "SELECT * FROM t CROSS JOIN UNNEST(zip(a, b, c)) AS u(x, y, z)"
    )
    # the later token pass rewrites Presto zip -> arrays_zip
    assert "inline(arrays_zip(a, b, c)) u AS x, y, z" in out
    # a map argument with THREE alias columns is still an arity error
    with pytest.raises(NotImplementedError):
        translate(
            "SELECT * FROM t CROSS JOIN UNNEST(map_concat(m)) AS u(k, v, w)"
        )


def test_unnest_relocates_past_trailing_joins():
    """A join AFTER the UNNEST must not strand the LATERAL VIEW before
    it — Spark's grammar puts lateral views after all join relations
    (ADVICE r5). The view is spliced at the end of the FROM clause,
    before WHERE/GROUP/ORDER or the subquery's closing paren."""
    out = translate(
        "SELECT t.w FROM a CROSS JOIN UNNEST(x) AS t(w) "
        "JOIN b ON a.k = b.k WHERE b.v > 0"
    )
    j = out.index("JOIN b ON a.k = b.k")
    lv = out.index("LATERAL VIEW")
    w = out.index("WHERE")
    assert j < lv < w
    # comma-join after the unnest: view lands after the last relation
    out2 = translate("SELECT * FROM a CROSS JOIN UNNEST(x) AS t(c), b WHERE 1=1")
    assert out2.index(", b") < out2.index("LATERAL VIEW") < out2.index("WHERE")
    # inside a subquery the view stays inside the subquery's parens
    out3 = translate(
        "SELECT * FROM (SELECT c FROM a CROSS JOIN UNNEST(x) AS t(c)) s "
        "JOIN b ON s.c = b.c"
    )
    assert out3.index("LATERAL VIEW") < out3.index(") s")
    # two unnests keep their order (the 2nd may reference the 1st)
    out4 = translate(
        "SELECT * FROM a CROSS JOIN UNNEST(x) AS t1(c1) "
        "CROSS JOIN UNNEST(c1arr) AS t2(c2) WHERE 1=1"
    )
    assert out4.index("explode(x) t1") < out4.index("explode(c1arr) t2")


def test_presto_bitwise_hex_base_functions(spark):
    """The r6 compat batch: bitwise_*, to_hex/from_hex, from_base/
    to_base, e(), index(), and the zip->arrays_zip token rewrite."""
    eng = Engine(spark)
    cases = {
        "SELECT bitwise_and(12, 10) AS v": 8,
        "SELECT bitwise_or(12, 10) AS v": 14,
        "SELECT bitwise_xor(12, 10) AS v": 6,
        "SELECT bitwise_not(0) AS v": -1,
        "SELECT to_hex(CAST('AB' AS BINARY)) AS v": "4142",
        "SELECT CAST(from_hex('4142') AS STRING) AS v": "AB",
        "SELECT from_base('ff', 16) AS v": 255,
        "SELECT to_base(255, 16) AS v": "ff",
        "SELECT index('hello', 'll') AS v": 3,
    }
    for q, want in cases.items():
        assert eng.sql(q).first()["v"] == want, q
    row = eng.sql(
        "SELECT zip(array(1, 2, 3), array('a', 'b')) AS z"
    ).first()["z"]
    assert [tuple(r) for r in row] == [(1, "a"), (2, "b"), (3, None)]


def test_map_agg_and_histogram_rewrite():
    """map_agg / histogram are aggregates whose args splice into
    multiple places — the paren-aware call rewriter compiles them to
    catalyst compositions; literals and nested-call commas survive."""
    import pytest

    out = translate("SELECT r, map_agg(k, v) m FROM t GROUP BY r")
    # expression-level keep-last key dedup: distinct keys from the
    # REVERSED entry list, each paired with its last-seen value, so
    # map_from_entries never sees a duplicate under any session policy
    assert "map_from_entries(transform(array_distinct(transform(" in out
    assert "reverse(collect_list(named_struct('k', k, 'v', v)))" in out
    assert "__mf -> __mf.k <=> __mk)[0].v" in out
    # the entry list is collected ONCE and let-bound (ADVICE r7), so
    # non-deterministic key/value expressions cannot diverge
    assert out.count("collect_list(") == 1
    # nested calls with commas don't split the top-level args
    out2 = translate("SELECT map_agg(concat(a, ','), f(b, c)) FROM t")
    assert "named_struct('k', concat(a, ','), 'v', f(b, c))" in out2
    # histogram collects ONCE, then binds the list for distinct keys +
    # counts (ADVICE r7: no second inlined aggregate copy)
    out3 = translate("SELECT histogram(x) FROM t")
    assert out3.count("collect_list(x)") == 1
    assert "transform(array(collect_list(x)), __hl ->" in out3
    assert "filter(__hl" in out3
    # inside a string literal: untouched
    q_lit = "SELECT 'map_agg(k, v)' FROM t"
    assert translate(q_lit) == q_lit
    # an occurrence inside another site's ARGUMENTS (scalar subquery)
    # still rewrites — the rescan restarts at the rewrite site
    out4 = translate(
        "SELECT map_agg(k, (SELECT cardinality(map_agg(a, b)) FROM u))"
        " FROM t"
    )
    assert "map_agg" not in out4
    with pytest.raises(ValueError):
        translate("SELECT map_agg(k) FROM t")


def test_map_agg_executes_with_presto_semantics(spark):
    """Executed behavior: element_at/cardinality over the rewritten
    map, histogram counts, and Presto's tolerant duplicate-key rule —
    implemented by key-dedup INSIDE the rewritten expression, so the
    session's mapKeyDedupPolicy stays untouched (ADVICE r6: the compat
    layer must not change duplicate-map-key behavior for non-compat
    queries sharing the SparkSession)."""
    eng = Engine(spark)
    assert (
        spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
        == "EXCEPTION"
    )
    eng.register(
        spark.sql(
            "SELECT * FROM VALUES ('a', 1), ('b', 2), ('a', 3) AS t(k, v)"
        ),
        "kv",
    )
    row = eng.sql(
        "SELECT cardinality(map_agg(k, v)) AS n, "
        "element_at(map_agg(k, v), 'b') AS b, "
        "element_at(map_agg(k, v), 'a') AS a, "
        "element_at(histogram(k), 'a') AS ha FROM kv"
    ).first()
    assert row["n"] == 2  # duplicate 'a' collapses, no throw
    assert row["b"] == 2
    assert row["a"] in (1, 3)  # Presto: arbitrary entry kept
    assert row["ha"] == 2


def test_unnest_executes_on_spark(spark):
    """The rewritten forms run end-to-end on Spark with Presto's
    semantics: 1-based ordinality, NULL-padded zip to the longest
    array, qualified and unqualified column references both resolve."""
    eng = Engine(spark)
    eng.register(
        spark.sql(
            "SELECT array('a','b','c') AS xs, array(10, 20) AS ys"
        ),
        "zt",
    )
    rows = eng.sql(
        "SELECT t.x AS x, y, i FROM zt "
        "CROSS JOIN UNNEST(xs, ys) WITH ORDINALITY AS t(x, y, i) "
        "ORDER BY i"
    ).collect()
    assert [(r["x"], r["y"], r["i"]) for r in rows] == [
        ("a", 10, 1), ("b", 20, 2), ("c", None, 3),
    ]
    # trailing join after the unnest parses and resolves
    eng.register(spark.sql("SELECT 'a' AS k, 99 AS v"), "dim")
    got = eng.sql(
        "SELECT t.x AS x, d.v AS v FROM zt "
        "CROSS JOIN UNNEST(xs) AS t(x) "
        "JOIN dim d ON d.k = 'a' WHERE t.x = 'a'"
    ).collect()
    assert [(r["x"], r["v"]) for r in got] == [("a", 99)]


def test_translate_fuzz_never_crashes_and_idempotent():
    """Property: translate() on arbitrary SQL-ish text either returns a
    string (idempotently) or raises the documented capability errors —
    never an unhandled exception, never an infinite loop."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    sql_alphabet = st.sampled_from(
        list("abcXYZ019 ,.()'\";=<>*") + [
            " ORDER BY ", " SELECT ", " UNNEST(", " CROSS JOIN ",
            " AS t(x)", " LIMIT 5", "date_diff('day',", "approx_distinct(",
            "'it''s'", '"order by"', " NULLS FIRST", " map_agg(",
            " histogram(", " WITH ORDINALITY ",
            " TRY(", " date_parse(", "'%Y-%m-%d'", "CAST(x AS INT)",
        ]
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(sql_alphabet, max_size=25).map("".join))
    def check(q):
        try:
            once = translate(q)
        except (NotImplementedError, ValueError):
            return  # documented capability / malformed-input errors
        assert isinstance(once, str)
        try:
            twice = translate(once)
        except (NotImplementedError, ValueError):
            return
        assert twice == once

    check()


def test_try_rewrite_and_execution(spark):
    """Presto TRY() -> Spark try_* twins: translated shape pinned,
    executed NULL-on-error semantics checked, everything else raises
    with the spell-it-directly workaround (like ambiguous UNNEST)."""
    import pytest

    out = translate("SELECT TRY(CAST(x AS INT)) AS v FROM t")
    assert "try_cast(x AS INT)" in out and "TRY(" not in out
    out2 = translate("SELECT try(a / b) AS v FROM t")
    assert "try_divide(a , b)" in out2.replace("/ ", "") or "try_divide(a" in out2
    # names that merely START with try are not call sites
    q_id = "SELECT try_cast(x AS INT) FROM t"
    assert translate(q_id) == q_id
    # inside a string literal: untouched
    q_lit = "SELECT 'TRY(CAST(x AS INT))' FROM t"
    assert translate(q_lit) == q_lit
    with pytest.raises(ValueError):
        translate("SELECT TRY(some_udf(x)) FROM t")

    eng = Engine(spark)
    assert eng.sql("SELECT TRY(CAST('abc' AS INT)) AS v").first()["v"] is None
    assert eng.sql("SELECT TRY(CAST('7' AS INT)) AS v").first()["v"] == 7
    assert eng.sql("SELECT TRY(1 / 0) AS v").first()["v"] is None
    assert eng.sql("SELECT TRY(element_at(array(1), 5)) AS v").first()["v"] is None


def test_date_parse_rewrite_and_execution(spark):
    """Presto date_parse(s, '%...') — MySQL tokens compile to a Spark
    to_timestamp pattern at translate time; bare letters in the format
    become quoted literals; unknown tokens and computed formats raise."""
    import pytest

    out = translate("SELECT date_parse(s, '%Y-%m-%d %H:%i:%s') FROM t")
    assert "to_timestamp(s, 'yyyy-MM-dd HH:mm:ss')" in out
    out2 = translate("SELECT date_parse(s, '%Y-%m-%dT%H:%i:%s') FROM t")
    assert "to_timestamp(s, 'yyyy-MM-dd''T''HH:mm:ss')" in out2
    with pytest.raises(ValueError):
        translate("SELECT date_parse(s, '%Q') FROM t")
    with pytest.raises(ValueError):
        translate("SELECT date_parse(s, fmt_col) FROM t")

    eng = Engine(spark)
    got = eng.sql(
        "SELECT date_parse('2024-03-05T07:08:09', '%Y-%m-%dT%H:%i:%s') AS v"
    ).first()["v"]
    assert got.isoformat() == "2024-03-05T07:08:09"
    got2 = eng.sql(
        "SELECT format_datetime(TIMESTAMP '2024-03-05 07:08:09', 'yyyy/MM/dd HH:mm') AS v"
    ).first()["v"]
    assert got2 == "2024/03/05 07:08"


def test_try_division_only_when_sole_operator():
    """TRY(a / b / c) and TRY(a / b + c) must NOT split at a slash —
    the rewrite would break left-associativity/precedence — they raise
    with the workaround instead."""
    import pytest

    for q in (
        "SELECT TRY(a / b / c) FROM t",
        "SELECT TRY(a / b + c) FROM t",
        "SELECT TRY(a * b / c) FROM t",
    ):
        with pytest.raises(ValueError):
            translate(q)
    # nested parens keep inner operators out of the top-level scan
    out = translate("SELECT TRY((a + b) / nullif(c, 0)) FROM t")
    assert "try_divide((a + b) ,  nullif(c, 0))" in out.replace("  ", " ") or "try_divide(" in out


def test_recursive_cte_passes_through(spark):
    """Spark 4 executes WITH RECURSIVE natively — the front door must
    pass it through untouched (translate only splices NULLS LAST into
    the FINAL order by). Pinned because the dup-cluster oracles speak
    WITH RECURSIVE in DuckDB, and a Presto/Trino analyst migrating a
    recursive query should hit Spark's native support, not a rewrite."""
    eng = Engine(spark)
    rows = eng.sql(
        """
        WITH RECURSIVE walk(n) AS (
          SELECT 1
          UNION ALL
          SELECT n + 1 FROM walk WHERE n < 6
        )
        SELECT n FROM walk ORDER BY n DESC LIMIT 3
        """
    ).collect()
    assert [r["n"] for r in rows] == [6, 5, 4]
    out = translate("WITH RECURSIVE r(n) AS (SELECT 1) SELECT n FROM r")
    assert "WITH RECURSIVE" in out


def test_try_rejects_partially_protected_expressions():
    """Review fix: a try_* twin must span the WHOLE argument —
    TRY(CAST(a AS INT) / b) would otherwise leave the division
    unprotected under ANSI mode and silently change error semantics."""
    import pytest

    for q in (
        "SELECT TRY(CAST(a AS INT) / b) FROM t",
        "SELECT TRY(element_at(m, k) + element_at(m, k2)) FROM t",
        "SELECT TRY(a / b > 0) FROM t",          # comparison operator
        "SELECT TRY(x / y || '%') FROM t",       # concat operator
        "SELECT TRY(a / b AND c) FROM t",        # word operator
    ):
        with pytest.raises(ValueError):
            translate(q)


def test_format_datetime_compiles_joda(spark):
    """Review fix: format_datetime VALIDATES its Joda pattern. Joda
    'YYYY' is year-of-era and must compile to java.time 'yyyy' (Spark's
    'YYYY' is week-based-year — off by one around new year); letters
    with no exact twin raise; computed formats raise."""
    import pytest

    out = translate("SELECT format_datetime(t, 'YYYY-MM-dd') FROM x")
    assert "date_format(t, 'yyyy-MM-dd')" in out
    with pytest.raises(ValueError):
        translate("SELECT format_datetime(t, 'xxxx-ww') FROM x")
    with pytest.raises(ValueError):
        translate("SELECT format_datetime(t, fmt_col) FROM x")

    eng = Engine(spark)
    # 2024-12-30 is in week-based-year 2025: the compile must give 2024
    got = eng.sql(
        "SELECT format_datetime(TIMESTAMP '2024-12-30 00:00:00', 'YYYY-MM-dd') AS v"
    ).first()["v"]
    assert got == "2024-12-30"


def test_date_parse_century_and_reserved_literals(spark):
    """Review fixes: %y raises (MySQL pivots 70-99 into 19xx, Spark's
    'yy' resolves into 2000-2099 — a silent century shift); java.time
    reserved '#' in a format is quoted into a literal and parses."""
    import pytest

    with pytest.raises(ValueError):
        translate("SELECT date_parse(s, '%y-%m-%d') FROM t")
    out = translate("SELECT date_parse(s, '%Y#%m') FROM t")
    assert "to_timestamp(s, 'yyyy''#''MM')" in out
    eng = Engine(spark)
    got = eng.sql("SELECT date_parse('2024#03', '%Y#%m') AS v").first()["v"]
    assert got.isoformat().startswith("2024-03-01")


def test_tablesample_bernoulli_translates_system_raises(spark, sf_dir):
    """Presto TABLESAMPLE BERNOULLI(p) -> Spark TABLESAMPLE (p PERCENT)
    (both row-level Bernoulli); SYSTEM (block sampling) raises; the
    spelling inside a string literal survives."""
    import pytest

    out = translate("SELECT * FROM t TABLESAMPLE BERNOULLI (10)")
    assert "TABLESAMPLE (10 PERCENT)" in out and "BERNOULLI" not in out
    with pytest.raises(ValueError):
        translate("SELECT * FROM t TABLESAMPLE SYSTEM (10)")
    q_lit = "SELECT 'TABLESAMPLE BERNOULLI (10)' FROM t"
    assert translate(q_lit) == q_lit

    eng = Engine(spark)
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "__ts_orders"
    )
    total = spark.table("__ts_orders").count()
    n = eng.sql(
        "SELECT COUNT(*) AS n FROM __ts_orders TABLESAMPLE BERNOULLI (20)"
    ).first()["n"]
    assert 0 < n < total  # sampled somewhere strictly between


def test_lateral_subquery_passes_through(spark):
    """Spark 4 executes LATERAL correlated subqueries natively — the
    front door passes the Presto CROSS JOIN LATERAL form through.
    (Spark requires the subquery alias AFTER the closing paren, same as
    Presto's `AS l (b)` spelling works column-aliased: `... ) l`.)"""
    eng = Engine(spark)
    rows = eng.sql(
        """
        SELECT t.a, l.b
        FROM VALUES (1), (2) AS t(a)
        CROSS JOIN LATERAL (SELECT t.a * 10 AS b) l
        ORDER BY t.a
        """
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, 10), (2, 20)]


def test_tablesample_non_numeric_rates_raise_with_guidance():
    """Review fix: SYSTEM and non-literal BERNOULLI rates must hit the
    curated ValueError for EVERY spelling, not fall through to Spark's
    opaque parse failure."""
    import pytest

    for q in (
        "SELECT * FROM t TABLESAMPLE SYSTEM (1e1)",
        "SELECT * FROM t TABLESAMPLE BERNOULLI (1e1)",
        "SELECT * FROM t TABLESAMPLE BERNOULLI (rate_col)",
        "SELECT * FROM t TABLESAMPLE SYSTEM (10)",
    ):
        with pytest.raises(ValueError):
            translate(q)


def test_unterminated_quote_is_rejected():
    """An unclosed literal or identifier raises instead of masking the
    rest of the text; the backslash escape is not Presto's, so
    'it\\'s' leaves a quote open too."""
    import pytest

    for q in (
        "SELECT a FROM t WHERE b = 'abc",
        'SELECT "col FROM t',
        "SELECT a FROM t WHERE b = 'it\\'s' ORDER BY a",
        "SELECT 'x''",
    ):
        with pytest.raises(ValueError, match="unterminated quote"):
            translate(q)
    assert translate("SELECT a FROM t WHERE b = 'it''s'") == (
        "SELECT a FROM t WHERE b = 'it''s'"
    )
