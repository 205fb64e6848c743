"""The engine's query front door — the capability the reference exposed
through `PrestoConnector.execute_db_query` (ipynb:36-41): hand it SQL,
get a result frame; plus the catalog/ingest verbs around it.

Dialect notes (SURVEY §4.2): every Presto-ism the reference uses is
natively accepted by Spark SQL —
- `date('1990-01-01')` / `date(col)`: Spark's `date()` cast-function,
- ordinal `ORDER BY 2`: `spark.sql.orderByOrdinal` (on by default,
  pinned in session.RUNTIME_CONFS),
- implicit column alias without AS (`sum(x) total`): accepted.

One semantic divergence needs an actual rewrite (SURVEY §7.4): NULL
ordering. Presto sorts NULLs LAST by default regardless of direction;
Spark treats NULL as smallest (ASC -> NULLS FIRST). Harmless for a bare
ORDER BY, but under a LIMIT it changes WHICH rows survive. translate()
therefore appends an explicit NULLS LAST to every item of the final
top-level ORDER BY that doesn't already carry a NULLS qualifier —
giving SQL-text users Presto's semantics on Spark. (Paren-depth-aware
AND string-literal-aware: keyword/paren positions are scanned on a
literal-masked copy of the text, so ORDER BYs inside OVER() windows,
subqueries, or quoted strings are untouched; trailing semicolons are
stripped before the splice. Write explicit NULLS FIRST/LAST to opt
out.) Tests (tests/test_reference_queries.py) replay
the reference's Q0-Q12 verbatim to pin the pass-through behaviors;
tests/test_sqldoor_dialect.py pins the NULL-ordering rewrite.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .session import apply_runtime_confs, register
from .sources.ingest import ingest_csv, ingest_folder

_ORDER_BY_RE = re.compile(r"\border\s+by\b", re.IGNORECASE)
_LIST_END_RE = re.compile(r"\b(limit|offset|fetch)\b", re.IGNORECASE)
_NULLS_RE = re.compile(r"\bnulls\s+(first|last)\b", re.IGNORECASE)


def _mask_literals(q: str) -> str:
    """Blank out the CONTENTS of single-quoted string literals (and the
    '' escape) AND double-quoted identifiers (ANSI/Presto spelling, ""
    escape) with spaces, preserving every character position, so the
    keyword/paren scans below can't be fooled by SQL text inside a
    string or a quoted column name like "order by". Quote characters
    themselves are kept.

    Raises ValueError when a quoted region never closes: the scans
    would otherwise treat the rest of the text as quoted content, and
    rewrites on such garbage are not stable. Dialect contract: this
    front door speaks PRESTO string-literal rules, where a quote inside
    a literal is escaped by DOUBLING (``'it''s'``) and a backslash is an
    ordinary character. Spark's non-default backslash spelling
    (``'it\\'s'``) therefore reads as a literal ``it\\`` followed by an
    unterminated ``s'`` and is rejected by design — matching what
    Presto itself would do."""
    out = list(q)
    i, n = 0, len(q)
    while i < n:
        if q[i] in ("'", '"'):
            quote = q[i]
            j = i + 1
            while j < n:
                if q[j] == quote:
                    if j + 1 < n and q[j + 1] == quote:  # doubled escape
                        out[j] = out[j + 1] = " "
                        j += 2
                        continue
                    break
                out[j] = " "
                j += 1
            if j >= n:
                raise ValueError(
                    "unterminated quote in SQL text — refusing to rewrite "
                    "(this Presto-dialect door escapes quotes by doubling: "
                    "'it''s', never backslash)"
                )
            i = j + 1
        else:
            i += 1
    return "".join(out)


def _literal_flags(q: str) -> list[bool]:
    """Per-character flags: True where the character sits INSIDE a
    single-quoted string literal or a double-quoted identifier (quote
    characters themselves are False). Same scan as _mask_literals,
    exposed as positions so token rewrites can skip matches that start
    inside quoted text."""
    masked = _mask_literals(q)
    return [m == " " and c != " " for c, m in zip(q, masked)]


def _depth(q: str, upto: int) -> int:
    return q.count("(", 0, upto) - q.count(")", 0, upto)


def _split_top_level_positions(masked: str) -> list[int]:
    """Comma positions at paren depth 0 (computed on the masked text)."""
    cuts, depth = [], 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            cuts.append(i)
    return cuts


def _presto_null_order(q: str) -> str:
    """Append NULLS LAST (Presto's direction-independent default) to
    each unqualified item of the final top-level ORDER BY. Keyword and
    paren positions come from the literal-masked text so ORDER BYs (or
    parens) inside string literals never trigger or skew the scan."""
    masked = _mask_literals(q)
    last = None
    for m in _ORDER_BY_RE.finditer(masked):
        if _depth(masked, m.start()) == 0:
            last = m
    if last is None:
        return q
    start = last.end()
    mtail = masked[start:]
    tail = q[start:]
    end = len(tail)
    for m in _LIST_END_RE.finditer(mtail):
        if _depth(mtail, m.start()) == 0:
            end = m.start()
            break
    cuts = [c for c in _split_top_level_positions(mtail[:end])]
    items = []
    prev = 0
    for c in cuts + [end]:
        it = tail[prev:c]
        s = it.strip()
        if not s:  # degenerate/invalid item — leave untouched
            items.append(s)
        elif _NULLS_RE.search(_mask_literals(s)):
            items.append(s)
        else:
            items.append(s + " NULLS LAST")
        prev = c + 1
    return q[:start] + " " + ", ".join(items) + ("\n" if end < len(tail) else "") + tail[end:]


#: Presto function spellings Spark lacks, as SQL-defined scalar
#: functions (Spark 4 `CREATE OR REPLACE TEMPORARY FUNCTION ... RETURN`
#: bodies are catalyst expressions — they inline into codegen/constant
#: folding; NO Python in the row path). Names that collide with Spark
#: builtins cannot be shadowed and go through the regex layer below.
_PRESTO_SQL_UDFS = (
    # string position: Presto strpos(string, substring), 1-based, 0 if absent
    "strpos(s STRING, sub STRING) RETURNS INT RETURN instr(s, sub)",
    # JSON scalar extraction (same $.path syntax)
    "json_extract_scalar(j STRING, p STRING) RETURNS STRING "
    "RETURN get_json_object(j, p)",
    # epoch seconds as DOUBLE (Presto semantics; Spark unix_timestamp
    # truncates to seconds)
    "to_unixtime(t TIMESTAMP) RETURNS DOUBLE "
    "RETURN CAST(unix_micros(t) AS DOUBLE) / 1e6",
    "from_iso8601_date(s STRING) RETURNS DATE RETURN CAST(s AS DATE)",
    "from_iso8601_timestamp(s STRING) RETURNS TIMESTAMP "
    "RETURN to_timestamp(s)",
    # ISO day numbering: Presto 1=Monday..7=Sunday; Spark dayofweek has
    # 1=Sunday
    "day_of_week(d DATE) RETURNS INT RETURN (dayofweek(d) + 5) % 7 + 1",
    "day_of_month(d DATE) RETURNS INT RETURN dayofmonth(d)",
    "day_of_year(d DATE) RETURNS INT RETURN dayofyear(d)",
    "week_of_year(d DATE) RETURNS INT RETURN weekofyear(d)",
    # numeric truncate-toward-zero
    "truncate(x DOUBLE) RETURNS DOUBLE "
    "RETURN CASE WHEN x >= 0 THEN floor(x) ELSE ceil(x) END",
    # Presto URL functions -> Spark parse_url (log-analytics SQL)
    "url_extract_host(u STRING) RETURNS STRING RETURN parse_url(u, 'HOST')",
    "url_extract_path(u STRING) RETURNS STRING RETURN parse_url(u, 'PATH')",
    "url_extract_protocol(u STRING) RETURNS STRING "
    "RETURN parse_url(u, 'PROTOCOL')",
    "url_extract_parameter(u STRING, k STRING) RETURNS STRING "
    "RETURN parse_url(u, 'QUERY', k)",
    # Presto bitwise function spellings (Spark speaks operators)
    "bitwise_and(x BIGINT, y BIGINT) RETURNS BIGINT RETURN x & y",
    "bitwise_or(x BIGINT, y BIGINT) RETURNS BIGINT RETURN x | y",
    "bitwise_xor(x BIGINT, y BIGINT) RETURNS BIGINT RETURN x ^ y",
    "bitwise_not(x BIGINT) RETURNS BIGINT RETURN ~x",
    # hex / radix conversion (Presto names; Spark's are hex/unhex/conv)
    "to_hex(b BINARY) RETURNS STRING RETURN upper(hex(b))",
    "from_hex(s STRING) RETURNS BINARY RETURN unhex(s)",
    "from_base(s STRING, r INT) RETURNS BIGINT "
    "RETURN CAST(conv(s, r, 10) AS BIGINT)",
    "to_base(x BIGINT, r INT) RETURNS STRING "
    "RETURN lower(conv(CAST(x AS STRING), 10, r))",
    # legacy Presto alias of strpos
    "index(s STRING, sub STRING) RETURNS INT RETURN instr(s, sub)",
)


def register_presto_compat(spark: SparkSession) -> None:
    """Install the Presto-function compatibility layer into the session
    (idempotent; Engine.__init__ calls it). Each function is a SQL UDF
    whose body is a Spark builtin expression — resolved at analysis
    time, zero runtime indirection."""
    if spark.conf.get("spark.cba.prestoCompatRegistered", "false") == "true":
        return  # once per session — plans build an Engine per call
    for ddl in _PRESTO_SQL_UDFS:
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {ddl}")
    spark.conf.set("spark.cba.prestoCompatRegistered", "true")


#: Token rewrites for Presto spellings that can't be SQL UDFs: aggregate
#: functions (SQL UDFs are scalar-only) and names that collide with
#: 2-arg Spark builtins. Matches that START inside a single-quoted
#: string literal are left untouched (translate checks _literal_flags),
#: so text like '... approx_distinct(' in a literal survives verbatim.
def _tablesample_repl(m: re.Match) -> str:
    if m.group(1).upper() == "SYSTEM":
        raise ValueError(
            "TABLESAMPLE SYSTEM is block sampling (per-split admit/"
            "reject) with different variance than Spark's row-level "
            "TABLESAMPLE — spell TABLESAMPLE BERNOULLI(p) for the "
            "row-sampling semantics, or sample explicitly"
        )
    rate = m.group(2).strip()
    if re.fullmatch(r"[0-9]+(\.[0-9]+)?", rate) is None:
        raise ValueError(
            f"TABLESAMPLE BERNOULLI({rate}): only a plain numeric rate "
            f"translates to Spark's TABLESAMPLE (p PERCENT) — spell "
            f"the rate as a literal like BERNOULLI(10)"
        )
    return f"TABLESAMPLE ({rate} PERCENT)"


_TOKEN_REWRITES = (
    (re.compile(r"\bapprox_distinct\s*\(", re.IGNORECASE), "approx_count_distinct("),
    (re.compile(r"\barbitrary\s*\(", re.IGNORECASE), "any_value("),
    # Presto TABLESAMPLE BERNOULLI(p) -> Spark TABLESAMPLE (p PERCENT)
    # (both are row-level Bernoulli sampling at rate p). SYSTEM raises:
    # its block-level semantics have no Spark twin.
    (
        re.compile(
            r"\bTABLESAMPLE\s+(BERNOULLI|SYSTEM)\s*\(([^)]*)\)",
            re.IGNORECASE,
        ),
        _tablesample_repl,
    ),
    # Presto 3-arg date_diff('unit', from, to) -> timestampdiff(UNIT, from, to);
    # the quoted-literal first arg disambiguates from Spark's own
    # 2-arg date_diff(end, start), which passes through untouched.
    (
        re.compile(r"\bdate_diff\(\s*'(\w+)'\s*,", re.IGNORECASE),
        lambda m: f"timestampdiff({m.group(1).upper()},",
    ),
    (
        re.compile(r"\bdate_add\(\s*'(\w+)'\s*,", re.IGNORECASE),
        lambda m: f"timestampadd({m.group(1).upper()},",
    ),
    # Presto zip(a, b, ...) -> arrays_zip (same positional-struct
    # semantics incl. NULL padding; Spark names the struct fields after
    # the inputs where Presto leaves them anonymous — access stays
    # positional either way). Call syntax only, so a column named
    # `zip` never matches.
    (re.compile(r"\bzip\s*\(", re.IGNORECASE), "arrays_zip("),
)


def _rewrite_call(q: str, name: str, nargs: int, template) -> str:
    """Paren-aware rewrite of ``name(arg1, ..., argN)`` call sites —
    for Presto spellings whose arguments must be SPLICED into a Spark
    expression (aggregates can't be SQL UDFs, and a flat token rewrite
    can't reuse an argument twice). Arguments are extracted with the
    same literal-masked balanced-paren scan as UNNEST, so commas inside
    nested calls or string literals never split, and occurrences inside
    literals are left untouched. ``template`` receives the argument
    texts and returns the replacement expression. Runs until no match
    so nested occurrences (e.g. in different subqueries) all rewrite;
    the template must not emit the rewritten name itself."""
    pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        flags = _literal_flags(q)
        m = None
        for cand in pat.finditer(q, pos):
            if not flags[cand.start()]:
                m = cand
                break
        if m is None:
            return q
        depth, j = 1, m.end()
        while j < len(q) and depth:
            if not flags[j]:
                if q[j] == "(":
                    depth += 1
                elif q[j] == ")":
                    depth -= 1
            j += 1
        if depth:
            raise ValueError(f"unbalanced parens in {name}(...)")
        arg = q[m.end() : j - 1]
        cuts = _split_top_level_positions(_mask_literals(arg))
        args, prev = [], 0
        for c in cuts + [len(arg)]:
            args.append(arg[prev:c].strip())
            prev = c + 1
        if len(args) != nargs:
            raise ValueError(
                f"{name}() takes {nargs} argument(s), got {len(args)}"
            )
        repl = template(*args)
        q = q[: m.start()] + repl + q[j:]
        # rescan FROM the rewrite site, not past it: an occurrence
        # spliced through verbatim inside the arguments (e.g. in a
        # scalar subquery) still needs rewriting. Terminates because
        # each pass removes one `name(` and the template emits none.
        pos = m.start()


#: Presto aggregate-map spellings -> Spark catalyst compositions.
#: map_agg(k, v): Presto keeps an arbitrary entry on duplicate keys;
#: Spark's map_from_entries throws on duplicates under the default
#: spark.sql.mapKeyDedupPolicy. Rather than flipping that conf
#: session-wide (ADVICE r6: it silently changed duplicate-key behavior
#: for every non-compat query sharing the SparkSession, and Spark's
#: lazy execution means a set/restore around Engine.sql would not
#: actually scope the RUNTIME read of the conf), the rewrite dedups
#: keys inside the expression itself: distinct keys in
#: last-occurrence-first order, each paired with its last-seen value —
#: map_from_entries then never sees a duplicate, under any policy.
#: Quadratic per GROUP like histogram below, which is fine: group
#: cardinalities are the small side; the whole expression stays
#: catalyst/codegen.
#: histogram(x): value-frequency map — distinct keys from one
#: collect_list, counts by a filtered size over another.
#: MySQL-style %-tokens (Presto date_parse/date_format speak these) ->
#: Spark DateTimeFormatter fields. Only tokens with an exact Spark
#: equivalent appear; anything else raises with the spell-it-directly
#: workaround rather than silently mis-parsing.
#: %y is deliberately ABSENT: MySQL/Presto pivot two-digit years at 70
#: (70-99 -> 19xx) while Spark's 'yy' resolves into [2000, 2099] — a
#: silent century shift, so it raises like any unsupported token.
_MYSQL_DATETIME_TOKENS = {
    "Y": "yyyy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "I": "hh", "l": "h",
    "i": "mm", "s": "ss", "S": "ss", "f": "SSSSSS",
    "j": "DDD", "p": "a", "W": "EEEE", "a": "EEE",
    "M": "MMMM", "b": "MMM", "T": "HH:mm:ss", "r": "hh:mm:ss a",
}


def _mysql_format_to_spark(fmt: str) -> str:
    """Compile a MySQL %-format string to a Spark datetime pattern.
    Literal runs containing letters are single-quote escaped (Spark
    patterns treat bare letters as fields; MySQL treats them as
    literals), so '%Y-%m-%dT%H:%i:%s' maps to yyyy-MM-dd'T'HH:mm:ss."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        run = "".join(lit)
        lit.clear()
        # letters are pattern fields in java.time, and '#'/'{'/'}' are
        # reserved — quote any run containing either class so it stays
        # a literal match like MySQL treats it
        if re.search(r"[A-Za-z#{}']", run):
            out.append("'" + run.replace("'", "''") + "'")
        else:
            out.append(run)

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= len(fmt):
                raise ValueError("date_parse(): trailing '%' in format")
            t = fmt[i + 1]
            if t == "%":
                lit.append("%")
            else:
                tok = _MYSQL_DATETIME_TOKENS.get(t)
                if tok is None:
                    raise ValueError(
                        f"date_parse(): no Spark equivalent for MySQL "
                        f"format token %{t} — spell the Spark "
                        f"to_timestamp(expr, pattern) call directly"
                    )
                flush()
                out.append(tok)
            i += 2
        else:
            lit.append(ch)
            i += 1
    flush()
    return "".join(out)


#: Joda-time pattern letters (Presto format_datetime) with an EXACT
#: java.time equivalent. The critical difference: Joda 'Y' is
#: year-of-era (what analysts write) while java.time 'Y' is
#: week-based-year — silently off by one around new year — so Y
#: compiles to 'y'. Letters with no exact twin (week-year 'x',
#: era 'C', 'S' fraction semantics, zone names) raise.
_JODA_SAFE = set("yMdHhmsaEKkG")


def _joda_format_to_spark(fmt: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "'":  # Joda quoting == java.time quoting; copy the run
            j = i + 1
            while j < len(fmt):
                if fmt[j] == "'":
                    if j + 1 < len(fmt) and fmt[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(fmt[i : j + 1])
            i = j + 1
        elif ch.isalpha():
            j = i
            while j < len(fmt) and fmt[j] == ch:
                j += 1
            if ch == "Y":
                out.append("y" * (j - i))
            elif ch in _JODA_SAFE:
                out.append(fmt[i:j])
            else:
                raise ValueError(
                    f"format_datetime(): Joda pattern letter '{ch}' has "
                    f"no exact java.time equivalent — spell the Spark "
                    f"date_format(expr, pattern) call directly"
                )
            i = j
        else:
            if ch in "#{}":
                out.append("'" + ch + "'")
            else:
                out.append(ch)
            i += 1
    return "".join(out)


def _format_datetime_template(t: str, f: str) -> str:
    fs = f.strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", fs, re.DOTALL)
    if m is None:
        raise ValueError(
            "format_datetime(): the format argument must be a string "
            "literal — spell the Spark date_format(expr, pattern) call "
            "directly for computed formats"
        )
    spark_fmt = _joda_format_to_spark(m.group(1).replace("''", "'"))
    return f"date_format({t}, '" + spark_fmt.replace("'", "''") + "')"


def _date_parse_template(s: str, f: str) -> str:
    fs = f.strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", fs, re.DOTALL)
    if m is None:
        raise ValueError(
            "date_parse(): the format argument must be a string "
            "literal — spell the Spark to_timestamp(expr, pattern) "
            "call directly for computed formats"
        )
    spark_fmt = _mysql_format_to_spark(m.group(1).replace("''", "'"))
    return f"to_timestamp({s}, '" + spark_fmt.replace("'", "''") + "')"


def _try_template(e: str) -> str:
    """Presto TRY(expr) -> the matching Spark try_* twin. Spark has no
    general NULL-on-error wrapper, but every TRY spelling analysts
    actually write has a dedicated twin: TRY(CAST(x AS t)) ->
    try_cast, TRY(a / b) -> try_divide (NULL on division by zero —
    Presto's headline TRY use), TRY(element_at(...)) / TRY(to_number
    (...)) / TRY(to_timestamp(...)) -> their try_ builtins. Anything
    else raises with the workaround rather than silently changing
    error semantics."""
    es = e.strip()
    masked = _mask_literals(es)

    def _spans_whole(call_match) -> bool:
        # The matched call must BE the whole expression — a prefix
        # match like TRY(CAST(a AS INT) / b) would otherwise rewrite
        # to a partially-protected expression and silently change
        # error semantics for the unprotected remainder.
        depth, j = 1, call_match.end()
        while j < len(es) and depth:
            if masked[j] == "(":
                depth += 1
            elif masked[j] == ")":
                depth -= 1
            j += 1
        return depth == 0 and es[j:].strip() == ""

    m = re.match(r"^cast\s*\(", es, re.IGNORECASE)
    if m and _spans_whole(m):
        return "try_cast" + es[m.end() - 1 :]
    m = re.match(
        r"^(element_at|to_number|to_timestamp)\s*\(", es, re.IGNORECASE
    )
    if m and _spans_whole(m):
        return "try_" + es
    # TRY(a / b) -> try_divide(a, b), but ONLY when the division is the
    # sole top-level operator of ANY kind — a second operator
    # (arithmetic, concat, comparison, or a word operator) means the
    # split would break precedence/associativity, and the expression
    # can throw outside the rewritten division anyway.
    if not (m and _spans_whole(m)):
        depth = 0
        ops = []
        # word operators anywhere make the split unsafe; so do calls
        # that themselves throw under ANSI (cast, element_at, ...) —
        # try_divide would leave them unprotected inside an operand
        other_op = re.search(
            r"\b(and|or|not|in|is|like|between|case"
            r"|cast|element_at|to_number|to_timestamp)\b",
            masked,
            re.IGNORECASE,
        )
        for idx, ch in enumerate(masked):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and idx > 0 and ch in "+-*/%|<>=!":
                ops.append((ch, idx))
        if len(ops) == 1 and ops[0][0] == "/" and other_op is None:
            idx = ops[0][1]
            return f"try_divide({es[:idx]}, {es[idx + 1:]})"
    raise ValueError(
        "TRY(): only TRY(CAST(..)), TRY(a / b), TRY(element_at(..)), "
        "TRY(to_number(..)) and TRY(to_timestamp(..)) — each spanning "
        "the WHOLE argument — translate; spell the Spark try_* builtin "
        "directly for other expressions"
    )


_CALL_REWRITES = (
    # The collect_list is evaluated ONCE and bound via the
    # transform(array(<agg>), __l -> ...)[0] let-binding idiom (ADVICE
    # r7): two inlined copies of the same aggregate are only safe for
    # deterministic arguments — a rand()-derived key could diverge
    # between independently evaluated copies.
    (
        "map_agg",
        2,
        # NULL keys are dropped up front (the filter() below): Presto's
        # map_agg accumulator skips null keys, while Spark's
        # map_from_entries throws NULL_MAP_KEY — without the filter a
        # single null key crashes the whole aggregate (r12 null-corpus
        # audit). collect_list skips null STRUCTS only, not structs
        # with a null field, so the filter is load-bearing.
        lambda k, v: (
            f"transform(array(filter(reverse(collect_list(named_struct("
            f"'k', {k}, 'v', {v}))), __mn -> __mn.k IS NOT NULL)), __ml -> "
            f"map_from_entries(transform(array_distinct(transform("
            f"__ml, __me -> __me.k)), __mk -> named_struct('k', __mk, "
            f"'v', filter(__ml, __mf -> __mf.k <=> __mk)[0].v))))[0]"
        ),
    ),
    (
        "histogram",
        1,
        lambda x: (
            f"transform(array(collect_list({x})), __hl -> "
            f"map_from_entries(transform(array_distinct(__hl)"
            f", __hk -> struct(__hk, CAST(size(filter(__hl"
            f", __he -> __he <=> __hk)) AS BIGINT)))))[0]"
        ),
    ),
    # Presto date_parse(s, '%Y-%m-%d ...') — MySQL format tokens
    # compiled to a Spark to_timestamp pattern at translate time.
    ("date_parse", 2, _date_parse_template),
    # Presto format_datetime(t, 'yyyy-MM-dd') — Joda pattern compiled
    # (and VALIDATED) to a java.time date_format pattern.
    ("format_datetime", 2, _format_datetime_template),
    # Presto TRY(expr) -> the matching try_* builtin (see template).
    ("try", 1, _try_template),
)


_UNNEST_RE = re.compile(
    r"\bCROSS\s+JOIN\s+UNNEST\s*\(", re.IGNORECASE
)
#: Single-argument multi-column UNNEST disambiguation (VERDICT r6 ask
#: #7): the alias column count alone cannot tell a map from an
#: array-of-row, but the ARGUMENT's outermost function often can.
#: These are Presto functions with statically-known return types —
#: map-typed (UNNEST yields key, value -> Spark `explode(m)`) vs
#: array(row)-typed (UNNEST expands the row fields -> Spark
#: `inline(a)`). A bare column reference stays ambiguous and raises
#: with the spell-it-directly workaround.
_UNNEST_MAP_FN_RE = re.compile(
    r"^\s*(map|map_from_entries|map_from_arrays|map_concat|map_filter"
    r"|map_zip_with|transform_keys|transform_values|multimap_agg"
    r"|map_agg|histogram)\s*\(",
    re.IGNORECASE,
)
_UNNEST_ROWARR_FN_RE = re.compile(
    r"^\s*(map_entries|zip|arrays_zip)\s*\(", re.IGNORECASE
)
_UNNEST_TAIL_RE = re.compile(
    r"\s*(WITH\s+ORDINALITY\s+)?AS\s+(\w+)\s*\(\s*"
    r"(\w+(?:\s*,\s*\w+)*)\s*\)",
    re.IGNORECASE,
)
#: Keywords that terminate a FROM clause at its own paren depth. The
#: LATERAL VIEW must be spliced immediately before the first of these
#: (or the block's closing paren / end of text) — Spark's grammar puts
#: lateral views AFTER all join relations, so splicing at the UNNEST's
#: own position would emit `LATERAL VIEW ... JOIN b`, which does not
#: parse (ADVICE r5). `LATERAL` is deliberately NOT a terminator so a
#: second UNNEST's view lands after the first's — Presto lets a later
#: UNNEST argument reference an earlier one's columns, and Spark
#: resolves chained lateral views left-to-right the same way.
_FROM_END_RE = re.compile(
    r"\b(where|group|having|order|limit|offset|fetch|union|except"
    r"|intersect|window|qualify)\b",
    re.IGNORECASE,
)


def _unnest_generator(
    args: list[str], cols: list[str], ordinality: bool
) -> str:
    """Compile one Presto UNNEST into a Spark generator expression.

    - 1 array, no ordinality: plain ``explode(a)``.
    - k arrays (zip form): iterated ``zip_with`` folding the arrays
      into an array of named structs (zip_with pads the shorter side
      with NULLs — exactly Presto's positional alignment), then
      ``inline`` to turn struct fields into the alias columns.
    - WITH ORDINALITY: a final ``transform((e, i) -> ...)`` appends
      ``CAST(i + 1 AS BIGINT)`` as the LAST struct field — Presto's
      1-based BIGINT ordinality in Presto's column order.

    Everything is catalyst expressions (explode/inline/zip_with/
    transform/named_struct): whole-stage-codegen'd, no Python in the
    row path.
    """
    if len(args) == 1 and not ordinality:
        return f"explode({args[0]})"
    value_cols = cols[:-1] if ordinality else cols
    if len(args) == 1:  # single array WITH ORDINALITY
        elem, ordcol = value_cols[0], cols[-1]
        arr = (
            f"transform({args[0]}, (e0, i) -> named_struct("
            f"'{elem}', e0, '{ordcol}', CAST(i + 1 AS BIGINT)))"
        )
        return f"inline({arr})"
    # k >= 2: fold arrays pairwise into an array of named structs
    fields = f"'{value_cols[0]}', e0, '{value_cols[1]}', e1"
    acc = f"zip_with({args[0]}, {args[1]}, (e0, e1) -> named_struct({fields}))"
    for k in range(2, len(args)):
        keep = ", ".join(
            f"'{c}', s.{c}" for c in value_cols[:k]
        )
        acc = (
            f"zip_with({acc}, {args[k]}, (s, e{k}) -> "
            f"named_struct({keep}, '{value_cols[k]}', e{k}))"
        )
    if ordinality:
        keep = ", ".join(f"'{c}', s.{c}" for c in value_cols)
        ordcol = cols[-1]
        acc = (
            f"transform({acc}, (s, i) -> named_struct("
            f"{keep}, '{ordcol}', CAST(i + 1 AS BIGINT)))"
        )
    return f"inline({acc})"


def _rewrite_unnest(q: str) -> str:
    """Presto `CROSS JOIN UNNEST(a [, b ...]) [WITH ORDINALITY]
    AS t(c ...)` -> a Spark `LATERAL VIEW <generator> t AS c ...`
    spliced at the END of the enclosing FROM clause (Spark's grammar
    requires lateral views after all join relations, so `... UNNEST(x)
    AS t(c) JOIN b` must not leave the view at the UNNEST's position).
    Forms: single array -> explode; WITH ORDINALITY -> inline(transform)
    with a 1-based BIGINT ordinality column LAST (Presto's order);
    multi-array zip -> inline(zip_with named structs), NULL-padded to
    the longest array like Presto. The single-argument multi-column
    form (a map or array-of-row UNNEST) is resolved when the
    argument's outermost function pins the type — map-returning
    functions compile to `explode(m)` (key, value columns),
    array(row)-returning ones (map_entries, zip) to `inline(a)` —
    and raises with a workaround message when a bare column leaves it
    genuinely ambiguous. The scan respects string literals and
    balanced parens (a regex alone cannot bound the array
    expressions)."""
    pos = 0
    while True:
        flags = _literal_flags(q)
        m = None
        for cand in _UNNEST_RE.finditer(q, pos):
            if not flags[cand.start()]:
                m = cand
                break
        if m is None:
            break
        # balanced-paren scan for the UNNEST argument list
        depth = 1
        j = m.end()
        while j < len(q) and depth:
            if flags[j]:
                j += 1
                continue
            if q[j] == "(":
                depth += 1
            elif q[j] == ")":
                depth -= 1
            j += 1
        if depth:
            raise ValueError("unbalanced parens in UNNEST(...)")
        arg = q[m.end() : j - 1]
        marg = _mask_literals(arg)
        cuts = _split_top_level_positions(marg)
        args, prev = [], 0
        for c in cuts + [len(arg)]:
            args.append(arg[prev:c].strip())
            prev = c + 1
        tail = _UNNEST_TAIL_RE.match(q, j)
        if not tail:
            raise NotImplementedError(
                "UNNEST without `AS alias(col, ...)` — Spark needs the "
                "LATERAL VIEW column names; add the alias"
            )
        ordinality, alias, collist = tail.groups()
        cols = [c.strip() for c in collist.split(",")]
        expected = len(args) + (1 if ordinality else 0)
        if len(cols) != expected:
            gen = None
            if len(args) == 1 and not ordinality and len(cols) >= 2:
                # map vs array-of-row: resolvable when the argument's
                # outermost function pins the type (see the regexes).
                if _UNNEST_ROWARR_FN_RE.match(args[0]):
                    gen = f"inline({args[0]})"
                elif len(cols) == 2 and _UNNEST_MAP_FN_RE.match(args[0]):
                    gen = f"explode({args[0]})"
            if gen is None:
                if len(args) == 1 and not ordinality and len(cols) >= 2:
                    raise NotImplementedError(
                        "single-argument UNNEST with a multi-column "
                        "alias is ambiguous in text (map or "
                        "array-of-row) unless the argument's outer "
                        "function pins the type — spell maps as "
                        "explode(map) and row arrays as inline(arr) "
                        "directly, or wrap the argument (e.g. "
                        "map_concat(m) / map_entries(m)) so the type "
                        "is syntactically visible"
                    )
                raise ValueError(
                    f"UNNEST alias column count {len(cols)} != "
                    f"{len(args)} array(s)"
                    + (" + 1 ordinality" if ordinality else "")
                )
        else:
            gen = _unnest_generator(args, cols, bool(ordinality))
        repl = f" LATERAL VIEW {gen} {alias} AS {', '.join(cols)} "
        # remove the UNNEST text, then splice the LATERAL VIEW at the
        # end of the enclosing FROM clause (first clause keyword at the
        # UNNEST's own paren depth, the block's closing paren, or EOT)
        base = q[: m.start()] + " " + q[tail.end() :]
        mbase = _mask_literals(base)
        d0 = _depth(mbase, m.start())
        i, depth, insert_at = m.start(), d0, len(base)
        while i < len(base):
            ch = mbase[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == d0:
                    insert_at = i
                    break
                depth -= 1
            elif depth == d0 and (i == 0 or not mbase[i - 1].isalnum()):
                kw = _FROM_END_RE.match(mbase, i)
                if kw:
                    insert_at = i
                    break
            i += 1
        q = base[:insert_at] + repl + base[insert_at:]
        pos = m.start()
    return q


def translate(q: str) -> str:
    """Presto-dialect -> Spark SQL: whitespace-normalized pass-through
    plus the NULL-ordering rewrite and the Presto function-name token
    rewrites (see module doc). Trailing statement semicolons are
    stripped first — clients routinely send them, and the NULLS LAST
    splice must not land after one."""
    q = q.strip()
    while q.endswith(";"):
        q = q[:-1].rstrip()
    if _UNNEST_RE.search(_mask_literals(q)):  # raises on an unclosed quote
        q = _rewrite_unnest(q)
    for pat, repl in _TOKEN_REWRITES:
        # recomputed per pass — earlier rewrites shift literal offsets
        flags = _literal_flags(q)

        def _guarded(m, _repl=repl, _flags=flags):
            if _flags[m.start()]:
                return m.group(0)  # spelling inside a string literal
            return _repl(m) if callable(_repl) else _repl

        q = pat.sub(_guarded, q)
    for name, nargs, template in _CALL_REWRITES:
        if re.search(rf"\b{name}\s*\(", _mask_literals(q), re.IGNORECASE):
            q = _rewrite_call(q, name, nargs, template)
    return _presto_null_order(q)


class Engine:
    """Session + catalog + SQL in one handle.

    Replaces the reference's PrestoConnector + helper pipeline: analysts
    get `engine.sql(q)` against tables registered once (the multi-user
    shared-copy contract of the Hive metastore, aws_utils.py:203-220).
    """

    def __init__(self, spark: SparkSession):
        self.spark = apply_runtime_confs(spark)
        register_presto_compat(self.spark)

    # -- query surface -----------------------------------------------------
    def sql(self, q: str) -> DataFrame:
        return self.spark.sql(translate(q))

    def to_pandas(self, q: str):
        """Arrow-backed client handoff — the viz edge (S11)."""
        return self.sql(q).toPandas()

    # -- catalog -----------------------------------------------------------
    def register(self, df: DataFrame, name: str) -> DataFrame:
        return register(self.spark, df, name)

    def table_exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(name)

    def tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    # -- ingest ------------------------------------------------------------
    def ingest(self, csv_path: str, **kw) -> DataFrame:
        return ingest_csv(self.spark, csv_path, **kw)

    def ingest_folder(self, folder: str, **kw):
        return ingest_folder(self.spark, folder, **kw)
