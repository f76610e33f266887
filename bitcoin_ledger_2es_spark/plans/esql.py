"""ES|QL: the ES 8.11+ piped query language (``POST /_query``), lowered
onto the DataFrame API. Public syntax per the ES|QL reference; this
module implements a DOCUMENTED SUBSET and raises loudly on anything
outside it (the search_template discipline: unknown constructs are
errors, never silent misreads).

Supported pipeline stages::

    FROM <table>
    | WHERE <expr>
    | EVAL name = <expr> [, name2 = <expr> ...]     (sequential: later
                                                     ones see earlier)
    | STATS alias = AGG(<expr>) [WHERE cond] [, ...] [BY col [, ...]]
    | INLINESTATS alias = AGG(<expr>) [WHERE cond] [, ...] [BY col ...]
    | SORT col [ASC|DESC] [, ...]
    | LIMIT n
    | KEEP col [, ...]
    | DROP col [, ...]
    | RENAME old AS new [, ...]
    | DISSECT col "pattern with %{keys}"
    | GROK col "pattern with %{SYNTAX:name[:type]}"
    | ENRICH policy ON key [WITH [alias =] field [, ...]]
    | MV_EXPAND col
    | LOOKUP JOIN <lookup_index> ON key
    | SAMPLE p [id_col]
    | FORK (stage | stage ...) (stage | ...)   (branch union, _fork tag)
    | FUSE                                      (rrf fusion of branches)
    | CHANGE_POINT value [ON key] [AS type_col, pvalue_col]

``ROW name = literal [, ...]`` may replace FROM as the source command
(one literal row — needs an active SparkSession).

Expressions: comparisons (``==`` ``!=`` ``<`` ``<=`` ``>`` ``>=``),
boolean AND/OR/NOT, arithmetic ``+ - * / %``, parens, ``IS NULL`` /
``IS NOT NULL``, ``IN (...)``, ``LIKE`` (ES|QL wildcards ``*``/``?``,
backslash-escapable — SQL's %/_ are ordinary characters, translated at
emission), ``RLIKE`` (whole-string regex, anchored at emission —
Spark's RLIKE alone is a partial find), double-quoted string literals,
TRUE/FALSE/NULL, and the function whitelist below (ES|QL name -> Spark
SQL): ROUND ABS LENGTH SUBSTRING CONCAT GREATEST LEAST COALESCE
DATE_TRUNC TO_LOWER TO_UPPER TO_LONG TO_DOUBLE TO_STRING TO_INTEGER
TO_BOOLEAN TO_DATETIME STARTS_WITH ENDS_WITH TRIM LTRIM RTRIM REPLACE
(regex) LEFT RIGHT REVERSE REPEAT SPACE TO_BASE64 FROM_BASE64 MD5 SHA1
CEIL FLOOR SQRT CBRT EXP LOG LOG10 POW SIGNUM SIN COS TAN ASIN ACOS
ATAN ATAN2 HYPOT PI E, multivalue
MV_COUNT MV_MAX MV_MIN MV_DEDUPE MV_SORT MV_CONCAT MV_SUM MV_AVG
MV_FIRST MV_LAST MV_APPEND MV_ZIP MV_SLICE MV_MEDIAN (over array
columns, null-in-null-out; empty multivalues answer null, the ES|QL
convention; MV_SLICE is 0-based inclusive with negative-from-end
integer-literal indices), arg-order-adapted
LOCATE / DATE_FORMAT / DATE_DIFF / SPLIT / DATE_PARSE (format-first)
/ DATE_EXTRACT (ChronoField-name part literal; DAY_OF_WEEK is ISO
Monday=1) (explicit re-emitters in _SPECIAL), SHA256, CIDR_MATCH
(IPv4 literal blocks -> integer-fold range checks),
``expr::type`` postfix casts (LONG/INTEGER/DOUBLE/KEYWORD/TEXT/
BOOLEAN/DATETIME — IP/VERSION/UNSIGNED_LONG raise),
TO_DEGREES TO_RADIANS BIT_LENGTH BYTE_LENGTH, and
variadic CASE(cond, val, ..., [default]), and BUCKET (three documented
forms: numeric span, ``1 <unit>`` calendar span via date_trunc, and the
auto (expr, count, from, to) form at a driver-resolved nice interval).
STATS/INLINESTATS aggregates: COUNT(*) COUNT COUNT_DISTINCT SUM AVG MIN
MAX MEDIAN PERCENTILE(field, p 0..100) STD_DEV (population)
VALUES (unique multivalue, ascending — ES guarantees no order; this
engine pins one) WEIGHTED_AVG(value, weight) TOP(field, limit,
"asc"|"desc"); BY takes plain columns or ``alias = expr`` keys (the
``BY b = BUCKET(...)`` shape).

How it lowers (why this is the right engine shape): every stage maps
1:1 onto a declarative DataFrame op — WHERE -> filter (predicate
pushdown reaches the scan), EVAL -> withColumn, STATS -> groupBy/agg
(map-side partial aggregation), SORT+LIMIT -> a global top-n (Spark
plans TakeOrderedAndProject, never a full sort, when LIMIT follows
SORT). The translator emits Spark SQL expression strings consumed by
``F.expr`` — everything stays inside Catalyst/codegen, no Python in
the data path."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TOKEN = re.compile(
    r'\s*(?:(?P<str>"(?:[^"\\]|\\.)*")'
    r"|(?P<num>\d+(?:\.\d+)?)"
    r"|(?P<id>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<op>==|!=|<=|>=|::|[<>+\-*/%(),=])"
    r")"
)

_KEYWORDS = {
    "AND", "OR", "NOT", "NULL", "IS", "IN", "LIKE", "RLIKE", "TRUE",
    "FALSE", "ASC", "DESC", "BY", "AS",
}

# ES|QL function -> Spark SQL function (None = same name)
_FUNCS = {
    "ROUND": "round", "ABS": "abs", "LENGTH": "length",
    "SUBSTRING": "substring", "CONCAT": "concat",
    "GREATEST": "greatest", "LEAST": "least", "COALESCE": "coalesce",
    "DATE_TRUNC": "date_trunc",
    "TO_LOWER": "lower", "TO_UPPER": "upper",
    # multivalue functions: ES|QL MV_* over array columns. Spark's
    # size/array_max/array_min are null-in-null-out (ES semantics) under
    # the default spark.sql.legacy.sizeOfNull=false.
    "MV_COUNT": "size", "MV_MAX": "array_max", "MV_MIN": "array_min",
    # whitelist criterion: ONLY functions whose Spark twin has the
    # identical name-compatible semantics AND argument order. Functions
    # with swapped args (LOCATE, DATE_FORMAT, DATE_DIFF), literal-vs-
    # regex drift (SPLIT) or composite lowerings (MV_SUM/AVG/FIRST/
    # LAST, CIDR_MATCH) live in _SPECIAL with explicit re-emitters;
    # anything else raises, per the never-misread discipline.
    "STARTS_WITH": "startswith", "ENDS_WITH": "endswith",
    "TRIM": "trim", "LTRIM": "ltrim", "RTRIM": "rtrim",
    "REPLACE": "regexp_replace",  # ES|QL REPLACE is regex-based too
    "LEFT": "left", "RIGHT": "right", "REVERSE": "reverse",
    "REPEAT": "repeat", "SPACE": "space",
    "TO_BASE64": "base64", "FROM_BASE64": "unbase64",
    "MD5": "md5", "SHA1": "sha1",
    "CEIL": "ceil", "FLOOR": "floor", "SQRT": "sqrt", "CBRT": "cbrt",
    "EXP": "exp", "LOG": "log", "LOG10": "log10", "POW": "pow",
    "SIGNUM": "signum", "SIN": "sin", "COS": "cos", "TAN": "tan",
    "ASIN": "asin", "ACOS": "acos", "ATAN": "atan", "ATAN2": "atan2",
    "HYPOT": "hypot", "PI": "pi", "E": "e",
    # MV_DEDUPE/MV_SORT: single-argument forms (ES|QL's optional order
    # argument has no Spark rename twin — it raises downstream)
    "MV_DEDUPE": "array_distinct", "MV_SORT": "array_sort",
    "MV_CONCAT": "array_join",  # (array, delimiter) — same order
    "TO_DEGREES": "degrees", "TO_RADIANS": "radians",
    "BIT_LENGTH": "bit_length", "BYTE_LENGTH": "octet_length",
    "MV_APPEND": "concat",  # (array, array) — null-in-null-out both
}
_CASTS = {"TO_LONG": "BIGINT", "TO_DOUBLE": "DOUBLE", "TO_STRING": "STRING",
          "TO_INTEGER": "INT", "TO_BOOLEAN": "BOOLEAN",
          "TO_DATETIME": "TIMESTAMP"}
# ES|QL `expr::type` postfix cast type names (8.14) -> Spark SQL types.
# IP / VERSION / UNSIGNED_LONG / spatial types have no Spark twin and
# raise (never-misread) — the TO_* conversion set above is the same
# surface in function form.
_COLON_TYPES = {
    "LONG": "BIGINT", "INT": "INT", "INTEGER": "INT", "DOUBLE": "DOUBLE",
    "KEYWORD": "STRING", "TEXT": "STRING", "STRING": "STRING",
    "BOOL": "BOOLEAN", "BOOLEAN": "BOOLEAN", "DATETIME": "TIMESTAMP",
}
_AGGS = {"COUNT", "COUNT_DISTINCT", "SUM", "AVG", "MIN", "MAX",
         "MEDIAN", "PERCENTILE", "STD_DEV", "VALUES", "WEIGHTED_AVG",
         "TOP"}


class ESQLError(ValueError):
    pass


# GROK syntax patterns (the Logstash core subset; regexes are RE2-safe
# and anchored by the surrounding literal text). DATA is non-greedy,
# GREEDYDATA greedy — the documented Logstash semantics.
_GROK = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
}
_GROK_TYPES = {"int": "BIGINT", "long": "BIGINT", "float": "DOUBLE",
               "double": "DOUBLE"}


def _parse_extract_stage(rest: str, op: str):
    """Shared DISSECT/GROK argument parse: ``col "pattern"``."""
    m = re.match(r'^([A-Za-z_][A-Za-z0-9_]*)\s+"((?:[^"\\]|\\.)*)"$', rest)
    if not m:
        raise ESQLError(f'{op} takes `column "pattern"`')
    return m.group(1), m.group(2).replace('\\"', '"')


def _dissect_columns(col: str, pattern: str):
    """ES|QL DISSECT: literal-delimited ``%{key}`` captures. Keys become
    string columns extracted by ONE anchored regex (codegen
    regexp_extract per key); ``%{}`` skips. Non-matching rows yield
    nulls — the ES behavior."""
    parts = [p for p in
             re.split(r"(%\{[A-Za-z_][A-Za-z0-9_]*\}|%\{\})", pattern) if p]
    rx, keys = "^", []
    for idx, p in enumerate(parts):
        if p.startswith("%{"):
            name = p[2:-1]
            # a trailing key takes the rest of the line (greedy); inner
            # keys stop at the next literal delimiter (non-greedy)
            rx += "(.*)" if idx == len(parts) - 1 else "(.*?)"
            keys.append(name or None)
        else:
            rx += re.escape(p)
    rx += "$"
    if not any(keys):
        raise ESQLError("DISSECT pattern needs at least one %{key}")
    out = []
    for gi, name in enumerate(keys, start=1):
        if name is None:
            continue
        out.append((name, f"nullif(regexp_extract(`{col}`, '{_sqlq(rx)}', {gi}), '')", None))
    return out


def _grok_columns(col: str, pattern: str):
    """ES|QL GROK: ``%{SYNTAX:name[:type]}`` captures over the Logstash
    core pattern subset (_GROK). Unknown SYNTAX raises; unnamed
    captures match without extracting; int/long/float/double types
    cast. Non-matching rows yield nulls."""
    rx, keys = "", []
    pos = 0
    for m in re.finditer(r"%\{([A-Z0-9_]+)(?::([A-Za-z_][A-Za-z0-9_]*))?(?::([a-z]+))?\}", pattern):
        rx += re.escape(pattern[pos:m.start()])
        pos = m.end()
        syntax, name, typ = m.group(1), m.group(2), m.group(3)
        if syntax not in _GROK:
            raise ESQLError(f"unsupported GROK syntax pattern: {syntax}")
        if typ is not None and typ not in _GROK_TYPES:
            raise ESQLError(f"unsupported GROK type: {typ}")
        if name:
            rx += f"({_GROK[syntax]})"
            keys.append((name, typ))
        else:
            rx += f"(?:{_GROK[syntax]})"
    rx += re.escape(pattern[pos:])
    if not keys:
        raise ESQLError("GROK pattern needs at least one named capture")
    out = []
    for gi, (name, typ) in enumerate(keys, start=1):
        expr = f"nullif(regexp_extract(`{col}`, '{_sqlq(rx)}', {gi}), '')"
        out.append((name, expr, _GROK_TYPES.get(typ) if typ else None))
    return out


def _sqlq(s: str) -> str:
    """Escape a regex for embedding in a single-quoted Spark SQL string
    literal (F.expr parses standard SQL, so backslashes double)."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _tokenize(s: str) -> "list[tuple[str, str]]":
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m or m.end() == pos:
            rest = s[pos:].strip()
            if not rest:
                break
            raise ESQLError(f"cannot tokenize ES|QL at: {rest[:40]!r}")
        pos = m.end()
        for kind in ("str", "num", "id", "op"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


def _split_top(tokens, sep=","):
    """Split a token list on a top-level operator token (never inside
    parens)."""
    parts, cur, depth = [], [], 0
    for t in tokens:
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
            if depth < 0:
                raise ESQLError("unbalanced parens")
        if depth == 0 and t == ("op", sep):
            parts.append(cur)
            cur = []
        else:
            cur.append(t)
    if depth != 0:
        raise ESQLError("unbalanced parens")
    parts.append(cur)
    return parts


# BUCKET calendar units (ES|QL `1 day` span literals) -> date_trunc
# unit names shared verbatim by Spark and DuckDB (both truncate WEEK
# to Monday). Only 1-unit spans lower to date_trunc; multi-unit spans
# (`3 hour`) have no trunc twin and raise.
_BUCKET_UNITS = {
    "MINUTE": "minute", "MINUTES": "minute",
    "HOUR": "hour", "HOURS": "hour",
    "DAY": "day", "DAYS": "day",
    "WEEK": "week", "WEEKS": "week",
    "MONTH": "month", "MONTHS": "month",
    "QUARTER": "quarter", "QUARTERS": "quarter",
    "YEAR": "year", "YEARS": "year",
}


def _num_literal(part):
    """Token group -> float if it is a (possibly negated) numeric
    literal, else None."""
    if len(part) == 1 and part[0][0] == "num":
        return float(part[0][1])
    if len(part) == 2 and part[0] == ("op", "-") and part[1][0] == "num":
        return -float(part[1][1])
    return None


def _nice_interval(lo: float, hi: float, count: float) -> float:
    """The auto-BUCKET interval: smallest d in {1, 2, 5} * 10^k with
    (hi - lo) / d <= count — a DOCUMENTED DETERMINISTIC reading of
    ES|QL's "nice" bucket sizing (ES's own rounding ladder differs in
    edge cases; this one is pure, pinned, and oracle-mirrorable because
    the chosen interval is resolved driver-side from literals)."""
    if hi <= lo or count <= 0:
        raise ESQLError("BUCKET(expr, count, from, to) needs from < to "
                        "and count > 0")
    width = (hi - lo) / count
    import math

    k = math.floor(math.log10(width)) if width > 0 else 0
    for exp in range(k - 1, k + 3):
        for m in (1.0, 2.0, 5.0):
            d = m * (10.0 ** exp)
            if (hi - lo) / d <= count:
                return d
    raise ESQLError("BUCKET auto interval search failed")  # unreachable


def _emit_bucket(args) -> str:
    """ES|QL BUCKET(...) -> Spark SQL, three documented forms:
    numeric span ``BUCKET(x, 50.0)`` -> floor arithmetic; calendar span
    ``BUCKET(ts, 1 day)`` -> date_trunc; auto ``BUCKET(x, count, from,
    to)`` -> floor arithmetic at a driver-resolved nice interval (the
    three literals must be numeric literals — the interval is a pure
    function of them, so any oracle re-derives it)."""
    if len(args) == 2:
        span = _num_literal(args[1])
        if span is not None:
            if span <= 0:
                raise ESQLError("BUCKET span must be positive")
            e = _emit(args[0])
            # double-pinned: a bare 100.0 literal is DECIMAL under ANSI
            # parsing, which would type buckets DECIMAL — cast so the
            # bucket column is DOUBLE like every SQL oracle's floor math
            return (f"(floor(({e}) / CAST({span!r} AS DOUBLE)) "
                    f"* CAST({span!r} AS DOUBLE))")
        if (len(args[1]) == 2 and args[1][0] == ("num", "1")
                and args[1][1][0] == "id"
                and args[1][1][1].upper() in _BUCKET_UNITS):
            unit = _BUCKET_UNITS[args[1][1][1].upper()]
            return f"date_trunc('{unit}', {_emit(args[0])})"
        raise ESQLError(
            "BUCKET span must be a numeric literal or `1 <unit>` "
            "(minute/hour/day/week/month/quarter/year)")
    if len(args) == 4:
        nums = [_num_literal(a) for a in args[1:]]
        if any(n is None for n in nums):
            raise ESQLError(
                "BUCKET(expr, count, from, to) takes numeric literals")
        count, lo, hi = nums
        d = _nice_interval(lo, hi, count)
        e = _emit(args[0])
        return (f"(floor(({e}) / CAST({d!r} AS DOUBLE)) "
                f"* CAST({d!r} AS DOUBLE))")
    raise ESQLError("BUCKET takes (expr, span) or (expr, count, from, to)")


def _like_pattern(p: str) -> str:
    """ES|QL LIKE pattern -> SQL LIKE pattern: ES|QL wildcards are
    ``*`` (any sequence) and ``?`` (one char), backslash-escapable;
    SQL's ``%``/``_`` are ORDINARY characters in ES|QL and must be
    escaped for SQL (Spark's default LIKE escape char is backslash)."""
    out = []
    k = 0
    while k < len(p):
        c = p[k]
        if c == "\\" and k + 1 < len(p) and p[k + 1] in "*?\\":
            nxt = p[k + 1]
            out.append("\\\\" if nxt == "\\" else nxt)
            k += 2
            continue
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in "%_":
            out.append("\\" + c)
        elif c == "\\":
            out.append("\\\\")
        else:
            out.append(c)
        k += 1
    return "".join(out)


def _raw_str(part):
    """Token group -> raw python string if it is a string literal (with
    ES|QL escapes resolved), else None."""
    if len(part) == 1 and part[0][0] == "str":
        return part[0][1][1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return None


def _sql_str(s: str) -> str:
    """Python string -> Spark SQL single-quoted literal (backslashes
    doubled — the _sqlq escaping)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


# Functions whose ES|QL argument order or semantics need an explicit
# re-emission (the 1:1 rename whitelist above deliberately excludes
# them — see its criterion comment):
_DATE_DIFF_UNITS = {"YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
                    "HOUR", "MINUTE", "SECOND"}


def _sp_locate(args):
    # ES|QL LOCATE(string, substring[, start]) vs Spark
    # locate(substr, str[, pos]) — the first two args are swapped
    if len(args) not in (2, 3):
        raise ESQLError("LOCATE takes (string, substring[, start])")
    s, sub = _emit(args[0]), _emit(args[1])
    tail = f", {_emit(args[2])}" if len(args) == 3 else ""
    return f"locate({sub}, {s}{tail})"


def _sp_date_format(args):
    # ES|QL DATE_FORMAT([format,] date) — the OPTIONAL format comes
    # FIRST; Spark date_format(date, format). Both take java.time
    # patterns; the 1-arg default is ES's ISO8601 millis pattern.
    if len(args) == 1:
        return (f"date_format({_emit(args[0])}, "
                "'yyyy-MM-dd''T''HH:mm:ss.SSS''Z''')")
    if len(args) == 2:
        return f"date_format({_emit(args[1])}, {_emit(args[0])})"
    raise ESQLError("DATE_FORMAT takes ([format,] date)")


def _sp_date_diff(args):
    # ES|QL DATE_DIFF(unit, start, end) -> timestampdiff(UNIT, s, e):
    # complete-unit counts from java.time ChronoUnit on both. The unit
    # must be one of the long names as a string literal (ES's
    # abbreviation aliases like "dd" are not mirrored — raise).
    if len(args) != 3:
        raise ESQLError("DATE_DIFF takes (unit, start, end)")
    unit = _raw_str(args[0])
    if unit is None or unit.upper() not in _DATE_DIFF_UNITS:
        raise ESQLError(
            "DATE_DIFF unit must be a string literal in "
            f"{sorted(_DATE_DIFF_UNITS)}")
    return (f"timestampdiff({unit.upper()}, {_emit(args[1])}, "
            f"{_emit(args[2])})")


def _sp_split(args):
    # ES|QL SPLIT(string, delimiter) — the delimiter is a LITERAL;
    # Spark split(str, regex) is regex-based, so the literal is
    # regex-escaped driver-side. A non-literal delimiter would need
    # runtime regex quoting — raise instead (never-misread).
    if len(args) != 2:
        raise ESQLError("SPLIT takes (string, delimiter)")
    delim = _raw_str(args[1])
    if delim is None:
        raise ESQLError("SPLIT delimiter must be a string literal")
    return f"split({_emit(args[0])}, {_sql_str(re.escape(delim))})"


def _sp_mv_sum(args):
    # MV_SUM: f64 left-fold in element order; null/empty -> null (the
    # ES|QL multivalue null convention — aggregate() alone would give 0)
    if len(args) != 1:
        raise ESQLError("MV_SUM takes one array argument")
    c = _emit(args[0])
    return (f"CASE WHEN {c} IS NULL OR size({c}) = 0 THEN NULL "
            f"ELSE aggregate({c}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE)) END")


def _sp_mv_avg(args):
    if len(args) != 1:
        raise ESQLError("MV_AVG takes one array argument")
    c = _emit(args[0])
    return (f"CASE WHEN {c} IS NULL OR size({c}) = 0 THEN NULL "
            f"ELSE aggregate({c}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE)) "
            f"/ CAST(size({c}) AS DOUBLE) END")


def _sp_mv_first(args):
    # first/last element in ingest order; empty -> null (try_element_at
    # — plain element_at THROWS on out-of-range under ANSI mode)
    if len(args) != 1:
        raise ESQLError("MV_FIRST takes one array argument")
    return f"try_element_at({_emit(args[0])}, 1)"


def _sp_mv_last(args):
    if len(args) != 1:
        raise ESQLError("MV_LAST takes one array argument")
    return f"try_element_at({_emit(args[0])}, -1)"


# ES|QL DATE_EXTRACT takes java.time ChronoField names; the supported
# subset maps to Spark datetime extractors. DAY_OF_WEEK is ISO
# (1=Monday..7=Sunday) — Spark's dayofweek() is 1=Sunday, so it lowers
# to weekday()+1 (weekday: 0=Monday). All results are BIGINT (ES: long).
_CHRONO_FIELDS = {
    "YEAR": "year({0})",
    "MONTH_OF_YEAR": "month({0})",
    "DAY_OF_MONTH": "day({0})",
    "DAY_OF_YEAR": "dayofyear({0})",
    "DAY_OF_WEEK": "(weekday({0}) + 1)",
    "HOUR_OF_DAY": "hour({0})",
    "MINUTE_OF_HOUR": "minute({0})",
    "SECOND_OF_MINUTE": "second({0})",
    "ALIGNED_WEEK_OF_YEAR": "weekofyear({0})",
}


def _sp_date_extract(args):
    # ES|QL DATE_EXTRACT(datePart, date): the part is a string literal
    # ChronoField name (case-insensitive); unknown fields raise.
    if len(args) != 2:
        raise ESQLError("DATE_EXTRACT takes (datePart, date)")
    part = _raw_str(args[0])
    if part is None or part.upper() not in _CHRONO_FIELDS:
        raise ESQLError(
            "DATE_EXTRACT part must be a string literal in "
            f"{sorted(_CHRONO_FIELDS)}")
    return ("CAST(" + _CHRONO_FIELDS[part.upper()].format(_emit(args[1]))
            + " AS BIGINT)")


def _sp_date_parse(args):
    # ES|QL DATE_PARSE([format,] string) — format FIRST (the
    # DATE_FORMAT convention); Spark try_to_timestamp(str[, fmt]). The
    # 1-arg default is ISO8601, which to_timestamp already parses.
    # try_ variant: ES|QL DATE_PARSE returns null (with a warning) on an
    # unparseable row; ANSI to_timestamp would abort the whole query on
    # one bad string (ADVICE r05).
    if len(args) == 1:
        return f"try_to_timestamp({_emit(args[0])})"
    if len(args) == 2:
        return f"try_to_timestamp({_emit(args[1])}, {_emit(args[0])})"
    raise ESQLError("DATE_PARSE takes ([format,] string)")


def _sp_mv_slice(args):
    # ES|QL MV_SLICE(arr, start[, end]): 0-based, BOTH ends inclusive,
    # negative indices count from the end; end defaults to start. The
    # indices must be integer literals (the BUCKET-literal convention —
    # they shape the emitted slice arithmetic). Out-of-range
    # intersections are empty, and empty results follow the MV
    # null convention (null, never []).
    if len(args) not in (2, 3):
        raise ESQLError("MV_SLICE takes (array, start[, end])")
    c = _emit(args[0])
    s = _num_literal(args[1])
    e = _num_literal(args[2]) if len(args) == 3 else s
    if s is None or e is None or int(s) != s or int(e) != e:
        raise ESQLError("MV_SLICE start/end must be integer literals")
    s, e = int(s), int(e)

    def pos(k: int) -> str:
        # 1-based position; negatives resolve against size()
        return str(k + 1) if k >= 0 else f"(size({c}) + {k + 1})"

    ps = f"greatest({pos(s)}, 1)"
    ln = f"(least({pos(e)}, size({c})) - {ps} + 1)"
    return (f"CASE WHEN {c} IS NULL OR size({c}) = 0 OR {ln} <= 0 "
            f"THEN NULL ELSE slice({c}, {ps}, {ln}) END")


def _sp_mv_median(args):
    # ES|QL MV_MEDIAN: median of the multivalue; even counts average
    # the two middle values (emitted DOUBLE — the engine's documented
    # numeric reading; ES narrows back to the input's integer type).
    # Elements are cast to DOUBLE BEFORE the sort (ES is numeric-only
    # here; sorting the raw array would order string multivalues
    # lexicographically — "10" < "2" — and pick the wrong middle).
    # `div` keeps the index arithmetic integral under ANSI (int `/` is
    # a DOUBLE divide in Spark SQL).
    if len(args) != 1:
        raise ESQLError("MV_MEDIAN takes one array argument")
    c = _emit(args[0])
    srt = f"array_sort(transform({c}, x -> CAST(x AS DOUBLE)))"
    lo = f"element_at({srt}, CAST((size({c}) + 1) div 2 AS INT))"
    hi = f"element_at({srt}, CAST(size({c}) div 2 + 1 AS INT))"
    return (f"CASE WHEN {c} IS NULL OR size({c}) = 0 THEN NULL "
            f"ELSE ({lo} + {hi}) / 2.0 END")


def _sp_mv_zip(args):
    # ES|QL MV_ZIP(a, b[, delim]): pairwise string join, delim default
    # ","; the longer array's tail passes through unjoined — exactly
    # concat_ws over zip_with's null padding (concat_ws skips nulls).
    if len(args) not in (2, 3):
        raise ESQLError("MV_ZIP takes (array, array[, delim])")
    a, b = _emit(args[0]), _emit(args[1])
    d = _emit(args[2]) if len(args) == 3 else "','"
    return f"zip_with({a}, {b}, (x, y) -> concat_ws({d}, x, y))"


def _sp_sha256(args):
    if len(args) != 1:
        raise ESQLError("SHA256 takes one argument")
    return f"sha2({_emit(args[0])}, 256)"


def _sp_cidr_match(args):
    # ES|QL CIDR_MATCH(ip, "block", ...): true when the IPv4 address
    # falls in ANY block. The blocks must be string literals (they
    # resolve to integer bounds at emission via operators.aggs
    # parse_cidr — the ip_range/ip_prefix machinery); the ip operand is
    # a dotted-quad STRING column folded big-endian to int64, matching
    # ES's numeric ip ordering. IPv6 raises.
    if len(args) < 2:
        raise ESQLError("CIDR_MATCH takes (ip, block, ...)")
    from ..operators.aggs import parse_cidr

    ip = _emit(args[0])
    # try_cast in the octet fold: a malformed value (empty string,
    # hostname, IPv6 in the data) yields NULL -> false in filter context,
    # never an ANSI cast abort of the whole query (ADVICE r05)
    fold = (f"(TRY_CAST(split_part({ip}, '.', 1) AS BIGINT) * 16777216"
            f" + TRY_CAST(split_part({ip}, '.', 2) AS BIGINT) * 65536"
            f" + TRY_CAST(split_part({ip}, '.', 3) AS BIGINT) * 256"
            f" + TRY_CAST(split_part({ip}, '.', 4) AS BIGINT))")
    checks = []
    for a in args[1:]:
        block = _raw_str(a)
        if block is None or "/" not in block:
            raise ESQLError(
                "CIDR_MATCH blocks must be 'a.b.c.d/m' string literals")
        if ":" in block:
            raise ESQLError("CIDR_MATCH: IPv6 blocks are not supported")
        lo, hi = parse_cidr(block)
        checks.append(f"({fold} >= {lo} AND {fold} < {hi})")
    return "(" + " OR ".join(checks) + ")"


_SPECIAL = {
    "LOCATE": _sp_locate,
    "DATE_FORMAT": _sp_date_format,
    "DATE_DIFF": _sp_date_diff,
    "SPLIT": _sp_split,
    "MV_SUM": _sp_mv_sum,
    "MV_AVG": _sp_mv_avg,
    "MV_FIRST": _sp_mv_first,
    "MV_LAST": _sp_mv_last,
    "DATE_EXTRACT": _sp_date_extract,
    "DATE_PARSE": _sp_date_parse,
    "MV_SLICE": _sp_mv_slice,
    "MV_MEDIAN": _sp_mv_median,
    "MV_ZIP": _sp_mv_zip,
    "SHA256": _sp_sha256,
    "CIDR_MATCH": _sp_cidr_match,
}


def _emit(tokens, aggs_ok: bool = False) -> str:
    """Token list -> Spark SQL expression string. Recursive only for
    CASE(...) (ES|QL's variadic conditional becomes CASE WHEN)."""
    out, i = [], 0
    while i < len(tokens):
        kind, v = tokens[i]
        if kind == "str":
            body = v[1:-1].replace('\\"', '"').replace("\\\\", "\\")
            # Spark's SQL parser also backslash-escapes inside single
            # quotes — double them (like _sqlq) or a literal like
            # "C:\\dir" silently corrupts instead of raising.
            out.append(
                "'" + body.replace("\\", "\\\\").replace("'", "''") + "'")
        elif kind == "num":
            out.append(v)
        elif kind == "op":
            if v == "::":
                # ES|QL postfix cast: binds to the preceding PRIMARY —
                # an atom emission (identifier, literal, call) or a
                # paren group, which we fold by walking back to the
                # matching standalone "(" entry (call emissions are
                # single balanced strings, never a bare paren entry)
                if i + 1 >= len(tokens) or tokens[i + 1][0] != "id":
                    raise ESQLError(":: needs a type name")
                tname = tokens[i + 1][1].upper()
                if tname not in _COLON_TYPES:
                    raise ESQLError(f"unsupported ::cast type: {tname}")
                if not out:
                    raise ESQLError(":: needs a preceding expression")
                if out[-1] == ")":
                    depth, k2 = 0, len(out) - 1
                    while k2 >= 0:
                        if out[k2] == ")":
                            depth += 1
                        elif out[k2] == "(":
                            depth -= 1
                            if depth == 0:
                                break
                        k2 -= 1
                    if k2 < 0 or depth != 0:
                        raise ESQLError("unbalanced parens before ::")
                    grouped = " ".join(out[k2:])
                    out = out[:k2]
                    out.append(f"CAST({grouped} AS {_COLON_TYPES[tname]})")
                else:
                    out[-1] = (
                        f"CAST({out[-1]} AS {_COLON_TYPES[tname]})")
                i += 2
                continue
            out.append("=" if v == "==" else v)
        else:  # identifier
            up = v.upper()
            is_call = (
                up not in _KEYWORDS
                and i + 1 < len(tokens) and tokens[i + 1] == ("op", "(")
            )
            if is_call:
                j, depth = i + 1, 0
                while True:  # find the matching close paren
                    if tokens[j] == ("op", "("):
                        depth += 1
                    elif tokens[j] == ("op", ")"):
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                    if j >= len(tokens):
                        raise ESQLError("unbalanced parens in call")
                args = _split_top(tokens[i + 2:j]) if j > i + 2 else []
                if up == "BUCKET":
                    out.append(_emit_bucket(args))
                elif up in _SPECIAL:
                    out.append(_SPECIAL[up](args))
                elif up == "CASE":
                    if len(args) < 2:
                        raise ESQLError("CASE needs cond, value, ...")
                    pairs, dflt = args, None
                    if len(args) % 2 == 1:
                        pairs, dflt = args[:-1], args[-1]
                    s = "CASE"
                    for c, val in zip(pairs[0::2], pairs[1::2]):
                        s += f" WHEN {_emit(c)} THEN {_emit(val)}"
                    if dflt is not None:
                        s += f" ELSE {_emit(dflt)}"
                    out.append(s + " END")
                elif up in _CASTS:
                    if len(args) != 1:
                        raise ESQLError(f"{up} takes one argument")
                    out.append(f"CAST({_emit(args[0])} AS {_CASTS[up]})")
                elif up in _FUNCS:
                    inner = ", ".join(_emit(a) for a in args)
                    out.append(f"{_FUNCS[up]}({inner})")
                elif aggs_ok and up in _AGGS:
                    if up == "COUNT" and args == [[("op", "*")]]:
                        out.append("count(*)")
                    elif up == "COUNT":
                        out.append(f"count({_emit(args[0])})")
                    elif up == "COUNT_DISTINCT":
                        out.append(f"count(DISTINCT {_emit(args[0])})")
                    elif up == "MEDIAN":
                        out.append(f"percentile({_emit(args[0])}, 0.5)")
                    elif up == "PERCENTILE":
                        if len(args) != 2:
                            raise ESQLError("PERCENTILE(field, p)")
                        out.append(
                            f"percentile({_emit(args[0])}, ({_emit(args[1])}) / 100.0)"
                        )
                    elif up == "STD_DEV":
                        # ES|QL STD_DEV is the POPULATION deviation
                        out.append(f"stddev_pop({_emit(args[0])})")
                    elif up == "VALUES":
                        # ES|QL VALUES: unique values as a multivalue;
                        # ES documents NO order guarantee — this engine
                        # pins ascending (array_sort) so results are
                        # deterministic and oracle-mirrorable
                        out.append(
                            f"array_sort(collect_set({_emit(args[0])}))")
                    elif up == "WEIGHTED_AVG":
                        if len(args) != 2:
                            raise ESQLError("WEIGHTED_AVG(value, weight)")
                        v, wt = _emit(args[0]), _emit(args[1])
                        # exact closed form sum(v*w)/sum(w) in f64 —
                        # bit-mirrorable when v*w is integer-exact (the
                        # weighted_avg agg-kind recipe in contract.py)
                        out.append(
                            f"(sum(CAST(({v}) AS DOUBLE) * ({wt})) "
                            f"/ sum(CAST(({wt}) AS DOUBLE)))")
                    elif up == "TOP":
                        # ES|QL TOP(field, limit, "asc"|"desc"): the
                        # limit/order must be literals (they shape the
                        # aggregate — the BUCKET-literal convention)
                        if len(args) != 3:
                            raise ESQLError(
                                'TOP takes (field, limit, "asc"|"desc")')
                        lim = _num_literal(args[1])
                        order = _raw_str(args[2])
                        if lim is None or int(lim) != lim or lim <= 0:
                            raise ESQLError(
                                "TOP limit must be a positive integer "
                                "literal")
                        if order not in ("asc", "desc"):
                            raise ESQLError(
                                'TOP order must be "asc" or "desc"')
                        arr = f"array_sort(collect_list({_emit(args[0])}))"
                        if order == "desc":
                            arr = f"reverse({arr})"
                        out.append(f"slice({arr}, 1, {int(lim)})")
                    else:
                        out.append(f"{up.lower()}({_emit(args[0])})")
                else:
                    raise ESQLError(f"unsupported ES|QL function: {v}")
                i = j
            elif up == "RLIKE" and i + 1 < len(tokens) \
                    and tokens[i + 1][0] == "str":
                # ES|QL RLIKE matches the WHOLE string (Java matches());
                # Spark RLIKE is a partial find — anchor the pattern
                raw = (tokens[i + 1][1][1:-1]
                       .replace('\\"', '"').replace("\\\\", "\\"))
                out.append("RLIKE " + _sql_str(f"^(?:{raw})$"))
                i += 1
            elif up == "LIKE" and i + 1 < len(tokens) \
                    and tokens[i + 1][0] == "str":
                # ES|QL LIKE: * / ? wildcards (backslash-escapable),
                # NOT SQL % / _ — translate the literal pattern
                raw = (tokens[i + 1][1][1:-1]
                       .replace('\\"', '"').replace("\\\\", "\\"))
                out.append("LIKE " + _sql_str(_like_pattern(raw)))
                i += 1  # the literal is consumed
            elif up in _KEYWORDS:
                out.append(up)
            else:
                out.append(f"`{v}`")  # column reference
        i += 1
    return " ".join(out)


def _split_top_and(tokens):
    """Split on top-level AND keywords (never inside parens)."""
    parts, cur, depth = [], [], 0
    for t in tokens:
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
        if depth == 0 and t[0] == "id" and t[1].upper() == "AND":
            parts.append(cur)
            cur = []
        else:
            cur.append(t)
    parts.append(cur)
    return parts


def _match_conjunct(toks):
    """If the conjunct is exactly ``MATCH(field, "query")`` (the ES|QL
    8.16 full-text function), ``MATCH_PHRASE(field, "query")`` (9.1),
    or ``QSTR("query")`` (8.17 — Lucene query_string syntax, no field
    argument), return (fn_upper, field_or_None, query_text); else
    None."""
    if (len(toks) < 4 or toks[0][0] != "id"
            or toks[0][1].upper() not in ("MATCH", "MATCH_PHRASE", "QSTR")
            or toks[1] != ("op", "(")
            or toks[-1] != ("op", ")")):
        return None
    fn = toks[0][1].upper()
    depth = 0
    for i, t in enumerate(toks[1:], start=1):  # the call must span it all
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
            if depth == 0 and i != len(toks) - 1:
                return None
    args = _split_top(toks[2:-1])
    if fn == "QSTR":
        if len(args) != 1 or len(args[0]) != 1 or args[0][0][0] != "str":
            raise ESQLError('QSTR takes `QSTR("query string")`')
        return fn, None, args[0][0][1][1:-1]
    if (len(args) != 2 or len(args[0]) != 1 or args[0][0][0] != "id"
            or len(args[1]) != 1 or args[1][0][0] != "str"):
        raise ESQLError(f'{fn} takes `{fn}(field, "query text")`')
    return fn, args[0][0][1], args[1][0][1][1:-1]


def _expand_names(rest: str, columns, op: str) -> "list[str]":
    """KEEP/DROP argument list: plain column names or ES|QL wildcard
    patterns (``a*``, ``*_id``, bare ``*``). Patterns expand to the
    matching columns in FRAME order; arguments keep their listed order
    (first mention wins — a documented simple reading of ES|QL's
    exact-name-precedence rules). An unknown plain name or a pattern
    matching nothing raises, like ES|QL's "Unknown column"."""
    out: "list[str]" = []
    for part in _split_top(_tokenize(rest)):
        chunk = []
        for t in part:
            if t[0] == "id":
                chunk.append(t[1])
            elif t == ("op", "*"):
                chunk.append("*")
            else:
                raise ESQLError(
                    f"{op} takes column names or wildcard patterns")
        if not chunk:
            raise ESQLError(f"empty {op} argument")
        pat = "".join(chunk)
        if "*" in pat:
            rx = re.compile(
                "^" + re.escape(pat).replace("\\*", ".*") + "$")
            matched = [c for c in columns if rx.match(c)]
            if not matched:
                raise ESQLError(f"{op}: no columns match {pat!r}")
            out.extend(c for c in matched if c not in out)
        else:
            if pat not in columns:
                raise ESQLError(f"{op}: unknown column {pat!r}")
            if pat not in out:
                out.append(pat)
    return out


def _assignments(tokens):
    """``name = expr [, name2 = expr2]`` -> [(name, expr_sql)]."""
    out = []
    for part in _split_top(tokens):
        if len(part) < 3 or part[0][0] != "id" or part[1] != ("op", "="):
            raise ESQLError("expected `name = expression`")
        out.append((part[0][1], part[2:]))
    return out


def _parse_stats(rest: str):
    """Shared STATS / INLINESTATS argument parse:
    ``alias = AGG(expr) [WHERE cond] [, ...]
    [BY col | alias = expr [, ...]]`` ->
    (by_cols: [(name, expr_sql | None)], [(alias, Column)]).
    A ``None`` expr means a plain existing column; an expression BY key
    (the ES|QL ``BY b = BUCKET(...)`` shape) is materialized as a
    column named ``name`` before grouping."""
    toks = _tokenize(rest)
    by_cols: "list[tuple[str, str | None]]" = []
    depth = 0
    for idx, t in enumerate(toks):
        if t == ("op", "("):
            depth += 1
            continue
        if t == ("op", ")"):
            depth -= 1
            continue
        # only a depth-0 BY splits the stage — an identifier named
        # `by` inside an aggregate's parens (CASE arg, column) is
        # an ordinary token, matching the per-agg WHERE scan below
        if depth == 0 and t[0] == "id" and t[1].upper() == "BY":
            for part in _split_top(toks[idx + 1:]):
                if len(part) == 1 and part[0][0] == "id":
                    by_cols.append((part[0][1], None))
                elif (len(part) >= 3 and part[0][0] == "id"
                        and part[1] == ("op", "=")):
                    by_cols.append((part[0][1], _emit(part[2:])))
                else:
                    raise ESQLError(
                        "STATS BY takes plain columns or `alias = expr`")
            toks = toks[:idx]
            break
    named = []
    if not toks:
        # `STATS BY col [, ...]` with no aggregates: legal ES|QL —
        # the result is the distinct grouping keys
        return by_cols, named
    for col, expr_toks in _assignments(toks):
        # ES|QL 8.16 per-aggregate filter: `alias = AGG(...)
        # WHERE cond` -> SQL `AGG(...) FILTER (WHERE cond)`
        cond_toks = None
        depth = 0
        for idx, t in enumerate(expr_toks):
            if t == ("op", "("):
                depth += 1
            elif t == ("op", ")"):
                depth -= 1
            elif (depth == 0 and t[0] == "id"
                  and t[1].upper() == "WHERE"):
                expr_toks, cond_toks = expr_toks[:idx], expr_toks[idx + 1:]
                break
        e = _emit(expr_toks, aggs_ok=True)
        if cond_toks is not None:
            e = f"{e} FILTER (WHERE {_emit(cond_toks)})"
        named.append((col, F.expr(e)))
    return by_cols, named


def esql(
    query: str,
    tables: "dict[str, DataFrame] | None" = None,
    indexes: "dict | None" = None,
    enrich: "dict[str, tuple[DataFrame, str]] | None" = None,
    lookups: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Run an ES|QL pipeline against named DataFrames and/or indexes.
    ``tables`` maps a FROM name to a frame (the Iceberg/parquet catalog
    stand-in); ``indexes`` maps a FROM name to a BM25Searcher — the
    frame is then the index's docmap (doc_id, conv_id, turn_idx,
    doc_len, is_rollup) and WHERE may use the ES|QL 8.16 full-text
    function ``MATCH(text, "query")``: filter context (no scoring, ES
    match semantics — OR of analyzed terms), lowered as a left-semi
    join against the engine's pruned match set (match_docs — one
    postings scan, never a full-text scan of stored source).
    ``MATCH_PHRASE(text, "a b")`` (ES|QL 9.1) likewise: filter context
    = semi-join against phrase_query's match set (positional index
    required; under METADATA _score it contributes the engine's BM25
    phrase score, tf = phrase freq). Both
    must be a TOP-LEVEL AND conjunct of their WHERE (nesting under
    OR/NOT would need per-row scoring context — raises); either against
    a plain table raises. ``enrich`` maps ENRICH policy names to
    (lookup_frame, match_field) — ES enrich indexes are small lookup
    tables by design, so the join BROADCASTS the policy side (left
    join: non-matching rows keep nulls, the ES behavior). ``lookups``
    maps LOOKUP JOIN index names to frames (ES lookup-mode indexes —
    small by construction, broadcast; same-named non-key columns are
    replaced by the lookup side, multiple matches fan out). Returns the
    lowered DataFrame — lazily planned like any other."""
    stages = _split_stages(query)
    if not stages:
        raise ESQLError("empty ES|QL query")

    if re.match(r"^ROW(\s|$)", stages[0], re.I):
        # ES|QL ROW source command: literal columns, one row. Needs a
        # live session (there is no FROM frame to borrow one from).
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ESQLError("ROW needs an active SparkSession")
        cols = [
            F.expr(_emit(toks)).alias(cname)
            for cname, toks in _assignments(_tokenize(stages[0][3:]))
        ]
        df = spark.range(1).select(*cols)
        return _run_stages(df, stages[1:], None, False, True,
                           enrich, lookups)

    m = re.match(
        r"^FROM\s+([A-Za-z_][A-Za-z0-9_]*)(\s+METADATA\s+_score)?$",
        stages[0], re.I,
    )
    if not m:
        raise ESQLError("ES|QL must start with `FROM <table>`")
    name, with_score = m.group(1), bool(m.group(2))
    tables, indexes = tables or {}, indexes or {}
    searcher = None
    if name in tables:
        df = tables[name]
    elif name in indexes:
        searcher = indexes[name]
        df = searcher.ix.docmap.select(
            "doc_id", "conv_id", "turn_idx", "doc_len", "is_rollup"
        )
        # One consistent live-doc set for EVERY pipeline shape: a filtered
        # alias (default_doc_filter) and pending delete_by_query tombstones
        # must constrain plain pipelines (FROM ix | STATS ...) and the
        # unscored MATCH semi-join exactly like the METADATA _score path
        # (whose _all_match_scores already folds them via _apply_deletes).
        # Composing at the base frame fixes both: every downstream stage —
        # semi-join, score inner-join, WHERE, STATS — intersects with it.
        if searcher._default_filter is not None:
            df = df.filter(searcher._default_filter)
        if searcher._deletes is not None:
            df = df.join(searcher._deletes, "doc_id", "left_anti")
    else:
        raise ESQLError(f"unknown table: {name}")
    if with_score:
        # ES|QL `METADATA _score` (8.18): MATCH conjuncts score. The
        # fold is well-defined only when every scoring MATCH sits in
        # the FIRST stage — enforced below; pure filters score 0.0.
        if searcher is None:
            raise ESQLError("METADATA _score needs a FROM over an index")
        df = df.withColumn("_score", F.lit(0.0).cast("float"))

    # the FORK fusion below scores branches over the whole index, so it
    # is sound only on the untouched FROM frame (no alias filter or
    # tombstones either — those restrict it before any stage runs)
    untouched = (with_score and searcher._deletes is None
                 and searcher._default_filter is None)
    return _run_stages(df, stages[1:], searcher, with_score, True,
                       enrich, lookups, untouched=untouched)


def _split_stages(query: str) -> "list[str]":
    """Split an ES|QL pipeline on top-level ``|`` — never inside a
    string literal and never inside parens (FORK branches carry whole
    sub-pipelines inside their parens)."""
    stages, cur, in_str, depth = [], [], False, 0
    k = 0
    while k < len(query):
        ch = query[k]
        if ch == '"' and (k == 0 or query[k - 1] != "\\"):
            in_str = not in_str
        if not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        if ch == "|" and not in_str and depth == 0:
            stages.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        k += 1
    stages.append("".join(cur))
    return [s.strip() for s in stages if s.strip()]


def _fork_branches(rest: str) -> "list[str]":
    """Parse ``FORK (branch) (branch) ...`` — top-level paren groups,
    nothing else allowed between them."""
    branches, depth, start, in_str = [], 0, None, False
    for k, ch in enumerate(rest):
        if ch == '"' and (k == 0 or rest[k - 1] != "\\"):
            in_str = not in_str
        if in_str:
            continue
        if ch == "(":
            if depth == 0:
                start = k + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ESQLError("unbalanced parens in FORK")
            if depth == 0:
                branches.append(rest[start:k])
        elif depth == 0 and not ch.isspace():
            raise ESQLError("FORK takes only parenthesized branches")
    if depth != 0:
        raise ESQLError("unbalanced parens in FORK")
    if len(branches) < 2:
        raise ESQLError("FORK needs at least two branches")
    return branches


def _fork_head_topk(btext: str):
    """If a FORK branch is exactly the scored top-k head shape

        WHERE MATCH(text, "q") | SORT _score DESC, doc_id ASC | LIMIT n

    (single plain-MATCH conjunct, the engine's pinned total order, an
    integer limit, nothing after), return ``(qtext, n)``; else None.
    This is the shape the fused single-scan FORK lowering handles."""
    stages = _split_stages(btext)
    if len(stages) != 3:
        return None
    ops = []
    for st in stages:
        sm = re.match(r"^([A-Za-z_]+)\s*(.*)$", st, re.S)
        if not sm:
            return None
        ops.append((sm.group(1).upper(), sm.group(2).strip()))
    if [o for o, _ in ops] != ["WHERE", "SORT", "LIMIT"]:
        return None
    conjuncts = _split_top_and(_tokenize(ops[0][1]))
    if len(conjuncts) != 1:
        return None
    mc = _match_conjunct(conjuncts[0])
    if mc is None or mc[0] != "MATCH" or mc[1] not in (None, "text"):
        return None
    if not re.match(r"^_score\s+DESC\s*,\s*doc_id\s+ASC$", ops[1][1], re.I):
        return None
    if not re.match(r"^\d+$", ops[2][1]):
        return None
    n = int(ops[2][1])
    # cap: the fused path runs a per-branch window over ~n_shards * n
    # capped candidates; a huge LIMIT would turn that into a near-full
    # match-set sort in <= n_branches partitions — the generic per-branch
    # TakeOrdered handles that shape better
    if n > 10_000:
        return None
    return mc[2], n


def _fused_fork_topk(df, heads, searcher):
    """Fused lowering for a FORK whose branches are ALL scored top-k
    heads (``_fork_head_topk``): ONE pruned postings scan scores every
    branch (``_all_match_scores_multi`` with shard-local caps at each
    branch's limit — sound because the branch LIMIT is a per-branch
    global (score desc, doc_id asc) selection edge, the plain top_k
    argument), per-branch global top-n via a window over the tiny capped
    candidate set, then ONE broadcast fetch join onto the base frame.
    Replaces one postings scan + one docmap join PER BRANCH. Scores are
    bit-identical to the per-branch path (same shard kernels). Returns
    None when no branch can match (caller falls back to the generic
    path, which produces the all-empty union shape)."""
    multi = searcher._all_match_scores_multi(
        [(q, "or") for q, _ in heads], per_q_k=[n for _, n in heads]
    )
    if multi is None:
        return None
    cands, _viable = multi
    from pyspark.sql.window import Window

    w = Window.partitionBy("q").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    lim = F.element_at(
        F.array(*[F.lit(int(n)) for _, n in heads]), F.col("q") + 1
    )
    sel = (
        cands.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= lim)
        .select(
            "doc_id",
            F.col("score").alias("_score"),
            F.concat(F.lit("fork"), (F.col("q") + 1).cast("string"))
            .alias("_fork"),
        )
    )
    base = df.drop("_score")
    return base.join(F.broadcast(sel), "doc_id", "inner").select(
        *base.columns, "_score", "_fork"
    )


def _run_stages(df, stages, searcher, with_score, first_where,
                enrich, lookups, untouched=False):
    """Apply a list of ES|QL stages to ``df``. Factored out of
    ``esql()`` so FORK can recurse: each branch runs this over the
    current frame with its own ``first_where`` state (a scoring MATCH
    is legal in a branch's first WHERE when FORK is the first stage).
    ``untouched``: ``df`` is the scored FROM frame exactly as ``esql()``
    built it; every stage clears it (LIMIT/SORT/SAMPLE/MV_EXPAND leave
    ``first_where`` set but still change the rows a branch sees)."""
    for stage in stages:
        fork_fusable, untouched = untouched, False
        sm = re.match(r"^([A-Za-z_]+)\s*(.*)$", stage, re.S)
        if not sm:
            raise ESQLError(f"cannot parse stage: {stage[:40]!r}")
        op, rest = sm.group(1).upper(), sm.group(2).strip()
        if op == "WHERE":
            residual, score_parts = [], []
            for conj in _split_top_and(_tokenize(rest)):
                mc = _match_conjunct(conj)
                if mc is not None:
                    fn, field, qtext = mc
                    if searcher is None:
                        raise ESQLError(
                            f"{fn} needs a FROM over an index (pass it "
                            "via the `indexes` mapping)")
                    if field is not None and field != "text":
                        raise ESQLError(
                            f"{fn} field must be `text` (the indexed "
                            f"field), got {field!r}")
                    if with_score:
                        if not first_where:
                            raise ESQLError(
                                f"with METADATA _score every {fn} must "
                                "live in the FIRST WHERE stage (the "
                                "score fold is defined there)")
                        if fn == "MATCH_PHRASE":
                            # BM25 phrase score (tf = phrase freq) over
                            # the FULL match set — phrase_query's k-edge
                            # pushed past any corpus (the positional
                            # index must exist; pending tombstones
                            # raise inside, the phrase-family contract)
                            score_parts.append(
                                searcher.phrase_query(
                                    qtext, k=2_147_483_647,
                                    with_meta=False,
                                ).select("doc_id", "score"))
                        elif fn == "QSTR":
                            # full Lucene classic syntax through the
                            # engine's query_string parser; its scored
                            # full match set joins the same fold
                            score_parts.append(
                                searcher.query_string(
                                    qtext, k=2_147_483_647,
                                    with_meta=False,
                                ).select("doc_id", "score"))
                        else:
                            score_parts.append(
                                searcher._all_match_scores(qtext, mode="or"))
                    elif fn in ("MATCH_PHRASE", "QSTR"):
                        src = (searcher.phrase_query if fn == "MATCH_PHRASE"
                               else searcher.query_string)
                        df = df.join(
                            src(qtext, k=2_147_483_647, with_meta=False)
                            .select("doc_id"),
                            "doc_id", "left_semi",
                        )
                    else:
                        df = df.join(
                            searcher.match_docs(qtext, mode="or")
                            .select("doc_id"),
                            "doc_id", "left_semi",
                        )
                elif any(t[0] == "id" and t[1].upper()
                         in ("MATCH", "MATCH_PHRASE", "QSTR")
                         for t in conj):
                    raise ESQLError(
                        "MATCH/MATCH_PHRASE/QSTR must be a top-level AND "
                        "conjunct of WHERE (filter context)")
                else:
                    residual.append(conj)
            if score_parts:
                if any(p is None for p in score_parts):
                    df = df.filter(F.lit(False))  # an OOV MATCH: no hits
                else:
                    # every conjunct must match (AND): inner-join fold;
                    # f64 accumulate in CONJUNCT order, f32 emit — the
                    # engine's dis_max/compound determinism contract.
                    sc = score_parts[0].select(
                        "doc_id", F.col("score").cast("double").alias("_s0"))
                    for i, p in enumerate(score_parts[1:], start=1):
                        sc = sc.join(
                            p.select("doc_id",
                                     F.col("score").cast("double")
                                     .alias(f"_s{i}")),
                            "doc_id", "inner")
                    total = F.col("_s0")
                    for i in range(1, len(score_parts)):
                        total = total + F.col(f"_s{i}")
                    df = df.drop("_score").join(
                        sc.select("doc_id",
                                  total.cast("float").alias("_score")),
                        "doc_id", "inner")
            if residual:
                pred = " AND ".join(f"({_emit(c)})" for c in residual)
                df = df.filter(F.expr(pred))
            first_where = False
        elif op == "EVAL":
            for col, expr_toks in _assignments(_tokenize(rest)):
                df = df.withColumn(col, F.expr(_emit(expr_toks)))
        elif op == "STATS":
            by_cols, named = _parse_stats(rest)
            # expression BY keys (`BY b = BUCKET(...)`) materialize first
            for bname, bsql in by_cols:
                if bsql is not None:
                    df = df.withColumn(bname, F.expr(bsql))
            by_names = [n for n, _ in by_cols]
            aggs = [c.alias(n) for n, c in named]
            if not named and not by_names:
                raise ESQLError("STATS needs aggregates or BY keys")
            if not named:
                # aggregate-free STATS BY: distinct grouping keys
                df = df.select(*by_names).distinct()
            else:
                df = (df.groupBy(*by_names).agg(*aggs)
                      if by_names else df.agg(*aggs))
        elif op == "INLINESTATS":
            # ES|QL INLINESTATS (8.x): like STATS but the aggregates are
            # APPENDED to every input row instead of collapsing it.
            # Lowered as groupBy/agg + an equi-join back on the BY keys
            # (window functions would shuffle the full row payload AND
            # cannot express DISTINCT aggregates; the agg side is one row
            # per group, so with no BY it broadcasts, and with BY keys AQE
            # picks broadcast when the group count is small).
            by_cols, named = _parse_stats(rest)
            if not named:
                raise ESQLError("INLINESTATS needs at least one aggregate")
            for bname, bsql in by_cols:
                if bsql is not None:
                    df = df.withColumn(bname, F.expr(bsql))
            by_names = [n for n, _ in by_cols]
            aggs = [c.alias(n) for n, c in named]
            # ES|QL semantics: a same-named pre-existing column is shadowed
            new_names = {n for n, _ in named}
            keep = [c for c in df.columns if c not in new_names]
            if clash := new_names & set(by_names):
                raise ESQLError(f"INLINESTATS alias shadows its BY key: "
                                f"{sorted(clash)}")
            if by_names:
                df = df.select(*keep).join(
                    df.groupBy(*by_names).agg(*aggs), by_names, "left")
            else:
                df = df.select(*keep).crossJoin(F.broadcast(df.agg(*aggs)))
        elif op == "SORT":
            keys = []
            for part in _split_top(_tokenize(rest)):
                nulls = None  # ES|QL `SORT col [ASC|DESC] [NULLS FIRST|LAST]`
                if (len(part) >= 2 and part[-2][0] == "id"
                        and part[-2][1].upper() == "NULLS"
                        and part[-1][0] == "id"
                        and part[-1][1].upper() in ("FIRST", "LAST")):
                    nulls = part[-1][1].upper()
                    part = part[:-2]
                desc = False
                if part and part[-1][0] == "id" and part[-1][1].upper() in ("ASC", "DESC"):
                    desc = part[-1][1].upper() == "DESC"
                    part = part[:-1]
                e = F.expr(_emit(part))
                if nulls == "FIRST":
                    e = e.desc_nulls_first() if desc else e.asc_nulls_first()
                elif nulls == "LAST":
                    e = e.desc_nulls_last() if desc else e.asc_nulls_last()
                else:
                    e = e.desc() if desc else e.asc()
                keys.append(e)
            df = df.orderBy(*keys)
        elif op == "LIMIT":
            if not re.match(r"^\d+$", rest):
                raise ESQLError("LIMIT takes an integer")
            df = df.limit(int(rest))
        elif op == "KEEP":
            df = df.select(*_expand_names(rest, df.columns, "KEEP"))
        elif op == "DROP":
            df = df.drop(*_expand_names(rest, df.columns, "DROP"))
        elif op == "ENRICH":
            em = re.match(
                r"^([A-Za-z_][A-Za-z0-9_]*)\s+ON\s+([A-Za-z_][A-Za-z0-9_]*)"
                r"(?:\s+WITH\s+(.+))?$", rest, re.I | re.S)
            if not em:
                raise ESQLError("ENRICH takes `policy ON key [WITH ...]`")
            pol, key, with_part = em.group(1), em.group(2), em.group(3)
            if pol not in (enrich or {}):
                raise ESQLError(f"unknown ENRICH policy: {pol}")
            lk, match_field = enrich[pol]
            if with_part:
                sel = [F.col(match_field)]
                for part in _split_top(_tokenize(with_part)):
                    if len(part) == 1 and part[0][0] == "id":
                        sel.append(F.col(part[0][1]))
                    elif (len(part) == 3 and part[0][0] == "id"
                          and part[1] == ("op", "=") and part[2][0] == "id"):
                        sel.append(F.col(part[2][1]).alias(part[0][1]))
                    else:
                        raise ESQLError("WITH takes `[alias =] field`")
                lk = lk.select(*sel)
            added = [c for c in lk.columns if c != match_field]
            clash = [c for c in added if c in df.columns]
            if clash:
                raise ESQLError(
                    f"ENRICH fields already exist: {clash} (alias them "
                    "via WITH new_name = field)")
            df = df.join(
                F.broadcast(lk.withColumnRenamed(match_field, key)),
                key, "left",
            )
        elif op == "LOOKUP":
            # ES|QL 8.18 LOOKUP JOIN: left join against a lookup-mode
            # index; same-named non-key columns are REPLACED by the
            # lookup side (null for non-matching rows — the documented
            # ES behavior), multiple lookup matches fan out into
            # multiple result rows. Lookup indexes are small by
            # construction (ES enforces lookup index mode), so the
            # right side broadcasts — no shuffle of the main frame.
            lm = re.match(
                r"^JOIN\s+([A-Za-z_][A-Za-z0-9_]*)\s+ON\s+"
                r"([A-Za-z_][A-Za-z0-9_]*)$", rest, re.I)
            if not lm:
                raise ESQLError("LOOKUP JOIN takes `<lookup_index> ON key`")
            name, key = lm.group(1), lm.group(2)
            if name not in (lookups or {}):
                raise ESQLError(f"unknown lookup index: {name}")
            lk = lookups[name]
            if key not in lk.columns:
                raise ESQLError(
                    f"LOOKUP JOIN key {key!r} missing from lookup "
                    f"index {name}")
            if key not in df.columns:
                raise ESQLError(f"LOOKUP JOIN key {key!r} missing from input")
            replaced = [c for c in lk.columns
                        if c != key and c in df.columns]
            if replaced:
                df = df.drop(*replaced)
            df = df.join(F.broadcast(lk), key, "left")
        elif op == "SAMPLE":
            # ES|QL SAMPLE, made DETERMINISTIC (the repo contract: no
            # RNG without a fixed seed — ES's own SAMPLE is random and
            # unreproducible). A row survives iff knuth_hash(id) <
            # p * 2^32 — the same split-product hash as the sampler
            # aggs and train_val_split, so an oracle reproduces the
            # exact sample. Takes an optional id column (default
            # doc_id), which must be integral.
            smm = re.match(
                r"^(0?\.\d+|1\.0|0|1)(?:\s+([A-Za-z_][A-Za-z0-9_]*))?$",
                rest)
            if not smm:
                raise ESQLError("SAMPLE takes `p (0..1) [id_col]`")
            p = float(smm.group(1))
            idc = smm.group(2) or "doc_id"
            if idc not in df.columns:
                raise ESQLError(
                    f"SAMPLE id column {idc!r} missing (deterministic "
                    "sampling hashes a stable integral id)")
            from ..operators.aggs import _knuth_hash

            df = df.filter(
                _knuth_hash(F.col(idc)) < F.lit(int(p * (1 << 32)))
            )
        elif op == "MV_EXPAND":
            cm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)$", rest)
            if not cm:
                raise ESQLError("MV_EXPAND takes one column")
            c = cm.group(1)
            # explode_outer: a null/empty multivalue keeps its row with
            # a null value — the ES|QL MV_EXPAND null behavior
            df = df.withColumn(c, F.explode_outer(c))
        elif op == "CHANGE_POINT":
            # ES|QL CHANGE_POINT (9.x): detect a step change in `value`
            # ordered by `key` and append `type` + `pvalue` columns on
            # the detected row (null on every other row). Deterministic
            # reading: the operators.aggs.change_point two-sample split
            # statistic — the appended `pvalue` column carries that
            # STATISTIC, not a p-value (documented deviation: ES's
            # p-values come from iterative numeric approximations that
            # are not oracle-mirrorable). The frame must already be a
            # bucketed series with unique keys, same as the agg.
            cm = re.match(
                r"^([A-Za-z_][A-Za-z0-9_]*)"
                r"(?:\s+ON\s+([A-Za-z_@][A-Za-z0-9_.@]*))?"
                r"(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*,"
                r"\s*([A-Za-z_][A-Za-z0-9_]*))?$",
                rest, re.I)
            if not cm:
                raise ESQLError(
                    "CHANGE_POINT takes `value [ON key] "
                    "[AS type_col, pvalue_col]`")
            val, key, tname, pname = cm.groups()
            key = key or "@timestamp"
            tname, pname = tname or "type", pname or "pvalue"
            if key not in df.columns:
                raise ESQLError(
                    f"CHANGE_POINT key column {key!r} not in frame")
            if val not in df.columns:
                raise ESQLError(
                    f"CHANGE_POINT value column {val!r} not in frame")
            from ..operators.aggs import change_point as _cp

            ann = (
                _cp(df.select(key, val), key, val)
                .filter(F.col("type") == "step_change")
                .select(
                    F.col("key").alias(key),
                    F.col("type").alias(tname),
                    F.col("statistic").alias(pname),
                )
            )
            df = df.join(F.broadcast(ann), on=key, how="left")
        elif op in ("DISSECT", "GROK"):
            col, pat = _parse_extract_stage(rest, op)
            cols = (_dissect_columns(col, pat) if op == "DISSECT"
                    else _grok_columns(col, pat))
            for cname, expr, cast_t in cols:
                e = F.expr(expr)
                if cast_t:
                    e = e.cast(cast_t)
                df = df.withColumn(cname, e)
        elif op == "RENAME":
            for part in _split_top(_tokenize(rest)):
                if (len(part) != 3 or part[1][0] != "id"
                        or part[1][1].upper() != "AS"):
                    raise ESQLError("RENAME takes `old AS new`")
                df = df.withColumnRenamed(part[0][1], part[2][1])
        elif op == "FORK":
            # ES|QL FORK (8.19/9.x): run each parenthesized branch
            # pipeline over the CURRENT frame, tag rows with the branch
            # discriminator `_fork` ("fork1", "fork2", ...), and union
            # by name (a column only one branch EVALs is null in the
            # others — the documented ES behavior). Each branch gets its
            # own first_where: when FORK is the first stage of a scored
            # pipeline, a branch's first WHERE may carry scoring MATCH
            # conjuncts exactly like a top-level first WHERE.
            if "_fork" in df.columns:
                raise ESQLError("nested FORK is not supported")
            branches = _fork_branches(rest)
            # fused single-scan lowering: when EVERY branch is a scored
            # top-k head (WHERE MATCH | SORT _score DESC, doc_id ASC |
            # LIMIT n) over the untouched FROM frame, one union-of-terms
            # postings scan scores all branches (shard-local caps at each
            # branch's limit — the branch LIMIT is a per-branch global
            # selection edge, so the cap is the plain top_k argument) and
            # one broadcast fetch join attaches the base frame. Per-branch
            # scans otherwise.
            fused = None
            if fork_fusable:
                heads = [_fork_head_topk(b) for b in branches]
                if all(h is not None for h in heads):
                    fused = _fused_fork_topk(df, heads, searcher)
            if fused is not None:
                df = fused
                df._fork_branch_cols = [tuple(df.columns)] * len(branches)
                first_where = False
                continue
            parts = []
            for bi, btext in enumerate(branches, start=1):
                bdf = _run_stages(df, _split_stages(btext), searcher,
                                  with_score, first_where, enrich, lookups)
                if "_fork" in bdf.columns:  # a FORK inside the branch
                    raise ESQLError("nested FORK is not supported")
                parts.append(bdf.withColumn("_fork", F.lit(f"fork{bi}")))
            branch_cols = [tuple(p.columns) for p in parts]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
            # remembered for a directly-following FUSE: merging is only
            # sound when every branch carried identical columns (a
            # branch-local EVAL null-fills the others, so "same doc"
            # rows would differ and silently fail to merge)
            df._fork_branch_cols = branch_cols
            first_where = False
        elif op == "FUSE":
            # ES|QL FUSE (9.x): fuse FORK branches by reciprocal-rank
            # (the default rrf method, rank_constant 60). Deterministic
            # reading: a branch's rank is row_number over its rows'
            # (_score desc, doc_id asc) — the engine's pinned total
            # order (ES ranks by each branch's row order; every scored
            # branch here ends in exactly that SORT, so they agree).
            # Fused _score = f64 sum of 1/(60 + rank) folded in _fork
            # order via array_sort(collect_list(struct)) — the repo's
            # cross-retriever fold contract (conversations_topk,
            # compound queries). Groups on every other column: FORK
            # branches share the base frame, so a doc's carried columns
            # are identical across branches by construction — enforced
            # below when FUSE directly follows FORK (a branch-local
            # EVAL would null-fill the other branches and the merge
            # would silently miss; raise instead).
            if rest.strip() and rest.strip().upper() != "RRF":
                raise ESQLError("FUSE supports only the rrf method")
            bcols = getattr(df, "_fork_branch_cols", None)
            if bcols is not None and len(set(bcols)) != 1:
                raise ESQLError(
                    "FUSE needs identical columns in every FORK branch "
                    "(a branch-local EVAL prevents merging; EVAL after "
                    "FUSE instead)")
            for need in ("_fork", "_score", "doc_id"):
                if need not in df.columns:
                    raise ESQLError(
                        f"FUSE needs the {need} column (FORK over a "
                        "scored index pipeline)")
            from pyspark.sql.window import Window

            w = Window.partitionBy("_fork").orderBy(
                F.col("_score").desc(), F.col("doc_id").asc())
            ranked = df.withColumn(
                "_contrib",
                (F.lit(1.0) / (F.lit(60.0)
                               + F.row_number().over(w).cast("double"))),
            )
            group_cols = [c for c in df.columns
                          if c not in ("_fork", "_score")]
            df = (
                ranked.groupBy(*group_cols)
                .agg(
                    F.aggregate(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("_fork"), F.col("_contrib")))),
                        F.lit(0.0),
                        lambda acc, s: acc + s["_contrib"],
                    ).alias("_score")
                )
            )
        else:
            raise ESQLError(f"unsupported ES|QL stage: {op}")
    return df
