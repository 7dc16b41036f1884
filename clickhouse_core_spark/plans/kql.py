"""KQL (Kusto Query Language) dialect frontend.

Reference: src/Parsers/Kusto/ — the reference ships a KQL parser
(ParserKQLQuery.h:19) covering the tabular operators where/filter,
project(-away/-rename/-keep), extend, summarize (with the documented
alias-naming rules, KQL_ReleaseNote.md), sort/order by, limit/take,
distinct, mv-expand, print and the KQL predicate operators
(ParserKQLOperators.cpp: contains/has/startswith/... and their
``_cs``/``!`` variants, ``between (a .. b)``, ``in~``, ``matches
regex``) plus timespan/datetime literals
(ParserKQLDateTypeTimespan.cpp).

This module translates the same surface into DataFrame operations:
each pipe stage becomes a Catalyst transformation, expressions are
rewritten KQL->Spark-SQL text and compiled with ``F.expr`` (JVM-side,
no Python UDFs).

SUPERSET of the reference subset (the reference's src/Parsers/Kusto/
has no join/union/make-series parser): ``make-series`` (default-filled
bins), ``join`` (public Kusto kinds inner/innerunique/leftouter/
rightouter/fullouter/leftsemi/rightsemi/leftanti/rightanti, ``on Key``
and ``on $left.a == $right.b`` terms, right-side clash columns
suffixed '1' per Kusto), and ``union`` (kind=outer column-superset /
kind=inner column-intersection, table names or parenthesized
subqueries).  innerunique dedups left keys BEFORE the join (Kusto
contract); which duplicate row survives is unspecified there and
nondeterministic here too.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_core_spark.plans.frontend import (
    _skip_string, _split_top_commas, _top_level_set)

_TIMESPAN_SECONDS = {"d": 86400.0, "h": 3600.0, "m": 60.0, "s": 1.0,
                     "ms": 0.001, "microsecond": 1e-6, "tick": 1e-7}

_OPERAND = r"""(?:[A-Za-z_][\w.]*\((?:[^()']|'[^']*'|\([^()]*\))*\)|'[^']*'|"[^"]*"|[\w.]+)"""


def _span_seconds(text: str) -> float | None:
    m = re.fullmatch(r"(\d+(?:\.\d+)?)(d|h|m|s|ms)", text.strip())
    if not m:
        return None
    return float(m.group(1)) * _TIMESPAN_SECONDS[m.group(2)]


def _sql_quote_regex(pat: str) -> str:
    # Spark SQL string literals process backslash escapes; double them
    # so \b etc. reach the regex engine intact
    return "'" + pat.replace("\\", "\\\\").replace("'", "''") + "'"


def _rx_escape_literal(operand: str) -> str | None:
    """Python-side regex-escape for a quoted KQL literal (None if the
    operand is not a literal — the has-family needs literal terms)."""
    if len(operand) >= 2 and operand[0] in "'\"" and operand[-1] == operand[0]:
        return re.escape(operand[1:-1])
    return None


def _term_pred(a: str, b: str, kind: str, ci: bool, neg: bool) -> str:
    """has / hasprefix / hassuffix — whole-term (word-boundary) match
    (ParserKQLOperators.cpp maps these to token-bloom-ish lookups; the
    faithful Spark form is a word-boundary regexp)."""
    lit = _rx_escape_literal(b)
    if lit is None:
        raise NotImplementedError(f"KQL '{kind}' needs a string literal term")
    flags = "(?i)" if ci else ""
    if kind == "has":
        pat = rf"{flags}\b{lit}\b"
    elif kind == "hasprefix":
        pat = rf"{flags}\b{lit}"
    else:                                   # hassuffix
        pat = rf"{flags}{lit}\b"
    e = f"{a} RLIKE {_sql_quote_regex(pat)}"
    return f"(NOT {e})" if neg else f"({e})"


def _str_pred(a: str, b: str, fn: str, ci: bool, neg: bool) -> str:
    if ci:
        a, b = f"lower({a})", f"lower({b})"
    if fn == "contains":
        e = f"instr({a}, {b}) > 0"
    else:                                   # startswith / endswith
        e = f"{fn}({a}, {b})"
    return f"(NOT ({e}))" if neg else f"({e})"


# (regex op token) -> builder(a, b) -> sql; longest tokens first so
# e.g. !contains_cs wins over contains
_PRED_OPS: list[tuple[str, object]] = [
    ("!contains_cs", lambda a, b: _str_pred(a, b, "contains", False, True)),
    ("contains_cs", lambda a, b: _str_pred(a, b, "contains", False, False)),
    ("!contains", lambda a, b: _str_pred(a, b, "contains", True, True)),
    ("contains", lambda a, b: _str_pred(a, b, "contains", True, False)),
    ("!startswith_cs", lambda a, b: _str_pred(a, b, "startswith", False, True)),
    ("startswith_cs", lambda a, b: _str_pred(a, b, "startswith", False, False)),
    ("!startswith", lambda a, b: _str_pred(a, b, "startswith", True, True)),
    ("startswith", lambda a, b: _str_pred(a, b, "startswith", True, False)),
    ("!endswith_cs", lambda a, b: _str_pred(a, b, "endswith", False, True)),
    ("endswith_cs", lambda a, b: _str_pred(a, b, "endswith", False, False)),
    ("!endswith", lambda a, b: _str_pred(a, b, "endswith", True, True)),
    ("endswith", lambda a, b: _str_pred(a, b, "endswith", True, False)),
    ("!hasprefix_cs", lambda a, b: _term_pred(a, b, "hasprefix", False, True)),
    ("hasprefix_cs", lambda a, b: _term_pred(a, b, "hasprefix", False, False)),
    ("!hasprefix", lambda a, b: _term_pred(a, b, "hasprefix", True, True)),
    ("hasprefix", lambda a, b: _term_pred(a, b, "hasprefix", True, False)),
    ("!hassuffix_cs", lambda a, b: _term_pred(a, b, "hassuffix", False, True)),
    ("hassuffix_cs", lambda a, b: _term_pred(a, b, "hassuffix", False, False)),
    ("!hassuffix", lambda a, b: _term_pred(a, b, "hassuffix", True, True)),
    ("hassuffix", lambda a, b: _term_pred(a, b, "hassuffix", True, False)),
    ("!has_cs", lambda a, b: _term_pred(a, b, "has", False, True)),
    ("has_cs", lambda a, b: _term_pred(a, b, "has", False, False)),
    ("!has", lambda a, b: _term_pred(a, b, "has", True, True)),
    ("has", lambda a, b: _term_pred(a, b, "has", True, False)),
    ("=~", lambda a, b: f"(lower({a}) = lower({b}))"),
    ("!~", lambda a, b: f"(lower({a}) <> lower({b}))"),
]


# scalar function renames (KustoFunctions/KQLStringFunctions.cpp,
# KQLDateTimeFunctions.cpp, KQLDynamicFunctions.cpp — the direct
# name-for-name subset of the factory table at
# KustoFunctions/KQLFunctionFactory.cpp)
_FN_MAP = {
    "strlen": "length", "tolower": "lower", "toupper": "upper",
    "strcat": "concat", "tostring": "string",
    "isnull": "isnull", "isnotnull": "isnotnull",
    "ceiling": "ceil", "trim_start": "ltrim", "trim_end": "rtrim",
    "replace_string": "replace", "reverse": "reverse",
    "now": "current_timestamp", "pow": "power",
    "strcat_delim": "concat_ws", "countof": "_kql_countof",
    "indexof": "_kql_indexof",
    # datetime
    "dayofmonth": "day", "dayofyear": "dayofyear", "getmonth": "month",
    "getyear": "year", "hourofday": "hour", "monthofyear": "month",
    "week_of_year": "weekofyear", "todatetime": "to_timestamp",
    "unixtime_seconds_todatetime": "timestamp_seconds",
    "unixtime_milliseconds_todatetime": "timestamp_millis",
    "unixtime_microseconds_todatetime": "timestamp_micros",
    # string / encoding
    "strrep": "repeat", "url_decode": "url_decode",
    "url_encode": "url_encode", "replace_regex": "regexp_replace",
    "base64_encode_tostring": "base64",
    # math / misc
    "isnan": "isnan", "toboolean": "boolean",
    # dynamic / array / bag (the engine's dynamic carrier is a JSON
    # string, so bag_keys = json_object_keys)
    "array_length": "size", "array_concat": "concat",
    "array_reverse": "reverse", "pack_array": "array", "pack": "map",
    "set_union": "array_union", "set_intersect": "array_intersect",
    "set_difference": "array_except", "set_has_element": "array_contains",
    "bag_keys": "json_object_keys",
    # summarize-context binary aggregates
    "binary_all_and": "bit_and", "binary_all_or": "bit_or",
    "binary_all_xor": "bit_xor",
}


def _args_of(m) -> list:
    return _split_top_commas(m.group(1))


_A = r"((?:[^()]|\([^()]*\))*)"

# template rewrites: KQL call -> Spark SQL expression (arg reorders,
# 0-vs-1-based indexing, composite expressions)
_FN_TEMPLATES: list = [
    (rf"\barray_index_of\({_A}\)",
     lambda a: f"(array_position({a[0]}, {a[1]}) - 1)"),
    (rf"\barray_sum\({_A}\)",
     lambda a: f"aggregate({a[0]}, cast(0.0 AS DOUBLE), "
               f"(s_, x_) -> s_ + x_)"),
    (rf"\barray_slice\({_A}\)",
     lambda a: f"slice({a[0]}, ({a[1]}) + 1, ({a[2]}) - ({a[1]}) + 1)"),
    (rf"\barray_ii?f+\({_A}\)",
     lambda a: f"transform({a[0]}, (c_, i_) -> IF(boolean(c_), "
               f"element_at({a[1]}, i_ + 1), element_at({a[2]}, i_ + 1)))"),
    (rf"\bextract_all\({_A}\)",
     lambda a: f"regexp_extract_all({a[1]}, {a[0]}, 1)"),
    (rf"\bextract_?json\({_A}\)",
     lambda a: f"get_json_object({a[1]}, {a[0]})"),
    (rf"\bstrcmp\({_A}\)",
     lambda a: f"(CASE WHEN {a[0]} = {a[1]} THEN 0 "
               f"WHEN {a[0]} < {a[1]} THEN -1 ELSE 1 END)"),
    (rf"\bbase64_decode_tostring\({_A}\)",
     lambda a: f"cast(unbase64({a[0]}) AS STRING)"),
    (rf"\bparse_urlquery\({_A}\)",
     lambda a: f"to_json(str_to_map(regexp_replace({a[0]}, "
               f"'^[^?]*[?]', ''), '&', '='))"),
    (rf"\bparse_url\({_A}\)",
     lambda a: f"to_json(named_struct("
               f"'Scheme', parse_url({a[0]}, 'PROTOCOL'), "
               f"'Host', parse_url({a[0]}, 'HOST'), "
               f"'Path', parse_url({a[0]}, 'PATH'), "
               f"'Query String', coalesce(parse_url({a[0]}, 'QUERY'), '')))"),
    (rf"\bparse_version\({_A}\)",
     lambda a: f"cast(concat_ws('', transform(concat(split({a[0]}, "
               f"'[.]'), array_repeat('0', greatest(4 - size(split({a[0]}, "
               f"'[.]')), 0))), p_ -> lpad(p_, 8, '0'))) AS DECIMAL(38,0))"),
    (rf"\bparse_csv\({_A}\)",
     lambda a: f"split({a[0]}, ',')"),
    (rf"\bparse_command_line\({_A}\)",
     lambda a: f"split(trim({a[0]}), '\\\\s+')"),
    (rf"\bparse_json\({_A}\)",
     lambda a: a[0]),        # dynamic carrier IS the JSON string
    (rf"\bjaccard_index\({_A}\)",
     lambda a: f"(size(array_intersect({a[0]}, {a[1]})) "
               f"/ size(array_union({a[0]}, {a[1]})))"),
    (rf"\bmake_datetime\({_A}\)",
     lambda a: "make_timestamp(" + ", ".join(
         (a + ["0", "0", "0"])[:6]) + ")"),
    (rf"\bmake_timespan\({_A}\)",
     lambda a: "make_interval(0, 0, 0, {}, {}, {}, {})".format(
         *(a if len(a) == 4
           else (["0"] + a if len(a) == 3 else ["0", a[0], a[1], "0"])))),
    (rf"\bdatetime_add\({_A}\)",
     lambda a: f"timestampadd({a[0].strip(chr(39))}, {a[1]}, {a[2]})"),
    (rf"\bdatetime_diff\({_A}\)",
     lambda a: f"timestampdiff({a[0].strip(chr(39))}, {a[2]}, {a[1]})"),
    (rf"\bdatetime_part\({_A}\)",
     lambda a: f"date_part({a[0]}, {a[1]})"),
    # KQL dayofweek returns days-since-Sunday (0..6); emitted uppercase
    # so the (case-sensitive) template cannot re-match its own output
    (rf"\bdayofweek\({_A}\)",
     lambda a: f"(DAYOFWEEK({a[0]}) - 1)"),
    # endof*: start of next period minus 1 microsecond (the engine's
    # tick; KQL's 100 ns tick is below Spark timestamp precision)
    (rf"\bendofday\({_A}\)",
     lambda a: f"(date_trunc('DAY', {a[0]}) + INTERVAL 1 DAY "
               f"- INTERVAL 1 MICROSECOND)"),
    (rf"\bendofweek\({_A}\)",
     lambda a: f"(date_trunc('WEEK', {a[0]}) + INTERVAL 7 DAY "
               f"- INTERVAL 1 MICROSECOND)"),
    (rf"\bendofmonth\({_A}\)",
     lambda a: f"(date_trunc('MONTH', {a[0]}) + INTERVAL 1 MONTH "
               f"- INTERVAL 1 MICROSECOND)"),
    (rf"\bendofyear\({_A}\)",
     lambda a: f"(date_trunc('YEAR', {a[0]}) + INTERVAL 1 YEAR "
               f"- INTERVAL 1 MICROSECOND)"),
]


def _fix_expr(e: str) -> str:
    """KQL scalar expression -> Spark SQL expression text."""
    e = e.strip()
    # @'verbatim' strings: backslashes are literal (no escapes) —
    # double them for Spark's escaping string literals
    e = re.sub(r"@'([^']*)'",
               lambda m: "'" + m.group(1).replace("\\", "\\\\") + "'", e)
    e = re.sub(r'@"([^"]*)"',
               lambda m: '"' + m.group(1).replace("\\", "\\\\") + '"', e)
    # datetime(...) literal (quoted or bare)
    e = re.sub(r"\bdatetime\(\s*'?\"?([^)'\"]+?)'?\"?\s*\)",
               lambda m: f"timestamp'{m.group(1).strip()}'", e)
    # ago(span) -> current_timestamp - span
    def _ago(m):
        sec = _span_seconds(m.group(1))
        if sec is None:
            raise ValueError(f"ago() needs a timespan literal: {m.group(1)}")
        return f"(current_timestamp() - INTERVAL {sec} SECOND)"
    e = re.sub(r"\bago\(\s*([^)]+)\s*\)", _ago, e)
    # bin(x, span|n): datetime bin for timespans, arithmetic bin for numbers
    def _bin(m):
        x, step = m.group(1).strip(), m.group(2).strip()
        sec = _span_seconds(step)
        if sec is not None:
            s = int(sec) if float(sec).is_integer() else sec
            return (f"timestamp_seconds(floor(unix_timestamp({x}) "
                    f"/ {s}) * {s})")
        return f"(floor(({x}) / ({step})) * ({step}))"
    e = re.sub(r"\bbin\(\s*((?:[^(),]|\([^()]*\))+)\s*,\s*((?:[^(),]|\([^()]*\))+)\s*\)", _bin, e)
    # substring(s, start[, len]) is 0-based in KQL
    def _substr(m):
        args = _split_top_commas(m.group(1))
        if len(args) == 2:
            return f"substring({args[0]}, ({args[1]}) + 1, 2147483647)"
        return f"substring({args[0]}, ({args[1]}) + 1, {args[2]})"
    e = re.sub(r"\bsubstring\(((?:[^()]|\([^()]*\))*)\)", _substr, e)
    # extract(regex, group, source) -> regexp_extract(source, regex, group)
    def _extract(m):
        args = _split_top_commas(m.group(1))
        if len(args) != 3:
            return m.group(0)
        return f"regexp_extract({args[2]}, {args[0]}, {args[1]})"
    e = re.sub(r"\bextract\(((?:[^()]|\([^()]*\))*)\)", _extract, e)
    # split(s, delim): KQL delimiter is a plain string, Spark's is regex
    def _split(m):
        args = _split_top_commas(m.group(1))
        if len(args) != 2:
            return m.group(0)
        lit = _rx_escape_literal(args[1])
        d = _sql_quote_regex(lit) if lit is not None else args[1]
        return f"split({args[0]}, {d})"
    e = re.sub(r"\bsplit\(((?:[^()]|\([^()]*\))*)\)", _split, e)
    # KQL type-constructor casts over special literals: real(+inf),
    # double(nan) (Kusto real literals; 02366_kql_func_math)
    e = re.sub(r"(?i)\b(?:real|double|float)\(\s*\+?inf\s*\)",
               "CAST('Infinity' AS DOUBLE)", e)
    e = re.sub(r"(?i)\b(?:real|double|float)\(\s*-inf\s*\)",
               "CAST('-Infinity' AS DOUBLE)", e)
    e = re.sub(r"(?i)\b(?:real|double|float)\(\s*nan\s*\)",
               "CAST('NaN' AS DOUBLE)", e)
    e = re.sub(r"(?i)\b(?:real|double)\(", "CAST_DOUBLE__(", e)
    e = re.sub(r"\bCAST_DOUBLE__\(((?:[^()]|\([^()]*\))*)\)",
               lambda m: f"CAST({m.group(1)} AS DOUBLE)", e)
    # conversions: null on failure (KQLCastingFunctions.cpp)
    for kql_t, sql_t in [("toint", "int"), ("tolong", "bigint"),
                         ("todouble", "double"), ("toreal", "double"),
                         ("tobool", "boolean"), ("todecimal", "decimal(38,9)")]:
        e = re.sub(rf"\b{kql_t}\(", f"try_cast_{sql_t}__(", e)
    e = re.sub(r"\btry_cast_(\w+(?:\(\d+,\d+\))?)__\(((?:[^()]|\([^()]*\))*)\)",
               lambda m: f"try_cast({m.group(2)} AS {m.group(1)})", e)
    # iif/iff -> if
    e = re.sub(r"\bii?f\(", "if(", e)
    # isempty / isnotempty
    e = re.sub(r"\bisempty\(((?:[^()]|\([^()]*\))*)\)",
               lambda m: f"(coalesce({m.group(1)}, '') = '')", e)
    e = re.sub(r"\bisnotempty\(((?:[^()]|\([^()]*\))*)\)",
               lambda m: f"(coalesce({m.group(1)}, '') <> '')", e)
    # startofday/week/month/year
    for part, trunc in [("day", "DAY"), ("week", "WEEK"), ("month", "MONTH"),
                        ("year", "YEAR")]:
        e = re.sub(rf"\bstartof{part}\(((?:[^()]|\([^()]*\))*)\)",
                   lambda m, t=trunc: f"date_trunc('{t}', {m.group(1)})", e)
    e = re.sub(r"\bformat_datetime\(((?:[^()]|\([^()]*\))*)\)",
               lambda m: "date_format(" + m.group(1) + ")", e)
    # template rewrites (arg reorders / composite expressions) — repeat
    # until stable so nested template calls resolve inside-out
    changed = True
    while changed:
        changed = False
        for pat, build in _FN_TEMPLATES:
            m2 = re.search(pat, e)
            if m2:
                e = e[:m2.start()] + build(_args_of(m2)) + e[m2.end():]
                changed = True
    # plain renames
    for k, v in _FN_MAP.items():
        e = re.sub(rf"\b{k}\(", f"{v}(", e)
    e = re.sub(r"\b_kql_countof\(((?:[^()]|\([^()]*\))*)\)",
               lambda m: (lambda a: f"(length({a[0]}) - length(replace({a[0]}, {a[1]}, ''))) "
                                    f"DIV length({a[1]})")(_split_top_commas(m.group(1))), e)
    e = re.sub(r"\b_kql_indexof\(((?:[^()]|\([^()]*\))*)\)",
               lambda m: (lambda a: f"(instr({a[0]}, {a[1]}) - 1)")(_split_top_commas(m.group(1))), e)
    # predicate operators (operand OP operand)
    for tok, build in _PRED_OPS:
        pat = rf"({_OPERAND})\s+{re.escape(tok)}\s+({_OPERAND})"
        if tok in ("=~", "!~"):
            pat = rf"({_OPERAND})\s*{re.escape(tok)}\s*({_OPERAND})"
        while True:
            m = re.search(pat, e)
            if not m:
                break
            e = e[:m.start()] + build(m.group(1), m.group(2)) + e[m.end():]
    # between (a .. b)
    def _between(m):
        neg = "NOT " if m.group(2) else ""
        return f"({m.group(1)} {neg}BETWEEN {m.group(3)} AND {m.group(4)})"
    e = re.sub(rf"({_OPERAND})\s+(!)?between\s*\(\s*((?:[^.()]|\([^()]*\))+?)\s*\.\.\s*((?:[^()]|\([^()]*\))+?)\s*\)",
               _between, e)
    # in~ / !in~ / !in
    e = re.sub(rf"({_OPERAND})\s+in~\s*\(([^)]*)\)",
               lambda m: f"(lower({m.group(1)}) IN ({', '.join('lower(' + p + ')' for p in _split_top_commas(m.group(2)))}))", e)
    e = re.sub(rf"({_OPERAND})\s+!in~\s*\(([^)]*)\)",
               lambda m: f"(lower({m.group(1)}) NOT IN ({', '.join('lower(' + p + ')' for p in _split_top_commas(m.group(2)))}))", e)
    e = re.sub(rf"({_OPERAND})\s+!in\s*\(", r"\1 NOT IN (", e)
    # matches regex
    e = re.sub(rf"({_OPERAND})\s+matches\s+regex\s+({_OPERAND})",
               r"(\1 RLIKE \2)", e)
    # == -> = (outside strings); != is valid Spark SQL already
    out, i, n = [], 0, len(e)
    while i < n:
        c = e[i]
        if c in "'\"":
            j = _skip_string(e, i)
            out.append(e[i:j])
            i = j
            continue
        if c == "=" and i + 1 < n and e[i + 1] == "=":
            out.append("=")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out).strip()


def _split_pipes(q: str) -> list[str]:
    tops = _top_level_set(q)
    parts, start = [], 0
    for i, c in enumerate(q):
        if c == "|" and i in tops:
            parts.append(q[start:i])
            start = i + 1
    parts.append(q[start:])
    return [p.strip() for p in parts if p.strip()]


def _alias_split(item: str) -> tuple[str | None, str]:
    """``alias = expr`` -> (alias, expr); respects == inside expr."""
    tops = _top_level_set(item)
    for i, c in enumerate(item):
        if (c == "=" and i in tops and (i + 1 >= len(item) or item[i + 1] != "=")
                and (i == 0 or item[i - 1] not in "=!<>~")):
            name = item[:i].strip()
            if re.fullmatch(r"[A-Za-z_]\w*", name):
                return name, item[i + 1:].strip()
            break
    return None, item


def _agg_to_column(expr: str, col_counter: list[int]) -> Column:
    """One summarize aggregate -> aliased Column, with the reference's
    naming rules (KQL_ReleaseNote.md): count() -> count_,
    count(Age) -> count_Age, expression args -> Columns1..N."""
    alias, body = _alias_split(expr)
    m = re.fullmatch(r"([A-Za-z_]\w*)\s*\(((?:.|\n)*)\)", body.strip())
    if not m:
        raise ValueError(f"summarize expects aggregate calls, got: {expr}")
    fn, arg = m.group(1).lower(), m.group(2).strip()

    def autoname(default_stub: str, a: str) -> str:
        if alias:
            return alias
        if a == "":
            return f"{default_stub}_"
        if re.fullmatch(r"[A-Za-z_]\w*", a):
            return f"{default_stub}_{a}"
        col_counter[0] += 1
        return f"Columns{col_counter[0]}"

    if fn == "count" and arg == "":
        return F.count(F.lit(1)).alias(autoname("count", ""))
    if fn == "count":
        return F.count(F.expr(_fix_expr(arg))).alias(autoname("count", arg))
    if fn == "countif":
        return F.count_if(F.expr(_fix_expr(arg))).alias(autoname("countif", arg))
    if fn == "dcount":
        a0 = _split_top_commas(arg)[0]          # accuracy arg ignored: exact
        return F.countDistinct(F.expr(_fix_expr(a0))).alias(autoname("dcount", a0))
    if fn in ("sum", "avg", "min", "max"):
        return getattr(F, fn)(F.expr(_fix_expr(arg))).alias(autoname(fn, arg))
    if fn in ("sumif", "avgif", "minif", "maxif"):
        x, p = _split_top_commas(arg)
        base = fn[:-2]
        return getattr(F, base)(
            F.when(F.expr(_fix_expr(p)), F.expr(_fix_expr(x)))
        ).alias(alias or f"{fn}_{x}" if re.fullmatch(r"[A-Za-z_]\w*", x)
                else autoname(fn, x))
    if fn == "percentile":
        x, lvl = _split_top_commas(arg)
        name = alias or (f"percentile_{x}_{lvl}"
                         if re.fullmatch(r"[A-Za-z_]\w*", x) else None)
        if name is None:
            name = autoname("percentile", x)
        return F.expr(f"percentile({_fix_expr(x)}, {float(lvl) / 100.0})").alias(name)
    if fn in ("make_list", "make_set"):
        f = F.collect_list if fn == "make_list" else F.collect_set
        return f(F.expr(_fix_expr(arg))).alias(autoname(fn, arg))
    if fn in ("arg_max", "arg_min"):
        mx, ret = _split_top_commas(arg)
        f = F.max_by if fn == "arg_max" else F.min_by
        return f(F.expr(_fix_expr(ret)), F.expr(_fix_expr(mx))) \
            .alias(alias or f"{fn}_{mx}_{ret}")
    if fn in ("stdev", "stdevp", "variance", "variancep"):
        target = {"stdev": F.stddev_samp, "stdevp": F.stddev_pop,
                  "variance": F.var_samp, "variancep": F.var_pop}[fn]
        return target(F.expr(_fix_expr(arg))).alias(autoname(fn, arg))
    if fn in ("take_any", "any"):
        return F.first(F.expr(_fix_expr(arg)), ignorenulls=True) \
            .alias(autoname(fn, arg))
    raise NotImplementedError(f"KQL aggregate '{fn}' is not mapped")


def _summarize(df: DataFrame, body: str) -> DataFrame:
    mby = None
    for i in sorted(_top_level_set(body)):
        if body[i:i + 4].lower() == " by " or body[i:i + 4].lower() == "\nby ":
            mby = i
            break
    aggs_text = body if mby is None else body[:mby]
    keys_text = None if mby is None else body[mby + 4:]
    counter = [0]
    aggs = [_agg_to_column(a, counter)
            for a in _split_top_commas(aggs_text)] if aggs_text.strip() else []
    if keys_text is None:
        return df.agg(*aggs) if aggs else df
    keys = []
    for k in _split_top_commas(keys_text):
        alias, body_k = _alias_split(k)
        if alias is None and re.fullmatch(r"[A-Za-z_]\w*", body_k.strip()):
            keys.append(F.col(body_k.strip()))
            continue
        if alias is None:
            # bin(X, n) without alias keeps X's name (release-note rule)
            mb = re.fullmatch(r"bin\(\s*([A-Za-z_]\w*)\s*,.*\)", body_k.strip(),
                              re.S)
            alias = mb.group(1) if mb else None
        if alias is None:
            counter[0] += 1
            alias = f"Columns{counter[0]}"
        keys.append(F.expr(_fix_expr(body_k)).alias(alias))
    return df.groupBy(*keys).agg(*aggs) if aggs else df.groupBy(*keys).agg()


def _sort(df: DataFrame, body: str) -> DataFrame:
    body = re.sub(r"^\s*by\s+", "", body, flags=re.I)
    cols = []
    for item in _split_top_commas(body):
        m = re.fullmatch(
            r"(.+?)(?:\s+(asc|desc))?(?:\s+nulls\s+(first|last))?",
            item.strip(), re.I | re.S)
        expr, direction, nulls = m.group(1), (m.group(2) or "desc").lower(), \
            (m.group(3) or "").lower()
        c = F.expr(_fix_expr(expr))
        # KQL default order is desc (ParserKQLSort.cpp)
        if direction == "desc":
            c = c.desc_nulls_first() if nulls == "first" else c.desc()
        else:
            c = c.asc_nulls_last() if nulls == "last" else c.asc()
        cols.append(c)
    return df.orderBy(*cols)


def _make_series(df: DataFrame, body: str) -> DataFrame:
    """``make-series a = agg(x) [default = d], ... on Axis from start
    to end step span [by keys]`` (ParserKQLMakeSeries.cpp): one row per
    group with a dense value array per aggregate (default-filled empty
    bins) plus the bin-start Axis array.  Shape: one shuffle to the
    (keys, bin) partial aggregation, one to reassemble per group —
    the same two-phase layout as timeSeries*ToGrid."""
    m = re.match(
        r"^(?P<aggs>.+?)\s+on\s+(?P<axis>[\w.]+)\s+from\s+(?P<start>.+?)"
        r"\s+to\s+(?P<end>.+?)\s+step\s+(?P<step>\S+)(?:\s+by\s+(?P<keys>.+))?$",
        body.strip(), re.I | re.S)
    if not m:
        raise ValueError(f"unparsable make-series: {body!r}")
    axis = m.group("axis")
    start_sql = _fix_expr(m.group("start"))
    end_sql = _fix_expr(m.group("end"))
    sec = _span_seconds(m.group("step"))
    if sec is None:
        raise ValueError(f"make-series step must be a timespan: {m.group('step')}")
    step = int(sec) if float(sec).is_integer() else sec
    keys = ([k.strip() for k in _split_top_commas(m.group("keys"))]
            if m.group("keys") else [])

    aggs, defaults, names = [], [], []
    counter = [0]
    for item in _split_top_commas(m.group("aggs")):
        dm = re.match(r"^(.*?)\s+default\s*=\s*(\S+)\s*$", item.strip(), re.I | re.S)
        default = dm.group(2) if dm else "0"
        col = _agg_to_column(dm.group(1) if dm else item, counter)
        # the alias is the last name in the Column's plan string
        name = col._jc.toString().split(" AS ")[-1].strip("`")
        aggs.append(col)
        defaults.append(default)
        names.append(name)

    start_s = F.unix_timestamp(F.expr(start_sql))
    end_s = F.unix_timestamp(F.expr(end_sql))
    n_bins = F.ceil((end_s - start_s).cast("double") / F.lit(step)).cast("int")
    bin_i = F.floor((F.unix_timestamp(F.col(axis)) - start_s) / F.lit(step)) \
        .cast("int")
    binned = (df.filter((F.col(axis) >= F.expr(start_sql))
                        & (F.col(axis) < F.expr(end_sql)))
              .withColumn("__bin", bin_i)
              .groupBy(*keys, "__bin").agg(*aggs))
    per_group = binned.groupBy(*keys).agg(
        F.max(n_bins).alias("__n"),
        *[F.map_from_entries(F.collect_list(
            F.struct(F.col("__bin"), F.col(nm)))).alias(f"__m_{nm}")
          for nm in names])
    def _series_col(nm: str, d: str) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.col("__n") - 1),
            lambda j: F.coalesce(F.try_element_at(F.col(f"__m_{nm}"), j),
                                 F.expr(_fix_expr(d)).cast("double"))).alias(nm)

    series_cols = [_series_col(nm, d) for nm, d in zip(names, defaults)]
    axis_col = F.transform(
        F.sequence(F.lit(0), F.col("__n") - 1),
        lambda j: F.timestamp_seconds(F.unix_timestamp(F.expr(start_sql))
                                      + j.cast("long") * F.lit(step))).alias(axis)
    return per_group.select(*keys, *series_cols, axis_col)


def _source(spark: SparkSession, text: str,
            tables: dict[str, DataFrame] | None) -> DataFrame:
    """A join/union operand: a table name or a parenthesized KQL
    subquery (recursive translation)."""
    text = text.strip()
    if text.startswith("(") and text.endswith(")"):
        return kql(spark, text[1:-1], tables)
    name = text.strip("`")
    if not re.fullmatch(r"[A-Za-z_]\w*", name):
        raise ValueError(f"KQL source must be a table or (subquery): "
                         f"{text!r}")
    return (tables[name] if tables is not None and name in tables
            else spark.table(name))


_KQL_JOIN_KINDS = {
    "inner": "inner", "innerunique": "inner",
    "leftouter": "left", "rightouter": "right", "fullouter": "full",
    "leftsemi": "left_semi", "leftanti": "left_anti",
    "rightsemi": "right_semi", "rightanti": "right_anti",
}


def _join(spark: SparkSession, left: DataFrame, body: str,
          tables: dict[str, DataFrame] | None) -> DataFrame:
    """Public Kusto join: ``join [kind=K] (RightSource) on Terms``.
    Terms: ``Key`` (same-name equi) or ``$left.a == $right.b``.
    Right-side columns clashing with left names get the Kusto '1'
    suffix; semi/anti kinds return one side's columns only.  The right
    kinds run as a swapped left_semi/left_anti."""
    m = re.match(r"^(?:kind\s*=\s*(\w+)\s+)?(\(.*\)|[A-Za-z_]\w*)\s+"
                 r"on\s+(.*)$", body, re.I | re.S)
    if not m:
        raise ValueError(f"KQL join expects '[kind=K] Source on "
                         f"terms': {body!r}")
    kind = (m.group(1) or "innerunique").lower()
    if kind not in _KQL_JOIN_KINDS:
        raise NotImplementedError(f"KQL join kind={kind}")
    right = _source(spark, m.group(2), tables)
    pairs: list[tuple[str, str]] = []
    for t in _split_top_commas(m.group(3)):
        t = t.strip()
        mm = re.match(r"^\$left\.(\w+)\s*==\s*\$right\.(\w+)$", t)
        if mm:
            pairs.append((mm.group(1), mm.group(2)))
        elif re.fullmatch(r"[A-Za-z_]\w*", t):
            pairs.append((t, t))
        else:
            raise NotImplementedError(f"KQL join term {t!r} (only Key "
                                      f"and $left.a == $right.b)")
    if kind in ("rightsemi", "rightanti"):
        how = "left_semi" if kind == "rightsemi" else "left_anti"
        cond = None
        for lk, rk in pairs:
            c = right[rk] == left[lk]
            cond = c if cond is None else (cond & c)
        return right.join(left, cond, how)
    if kind in ("leftsemi", "leftanti"):
        cond = None
        for lk, rk in pairs:
            c = left[lk] == right[rk]
            cond = c if cond is None else (cond & c)
        return left.join(right, cond, _KQL_JOIN_KINDS[kind])
    if kind == "innerunique":
        # Kusto dedups the LEFT side on the join keys before joining;
        # the surviving duplicate row is unspecified there too
        left = left.dropDuplicates([lk for lk, _ in pairs])
    renames = {c: c + "1" for c in right.columns if c in left.columns}
    for old, new in renames.items():
        right = right.withColumnRenamed(old, new)
    cond = None
    for lk, rk in pairs:
        c = left[lk] == right[renames.get(rk, rk)]
        cond = c if cond is None else (cond & c)
    return left.join(right, cond, _KQL_JOIN_KINDS[kind])


def kql(spark: SparkSession, query: str,
        tables: dict[str, DataFrame] | None = None) -> DataFrame:
    """Run a KQL tabular query; table names resolve from ``tables`` or
    the session catalog (temp views registered by ``Catalog``)."""
    stages = _split_pipes(query.strip().rstrip(";"))
    head = stages[0]

    if re.match(r"^print\b", head, re.I):
        items = _split_top_commas(head[5:])
        cols = []
        for i, it in enumerate(items):
            alias, body = _alias_split(it)
            cols.append(F.expr(_fix_expr(body)).alias(alias or f"print_{i}"))
        df = spark.range(1).select(*cols)
        stages = stages[1:]
    else:
        name = head.strip().strip("`")
        if not re.fullmatch(r"[A-Za-z_]\w*", name):
            raise ValueError(f"KQL query must start with a table or print: {head!r}")
        df = (tables[name] if tables is not None and name in tables
              else spark.table(name))
        stages = stages[1:]

    for st in stages:
        mo = re.match(r"^([a-z][a-z-]*)\b(.*)$", st.strip(), re.I | re.S)
        if not mo:
            raise ValueError(f"unparsable KQL stage: {st!r}")
        op, body = mo.group(1).lower(), mo.group(2).strip()
        if op in ("where", "filter"):
            df = df.filter(F.expr(_fix_expr(body)))
        elif op == "project":
            cols = []
            for it in _split_top_commas(body):
                alias, b = _alias_split(it)
                c = F.expr(_fix_expr(b))
                cols.append(c.alias(alias) if alias else c)
            df = df.select(*cols)
        elif op == "project-away":
            df = df.drop(*[c.strip() for c in _split_top_commas(body)])
        elif op == "project-keep":
            df = df.select(*[c.strip() for c in _split_top_commas(body)])
        elif op == "project-rename":
            for it in _split_top_commas(body):
                new, old = _alias_split(it)
                df = df.withColumnRenamed(old.strip(), new)
        elif op == "extend":
            for it in _split_top_commas(body):
                alias, b = _alias_split(it)
                if alias is None:
                    raise ValueError(f"extend needs name = expr: {it!r}")
                df = df.withColumn(alias, F.expr(_fix_expr(b)))
        elif op == "summarize":
            df = _summarize(df, " " + body)
        elif op in ("sort", "order"):
            df = _sort(df, body)
        elif op in ("take", "limit"):
            df = df.limit(int(body))
        elif op == "top":
            m = re.match(r"^(\d+)\s+by\s+(.*)$", body, re.I | re.S)
            if not m:
                raise ValueError(f"top expects 'top N by expr': {body!r}")
            df = _sort(df, m.group(2)).limit(int(m.group(1)))
        elif op == "distinct":
            if body.strip() == "*":
                df = df.distinct()
            else:
                df = df.select(*[c.strip() for c in
                                 _split_top_commas(body)]).distinct()
        elif op == "count":
            df = df.agg(F.count(F.lit(1)).alias("Count"))
        elif op == "mv-expand":
            col = body.strip()
            df = df.withColumn(col, F.explode(F.col(col)))
        elif op == "make-series":
            df = _make_series(df, body)
        elif op == "join":
            df = _join(spark, df, body, tables)
        elif op == "union":
            m = re.match(r"^(?:kind\s*=\s*(\w+)\s+)?(.*)$", body,
                         re.I | re.S)
            kind = (m.group(1) or "outer").lower()
            if kind not in ("outer", "inner"):
                raise NotImplementedError(f"KQL union kind={kind}")
            for src in _split_top_commas(m.group(2)):
                other = _source(spark, src, tables)
                if kind == "inner":
                    common = [c for c in df.columns if c in other.columns]
                    df = df.select(*common).unionByName(
                        other.select(*common))
                else:
                    df = df.unionByName(other, allowMissingColumns=True)
        elif op == "parse":
            # parse [kind=simple] Col with "lit" Name1 [: type] "lit" ...
            # (ParserKQLQuery.cpp parse operator, simple mode): literals
            # become anchors, fields become regex capture groups
            m = re.match(r"^(?:kind\s*=\s*(\w+)\s+)?([\w.]+)\s+with\s+(.*)$",
                         body, re.I | re.S)
            if not m:
                raise ValueError(f"parse expects '[kind=..] Col with "
                                 f"pattern': {body!r}")
            if m.group(1) and m.group(1).lower() not in ("simple",):
                raise NotImplementedError(
                    f"parse kind={m.group(1)} (only simple) is supported")
            src_col, pattern = m.group(2), m.group(3).strip()
            toks = re.findall(
                r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|\*|[\w]+(?:\s*:\s*\w+)?)",
                pattern)
            regex_parts, fields = [], []
            for t in toks:
                if t[0] in "'\"":
                    regex_parts.append(re.escape(t[1:-1]))
                elif t == "*":
                    regex_parts.append(".*?")
                else:
                    name = t.split(":")[0].strip()
                    typ = (t.split(":")[1].strip().lower()
                           if ":" in t else "string")
                    fields.append((name, typ))
                    regex_parts.append("(.*?)")
            # final greedy group so a trailing field captures to the end
            if regex_parts and regex_parts[-1] == "(.*?)":
                regex_parts[-1] = "(.*)"
            rx = "".join(regex_parts)
            kql_to_spark_t = {"long": "bigint", "int": "int",
                              "real": "double", "double": "double",
                              "string": "string", "bool": "boolean",
                              "datetime": "timestamp"}
            for i, (name, typ) in enumerate(fields, start=1):
                c = F.regexp_extract(F.col(src_col), rx, i)
                if typ != "string":
                    c = c.cast(kql_to_spark_t.get(typ, "string"))
                df = df.withColumn(name, c)
        else:
            raise NotImplementedError(f"KQL operator '{op}' is not mapped "
                                      "(reference subset: ParserKQL*.cpp)")
    return df
