"""Cleansing function library — reference ``utils.py`` semantics as
**Spark SQL lambdas**: ``clean_name`` (utils.py:23-38),
``fix_wrapped_name`` (:41-65), ``normalize_words`` (:68-79) and
``format_coordinate`` (:121-225).

Each function is written once, as the SQL text of its body over an
input expression (``*_sql(x)``), and applied as
``get(transform(array(col), v -> <body>), 0)`` (:func:`apply_sql`).
The JVM parses the lambda in one call, so a step costs the same few
driver round-trips however large its body is, and reaches Catalyst as
one node: a later projection references it by name instead of copying
its tree into each use.  Inside a body, a value used more than once is
bound once with a SQL let (:func:`sql_let`).  Bodies compose as text
(``clean_name_sql(fix_wrapped_name_sql(x))``) into one lambda; each
uses its input once and outside its own lambdas, so composed bodies
cannot capture each other's variables.

``transform``/``filter``/``exists``/``aggregate`` are
``CodegenFallback``: the cleansing runs interpreted inside the
generated stage, not compiled by whole-stage codegen, but still in the
executors' JVM with no Python UDF boundary.  NULL in → NULL out.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: a SQL body: input expression text -> output expression text
Body = Callable[[str], str]


def sql_string(s: str) -> str:
    """Spark SQL string literal for any string.  ``$`` is a unicode
    escape so that the parser's ``${var}`` substitution never sees it."""
    escaped = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    for char, escape in (("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        escaped = escaped.replace(char, escape)
    return f"'{escaped}'"


def sql_let(value: str, name: str, body: str) -> str:
    """Evaluate ``value`` once and bind it to ``name`` inside ``body``."""
    return f"get(transform(array({value}), {name} -> {body}), 0)"


def map_sql(arr: Column, body: Body) -> Column:
    """``transform(arr, v -> body(v))`` built from one parsed lambda."""
    return F.call_function("transform", arr, F.expr(f"v -> {body('v')}"))


def apply_sql(col: Column, body: Body) -> Column:
    """``body`` applied to one column, evaluated once per row."""
    return F.get(map_sql(F.array(col), body), 0)


def _replace(x: str, pattern: str, replacement: str = "") -> str:
    return f"regexp_replace({x}, {sql_string(pattern)}, {sql_string(replacement)})"


#: Python ``str.strip()``: all whitespace, where Spark's trim() only removes ' '
_STRIP = r"^\s+|\s+$"
_NEWLINE = sql_string("\n")
#: a whitespace run, as a SQL string literal
WHITESPACE = sql_string(r"\s+")


def py_strip(col: Column) -> Column:
    """``str.strip()`` semantics as a column expression."""
    return F.regexp_replace(col, _STRIP, "")


def strip_sql(x: str) -> str:
    """``str.strip()`` semantics as SQL text."""
    return _replace(x, _STRIP)


def clean_name_sql(x: str) -> str:
    """strip → drop ``\\r`` and tab→space → kill leading ``^\\d+\\n`` →
    kill trailing ``\\n\\d+$`` → collapse ``\\n+`` → kill the leading
    row-number prefix → collapse 2+ whitespace → strip, in the order of
    utils.py:24-30 (the row-number rule must run after newlines go)."""
    x = f"translate({strip_sql(x)}, {sql_string(chr(9) + chr(13))}, ' ')"
    for pattern, replacement in [
        (r"^\d+\n", ""), (r"\n\d+$", ""), (r"\n+", " "), (r"^\d+\s+", ""), (r"\s{2,}", " "),
    ]:
        x = _replace(x, pattern, replacement)
    return strip_sql(x)


def fix_wrapped_name_sql(x: str, max_line_length: int = 16) -> str:
    """The reference's walk over the rstripped non-blank lines as an
    ``aggregate`` fold whose accumulator is the array of accepted lines.
    A line merges into the previous accepted line ``p`` iff ``p`` has
    ≥ ``max_line_length`` chars and doesn't end in space/'-', and the
    line has ≤ 3 chars and starts lowercase.  ``p`` is NULL at first."""
    rstrip, lowercase = _replace("l", r"\s+$"), sql_string(r"^\p{Ll}$")
    lines = f"filter(transform(split({x}, {_NEWLINE}), l -> {rstrip}), l -> l != '')"
    merge = (
        f"length(p) >= {max_line_length} AND length(line) <= 3 AND right(p, 1)"
        f" NOT IN (' ', '-') AND left(line, 1) RLIKE {lowercase}"
    )
    step = sql_let("get(acc, size(acc) - 1)", "p", (
        f"CASE WHEN {merge} THEN concat(slice(acc, 1, size(acc) - 1),"
        " array(concat(p, line))) ELSE concat(acc, array(line)) END"
    ))
    return (
        f"aggregate({lines}, cast(array() AS array<string>), (acc, line) -> {step},"
        f" acc -> array_join(acc, {_NEWLINE}))"
    )


def normalize_words_sql(x: str) -> str:
    """"K o d e" -> "Kode": if every whitespace-separated token is one
    char (or '/', '-'), join the tokens; else the stripped input."""
    return sql_let(strip_sql(x), "s", sql_let(
        f"filter(split(s, {WHITESPACE}), w -> w != '')", "t",
        "CASE WHEN exists(t, w -> length(w) > 1 AND w NOT IN ('/', '-'))"
        " THEN s ELSE array_join(t, '') END",
    ))


# DMS block with an optional leading OR trailing hemisphere (utils.py:177-186).
# Groups: 1 leading hemi, 2 deg, 3 min, 4 whole sec, 5 fraction, 6 trailing hemi.
_COORD_PATTERN = (
    r"(?:([NSEW])\s*)?(\d{1,3})\s*°\s*(\d{1,2})\s*'\s*"
    r"(\d{1,2})(?:\.(\d+))?\s*\"?\s*([NSEW])?"
)
# Indonesian hemisphere words, case-insensitive and word-bounded
# (utils.py:121-134).  Each target letter is a word mapping to itself, so
# one pass per letter equals the reference's one pass per word.
_HEMISPHERES = [("N", "LU|U|N"), ("S", "LS|S"), ("E", "BT|T|E"), ("W", "BB|B|W")]


def format_coordinate_sql(x: str) -> str:
    """Normalize (smart quotes → ASCII, duplicate quotes collapsed,
    hemisphere words → N/S/E/W, whitespace → one space, stripped), scan
    the DMS matches once, parse each once and render it as
    ``DD°MM'SS.ss" H`` (leading hemisphere wins, utils.py:208), then
    emit the first N/S and first E/W match; if either is missing, the
    normalized string (so 'U T' -> 'N E')."""
    ascii_quotes = sql_string("'''\"\"\"")
    s = _replace(f"translate({x}, '’‘′“”″', {ascii_quotes})", r"([\"'])\1+", "$1")
    for letter, words in _HEMISPHERES:
        s = _replace(s, rf"(?i)\b(?:{words})\b", letter)
    s = "trim({})".format(_replace(s, r"\s+", " "))  # only ' ' is left to strip
    parse = f"split({_replace('m', _COORD_PATTERN, '$1$6,$2,$3,$4,$5')}, ',')"
    quote, seconds_mark = sql_string("'"), sql_string('" ')
    render = (
        f"concat(g[1], '°', g[2], {quote}, g[3], '.',"
        f" left(concat(g[4], '00'), 2), {seconds_mark}, left(g[0], 1))"
    )
    matches = f"regexp_extract_all(s, {sql_string(_COORD_PATTERN)}, 0)"
    coords = f"transform(transform({matches}, m -> {parse}), g -> {render})"
    lat, lon = (
        f"get(filter(cs, c -> right(c, 1) IN {hemis}), 0)"
        for hemis in ("('N', 'S')", "('E', 'W')")
    )
    return sql_let(s, "s", sql_let(coords, "cs", f"coalesce(concat({lat}, ' ', {lon}), s)"))


def clean_name(col: Column) -> Column:
    """Reference ``clean_name`` (utils.py:36-38)."""
    return apply_sql(col, clean_name_sql)


def fix_wrapped_name(col: Column, max_line_length: int = 16) -> Column:
    """Reference ``fix_wrapped_name`` (utils.py:41-65)."""
    return apply_sql(col, lambda x: fix_wrapped_name_sql(x, max_line_length))


def normalize_words(col: Column) -> Column:
    """Reference ``normalize_words`` (utils.py:68-79)."""
    return apply_sql(col, normalize_words_sql)


def format_coordinate(col: Column) -> Column:
    """Reference ``format_coordinate`` (utils.py:189-225)."""
    return apply_sql(col, format_coordinate_sql)
