"""Typed transform expressions with CMS sentinel semantics.

Spark SQL equivalents of the reference's per-cell Python transforms
(reference: ``app/services/transformers.py:11-306``). The reference
applies these row-at-a-time in an interpreted loop; here every
transform is a **native Spark expression**, so the whole transform
layer runs inside whole-stage codegen on the JVM — no Python in the hot
path, vectorized, and distributable to any number of executors.

Each CMS transform is written once, as a builder that takes a column
**name** and returns SQL text. The public function (``parse_date(name)``)
returns that text parsed by ``F.expr``; the builder itself is its
``.sql`` attribute (``parse_date.sql(name)``), for callers that put many
expressions into one ``selectExpr`` or one parsed string. Building a
transform call by call through PySpark ``Column`` methods costs one py4j
round trip to the JVM per call, about 300 for a date column; parsing the
text costs 3. Catalyst receives the same operators either way (CASE
WHEN, IN, TRY_CAST, ``try_to_timestamp``, ``btrim``), so plans and
results do not depend on the route. The two derived-field formulas at
the bottom keep ``Column`` arguments: they are a few cheap operators
over columns that already exist.

All expressions are *total*: unparsable input becomes NULL, never an
exception (the reference's per-row try/except becomes unnecessary).
They are also ANSI-mode safe (``TRY_CAST`` / ``try_to_timestamp``), so
they behave identically whether the session runs Spark 4's default ANSI
dialect or legacy mode.

Sentinel semantics (reference ``transformers.py:28,66,137,158`` and
``SCHEMA.md:309-314``):

* ``"" * NULL N/A nan NaN`` mean NULL for dates and numerics;
* TEXT keeps ``"*"`` but nulls ``NULL/N/A/nan/NaN`` and empty;
* code columns upper-case first, so only ``NULL``/``N/A`` survive the
  sentinel check (``nan`` upper-cases to ``NAN`` which the reference
  does *not* null — preserved bit-for-bit here);
* ``"*"`` means TRUE for ``prior_1996_flag`` and "still active" (NULL)
  for ``deletion_date``;
* ``0`` is a valid, preserved value for ``mue_value``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python str.strip() removes more than Spark's space-only trim();
# btrim with an explicit whitespace set is the cheap JVM-side match.
_WHITESPACE = " \t\r\n\x0b\x0c"

#: sentinels for date parsing (reference transformers.py:28)
DATE_SENTINELS = ["*", "", "NULL", "N/A", "nan", "NaN"]
#: sentinels for numeric parsing (reference transformers.py:66)
NUMERIC_SENTINELS = ["", "NULL", "N/A", "*", "nan", "NaN"]
#: sentinels for TEXT values (reference transformers.py:158 — no "*")
TEXT_SENTINELS = ["NULL", "N/A", "nan", "NaN"]

#: date formats tried in order (reference transformers.py:36); the
#: single-digit variants at the tail mirror Python strptime's leniency
#: ("1/5/2023" parses under %m/%d/%Y).
DATE_FORMATS = [
    "yyyyMMdd",
    "MM/dd/yyyy",
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "MM-dd-yyyy",
    "M/d/yyyy",
    "yyyy-M-d",
    "yyyy/M/d",
    "M-d-yyyy",
]


# ============================================================
# SQL text helpers
# ============================================================


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier, so names with dots or
    spaces resolve as one column, as ``F.col`` would resolve them."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a SQL string literal that the parser reads back
    exactly: ``'`` and ``\\`` are backslash-escaped, and control
    characters (the whitespace set holds ``\\x0b`` and ``\\x0c``) are
    written as ``\\uXXXX`` escapes. Assumes Spark's default
    ``spark.sql.parser.escapedStringLiterals=false``."""

    def escape(ch: str) -> str:
        if ch in "'\\":
            return "\\" + ch
        if ch < " " or ch == "\x7f":
            return f"\\u{ord(ch):04X}"
        return ch

    return "'" + "".join(map(escape, value)) + "'"


def sql_in(expr: str, values: Iterable) -> str:
    """``expr IN (…)`` over string (or int) literals."""
    items = ", ".join(sql_string(v) if isinstance(v, str) else str(v) for v in values)
    return f"{expr} IN ({items})"


def _sql_builder(build: Callable[..., str]) -> Callable[..., Column]:
    """The public form of a SQL-text builder: ``f(name)`` returns
    ``F.expr(f.sql(name))``, a Column the JVM parsed in one call."""

    @functools.wraps(build)
    def column(name: str, *args) -> Column:
        return F.expr(build(name, *args))

    column.sql = build
    return column


_WS = sql_string(_WHITESPACE)
_LEADING_DIGITS = sql_string(r"^(\d+)")


# ============================================================
# CMS transforms: column name -> SQL text (public form: Column)
# ============================================================


@_sql_builder
def strip_ws(name: str) -> str:
    """Whitespace-strip matching Python ``str.strip()`` semantics."""
    return f"btrim({sql_ident(name)}, {_WS})"


@_sql_builder
def parse_date(name: str) -> str:
    """F1 — multi-format date parse with sentinel handling.

    Reference ``transformers.py:11-43``: try formats in priority order,
    sentinels and unparsable values yield NULL.
    """
    t = strip_ws.sql(name)
    parsed = ", ".join(
        f"CAST(try_to_timestamp({t}, {sql_string(fmt)}) AS DATE)" for fmt in DATE_FORMATS
    )
    return (
        f"CASE WHEN {sql_ident(name)} IS NULL OR {sql_in(t, DATE_SENTINELS)}"
        f" THEN CAST(NULL AS DATE) ELSE coalesce({parsed}) END"
    )


@_sql_builder
def parse_numeric(name: str) -> str:
    """F2 — numeric parse: strip commas, sentinels/invalid → NULL.

    Reference ``transformers.py:46-75`` (``"1,234.56"`` → 1234.56,
    ``"12.34.56"`` → NULL).
    """
    t = strip_ws.sql(name)
    return (
        f"CASE WHEN {sql_ident(name)} IS NULL OR {sql_in(t, NUMERIC_SENTINELS)}"
        f" THEN CAST(NULL AS DOUBLE) ELSE TRY_CAST(replace({t}, ',', '') AS DOUBLE) END"
    )


@_sql_builder
def parse_integer(name: str) -> str:
    """F3 — integer via float with truncation toward zero.

    Reference ``transformers.py:78-91``: ``int(float("123.7"))`` → 123.
    double→int cast truncates toward zero in Spark, matching Python;
    NaN/Infinity (which raise in Python → None) null out via TRY_CAST.
    """
    d = parse_numeric.sql(name)
    return f"CASE WHEN isnan({d}) THEN CAST(NULL AS INT) ELSE TRY_CAST({d} AS INT) END"


@_sql_builder
def parse_boolean(name: str) -> str:
    """F4 — boolean: 1/true/yes/y/* → TRUE; 0/false/no/n/"" → FALSE; else NULL.

    Reference ``transformers.py:94-118``.
    """
    v = f"lower({strip_ws.sql(name)})"
    return (
        f"CASE WHEN {sql_ident(name)} IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" WHEN {sql_in(v, ['1', 'true', 'yes', 'y', '*'])} THEN true"
        f" WHEN {sql_in(v, ['0', 'false', 'no', 'n', ''])} THEN false"
        f" ELSE CAST(NULL AS BOOLEAN) END"
    )


@_sql_builder
def clean_code(name: str) -> str:
    """F5 — code cleanup: trim + UPPER, preserve leading zeros.

    Reference ``transformers.py:121-140``. The sentinel check happens
    *after* upper-casing, so ``"null"`` → NULL but ``"nan"`` → ``"NAN"``
    (the reference's list is checked against the upper-cased value and
    only ``""/NULL/N/A`` can match) — preserved exactly.
    """
    cleaned = f"upper({strip_ws.sql(name)})"
    return (
        f"CASE WHEN {sql_ident(name)} IS NULL OR {sql_in(cleaned, ['', 'NULL', 'N/A'])}"
        f" THEN CAST(NULL AS STRING) ELSE {cleaned} END"
    )


@_sql_builder
def parse_text(name: str) -> str:
    """TEXT branch of F6 — trim; empty and NULL/N/A/nan/NaN → NULL.

    Reference ``transformers.py:153-158``. Note ``"*"`` is preserved
    for TEXT (unlike numerics/dates).
    """
    t = strip_ws.sql(name)
    return (
        f"CASE WHEN {sql_ident(name)} IS NULL OR {t} = '' OR {sql_in(t, TEXT_SENTINELS)}"
        f" THEN CAST(NULL AS STRING) ELSE {t} END"
    )


@_sql_builder
def transform_value(name: str, data_type: str) -> str:
    """F6 — dispatch on the declared logical type.

    Reference ``transformers.py:143-172``; types declared per canonical
    column in the registry (TEXT, NUMERIC, INTEGER, DATE, BOOLEAN).
    """
    dt = data_type.upper()
    if dt == "NUMERIC":
        return parse_numeric.sql(name)
    if dt == "INTEGER":
        return parse_integer.sql(name)
    if dt == "DATE":
        return parse_date.sql(name)
    if dt == "BOOLEAN":
        return parse_boolean.sql(name)
    return parse_text.sql(name)


# ============================================================
# Source-specific transforms (NCCI MUE / PTP special semantics)
# ============================================================


@_sql_builder
def parse_mai_id(mai_description: str) -> str:
    """F7 — extract MAI id from the *description* column; valid ∈ {1,2,3}.

    Cross-column derivation (reference ``transformers.py:180-207``,
    consumed at ``ingestor.py:326-333``): ``"3 Date of Service Edit:
    Clinical"`` → 3; ``"4 ..."`` → NULL.
    """
    d = f"TRY_CAST(regexp_extract({strip_ws.sql(mai_description)}, {_LEADING_DIGITS}, 1) AS INT)"
    return f"CASE WHEN {sql_in(d, [1, 2, 3])} THEN {d} ELSE CAST(NULL AS INT) END"


@_sql_builder
def parse_mue_value(name: str) -> str:
    """F8 — integer parse where 0 is a valid, preserved value.

    Reference ``transformers.py:210-233``: 0 means "not payable", never
    nulled. Same machinery as :func:`parse_integer` (the cast keeps 0);
    the guard only nulls true sentinels.
    """
    return parse_integer.sql(name)


@_sql_builder
def parse_deletion_date(name: str) -> str:
    """F9 — ``"*"`` → NULL (edit still active), else :func:`parse_date`.

    Reference ``transformers.py:241-256``. ``"*"`` is already a date
    sentinel, so this is an alias kept for surface parity/clarity.
    """
    return parse_date.sql(name)


@_sql_builder
def parse_modifier_indicator(name: str) -> str:
    """F10 — first char if digit, valid ∈ {0,1,9}; else integer parse.

    Reference ``transformers.py:259-286`` — robust to header-text bleed
    such as ``"0=not allowed 1=allowed 9=N/A"``.
    """
    first_digit = f"TRY_CAST(substring({strip_ws.sql(name)}, 1, 1) AS INT)"
    return (
        f"CASE WHEN {first_digit} IS NOT NULL AND {sql_in(first_digit, [0, 1, 9])}"
        f" THEN {first_digit} ELSE {parse_integer.sql(name)} END"
    )


@_sql_builder
def parse_prior_1996_flag(name: str) -> str:
    """F11 — ``"*"`` → TRUE, anything else → FALSE, NULL input → NULL.

    Reference ``transformers.py:289-306``.
    """
    return (
        f"CASE WHEN {sql_ident(name)} IS NULL THEN CAST(NULL AS BOOLEAN)"
        f" ELSE {strip_ws.sql(name)} = '*' END"
    )


# ============================================================
# Derived-field / formula expressions
# ============================================================


def mac_locality(carrier_number: Column, locality_code: Column) -> Column:
    """F14 — derived key: ``carrier_number || locality_code``.

    Reference ``seed_data.py:232-235`` / ``SCHEMA.md:95``.
    """
    return F.concat(carrier_number, locality_code)


def fee_formula(
    work_rvu: Column,
    work_gpci: Column,
    pe_rvu: Column,
    pe_gpci: Column,
    mp_rvu: Column,
    mp_gpci: Column,
    conversion_factor: Column,
) -> Column:
    """F15 — the Medicare fee formula (reference ``SCHEMA.md:248-264``).

    ``ROUND(((work_rvu*work_gpci)+(pe_rvu*pe_gpci)+(mp_rvu*mp_gpci))*cf, 2)``
    """
    total = (work_rvu * work_gpci) + (pe_rvu * pe_gpci) + (mp_rvu * mp_gpci)
    return F.round(total * conversion_factor, 2)
