"""Expression-level tests for the typed transform library.

Ports the reference's unit-test matrix (reference
``tests/test_transformers.py``, 273 lines) to Column expressions: each
case feeds a raw string through a 1-row DataFrame and asserts the typed
result.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.functions import transforms as X


def run(spark, expr_builder, values):
    """Apply an expression builder to a single string column; return list."""
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    return [r[0] for r in df.select(expr_builder("raw").alias("out")).collect()]


class TestParseDate:
    def test_formats(self, spark):
        vals = ["20240115", "01/15/2024", "2024-01-15", "2024/01/15", "01-15-2024"]
        assert run(spark, X.parse_date, vals) == [datetime.date(2024, 1, 15)] * 5

    def test_single_digit_components(self, spark):
        assert run(spark, X.parse_date, ["1/5/2024"]) == [datetime.date(2024, 1, 5)]

    def test_sentinels_and_invalid(self, spark):
        vals = ["*", "", "NULL", "N/A", "nan", "NaN", "not a date", "20241315", None]
        assert run(spark, X.parse_date, vals) == [None] * 9

    def test_whitespace(self, spark):
        assert run(spark, X.parse_date, ["  20240115  "]) == [datetime.date(2024, 1, 15)]


class TestParseNumeric:
    def test_basic_and_commas(self, spark):
        assert run(spark, X.parse_numeric, ["12.34", "1,234.56", "-5", "0"]) == [
            12.34,
            1234.56,
            -5.0,
            0.0,
        ]

    def test_sentinels_and_invalid(self, spark):
        vals = ["", "NULL", "N/A", "*", "nan", "NaN", "abc", "12.34.56", None]
        assert run(spark, X.parse_numeric, vals) == [None] * 9


class TestParseInteger:
    def test_truncation_toward_zero(self, spark):
        assert run(spark, X.parse_integer, ["123.7", "-123.7", "42", "0"]) == [
            123,
            -123,
            42,
            0,
        ]

    def test_invalid(self, spark):
        assert run(spark, X.parse_integer, ["abc", "", "*", None]) == [None] * 4


class TestParseBoolean:
    def test_truthy(self, spark):
        vals = ["1", "true", "YES", "y", "*", "True"]
        assert run(spark, X.parse_boolean, vals) == [True] * 6

    def test_falsy(self, spark):
        vals = ["0", "false", "NO", "n", ""]
        assert run(spark, X.parse_boolean, vals) == [False] * 5

    def test_unknown(self, spark):
        assert run(spark, X.parse_boolean, ["maybe", "2", None]) == [None] * 3


class TestCleanCode:
    def test_upper_and_leading_zeros(self, spark):
        assert run(spark, X.clean_code, ["a1234", "00100", " g0008 "]) == [
            "A1234",
            "00100",
            "G0008",
        ]

    def test_sentinels(self, spark):
        # upper-cased before the check: "null" → NULL; "nan" → "NAN" (kept,
        # matching the reference's post-upper sentinel list)
        assert run(spark, X.clean_code, ["", "null", "N/a", "nan", None]) == [
            None,
            None,
            None,
            "NAN",
            None,
        ]


class TestParseText:
    def test_trim_and_sentinels(self, spark):
        assert run(spark, X.parse_text, ["  hi  ", "NULL", "N/A", "", "*", None]) == [
            "hi",
            None,
            None,
            None,
            "*",  # '*' is preserved for TEXT
            None,
        ]


class TestTransformValueDispatch:
    def test_each_type(self, spark):
        df = spark.createDataFrame([("1,000.5", "7.9", "20240102", "*", " x ")],
                                   "n string, i string, d string, b string, t string")
        row = df.select(
            X.transform_value("n", "NUMERIC").alias("n"),
            X.transform_value("i", "INTEGER").alias("i"),
            X.transform_value("d", "DATE").alias("d"),
            X.transform_value("b", "BOOLEAN").alias("b"),
            X.transform_value("t", "TEXT").alias("t"),
        ).collect()[0]
        assert row["n"] == 1000.5
        assert row["i"] == 7
        assert row["d"] == datetime.date(2024, 1, 2)
        assert row["b"] is True
        assert row["t"] == "x"


class TestMaiId:
    def test_extraction(self, spark):
        vals = ["1 Line Edit", "2 Date of Service Edit: Policy",
                "3 Date of Service Edit: Clinical", "4 Bogus", "", None, "Edit 3"]
        assert run(spark, X.parse_mai_id, vals) == [1, 2, 3, None, None, None, None]


class TestMueValue:
    def test_zero_preserved(self, spark):
        assert run(spark, X.parse_mue_value, ["0", "5", "3.0"]) == [0, 5, 3]

    def test_sentinels(self, spark):
        assert run(spark, X.parse_mue_value, ["", "NULL", "N/A", "nan", None]) == [None] * 5


class TestDeletionDate:
    def test_star_means_active(self, spark):
        assert run(spark, X.parse_deletion_date, ["*", "20230401", ""]) == [
            None,
            datetime.date(2023, 4, 1),
            None,
        ]


class TestModifierIndicator:
    def test_values_and_header_bleed(self, spark):
        vals = ["0", "1", "9", "0=not allowed 1=allowed 9=N/A", "1=allowed", "5", None]
        assert run(spark, X.parse_modifier_indicator, vals) == [0, 1, 9, 0, 1, 5, None]
        # "5": first char digit but not in {0,1,9} → falls back to parse_integer


class TestPrior1996Flag:
    def test_star_true(self, spark):
        assert run(spark, X.parse_prior_1996_flag, ["*", "", "x", None]) == [
            True,
            False,
            False,
            None,
        ]


class TestDerived:
    def test_mac_locality(self, spark):
        df = spark.createDataFrame([("01112", "00",)], "carrier string, loc string")
        out = df.select(X.mac_locality(F.col("carrier"), F.col("loc")).alias("m")).collect()
        assert out[0]["m"] == "0111200"

    def test_fee_formula(self, spark):
        # 99213-ish: (0.97*1.0)+(1.0*1.1)+(0.07*0.5)*CF — reference SCHEMA.md:248-264
        df = spark.createDataFrame([(0.97, 1.0, 1.0, 1.1, 0.07, 0.5, 33.29)],
                                   "wr double, wg double, pr double, pg double, mr double, mg double, cf double")
        out = df.select(
            X.fee_formula(F.col("wr"), F.col("wg"), F.col("pr"), F.col("pg"),
                          F.col("mr"), F.col("mg"), F.col("cf")).alias("fee")
        ).collect()[0]["fee"]
        assert out == round(((0.97 * 1.0) + (1.0 * 1.1) + (0.07 * 0.5)) * 33.29, 2)


# ----------------------------------------------------------------------
# SQL-text builders against the Column-chain formulation
# ----------------------------------------------------------------------
# The transforms used to be built call by call from PySpark Column
# methods; they are now SQL text parsed once. The Column chains are kept
# here, verbatim, as the reference the SQL text must match in result and
# type on strings chosen to break quoting and escaping.


class ColumnChain:
    """The Column-chain transforms the SQL builders replaced."""

    @staticmethod
    def strip_ws(col):
        return F.btrim(col, F.lit(X._WHITESPACE))

    @classmethod
    def parse_date(cls, col):
        t = cls.strip_ws(col)
        parsed = F.coalesce(
            *[F.try_to_timestamp(t, F.lit(fmt)).cast("date") for fmt in X.DATE_FORMATS]
        )
        return F.when(
            col.isNull() | t.isin(X.DATE_SENTINELS), F.lit(None).cast("date")
        ).otherwise(parsed)

    @classmethod
    def parse_numeric(cls, col):
        t = cls.strip_ws(col)
        cleaned = F.replace(t, F.lit(","), F.lit(""))
        return F.when(
            col.isNull() | t.isin(X.NUMERIC_SENTINELS), F.lit(None).cast("double")
        ).otherwise(cleaned.try_cast("double"))

    @classmethod
    def parse_integer(cls, col):
        d = cls.parse_numeric(col)
        return F.when(F.isnan(d), F.lit(None).cast("int")).otherwise(d.try_cast("int"))

    @classmethod
    def parse_boolean(cls, col):
        v = F.lower(cls.strip_ws(col))
        return (
            F.when(col.isNull(), F.lit(None).cast("boolean"))
            .when(v.isin("1", "true", "yes", "y", "*"), F.lit(True))
            .when(v.isin("0", "false", "no", "n", ""), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )

    @classmethod
    def clean_code(cls, col):
        cleaned = F.upper(cls.strip_ws(col))
        return F.when(
            col.isNull() | cleaned.isin("", "NULL", "N/A"), F.lit(None).cast("string")
        ).otherwise(cleaned)

    @classmethod
    def parse_text(cls, col):
        t = cls.strip_ws(col)
        return F.when(
            col.isNull() | (t == "") | t.isin(X.TEXT_SENTINELS), F.lit(None).cast("string")
        ).otherwise(t)

    @classmethod
    def transform_value(cls, col, data_type):
        return {
            "NUMERIC": cls.parse_numeric,
            "INTEGER": cls.parse_integer,
            "DATE": cls.parse_date,
            "BOOLEAN": cls.parse_boolean,
        }.get(data_type.upper(), cls.parse_text)(col)

    @classmethod
    def parse_mai_id(cls, col):
        d = F.regexp_extract(cls.strip_ws(col), r"^(\d+)", 1).try_cast("int")
        return F.when(d.isin(1, 2, 3), d).otherwise(F.lit(None).cast("int"))

    @classmethod
    def parse_mue_value(cls, col):
        return cls.parse_integer(col)

    @classmethod
    def parse_deletion_date(cls, col):
        return cls.parse_date(col)

    @classmethod
    def parse_modifier_indicator(cls, col):
        first_digit = F.substring(cls.strip_ws(col), 1, 1).try_cast("int")
        return F.when(
            first_digit.isNotNull() & first_digit.isin(0, 1, 9), first_digit
        ).otherwise(cls.parse_integer(col))

    @classmethod
    def parse_prior_1996_flag(cls, col):
        return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
            cls.strip_ws(col) == "*"
        )


_VALUES = [
    "20240115", "01/15/2024", "1/5/2024", "2024-02-30", "12-31-1999", "1,234.56",
    "12.34.56", "-0", "1e3", "123.7", "-123.7", "NAN", "Infinity", "-Infinity",
    "1", "0", "9", "5", "true", "Yes", "Y", "no", "maybe", "*", "a1234", "00100",
    "null", "0=not allowed 1=allowed 9=N/A", "3 Date of Service Edit: Clinical",
    "4 Bogus", "12 x", "Edit 3", "'", "''", "a'b", "\\", "a\\b", "\\d", "%", "_",
    "a%_b", "é", "日本", "Ω1", " x ", " ", "\x00", "\x7f",
]
#: every value above plus each whitespace character alone, around a
#: value and inside it, every sentinel bare and padded, and NULL
TRICKY = sorted(
    set(_VALUES)
    | set(X._WHITESPACE)
    | {f"{ws}{v}{ws}" for ws in X._WHITESPACE for v in ("*", "1.5", "20240115", "N/A")}
    | {f"1{ws}2" for ws in X._WHITESPACE}
    | {f"{pad}{s}{pad}" for pad in ("", " ")
       for s in X.DATE_SENTINELS + X.NUMERIC_SENTINELS + X.TEXT_SENTINELS}
) + [None]

BUILDERS = [
    "strip_ws", "parse_date", "parse_numeric", "parse_integer", "parse_boolean",
    "clean_code", "parse_text", "parse_mai_id", "parse_mue_value",
    "parse_deletion_date", "parse_modifier_indicator", "parse_prior_1996_flag",
]
DATA_TYPES = ["NUMERIC", "INTEGER", "DATE", "BOOLEAN", "TEXT"]


def test_sql_builders_equal_column_chains(spark):
    df = spark.createDataFrame([(v,) for v in TRICKY], "raw string")
    pairs = [(b, getattr(X, b)("raw"), getattr(ColumnChain, b)(F.col("raw"))) for b in BUILDERS]
    pairs += [
        (f"transform_value_{t}", X.transform_value("raw", t),
         ColumnChain.transform_value(F.col("raw"), t))
        for t in DATA_TYPES
    ]
    out = df.select(
        "raw",
        *[c.alias(f"sql_{name}") for name, c, _ in pairs],
        *[c.alias(f"col_{name}") for name, _, c in pairs],
    )
    fields = {f.name: f for f in out.schema.fields}
    for name, _, _ in pairs:
        got, want = fields[f"sql_{name}"], fields[f"col_{name}"]
        assert (got.dataType, got.nullable) == (want.dataType, want.nullable), name
    # <=> is null-safe, and Spark compares NaN equal to NaN
    differs = F.array_compact(F.array(*[
        F.when(~F.col(f"sql_{name}").eqNullSafe(F.col(f"col_{name}")), F.lit(name))
        for name, _, _ in pairs
    ]))
    bad = out.select("raw", differs.alias("builders")).filter(F.size("builders") > 0)
    assert bad.collect() == []
    assert out.count() == len(TRICKY)


def test_sql_string_reads_back_exactly(spark):
    values = [v for v in TRICKY if v is not None]
    row = spark.range(1).selectExpr(
        *[f"{X.sql_string(v)} AS `v{i}`" for i, v in enumerate(values)]
    ).first()
    assert list(row) == values


def test_sql_ident_quotes_awkward_names(spark):
    names = ["a b", "a.b", "x`y", "select"]
    df = spark.createDataFrame([tuple(" 7 " for _ in names)], [f"{n}" for n in names])
    row = df.select(*[X.parse_integer(n).alias(f"c{i}") for i, n in enumerate(names)]).first()
    assert list(row) == [7] * len(names)
