"""Casting kernel (C1-C8, C13-C14) against tiny literal frames — the
reference's operator-test pattern (SURVEY §5.1)."""

import datetime

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.functions import casting, cleaning, durations


def _one(df, expr):
    return df.select(expr.alias("x")).collect()[0]["x"]


def test_trim_empty_to_null(spark):
    df = spark.createDataFrame([("  a  ",), ("   ",), (None,)], "s string")
    out = [r["x"] for r in df.select(cleaning.trim_empty_to_null("s").alias("x")).collect()]
    assert out == ["a", None, None]


def test_clean_strings_only_touches_strings(spark):
    df = spark.createDataFrame([(" a ", 1)], "s string, i int")
    out = cleaning.clean_strings(df).collect()[0]
    assert out["s"] == "a" and out["i"] == 1


def test_ambivalent_cast_priority(spark):
    df = spark.createDataFrame(
        [("true", "1.0", "1.5", "2020-01-02", "nope")],
        "b string, i string, f string, d string, s string",
    )
    out = casting.ambivalent_cast(df)
    types = dict(out.dtypes)
    assert types == {
        "b": "boolean", "i": "bigint", "f": "double", "d": "date", "s": "string"
    }
    row = out.collect()[0]
    assert row["b"] is True and row["i"] == 1 and row["f"] == 1.5
    assert row["d"] == datetime.date(2020, 1, 2) and row["s"] == "nope"


def test_ambivalent_cast_mixed_column_stays_string(spark):
    df = spark.createDataFrame([("1",), ("x",)], "c string")
    out = casting.ambivalent_cast(df)
    assert dict(out.dtypes)["c"] == "string"


def test_integral_promotion(spark):
    df = spark.createDataFrame([(1.0,), (2.0,)], "c double")
    assert dict(casting.ambivalent_cast(df).dtypes)["c"] == "bigint"
    df2 = spark.createDataFrame([(1.0,), (2.5,)], "c double")
    assert dict(casting.ambivalent_cast(df2).dtypes)["c"] == "double"


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("2020-01-02", datetime.date(2020, 1, 2)),
        ("2020.01.02", datetime.date(2020, 1, 2)),
        ("01/02/2020", datetime.date(2020, 1, 2)),  # MM/dd/yyyy
        ("02.01.2020", datetime.date(2020, 1, 2)),  # dd.MM.yyyy
        ("2020", datetime.date(2020, 1, 1)),  # bare year → Jan 1
        ("garbage", None),
    ],
)
def test_multiformat_date(spark, raw, expected):
    df = spark.createDataFrame([(raw,)], "c string")
    assert _one(df, casting.parse_date_multi("c")) == expected


def test_specific_cast_strict_error(spark):
    df = spark.createDataFrame([("1",), ("x",)], "c string")
    with pytest.raises(casting.CastError) as e:
        casting.specific_cast(df, "c", "bigint")
    assert "x" in str(e.value)


def test_force_string_drops_trailing_zero(spark):
    df = spark.createDataFrame([(1.0,), (2.5,)], "c double")
    out = [r["c"] for r in casting.force_string(df, "c").collect()]
    assert out == ["1", "2.5"]


def test_bool_parse(spark):
    df = spark.createDataFrame([("TRUE",), ("false",), ("nope",), (None,)], "c string")
    out = [r["x"] for r in df.select(casting.parse_bool("c").alias("x")).collect()]
    assert out == [True, False, None, None]


def test_age_to_iso(spark):
    df = spark.createDataFrame([("47",), ("47.0",), ("P3M",), ("200",), ("x",)], "c string")
    out = [r["x"] for r in df.select(durations.age_years_to_iso("c").alias("x")).collect()]
    assert out == ["P47Y", "P47Y", "P3M", None, None]


@pytest.mark.parametrize(
    "start,end,expected",
    [
        ("2020-01-01", "2020-01-01", "P0Y"),
        ("2020-01-01", "2021-01-01", "P1Y"),
        ("2020-01-31", "2020-03-01", "P1M1D"),  # borrow across short month
        ("1972-07-11", "2019-12-13", "P47Y5M2D"),
        ("2020-03-01", "2020-01-01", None),  # negative span
        ("2020-01-15", "2020-02-14", "P30D"),
    ],
)
def test_date_diff_to_iso(spark, start, end, expected):
    df = spark.createDataFrame([(start, end)], "s string, e string")
    got = _one(df, durations.date_diff_to_iso(F.col("s").cast("date"), F.col("e").cast("date")))
    assert got == expected


def test_iso_duration_predicate(spark):
    df = spark.createDataFrame(
        [("P47Y5M29D",), ("P1YT2H",), ("47",), ("P",)], "c string"
    )
    out = [r["x"] for r in df.select(durations.is_iso8601_duration("c").alias("x")).collect()]
    # "P" alone matches the reference regex (all groups optional) — parity kept
    assert out == [True, True, False, True]


def test_time_element_tagged_union(spark):
    df = spark.createDataFrame([("P47Y",), ("2020-01-02",), ("zz",)], "c string")
    rows = df.select(durations.time_element_expr("c").alias("te")).collect()
    assert rows[0]["te"]["age"]["iso8601duration"] == "P47Y"
    assert rows[1]["te"]["timestamp"] is not None and rows[1]["te"]["age"] is None
    assert rows[2]["te"] is None


# ---- parse guards: the guarded chains equal the unguarded ones -------------


def _unguarded_date(c):
    attempts = [F.try_to_timestamp(c, F.lit(f)).cast("date") for f in casting.DATE_FORMATS]
    bare_year = F.when(
        c.rlike(casting.BARE_YEAR_RX),
        F.try_to_timestamp(F.concat(c, F.lit("-01-01")), F.lit("yyyy-MM-dd")).cast("date"),
    )
    return F.coalesce(bare_year, *attempts)


def _unguarded_datetime(c):
    attempts = [F.try_to_timestamp(c, F.lit(f)) for f in casting.DATETIME_FORMATS]
    return F.coalesce(*attempts, _unguarded_date(c).cast("timestamp"))


# one sample per DATE_FORMATS / DATETIME_FORMATS entry, in list order
FORMAT_SAMPLES = [
    "2020-01-02", "2020.01.02", "01/02/2020", "02-01-2020", "02.01.2020", "2.1.2020",
    "2020-01-02 03:04:05", "2020-01-02T03:04:05", "2020-01-02T03:04:05+02:00",
    "2020-01-02 03:04:05.123", "2020-01-02T03:04:05.123", "2020/01/02 03:04:05",
]
EDGE_SAMPLES = [
    "2020", "0999", "+12345-01-01", "-0001-01-01", "+12345-01-01 00:00:00",
    "-0001-01-01T00:00:00", "2020-01-02T03:04:05Z", "2020-01-02T03:04:05.123Z",
    "2020-01-02T03:04:05.123+02:00", " 2020-01-02", "2020-01-02 ", "\t2020",
    " 2020-01-02 03:04:05", "2020-01-02 03:04:05 ", "２０２０",
    "２０２０-01-02", "2020-０１-02", "HP:0001945",
    "NM_000546.6:c.215C>G", "BRCA1", "P47Y5M2D", "PT3H", "-P1D", "+PT1S", "",
    None, "12:30", "1:2", "0", "2020-13-45", "31.12.2020 10:00",
]


def _string_pairs(df, col, guarded, reference):
    rows = df.select(
        guarded(F.col(col)).cast("string").alias("g"),
        reference(F.col(col)).cast("string").alias("r"),
    ).collect()
    return [(r["g"], r["r"]) for r in rows]


@pytest.mark.parametrize(
    "guarded,reference,n_parsed",
    [
        (casting.parse_date_multi, _unguarded_date, len(casting.DATE_FORMATS)),
        (casting.parse_datetime_multi, _unguarded_datetime, len(FORMAT_SAMPLES)),
    ],
    ids=["date", "datetime"],
)
def test_parse_guards_match_unguarded_chain(spark, guarded, reference, n_parsed):
    """The lead-digit and ':' guards are necessary conditions of every
    format, so they never change a result.  Compared as strings: a
    Python ``date`` cannot hold year -1."""
    df = spark.createDataFrame(
        [(s,) for s in FORMAT_SAMPLES + EDGE_SAMPLES], "c string"
    )
    pairs = _string_pairs(df, "c", guarded, reference)
    for s, (g, r) in zip(FORMAT_SAMPLES + EDGE_SAMPLES, pairs):
        assert g == r, s
    # the corpus is not vacuous: every sample of a format the chain
    # covers parses
    assert all(r is not None for _, r in pairs[:n_parsed])


@pytest.mark.parametrize("sql_type", ["date", "timestamp"])
@pytest.mark.parametrize(
    "guarded,reference",
    [
        (casting.parse_date_multi, _unguarded_date),
        (casting.parse_datetime_multi, _unguarded_datetime),
    ],
    ids=["date", "datetime"],
)
def test_parse_guards_match_unguarded_chain_typed(spark, sql_type, guarded, reference):
    df = spark.createDataFrame(
        [("2020-01-02 03:04:05",), ("-0001-01-01 00:00:00",),
         ("+12345-06-07 08:09:10",), (None,)],
        "s string",
    ).select(F.col("s").cast(sql_type).alias("c"))
    pairs = _string_pairs(df, "c", guarded, reference)
    assert all(g == r for g, r in pairs), pairs
    assert sum(r is not None for _, r in pairs) == 3
