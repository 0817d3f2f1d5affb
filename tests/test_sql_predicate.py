"""MacroBase-SQL WHERE predicates: malformed input raises a ValueError that
quotes the predicate, instead of an AssertionError or IndexError."""

import pytest

from macrobase_spark.sql import MacroBaseSQL


@pytest.mark.parametrize(
    "text",
    ["x BETWEEN 1", "x IN (1", "x LIKE y", "x IS 3", "(x = 1"],
)
def test_malformed_predicate_raises_value_error(spark, text):
    with pytest.raises(ValueError, match="malformed predicate") as err:
        MacroBaseSQL(spark)._predicate(text)
    assert repr(text) in str(err.value)


def test_trailing_tokens_raise(spark):
    with pytest.raises(ValueError, match="malformed predicate 'a = 1 b = 2'"):
        MacroBaseSQL(spark)._predicate("a = 1 b = 2")


@pytest.mark.parametrize(
    "text",
    [
        "a = 1 OR b = 1 AND c = 1",
        "a = 1 AND b = 1 OR c = 1",
        "NOT a = 1 AND b = 1 OR c = 1 AND a = 0",
    ],
)
def test_and_binds_tighter_than_or(spark, text):
    df = spark.createDataFrame(
        [(1, 0, 0), (0, 1, 1), (0, 1, 0), (0, 0, 1)], "a int, b int, c int"
    )
    got = sorted(map(tuple, df.filter(MacroBaseSQL(spark)._predicate(text)).collect()))
    assert got == sorted(map(tuple, df.filter(text).collect()))
