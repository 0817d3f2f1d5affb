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
