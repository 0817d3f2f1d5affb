"""Run every registered query against its DuckDB oracle at sf0.01 —
a local replica of the driver's correctness gate."""

import os

import pytest

from macrobase_spark import queries as Q
from tests.oracle_util import compare, duck_con

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

Q.load_all()


def test_load_all_fills_the_registry():
    assert (len(Q.QUERIES), len(Q.ORACLES)) == (134, 132)


def test_entry_window_names_must_be_registered(monkeypatch):
    import __spark_entry__ as e

    assert list(e.queries())[: len(e._R5_WINDOW)] == e._R5_WINDOW
    monkeypatch.setattr(e, "_R5_WINDOW", [*e._R5_WINDOW, "no_such_query"])
    with pytest.raises(KeyError, match="no_such_query"):
        e.queries()


@pytest.fixture(scope="module")
def con():
    return duck_con(SF)


@pytest.mark.parametrize("name", sorted(Q.ORACLES))
def test_oracle_parity(spark, con, name):
    sdf = Q.QUERIES[name](spark, SF)
    odf = con.execute(Q.ORACLES[name]).df()
    errs = compare(sdf, odf, name)
    assert not errs, "\n".join(errs)
