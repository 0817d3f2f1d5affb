"""bench.py's full-kernel entries time the relation their registered query
returns: same recipe, same aggregate, only unmaterialized."""

import pytest

import bench
from macrobase_spark import queries as Q
from tests.oracle_util import compare

Q.load_all()
KERNELS = bench.full_kernels()


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_full_kernel_equals_registered_query(spark, sf_dir, name):
    query, entry = KERNELS[name]
    errs = compare(entry(spark, sf_dir), Q.QUERIES[query](spark, sf_dir).toPandas(), name)
    assert not errs, "\n".join(errs)
