"""Oracle parity gate over the whole query registry.

Every record in ``__spark_entry__.registry()``, inside the 50-query driver
window or not, is held to the strict driver-mirror canon of
tools/check_oracle.py (toPandas vs duckdb .df(), name-sorted columns,
all-column row sort, str()-exact value hash) at sf0.001 and at the
driver's own sf0.01. The file and test keep their historical names so
each query's test id stays the same.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.check_oracle import check_one, make_oracle_con

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.fixture(scope="module", params=SF_DIRS, ids=["sf0.001", "sf0.01"])
def sf_oracle(request):
    con = make_oracle_con(request.param)
    yield request.param, con
    con.close()


@pytest.mark.parametrize("query", entrymod.registry(), ids=lambda q: q.name)
def test_demoted_query_matches_oracle(spark, sf_oracle, query):
    sf_dir, oracle_con = sf_oracle
    err = check_one(spark, oracle_con, sf_dir, query)
    assert err is None, f"{query.name}: {err}"
