"""Driver-contract shape invariants: the driver executes queries() and
compares each result with oracle_sql(), so the window must stay exactly
50 queries with matching oracle keys; every registered query must carry
an oracle and a unique name."""

from __future__ import annotations

import __spark_entry__ as E


def test_contract_window_is_50():
    assert len(E.queries()) == 50


def test_every_query_has_oracle():
    assert list(E.queries()) == list(E.oracle_sql())
    for q in E.registry():
        sql = q.oracle()
        assert isinstance(sql, str) and sql.strip(), q.name


def test_no_name_collisions():
    names = [q.name for q in E.registry()]
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1
    )
