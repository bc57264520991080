"""Registry order: a stable round-robin over the defining modules, so a
driver that checks only a prefix of ``queries()`` still samples every
operator category."""

from __future__ import annotations


def test_order_is_a_stable_module_round_robin():
    import __spark_entry__ as mod
    from muurschilderingendatabase_etl_spark import registry

    queries = mod.queries()
    names = list(queries)
    assert len(names) == 186 and set(names) == set(registry._QUERIES)

    modules = [queries[n].__module__ for n in names]
    m = len(set(modules))
    assert set(modules[:m]) == set(modules), (
        f"first {m} names cover only {len(set(modules[:m]))} of {m} modules"
    )
    # each module's queries keep their registration order
    for module in set(modules):
        in_order = [n for n in names if queries[n].__module__ == module]
        registered = [
            n for n, fn in registry._QUERIES.items() if fn.__module__ == module
        ]
        assert in_order == registered

    oracles = mod.oracle_sql()
    assert list(oracles) == [n for n in names if n in oracles]

    assert list(mod.queries()) == names
    assert list(mod.oracle_sql()) == list(oracles)
