"""Driver-contract consistency checks (cheap, no query execution)."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query is a callable taking (spark, sf_dir)
    import inspect

    for name, fn in qs.items():
        sig = inspect.signature(fn)
        assert len(sig.parameters) == 2, name


def test_query_count_documents_coverage():
    """The registry must stay broad: >= 20 queries, >= 15 oracle-backed."""
    assert len(entry_mod.queries()) >= 20
    assert len(entry_mod.oracle_sql()) >= 15


def test_every_query_is_oracle_backed():
    """Zero no-oracle queries: every queries() entry has a DuckDB
    oracle, so no query is checked on row counts alone."""
    assert set(entry_mod.oracle_sql()) == set(entry_mod.queries())

