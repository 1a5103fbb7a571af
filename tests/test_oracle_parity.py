"""Registry shape: the correctness harness records at most 50 entries,
so the registry holds exactly 50 queries, each with a DuckDB oracle
(tools/check_oracles.py runs the full differential; tests/test_entry.py
runs a fast subset). test_registry_counts pins the numbers quoted in
README.md.
"""

from __future__ import annotations

from epss_spark import registry


def test_surface_is_exactly_50():
    assert len(registry.get_queries()) == 50
    # flagship first, in the dict order the correctness harness takes
    assert next(iter(registry.get_queries())) == "window_lag_diff"


def test_registry_counts():
    """Pins the registered-query count quoted in README.md: if the
    registry grows or shrinks, update README.md and this test together."""
    assert len(registry.get_queries()) == 50
    # every registered query has a full DuckDB oracle — the README's
    # headline claim, verified, not asserted
    assert set(registry.get_oracles()) == set(registry.get_queries())
