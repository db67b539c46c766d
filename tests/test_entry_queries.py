"""Query registry: ``__spark_entry__.queries()`` is derived from the
module's ``q<N>_`` functions, so it must stay gap-free, numerically ordered
and a superset of the oracle twins."""

from __future__ import annotations

import re


def test_queries_derived_numbered_ordered_and_cover_oracles():
    import __spark_entry__ as entry

    qs = entry.queries()
    numbers = [int(re.match(r"q(\d+)_", name).group(1)) for name in qs]
    assert sorted(numbers) == list(range(1, 114))
    assert numbers == sorted(numbers)
    assert set(entry.oracle_sql()) <= set(qs)
