"""Set operations (SURVEY.md §2.9).

The reference only concatenates chunk results (pd.concat,
create_subsample.py:90); DataFrame's own ``distinct``, ``intersectAll``
and ``exceptAll`` cover the rest of the family.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(*dfs: DataFrame) -> DataFrame:
    """Positional-safe UNION ALL by column NAME (pd.concat analog).
    unionByName, not union: column order must not silently matter."""
    return reduce(lambda a, b: a.unionByName(b), dfs)

