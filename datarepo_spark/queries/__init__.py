"""datarepo_spark.queries — the named-query registry.

Importing any module of this package registers every query: the one
place that loads the query modules. Their order is REGISTRY's insertion
order, and so the order of ``__spark_entry__.queries()``."""

from . import (  # noqa: F401
    registry,
    extensions,
    tpch_extra,
    delta_queries,
    physical,
    sources,
    analysis,
    insights,
    ranked,
)
