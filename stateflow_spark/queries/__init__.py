"""Query registry: every implemented operator from SURVEY.md §2 registers a
named query (Spark DataFrame builder) and a DuckDB oracle string (the driver
FAILS oracle-less rows, so every registration carries one). The driver runs
both sides at sf0.01 and hash-compares.

Import side effects populate ``REGISTRY`` in import order; ``smoke_names``
derives the quick correctness subset from names and tags alone.
"""

from __future__ import annotations

from stateflow_spark.queries.common import REGISTRY, QueryDef, register  # noqa: F401

from stateflow_spark.queries import similarity  # noqa: F401, E402
from stateflow_spark.queries import streaming_late  # noqa: F401, E402
from stateflow_spark.queries import entity_stream  # noqa: F401, E402
from stateflow_spark.queries import curation  # noqa: F401, E402
from stateflow_spark.queries import tpch2  # noqa: F401, E402  (pulls tpch)
from stateflow_spark.queries import windows  # noqa: F401, E402
from stateflow_spark.queries import setops  # noqa: F401, E402
from stateflow_spark.queries import aggregates  # noqa: F401, E402
from stateflow_spark.queries import dedup  # noqa: F401, E402
from stateflow_spark.queries import streaming_events  # noqa: F401, E402  (pulls events)
from stateflow_spark.queries import text  # noqa: F401, E402
from stateflow_spark.queries import udtfs  # noqa: F401, E402
from stateflow_spark.queries import multimodal  # noqa: F401, E402
from stateflow_spark.queries import joins  # noqa: F401, E402
from stateflow_spark.queries import entity_ops  # noqa: F401, E402
from stateflow_spark.queries import entity_flow  # noqa: F401, E402
from stateflow_spark.queries import sources_robustness  # noqa: F401, E402


def smoke_names() -> set[str]:
    """The smoke set: every ``bench``-tagged query plus the alphabetically
    first query of each family (a query's first tag). It depends only on
    names and tags, never on registration order."""
    first: dict[str, str] = {}
    for name in sorted(REGISTRY):
        first.setdefault(REGISTRY[name].family, name)
    bench = {n for n, q in REGISTRY.items() if "bench" in q.tags}
    return bench | set(first.values())
