"""Query catalog: every entry pairs a Spark DataFrame plan with a DuckDB
oracle SQL string computing the same result (same column names, same
rounding), per the driver contract in /root/repo/__spark_entry__.py.

The catalog is ORDERED (dict insertion order is the driver's iteration
order, and past rounds show its correctness pass covers only the first ~50
entries).  The order is derived from coverage data, not a hand list: entries
the driver has never checked, or checked longest ago, come first, with one
representative per operator family pulled forward inside each staleness
tier — see coverage.py.  The policy gate (no entry unchecked for more than
the adaptive ceil(N / W) rounds, N entries against a W-slot driver window)
lives in tests/test_registry.py and runs on a simulated driver history.
"""

from .ann_index import QUERIES as ANN_IDX_QUERIES
from .core import QUERIES as CORE_QUERIES
from .dml import QUERIES as DML_QUERIES
from .coverage import catalog_order, effective_coverage, load_coverage, load_fingerprints
from .llm_ops import QUERIES as LLM_QUERIES
from .minhash_index import QUERIES as MH_IDX_QUERIES
from .ml_ops import QUERIES as ML_QUERIES
from .registry import Query
from .stats_ops import QUERIES as STATS_QUERIES
from .text_index import QUERIES as TXT_IDX_QUERIES
from .timeseries import QUERIES as TS_QUERIES

_MERGED: dict[str, Query] = {
    **CORE_QUERIES, **LLM_QUERIES, **TS_QUERIES, **ML_QUERIES, **DML_QUERIES,
    **ANN_IDX_QUERIES, **MH_IDX_QUERIES, **TXT_IDX_QUERIES, **STATS_QUERIES,
}

COVERAGE: dict[str, int] = load_coverage()

# Change-aware demotion: an entry rewritten since its recorded at-green-time
# fingerprint is treated as never checked, so it leads the catalog (r5
# verdict #1 — doc_decontaminate missed the window after its rewrite).
EFFECTIVE_COVERAGE: dict[str, int] = effective_coverage(_MERGED, COVERAGE, load_fingerprints())

QUERIES: dict[str, Query] = {
    name: _MERGED[name] for name in catalog_order(_MERGED, EFFECTIVE_COVERAGE)
}

__all__ = ["COVERAGE", "EFFECTIVE_COVERAGE", "Query", "QUERIES"]
