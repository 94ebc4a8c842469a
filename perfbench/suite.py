"""The two declared-query workloads, ``sql_analytics`` and ``curation``.

Queries are looked up by their stable, unprefixed names through
``plans.spec_of``; a missing name fails the run. Each op builds the
query's DataFrame and materializes its final physical plan JVM-side with
``executedPlan().execute().count()``, as ``bench.py`` does, over a pinned
table registry; per-query index persists are released between ops.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_FILE = os.path.join(HERE, "oracle_hashes.json")

#: JVM-only work whose cost is set by stage and job counts: TPC-H shapes,
#: the percentile rows, the two single-task global windows and the
#: two-sample KS statistic. No Python worker and no writer runs here.
SQL_ANALYTICS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_priority_late",
    "join_multiway_q5",
    "q6_forecast_revenue",
    "q12_late_lines",
    "q18_big_orders",
    "agg_grouping_sets",
    "agg_median_percentile",
    "agg_percentile_approx",
    "join_anti",
    "join_left_outer",
    "window_lag_lead",
    "window_range_frame",
    "window_ntile_pct",
    "stats_ks_two_sample",
)

#: Python-worker work and eager construction: MinHash signatures in a
#: pandas UDF, the Python UDFs of the training-data pipeline and of
#: multimodal decoding, the connected-components fixpoint behind the dedup
#: clusters, the PageRank loop, per-query persisted relations and the
#: bigram model. Queries that probe an offline index
#: (IVF, PQ, sketch) are left out: building those indexes costs more than a
#: whole run may take.
CURATION = (
    "pipeline_training_data",
    "dedup_cluster_star",
    "dedup_minhash_lsh",
    "graph_pagerank_trade",
    "text_logprob_bigram",
    "multimodal_decode_meta",
)

WORKLOAD_QUERIES = {"sql_analytics": SQL_ANALYTICS, "curation": CURATION}


def resolve(names):
    """(name, spec) pairs; a name the registry does not declare raises."""
    from connected_data_lake_spark.plans import spec_of

    out = []
    for name in names:
        try:
            out.append((name, spec_of(name)))
        except KeyError:
            raise SystemExit(f"declared query {name!r} not found in the registry") from None
    return out


def oracle_tool():
    """The repo's oracle module (``tools/oracle_check.py``).

    It puts a fixed path on ``sys.path`` when imported; the path list is
    restored afterwards so only the checkout under test is importable."""
    saved = list(sys.path)
    try:
        from tools import oracle_check
    finally:
        sys.path[:] = saved
    return oracle_check


def load_oracle(sf: str) -> dict:
    with open(ORACLE_FILE, encoding="utf-8") as fh:
        table = json.load(fh)
    if sf not in table:
        raise SystemExit(f"no oracle hashes for {sf}; run perfbench/make_oracle.py")
    return table[sf]

