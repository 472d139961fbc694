"""The benchmark's workloads: registered queries run back to back.

Each workload stresses different engine layers, so a change aimed at one
layer has a workload where its gain should show and one where nothing
may move:

* ``olap_read``: read-only star joins, scan aggregates and text
  aggregates.  Plan build (Python and Catalyst) and the timed action
  dominate; it loads through ``sources.catalog`` and shuffles, and never
  touches the graph, checkpoint, streaming or store layers.
* ``graph_store``: an iterative graph operator whose wall time is spent
  while the plan is built, in many small eager jobs behind
  ``localCheckpoint`` cuts (``operators.graph``, ``checkpoints``), and
  maintained-store work that writes the stores ``olap_read`` only reads:
  an upsert-aware aggregate view refresh (``operators.aggview``), a
  distinct-count view refresh (``operators.distinctview``), an
  upsert-aware IVF index refresh (``operators.similarity``), an
  incremental session merge (``operators.sessions``) and a stream drained
  through ``foreachBatch`` that publishes a store version per micro-batch
  (``streaming.jobs``, ``sources.publish``, ``operators.dedup``,
  ``staging``).  Each is the cheapest of the graph and store queries
  timed for its layer, so that two warm passes fit in a run.

Every listed query has a strict oracle in ``plans.queries.ORACLE``.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    "olap_read": [
        "q01_pricing_summary",
        "q06_revenue_by_nation",
        "q95_large_volume_customers",
        "q157_forecast_revenue_change",
        "q20_wordcount_top100",
        "q31_tfidf_top_terms",
    ],
    "graph_store": [
        "q107_part_pagerank",
        "q259_upsert_aware_agg_view",
        "q281_distinct_count_view",
        "q237_upsert_aware_ivf",
        "q282_incremental_sessions",
        "q275_stream_published_store",
    ],
}

#: warm passes a run makes per 16 seconds of ``--seconds``, at least one
#: (a warm pass takes about 2.7 s on olap_read and 13 s on graph_store).
#: A fixed count, not a time limit: passes keep getting faster for several
#: passes, and a count that depended on speed would move the medians
#: between runs and commits.
WARM_PASSES_PER_16S = {"olap_read": 3, "graph_store": 2}
MIN_WARM_PASSES = 1

#: scale of the generated inputs the passes read (60,000 lineitem rows,
#: the scale of the engine's oracle fixtures)
SF = 0.01
#: seed of the generated inputs: the same tables in every run, so a run's
#: ``--seed`` changes only the query order
DATA_SEED = 42
#: scale of the inputs of the set-up warm-up query
WARMUP_SF = 0.001
WARMUP_QUERY = "q01_pricing_summary"
