"""The benchmark's workloads: fixed lists of registered queries.

Each workload is a slice of one query family, small enough that a run
(the cold set-up, the oracle check and a timed application) takes about
a minute on 4 cores. The seed only permutes the order in which a timed
application runs the list, after its first query; the engine always
sees the same tables.

Why each workload exists, which layer it loads and which metric each
layer should move are in ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, list[str]] = {
    # TPC-H rows plus agg/join/window/set/scalar/sort/pivot rows
    "sql_batch": [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_revenue_forecast", "q13_customer_distribution", "q14_promo_revenue",
        "join_semi", "agg_rollup", "set_except", "pivot_status_by_priority",
        "scalar_dates", "sort_topk_global", "window_percent_rank",
    ],
    # stream_* rows that build no memo artifact
    "stream_replay": [
        "stream_attribution_join", "stream_lake_roundtrip", "stream_dedup_within_watermark",
        "stream_tumbling_hourly", "stream_wordcount",
    ],
    # sim_* rows, cold: no prewarm. sim_knn_graph builds the kNN-graph
    # memo that sim_bfs_hops and sim_mutual_knn consume
    "vector_memo": [
        "sim_knn_graph", "sim_mutual_knn", "sim_bfs_hops", "sim_knn_vectorized",
        "sim_label_centroids",
    ],
    # wordcount*, text_* and sink_* rows
    "text_io": [
        "wordcount", "wordcount_topk", "text_vocab", "text_fingerprint",
        "text_bigram_kn_ppl", "sink_csv_roundtrip", "sink_partitioned_roundtrip",
        "sink_jsonl_roundtrip",
    ],
}


def order(workload: str, seed: int) -> list[str]:
    """The workload's queries in the order ``seed`` gives them: the first
    query stays first and the rest are shuffled.

    The first query builds what later ones share, so every seed does the
    same work. A memo build costs more through some consumers than
    through others: with the seed choosing the builder, ``vector_memo``
    loops over ten seeds took 7.3-10.3 s (sim_bfs_hops building the kNN
    graph: 5.5-7.0 s for that query, against 2.3-3.6 s when it did not)."""
    first, *rest = WORKLOADS[workload]
    random.Random(seed).shuffle(rest)
    return [first, *rest]
