package graft

/** The frozen headline set: the 27 catalog queries the benchmark's
  * `batch_sql` workload times, in its seeded order.
  */
object Bench {

  /** Representative subset across the operator inventory: scans+agg,
    * joins (broadcast + shuffled), window functions, event-time windows,
    * sessions, text + dedup, vectors, NEXMark workload. Deliberately
    * FROZEN across rounds so BENCH_r{N} totals stay comparable —
    * newer catalog queries (q69–q79) are correctness-gated in Verify
    * but not timed here.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",
    "q03_join_topk",
    "q04_range_join_agg",
    "q06_rank_per_key",
    "q13_broadcast_side_join",
    "q17_multi_join_revenue",
    "q21_having",
    "q22_tumbling_window",
    "q24_session_window",
    "q28_token_stats",
    "q31_dedup_exact",
    "q33_minhash_lsh_pairs",
    "q37_knn_bruteforce",
    "q42_correlated_subquery",
    "q47_top_customers",
    "q52_asof_join",
    "q53_moving_avg",
    "q61_minhash_md5",
    "q62_asof_native",
    "tpch_q05",
    "tpch_q09",
    "tpch_q18",
    "mm_features",
    "nx_q04_avg_final_price",
    "nx_q05_hot_items",
    "nx_q09_winning_bids",
    "nx_ysb_campaigns")
}
