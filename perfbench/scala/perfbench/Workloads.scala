package perfbench

import graft.SparkEntry

/** The three query workloads draw on disjoint parts of the registered query
  * set: XBoard's own API surface (all of it), the LLM-pipeline path and the
  * registry-backed retrieval rows (one query per operator family or
  * registry each, so that a run, cold pass and output checks included,
  * stays within its time limit on a 4-core machine). */
object Workloads {
  /** Analytics, ingest/merge and `events_*` requests: the dashboard panels. */
  val dashboard: Seq[String] = Seq(
    "overview", "orders_by_date", "orders_by_date_range", "orders_overview_dc",
    "orders_overview_by_tenant", "top_customers_intended",
    "top_customers_faithful", "recent_orders", "customer_region",
    "point_lookup", "lineitem_pricing", "orders_rollup", "running_revenue",
    "orders_daily_delta", "customer_quartiles", "customer_quartiles_approx",
    "orders_cube", "orders_grouping_sets", "orders_pivot", "price_quantiles",
    "price_quantiles_approx", "top_customers_salted", "custkeys_intersect",
    "custkeys_intersect_approx", "custkeys_intersect_theta", "custkeys_except",
    "upsert_orders", "ingest_normalize", "ingest_customers", "ingest_products",
    "events_dedup", "events_daily", "events_asof", "events_stream_join",
    "events_range_join", "events_sliding", "events_sessions",
    "events_user_totals", "events_anomaly", "events_props_sum",
    "events_funnel", "events_retention")

  /** Queries served from the session registries and on-disk indexes, one
    * per registry, so the cold pass pays each kind of build once: the IVF
    * on-disk index maintained live, the PQ codebooks, the image index, the
    * lexical index and the z-ordered layout. The other registry-backed rows
    * rebuild the same structures in more variants. */
  val retrieval: Seq[String] = Seq(
    "ann_ivf_topk_live", "ann_ivf_topk_pq", "ann_image_topk",
    "bm25_topk_indexed", "zorder_pruned_read")

  /** The LLM-pipeline path, one query per operator family: dedup (exact,
    * MinHash, substring), curation, splits, sampling, packing, PII,
    * decontamination, model filters, profiles, centrality (eager
    * checkpoints), text stats, BPE, embedding near-dups and multimodal. */
  val curation: Seq[String] = Seq(
    "dedup_exact", "minhash_dedup_keep", "substring_dedup",
    "curation_pipeline", "split_leakage_safe", "sample_weighted",
    "pack_greedy", "pii_scrub", "decontaminate", "model_filter",
    "profile_columns", "doc_pagerank", "text_stats", "bpe_token_counts",
    "embedding_near_dup", "multimodal_meta_png")

  def queryNames(workload: String): Seq[String] = {
    val names = workload match {
      case "dashboard" => dashboard
      case "curation" => curation
      case "retrieval" => retrieval
      case other => sys.error(s"not a query workload: $other")
    }
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"$workload names unregistered queries: $missing")
    val backed = names.filter(SparkEntry.registryBacked)
    require(backed == (if (workload == "retrieval") names else Nil),
      s"registry-backed queries belong to retrieval only: $workload has $backed")
    names
  }
}
