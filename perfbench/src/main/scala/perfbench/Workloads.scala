package perfbench

import scala.collection.immutable.ListMap

/** The benchmark's fixed, explicit key lists (registry keys of
  * `thrivespark.Registry.queries`). Why each workload exists is in
  * BENCHMARK.json; README.md says which keys were left out to fit the run
  * budget. */
object Workloads {
  val keys: ListMap[String, Seq[String]] = ListMap(
    // Thrive's own surface, batch ETL and incremental ingestion: bulk sinks
    // and the micro-batch path of StreamRunner (a state store in
    // stream_custom_state, checkpoint commits in both stream keys) write
    // beside the reads.
    "etl_batch" -> Seq(
      "join_sort_merge", "agg_rollup", "dq_profile", "sink_partitioned",
      "etl_backfill_overwrite", "stream_custom_state", "stream_cdc_apply"),
    // LLM-corpus operators: the largest cold-warm gap, from op builds with
    // eager jobs, shared-stage builds and code generation.
    "llm_corpus" -> Seq(
      "pipeline_rag_retrieval", "sim_doc_topk_hashed", "text_tfidf_topk",
      "text_bpe_train", "dedup_near_minhash", "dedup_simhash"))

  /** Keys of `wanted` the registry does not have. A non-empty answer is a
    * benchmark error: the workload would silently shrink. */
  def missing(wanted: Seq[String], registry: collection.Set[String]): Seq[String] =
    wanted.filterNot(registry.contains)

  /** The seeded run order: first-touch cost lands on whichever key runs
    * first, so the order is part of the workload's input. */
  def order(wanted: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(wanted)
}
