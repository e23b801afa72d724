package graft

/** Dump formatted physical plans for plan-quality review (pushdown,
  * broadcast, codegen spans). Not part of the driver contract.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "f3_range_trim", "s2_pruned_scan", "q1_pricing_summary",
      "j1_join_agg", "g2_time_bins_5m", "p_dedup_minhash_lsh",
      "p_ann_topk", "p_ann_ivf_indexed", "g7_sessions", "g8_sliding",
      "p_sample_stratified", "p_embed_quantize", "a8_snapshot_spine",
      "p_shuffle_coords", "p_quality_topfrac", "p_token_budget",
      "p_contam_fraction", "p_corpus_stats", "m9_time_travel",
      "p_segment_dedup", "p_text_perplexity", "p_kmeans_step",
      "p_data_mix")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXPLAIN_EXEC=1: execute first, then print the FINAL
    // adaptive plan — AQE-only effects (shuffle-stage reuse, runtime
    // broadcast/skew decisions) are invisible in the pre-execution
    // plan (isFinalPlan=false shows the unoptimized duplicate subtrees)
    val exec = sys.env.contains("SPARK_GRAFT_EXPLAIN_EXEC")
    // capture the WRITE's own QueryExecution: the noop save plans a
    // fresh QueryExecution, so `df.queryExecution` stays un-executed
    // (isFinalPlan=false) and shows none of the runtime AQE effects
    // (stage reuse, runtime broadcasts, coalesced reads) — the
    // listener hands us the executed plan the metrics came from
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution =
      null
    // accept ONLY the write's own event (ADVICE r14): query
    // construction may run bounded collect() jobs (local-relation
    // query sets), and their async onSuccess events can arrive after
    // the `lastQe = null` reset — without the funcName filter a tiny
    // collect plan could masquerade as the query's executed plan in
    // the plan-audit artifacts. DataFrameWriter.save posts
    // funcName = "save"/"command"; collect posts "collect".
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "save" || funcName == "command") lastQe = qe
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    if (exec) spark.listenerManager.register(listener)
    try names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, d)
      if (exec) {
        lastQe = null
        df.write.mode("overwrite").format("noop").save()
        // listener events are posted asynchronously
        var waited = 0
        while (lastQe == null && waited < 100) {
          Thread.sleep(100); waited += 1
        }
      }
      val qe = if (exec && lastQe != null) lastQe else df.queryExecution
      println(qe.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    } finally if (exec) spark.listenerManager.unregister(listener)
    spark.stop()
  }
}
