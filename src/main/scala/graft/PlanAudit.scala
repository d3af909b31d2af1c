package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: sweep every SparkEntry query's physical plan for join/scan
  * red flags (nested-loop or cartesian joins outside the known-intentional
  * set). `sbt "runMain graft.PlanAudit"` — prints one line per query. */
object PlanAudit {
  // broadcast-NLJ or cross products that are deliberate:
  //  - ann_cosine_topk / embed_neardup_exact: documented brute-force baselines
  //  - report_summary / sketch_kmv_distinct / sketch_hll_distinct /
  //    sketch_hll_merged / text_tfidf_top_terms / text_unigram_logprob: a
  //    1-row aggregate (corpus total / exact ride-along) crossJoined back
  //    (the other summary queries are single aggregates, no join)
  //  - timeseries_gapfill: the 1-row global last-day horizon cross
  //  - sketch_quantile: the 5-row quantile spec against the k-row sample
  //  - graph_pagerank: the 1-row node-count teleport term, once per iteration
  //  - basket_pairs / events_rfm / streaming_hll_rollup: 1-row totals
  //    (order count for lift, RFM horizon, HLL window horizon)
  //  - balance_avg_daily: gapfill's 1-row global-horizon cross upstream
  //  - text_vocab_coverage: the 1-row (n_total, n_vocab) totals cross
  //  - text_source_divergence: the 1-row corpus-total cross
  //  - profile_fk_orphans: one 1-row null-count cross per FK edge
  private[graft] val intentional = Set(
    "ann_cosine_topk", "embed_neardup_exact", "report_summary",
    "sketch_kmv_distinct", "sketch_hll_distinct", "sketch_hll_merged",
    "text_tfidf_top_terms", "text_unigram_logprob", "curation_pipeline_v2",
    "timeseries_gapfill", "sketch_quantile", "graph_pagerank",
    "basket_pairs", "events_rfm", "streaming_hll_rollup",
    "balance_avg_daily", "text_vocab_coverage",
    "text_source_divergence", "profile_fk_orphans", "graph_triangles",
    // sketch_kmv_jaccard: the |groups|² pair roster crosses two tiny
    //   distinct-group frames (sketch tables are fixed-size by design)
    // text_bigram_logprob: the 1-row corpus-total cross (unigram twin)
    // ann_rrf_fusion: composes ann_cosine_topk's broadcast-query cross
    // profile_chi2: the 1-row grand-total cross over the tiny cell census
    // embed_label_scatter: the |labels|² between-centroid cross over the
    //   tiny centroid table
    // timeseries_cusum: the 1-row global-stats cross (decompose family)
    "sketch_kmv_jaccard", "text_bigram_logprob", "ann_rrf_fusion",
    "profile_chi2", "embed_label_scatter", "timeseries_cusum",
    // text_cooc_pmi: the 1-row pair-total cross (PMI normalizer)
    "text_cooc_pmi",
    // text_perplexity_filter: inherits the bigram LM's 1-row total cross
    // events_psi_drift: the 1-row (d0, d1) calendar-bounds cross
    // sketch_bloom_fpr: the 1-row set-bit-count cross on the readout
    "text_perplexity_filter", "events_psi_drift", "sketch_bloom_fpr")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // with query-name args: print those queries' full executed plans and exit
    if (args.nonEmpty) {
      args.foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries.get(name) match {
          case Some(fn) => println(fn(spark, sfDir).queryExecution.executedPlan.toString)
          case None => println(s"unknown query '$name' — names: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
        }
      }
      spark.stop()
      return
    }
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val nlj = plan.contains("BroadcastNestedLoopJoin")
        val cart = plan.contains("CartesianProduct")
        val flag =
          if ((nlj || cart) && !intentional(name)) { flagged += 1; "UNEXPECTED-NLJ" }
          else if (nlj || cart) "nlj-intentional"
          else "ok"
        println(f"[audit] $name%-28s $flag")
      } catch { case e: Throwable => println(f"[audit] $name%-28s ERROR ${e.getMessage.take(80)}") }
    }
    println(s"[audit] flagged=$flagged")
    spark.stop()
  }
}
