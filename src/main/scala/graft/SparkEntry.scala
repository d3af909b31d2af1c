package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.{BalanceAnalytics, Dedup, FifoMatcher, FuzzyJoin, Multimodal, Search, Similarity, Validators}
import graft.queries.{BalanceQueries, EventQueries, OracleSql, OracleSqlText, RelationalQueries}
import graft.queries.OracleSql.Params
import graft.sources.Tables

/** Driver contract — see SURVEY.md §7.
  *
  * Every gate is declared once in [[gates]], with its Spark build and its
  * DuckDB twin side by side: identical column names and deterministic row
  * order (the correctness gate hash-compares both). [[queries]] and
  * [[oracleSql]] are views of that one list.
  */
object SparkEntry {

  // ---- shared pipeline stages: each one a [[Shared]] entry ----
  // The matched ledger and balance history are the reference pipeline's
  // staged intermediates (it parquets them between tasks,
  // src/thrive_cash_processing_dag.py:257): every downstream query reads the
  // same materialization. persist() is the in-session equivalent — computed
  // once per session and input, reused by all 20+ dependent queries.
  private def stages(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    Shared.get("pipeline_stages", Tables.files(s, dir, "events")) {
      val m = FifoMatcher.matchTransactions(Tables.transactions(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val h = BalanceAnalytics.balanceHistory(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (m, h, BalanceAnalytics.currentBalances(h))
    }

  /** The tmpdir path of an index over `dir`'s `table`, built there by
    * `build` once per session and input (write-once/probe-many: a built
    * index stays valid while its input files do). */
  private def indexBuilt(name: String, s: SparkSession, dir: String, table: String)(
      build: String => Unit): String = {
    val idx = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"${name}_" + graft.RunHygiene.pathKey(dir)).toString
    Shared.get(name, Tables.files(s, dir, table), idx) { build(idx); idx }
  }

  /** Shared body of the two persisted-BM25 gates: build on the ~87% md5
    * split, append the rest (additive integer censuses → the probe is
    * bit-identical to the full-corpus computation and shares bm25TopK's
    * oracle), optionally compact, probe. ONE definition so the two gates
    * cannot drift in split fraction or once-guard. */
  private def bm25IndexedGate(s: SparkSession, d: String, tag: String,
      compact: Boolean): DataFrame = {
    import graft.operators.Search
    val docs = Tables.documents(s, d)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val idx = indexBuilt(s"graft_bm25_$tag", s, d, "documents") { idx =>
      Search.buildBm25Index(docs.filter(h >= "2"), idx)
      Search.appendToBm25Index(docs.filter(h < "2"), idx)
      if (compact) Search.compactBm25Index(s, idx)
    }
    Search.bm25IndexedTopK(docs, idx)
  }

  // Shared curation prefix (canon corpus + C4/containment/PII censuses),
  // built once per session and corpus — v3/v4/v5 each rebuilt the identical
  // prefix per call, and the recompute grew with every composed pipeline
  // added (round-9 verdict #7). Session-lived persists, never registered
  // with RunHygiene, so the per-query drains leave them cached.
  private def curationShared(s: SparkSession,
      dir: String): graft.operators.Curation.CurationShared =
    Shared.get("curation_prefix", Tables.files(s, dir, "documents"))(
      graft.operators.Curation.sharedStages(Tables.documents(s, dir), sessionLived = true))

  /** Bench's materialize hook: fill the session-lived curation prefix up
    * front so its one-time cost lands on its own `_curation_materialize`
    * line instead of whichever curation gate happens to run first. */
  def materializeCurationShared(s: SparkSession, dir: String): Unit = {
    val sh = curationShared(s, dir)
    // canon and c4 are already counted (filled) inside sharedStages;
    // contained and pii are independent given them — overlap (guide §2.6)
    Shared.buildConcurrently(Seq(
      "contained" -> (() => sh.contained.count()), "pii" -> (() => sh.pii.count())))
  }

  // A shared frame built from `dir`'s `table`, frozen as an eager
  // localCheckpoint.
  // localCheckpoint, NOT persist: a shared persist lives in the
  // CacheManager keyed by its logical plan, and any consumer that stages
  // an identity projection of it (same columns, same order) produces a
  // sameResult plan whose post-query drain REMOVES the shared entry —
  // every later consumer then silently recomputes (measured: the scurve
  // gate's drain killed the shared exact-pairs frame, 0.1 s cache reads
  // became 2-4 s rebuilds). A checkpoint is frozen RDD blocks outside the
  // CacheManager; no consumer's unpersist can touch it. Never registered
  // with RunHygiene, so per-query drains leave it in place.
  private def checkpointed(tag: String, s: SparkSession, dir: String, table: String)(
      build: => DataFrame): DataFrame =
    Shared.get(tag, Tables.files(s, dir, table))(build.localCheckpoint(true))

  // Shared simhash near-dup pair graph: SEVEN gates (dedup_clusters,
  // dedup_clusters_star, dedup_keep_best, graph_pagerank, graph_kcore,
  // train_leakage_audit, train_splits_safe) consume the identical
  // Dedup.simhashPairs(documents) frame and each recomputed the sketch +
  // self-join per call — the same ETL-once/query-many shape as the matched
  // ledger and the curation prefix (optimization guide §1.2: remove
  // recomputed passes before anything else).
  private def simhashPairsShared(s: SparkSession, dir: String): DataFrame =
    checkpointed("simhash_pairs", s, dir, "documents")(
      Dedup.simhashPairs(Tables.documents(s, dir)))

  // ONE tokenize+shingle pass (n = 3) serves the exact prefix-join, the
  // banded LSH, and the containment screen — each used to re-derive the
  // identical shingle table from the documents per call (round-16,
  // guide §1.2). Charged to `_dedup_shared_materialize` with its consumers.
  private def shinglesShared(s: SparkSession, dir: String): DataFrame =
    checkpointed("shingles3", s, dir, "documents")(
      graft.functions.TextOps.withShingles(Tables.documents(s, dir), 3))

  // Shared exact prefix-join and banded-LSH pair frames at the gate
  // parameters (n = 3, threshold = 0.5): four gates consume them —
  // dedup_ngram_jaccard and dedup_minhash_lsh ARE the frames, and the two
  // standing audits (dedup_lsh_recall, dedup_lsh_scurve) compare them.
  // Each audit used to recompute BOTH operators per call; the production
  // audit shape compares the outputs the pipeline just materialized.
  private def ngramJaccardShared(s: SparkSession, dir: String): DataFrame =
    checkpointed("ngram", s, dir, "documents")(
      Dedup.ngramJaccardFrom(shinglesShared(s, dir)))

  private def minhashLshShared(s: SparkSession, dir: String): DataFrame =
    checkpointed("minhash", s, dir, "documents")(
      Dedup.minhashLshAutoFrom(shinglesShared(s, dir)))

  // Shared co-purchase frames: the unfiltered (part_a, part_b, support)
  // census from the distinct (order, part) self-join, and the basket_pairs
  // result built on it — basket_pairs, graph_triangles, and
  // graph_link_prediction each recomputed the same self-join per call.
  private def coPurchaseSupportShared(s: SparkSession, dir: String): DataFrame =
    checkpointed("copurchase", s, dir, "lineitem")(
      RelationalQueries.coPurchaseSupport(Tables.lineitem(s, dir)))

  private def basketPairsShared(s: SparkSession, dir: String): DataFrame =
    checkpointed("basketpairs", s, dir, "lineitem")(
      RelationalQueries.basketPairsFrom(Tables.lineitem(s, dir),
        coPurchaseSupportShared(s, dir)))

  /** Bench's materialize hook for the shared dedup frames (simhash pair
    * graph + the two LSH-audit pair frames) — their own
    * `_dedup_shared_materialize` line item, so the one-time cost never
    * lands on whichever consumer gate runs first alphabetically. */
  def materializeDedupShared(s: SparkSession, dir: String): Unit = {
    // the shared shingle table first (both LSH-family builds consume it),
    // then the three independent pair builds overlap (guide §2.6)
    shinglesShared(s, dir)
    Shared.buildConcurrently(Seq(
      "simhash_pairs" -> (() => simhashPairsShared(s, dir)),
      "ngram" -> (() => ngramJaccardShared(s, dir)),
      "minhash" -> (() => minhashLshShared(s, dir))))
  }

  // Shared ANN ranking frames at the gate parameters (nQueries = 5,
  // k = 5): the seven ranker gates ARE the frames, and the two standing
  // consumers compare/fuse them — ann_recall_eval re-ran all SEVEN
  // rankers per call (including the ivf Lloyd training and the m×k PQ
  // codebook training) and ann_rrf_fusion re-ran two. Round-15's
  // LSH-audit discipline applied to the retrieval stack: the audit
  // compares the rankings the session just materialized. Each frame is
  // queries×k rows — audit-sized; the Lloyd and PQ trainings behind them
  // are Shared entries too, reused by kmeans, the screens and the indexes.
  private val annRankers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ann_exact" -> (Similarity.bruteForceTopK(_)),
    "ann_ivf" -> (Similarity.ivfTopK(_)),
    "ann_lsh" -> (Similarity.lshTopK(_, nPlanes = 4)),
    "ann_matryoshka" -> (Similarity.matryoshkaTopK(_)),
    "ann_pq" -> (Similarity.pqTopK(_)),
    "ann_sq" -> (Similarity.sqTopK(_)),
    "ann_bq" -> (Similarity.bqTopK(_)))

  private def annShared(tag: String)(s: SparkSession, dir: String): DataFrame =
    checkpointed(tag, s, dir, "embeddings")(
      annRankers.toMap.apply(tag)(Tables.embeddings(s, dir)))

  /** Bench's materialize hook for the shared ANN ranking frames — their
    * own `_ann_shared_materialize` line item. Also warms the exact JIT/
    * codegen path of the Lloyd and PQ trainings (the ann gates run first
    * alphabetically, so before this hook existed the first gates paid the
    * whole framework warm-up — the round-14/15 "in-suite inflation"). */
  def materializeAnnShared(s: SparkSession, dir: String): Unit =
    // all seven rankers are independent (the ivf and pq trainings are
    // separate Shared keys with their own locks; the rest are pure scans)
    // — overlap them per guide §2.6
    Shared.buildConcurrently(annRankers.map { case (tag, _) =>
      tag -> (() => annShared(tag)(s, dir)) })

  /** Bench's materialize hook for the staged pipeline intermediates
    * (matched ledger + balance history): fills the session persists
    * WITHOUT the gates' output orderBy — the sort exists for the gates'
    * deterministic row order, not for the cache fill, and counting the
    * sorted gates paid two full sorts that no later consumer used
    * (round-16, guide §1.2: don't compute what you throw away). */
  def materializePipelineShared(s: SparkSession, dir: String): Unit = {
    val (m, h, _) = stages(s, dir)
    m.count(); h.count()
  }

  private def txns(s: SparkSession, dir: String): DataFrame = Tables.transactions(s, dir)
  private def matched(s: SparkSession, dir: String): DataFrame = stages(s, dir)._1
  private def history(s: SparkSession, dir: String): DataFrame = stages(s, dir)._2
  private def current(s: SparkSession, dir: String): DataFrame = stages(s, dir)._3

  private val matchedOrder = Seq(col("CUSTOMERID"), col("CREATEDAT"), col("TRANS_ID"))

  /** Flagship: the full FIFO-matched ledger on sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    matched(spark, "/root/testdata/sf0.001").orderBy(matchedOrder: _*)

  /** Every gate, declared once: its name, its DuckDB twin (same columns,
    * same order, same values) and its Spark build. One per implemented
    * operator from SURVEY.md §2. */
  val gates: Seq[Gate] = Gate.registry(
    // §2.8 the bespoke FIFO matcher — three formulations, one contract
    Gate("fifo_match", OracleSql.fifoMatch, (s, d) => matched(s, d).orderBy(matchedOrder: _*)),
    Gate("fifo_match_rankjoin", OracleSql.fifoMatch, (s, d) =>
      FifoMatcher.matchRankJoin(txns(s, d)).orderBy(matchedOrder: _*)),
    Gate("fifo_match_queue", OracleSql.fifoMatch, (s, d) =>
      FifoMatcher.matchQueue(txns(s, d)).orderBy(matchedOrder: _*)),
    // the whale-tolerant two-stage distributed rank (bucket + prefix-sum
    // offsets) must be row-identical to the primary window — same oracle
    Gate("fifo_match_salted", OracleSql.fifoMatch, (s, d) =>
      FifoMatcher.matchTransactionsSalted(txns(s, d)).orderBy(matchedOrder: _*)),
    // census-priced dispatch between the primary and salted plans — both
    // branches row-identical, so the adaptive form shares the oracle
    Gate("fifo_match_adaptive", OracleSql.fifoMatch, (s, d) =>
      FifoMatcher.matchTransactionsAdaptive(txns(s, d)).orderBy(matchedOrder: _*)),
    // the dispatch decision itself, oracle-gated in exact ppm integers
    Gate("fifo_skew_decision", OracleSql.fifoSkewDecision,
      (s, d) => FifoMatcher.skewDecision(txns(s, d))),

    // §2.5 W4 cumulative balance analytics
    Gate("balance_history", OracleSql.balanceHistory, (s, d) =>
      history(s, d).orderBy("customer_id", "transaction_date", "transaction_id")),
    Gate("current_balances", OracleSql.currentBalances,
      (s, d) => current(s, d).orderBy("customer_id")),

    // §3.3 the 12-query analytic corpus
    Gate("q01_balance_asof", OracleSql.q1, (s, d) =>
      BalanceQueries.q1BalanceAsOf(history(s, d), Seq(Params.CustA, Params.CustB), Params.AsOf)),
    Gate("q02_current_balance", OracleSql.q2, (s, d) =>
      BalanceQueries.q2CurrentBalance(current(s, d), Seq(Params.CustA, Params.CustB))),
    Gate("q03_history", OracleSql.q3,
      (s, d) => BalanceQueries.q3History(history(s, d), Params.CustA)),
    Gate("q04_month_end", OracleSql.q4,
      (s, d) => BalanceQueries.q4MonthEnd(history(s, d), Params.CustA)),
    Gate("q05_above_threshold", OracleSql.q5, (s, d) =>
      BalanceQueries.q5AboveThreshold(history(s, d), Params.AsOf, Params.Threshold)),
    Gate("q06_balance_change", OracleSql.q6, (s, d) =>
      BalanceQueries.q6BalanceChange(history(s, d), Params.CustA, Params.Start, Params.End)),
    Gate("q07_top_balances", OracleSql.q7,
      (s, d) => BalanceQueries.q7TopBalances(history(s, d), Params.AsOf)),
    Gate("q08_zero_balance", OracleSql.q8,
      (s, d) => BalanceQueries.q8ZeroBalance(history(s, d), Params.AsOf)),
    Gate("q09_balance_stats", OracleSql.q9,
      (s, d) => BalanceQueries.q9BalanceStats(history(s, d), Params.AsOf)),
    Gate("q10_day_transactions", OracleSql.q10, (s, d) =>
      BalanceQueries.q10DayTransactions(history(s, d), Params.CustA, Params.Day)),
    Gate("q11_daily_snapshots", OracleSql.q11, (s, d) =>
      BalanceQueries.q11DailySnapshots(history(s, d), Params.CustA, Params.MonthFrom, Params.MonthUntil)),
    Gate("q12_never_spent", OracleSql.q12, (s, d) => BalanceQueries.q12NeverSpent(current(s, d))),

    // calendar gap-fill: per-customer daily balance series, carry-forward
    Gate("timeseries_gapfill", OracleSql.gapFillDaily, (s, d) =>
      BalanceAnalytics.gapFillDaily(history(s, d))),
    // average daily balance (interest basis) over the gap-filled series
    Gate("balance_avg_daily", OracleSql.avgDailyBalance, (s, d) =>
      BalanceAnalytics.avgDailyBalance(BalanceAnalytics.gapFillDaily(history(s, d)))),
    // per-customer OLS trend of the day-end balance series
    Gate("balance_trend", OracleSql.balanceTrend, (s, d) =>
      BalanceAnalytics.balanceTrend(history(s, d))),

    // nearest-within-tolerance as-of variant (merge_asof 'nearest'), 3-day window
    Gate("asof_nearest_join", OracleSql.asofNearestJoin(259200L), (s, d) => {
      val h = history(s, d)
        .select("customer_id", "transaction_date", "transaction_id", "current_balance")
      val probes = h.select("customer_id").distinct()
        .withColumn("transaction_date", explode(array(
          Seq(Params.Start, Params.AsOf, Params.End)
            .map(t => lit(t).cast("timestamp_ntz")): _*)))
      graft.operators.AsOfJoin.asOfNearest(h, probes, "customer_id", "transaction_date",
          tieCol = "transaction_id", valueCols = Seq("current_balance"),
          toleranceSeconds = 259200L)
        .withColumnRenamed("transaction_date", "as_of_ts")
        .orderBy("customer_id", "as_of_ts")
    }),
    // general as-of join: every customer probed at three fixed instants
    Gate("asof_balance_join", OracleSql.asofBalanceJoin, (s, d) => {
      val h = history(s, d)
        .select("customer_id", "transaction_date", "transaction_id", "current_balance")
      val probes = h.select("customer_id").distinct()
        .withColumn("transaction_date", explode(array(
          Seq(Params.Start, Params.AsOf, Params.End)
            .map(t => lit(t).cast("timestamp_ntz")): _*)))
      graft.operators.AsOfJoin.asOf(h, probes, "customer_id", "transaction_date",
          tieCol = "transaction_id", valueCols = Seq("current_balance"))
        .withColumnRenamed("transaction_date", "as_of_ts")
        .orderBy("customer_id", "as_of_ts")
    }),

    // report block (reference :518-542) + top-K (A6)
    Gate("report_summary", OracleSql.reportSummary,
      (s, d) => BalanceAnalytics.reportSummary(matched(s, d), current(s, d))),
    Gate("top_balances", OracleSql.topBalances,
      (s, d) => BalanceAnalytics.topBalances(current(s, d))),

    // §2.9 validation surface
    Gate("v_source_quality", OracleSql.vSourceQuality,
      (s, d) => Validators.sourceQuality(txns(s, d))),
    Gate("v_referential_integrity", OracleSql.vReferentialIntegrity, (s, d) =>
      Validators.invalidRedeemIds(matched(s, d)).orderBy("REDEEMID")),
    Gate("v_balance_equation", OracleSql.vBalanceEquation, (s, d) => {
      val eq = Validators.balanceEquation(matched(s, d))
      eq.select(col("customer_id"),
          round(col("earned_total"), 2).as("earned_total"),
          round(col("spent_total"), 2).as("spent_total"),
          round(col("expired_total"), 2).as("expired_total"),
          round(col("remaining_unmatched"), 2).as("remaining_unmatched"),
          round(col("discrepancy"), 2).as("discrepancy"),
          col("balanced"))
        .orderBy("customer_id")
    }),
    Gate("v_chronology", OracleSql.vChronology, (s, d) =>
      Validators.chronologyViolations(matched(s, d)).orderBy("customer_id", "earned_id")),
    Gate("v_dup_pairs", OracleSql.vDupPairs, (s, d) =>
      Validators.duplicatePairs(matched(s, d)).orderBy("TRANS_ID", "REDEEMID")),
    Gate("v_result_summary", OracleSql.vResultSummary, (s, d) => {
      val r = Validators.resultSummary(matched(s, d))
      r.select(col("total_rows"), col("rows_with_redeemid"), col("rows_without_redeemid"),
        round(col("total_earned"), 2).as("total_earned"),
        round(col("total_spent"), 2).as("total_spent"),
        round(col("total_expired"), 2).as("total_expired"),
        col("unmatched_spent_expired"))
    }),

    // event-stream analytics (sessionization, time buckets, JSON props)
    Gate("events_sessionize", OracleSql.eventsSessionize,
      (s, d) => EventQueries.sessionize(Tables.events(s, d))),
    Gate("events_hourly", OracleSql.eventsHourly,
      (s, d) => EventQueries.hourlyRollup(Tables.events(s, d))),
    Gate("events_sliding", OracleSql.eventsSliding(),
      (s, d) => EventQueries.slidingRollup(Tables.events(s, d))),
    Gate("events_props_json", OracleSql.eventsPropsJson,
      (s, d) => EventQueries.propsJson(Tables.events(s, d))),
    Gate("events_quantiles", OracleSql.eventsQuantiles,
      (s, d) => EventQueries.valueQuantiles(Tables.events(s, d))),
    // per-event trailing-window feature matrix (online-ML feature shape)
    Gate("events_features_trailing", OracleSql.trailingFeatures, (s, d) =>
      EventQueries.trailingFeatures(Tables.events(s, d))),
    // first-order Markov transition matrix of the event stream
    Gate("events_transitions", OracleSql.typeTransitions, (s, d) =>
      EventQueries.typeTransitions(Tables.events(s, d))),
    // long-run occupancy of that chain: damped power iteration in exact
    // integer pico-units (the PageRank discipline)
    Gate("events_markov_stationary", OracleSql.markovStationary(), (s, d) =>
      EventQueries.markovStationary(Tables.events(s, d))),
    // chain-style burst suppression per (user, type)
    Gate("events_debounce", OracleSql.debounce(),
      (s, d) => EventQueries.debounce(Tables.events(s, d))),
    // interval-overlap (range) join: per-session concurrency via binning
    Gate("sessions_concurrency", OracleSql.sessionsConcurrency, (s, d) => {
      val sess = EventQueries.sessionize(Tables.events(s, d))
        .select("user_id", "session_id", "session_start", "session_end")
      graft.operators.RangeJoin.overlapCounts(sess,
        Seq("user_id", "session_id"), "session_start", "session_end")
    }),

    // generic relational inventory (scan/filter/agg/join/window/top-k)
    Gate("agg_pricing_summary", OracleSql.aggPricingSummary, (s, d) =>
      RelationalQueries.aggPricingSummary(Tables.lineitem(s, d))),
    Gate("agg_pricing_filtered", OracleSql.aggPricingFiltered, (s, d) =>
      RelationalQueries.aggPricingFiltered(Tables.lineitem(s, d), "1998-09-02 00:00:00")),
    // TPC-H Q3 shape: pushed date/segment predicates, broadcast dim,
    // exact-integer revenue ranking, TakeOrdered top-k
    Gate("join_top_unshipped", OracleSql.topUnshippedOrders(), (s, d) =>
      RelationalQueries.topUnshippedOrders(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d))),
    // TPC-H Q13 shape: zero-inclusive order-count distribution via left join
    Gate("agg_order_count_dist", OracleSql.orderCountDistribution, (s, d) =>
      RelationalQueries.orderCountDistribution(Tables.customer(s, d),
        Tables.orders(s, d))),
    // TPC-H Q18 shape: HAVING on the pre-join rollup shrinks the fact side
    // to the quantity tail before any join
    Gate("join_large_volume", OracleSql.largeVolumeOrders(), (s, d) =>
      RelationalQueries.largeVolumeOrders(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d))),
    // TPC-H Q14 shape: one conditional integer rollup; share is exact bp
    Gate("agg_promo_share", OracleSql.promoRevenueShare(), (s, d) =>
      RelationalQueries.promoRevenueShare(Tables.lineitem(s, d), Tables.part(s, d))),
    // TPC-H Q22 shape: above-mean membership via integer cross-multiply,
    // anti join for the idle cohort
    Gate("join_idle_rich", OracleSql.idleRichCustomers, (s, d) =>
      RelationalQueries.idleRichCustomers(Tables.customer(s, d),
        Tables.orders(s, d), Tables.nation(s, d))),
    // TPC-H Q7 shape: one dimension joined twice (supplier's vs customer's
    // nation), both broadcast and pre-filtered to the pair
    Gate("join_nation_volume", OracleSql.nationTradeVolume(), (s, d) =>
      RelationalQueries.nationTradeVolume(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))),
    // TPC-H Q4 shape: correlated EXISTS as a keyed left-semi join with a
    // non-equi date residual
    // TPC-H Q10 shape: quarter + R-flag pushed to both fact scans, top-k
    // lost-revenue customers, exact-integer ranking
    Gate("join_returned_custs", OracleSql.returnedItemCustomers(), (s, d) =>
      RelationalQueries.returnedItemCustomers(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    // TPC-H Q15 shape: revenue view + scalar-max equality join, max
    // decided on the exact integer unit
    Gate("join_top_supplier", OracleSql.topSupplier(), (s, d) =>
      RelationalQueries.topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d))),
    // TPC-H Q17 shape: correlated per-part avg threshold via integer
    // cross-multiply, brand-pruned census
    Gate("agg_small_qty_revenue", OracleSql.smallQuantityRevenue(), (s, d) =>
      RelationalQueries.smallQuantityRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // TPC-H Q19 shape: OR-of-conjunctions residual over a brand-pruned
    // broadcast join, per-branch counts pinned
    Gate("agg_disjunctive_revenue", OracleSql.disjunctiveRevenue(), (s, d) =>
      RelationalQueries.disjunctiveRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // TPC-H Q8 shape: nation dim in two roles, conditional share rollup,
    // exact basis-point floor
    Gate("agg_market_share", OracleSql.marketShare(), (s, d) =>
      RelationalQueries.marketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d))),
    // TPC-H Q9 shape: name-filtered parts, supplier-nation profit by year,
    // exact integer profit (retail-cost substitution, no partsupp table)
    Gate("agg_nation_profit", OracleSql.nationProfit(), (s, d) =>
      RelationalQueries.nationProfit(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.part(s, d))),
    // TPC-H Q11 shape: HAVING vs scalar subquery as integer cross-multiply
    Gate("agg_value_concentration", OracleSql.supplierValueConcentration(), (s, d) =>
      RelationalQueries.supplierValueConcentration(Tables.lineitem(s, d),
        Tables.supplier(s, d))),
    // TPC-H Q16 shape: NOT-IN exclusion + COUNT DISTINCT census
    Gate("agg_supplier_variety", OracleSql.supplierVariety(), (s, d) =>
      RelationalQueries.supplierVariety(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d))),
    // TPC-H Q20 shape: nested-aggregate threshold -> distinct -> dim join
    Gate("join_surge_suppliers", OracleSql.surgeSuppliers(), (s, d) =>
      RelationalQueries.surgeSuppliers(Tables.lineitem(s, d), Tables.supplier(s, d))),
    // TPC-H Q6 shape: join-free filtered scalar — the pushdown microbench
    Gate("agg_revenue_scalar", OracleSql.revenueScalar(), (s, d) =>
      RelationalQueries.revenueScalar(Tables.lineitem(s, d))),
    // global quartiles WITHOUT a global window: percentile boundaries +
    // broadcast + conditional rollup (the scale-correct form)
    Gate("agg_spend_quartiles", OracleSql.spendQuartiles(), (s, d) =>
      RelationalQueries.spendQuartiles(Tables.orders(s, d))),
    // per-customer NTILE(4): the window form that distributes
    Gate("window_quartile_counts", OracleSql.customerSpendQuartiles(), (s, d) =>
      RelationalQueries.customerSpendQuartiles(Tables.orders(s, d))),
    // TPC-H Q2 shape: correlated min via per-part min-rank window
    Gate("join_min_price_supplier", OracleSql.minPriceSupplier(), (s, d) =>
      RelationalQueries.minPriceSupplier(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d))),
    // TPC-H Q5 shape: six-table join, local-supplier equality folded into
    // the join condition, region-pruned broadcast dims
    Gate("join_local_supplier_volume", OracleSql.localSupplierVolume(), (s, d) =>
      RelationalQueries.localSupplierVolume(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    // TPC-H Q12 shape: high/low priority split as conditional counts
    // inside ONE rollup, lateness as the join residual
    Gate("agg_late_priority_census", OracleSql.lateLinePriorityCensus(), (s, d) =>
      RelationalQueries.lateLinePriorityCensus(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // TPC-H Q21 shape: EXISTS + NOT EXISTS collapsed to one keyed rollup
    // (n_supp > 1 ∧ n_late = 1) — one fact shuffle instead of three scans
    Gate("join_waiting_suppliers", OracleSql.waitingSuppliers(), (s, d) =>
      RelationalQueries.waitingSuppliers(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d))),
    Gate("join_late_semi", OracleSql.latePriorityOrders(), (s, d) =>
      RelationalQueries.latePriorityOrders(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // RANGE frame over event time: trailing 90-day spend per customer,
    // one sorted pass per partition — never the quadratic self-join form
    Gate("window_trailing_spend", OracleSql.trailingSpend(), (s, d) =>
      RelationalQueries.trailingSpend(Tables.orders(s, d))),
    Gate("join_semi_big_orders", OracleSql.customersWithBigOrders, (s, d) =>
      RelationalQueries.customersWithBigOrders(Tables.customer(s, d), Tables.orders(s, d), 400000.0)),
    Gate("join_anti_no_orders", OracleSql.customersWithoutOrders, (s, d) =>
      RelationalQueries.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    Gate("join_revenue_by_nation", OracleSql.revenueByNation, (s, d) =>
      RelationalQueries.revenueByNation(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    Gate("topk_orders", OracleSql.topkOrders,
      (s, d) => RelationalQueries.topkOrders(Tables.orders(s, d))),
    // year-over-year revenue growth per nation (integer-cent exact)
    Gate("agg_yoy_revenue", OracleSql.yoyRevenue, (s, d) =>
      RelationalQueries.yoyRevenue(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),
    // 2-D Pareto frontier (skyline): bucket-local prune + global pass
    Gate("join_pareto_frontier", OracleSql.paretoFrontier, (s, d) =>
      RelationalQueries.paretoFrontier(Tables.orders(s, d))),
    // every grouping level in one pass (rollup / grouping sets)
    Gate("orders_rollup", OracleSql.ordersRollup,
      (s, d) => RelationalQueries.ordersRollup(Tables.orders(s, d))),
    // explicit GROUPING SETS: the two independent margins from one scan
    Gate("orders_grouping_sets", OracleSql.ordersGroupingSets, (s, d) =>
      RelationalQueries.ordersGroupingSets(Tables.orders(s, d))),
    // UNPIVOT/melt surface: metric columns -> (metric, value) rows via Expand
    Gate("orders_unpivot", OracleSql.ordersUnpivot, (s, d) =>
      RelationalQueries.ordersUnpivot(Tables.orders(s, d))),
    // percent_rank/cume_dist over a tie-free total order (exact rationals)
    Gate("window_order_percentiles", OracleSql.orderPercentiles(), (s, d) =>
      RelationalQueries.orderPercentiles(Tables.orders(s, d))),
    Gate("orders_cube", OracleSql.ordersCube,
      (s, d) => RelationalQueries.ordersCube(Tables.orders(s, d))),
    // per-column table profile (rows / nulls / distincts) in one pass
    Gate("profile_orders", OracleSql.profileOrders, (s, d) => RelationalQueries.profileColumns(
      Tables.orders(s, d), RelationalQueries.ProfiledOrderCols)),
    // the replicated-salt join, oracle-checked against the plain join
    Gate("join_salted_revenue", OracleSql.saltedRevenueByPriority, (s, d) =>
      RelationalQueries.saltedRevenueByPriority(Tables.lineitem(s, d), Tables.orders(s, d))),
    // the co-bucketed exchange-free join, same oracle as the salted form
    Gate("join_bucketed_revenue", OracleSql.saltedRevenueByPriority, (s, d) =>
      RelationalQueries.bucketedRevenueByPriority(s, d)),
    Gate("window_customer_order_rank", OracleSql.customerOrderRank, (s, d) =>
      RelationalQueries.customerOrderRank(Tables.orders(s, d))),
    // banded dimension lookup rewritten as a bin equi-join
    Gate("join_tier_lookup", OracleSql.tierLookupJoin, (s, d) =>
      RelationalQueries.tierLookupJoin(Tables.orders(s, d))),
    // market-basket co-occurrence pairs with lift
    Gate("basket_pairs", OracleSql.basketPairs(), (s, d) => basketPairsShared(s, d)),
    // triangle census + clustering coefficient of the co-purchase graph
    Gate("graph_triangles", OracleSql.basketTriangles(), (s, d) =>
      RelationalQueries.basketTrianglesFrom(basketPairsShared(s, d))),
    // star-schema referential-integrity sweep (one row per FK edge)
    Gate("profile_fk_orphans", OracleSql.fkOrphanProfile, (s, d) =>
      RelationalQueries.fkOrphanProfile(RelationalQueries.FkRelations.map {
        case (c, ck, p, pk) =>
          (s"$c.$ck->$p.$pk", Tables.table(s, d, c), ck, Tables.table(s, d, p), pk)
      })),
    // RFM user segmentation (quintile scores + segment code)
    Gate("events_rfm", OracleSql.rfmSegments,
      (s, d) => EventQueries.rfmSegments(Tables.events(s, d))),
    // A/B readout: hash-bucketed variants, conversion + revenue lift
    Gate("events_ab_lift", OracleSql.abLift, (s, d) => EventQueries.abLift(Tables.events(s, d))),
    // CUPED variance-reduced readout (Deng et al. 2013): pre-period spend
    // as control covariate, theta from exact HUGEINT moment forms
    Gate("events_ab_cuped", OracleSql.cupedLift(),
      (s, d) => EventQueries.cupedLift(Tables.events(s, d))),
    // difference-in-differences: baseline-imbalance-corrected effect
    Gate("events_ab_did", OracleSql.didLift(), (s, d) => EventQueries.didLift(Tables.events(s, d))),
    // PSI drift monitor: reference-binned distribution shift per type
    Gate("events_psi_drift", OracleSql.psiDrift(),
      (s, d) => EventQueries.psiDrift(Tables.events(s, d))),
    // seasonal-naive forecast backtest: per-weekday MAE/bias in cents
    Gate("timeseries_forecast_snaive", OracleSql.forecastBacktest(), (s, d) =>
      EventQueries.forecastBacktest(Tables.events(s, d))),
    // last-touch marketing attribution (purchase revenue by channel)
    Gate("events_attribution", OracleSql.lastTouchAttribution(), (s, d) =>
      EventQueries.lastTouchAttribution(Tables.events(s, d))),
    // top session paths (first 5 event types per session, counted)
    Gate("events_paths", OracleSql.sessionPaths(),
      (s, d) => EventQueries.sessionPaths(Tables.events(s, d))),
    // additive seasonal decomposition of daily revenue (integer cents)
    Gate("timeseries_decompose", OracleSql.dailyDecompose(), (s, d) =>
      EventQueries.dailyDecompose(Tables.events(s, d))),
    // sample autocorrelation of the per-type daily series, lags 1..7
    Gate("timeseries_acf", OracleSql.dailyAcf(), (s, d) =>
      EventQueries.dailyAcf(Tables.events(s, d))),
    // CUSUM level-shift screen over the daily series
    // truncated dyadic-weight EWMA over the same daily series
    Gate("timeseries_ewma", OracleSql.dailyEwma(), (s, d) =>
      EventQueries.dailyEwma(Tables.events(s, d))),
    Gate("timeseries_cusum", OracleSql.dailyCusum, (s, d) =>
      EventQueries.dailyCusum(Tables.events(s, d))),
    // longest consecutive-day activity streak per user
    Gate("events_streaks", OracleSql.activityStreaks, (s, d) =>
      EventQueries.activityStreaks(Tables.events(s, d))),

    // training-data pipeline: deduplication
    Gate("dedup_exact", OracleSqlText.dedupExact, (s, d) => Dedup.exact(Tables.documents(s, d))),
    Gate("dedup_ngram_jaccard", OracleSqlText.ngramJaccard, (s, d) => ngramJaccardShared(s, d)),
    // daily-crawl shape: the md5-split "new batch" (~25%) deduped against
    // the "existing corpus" (~75%) — probe volume tracks the batch, not
    // corpus²; oracle is the simple cross-side inverted join
    Gate("dedup_incremental", OracleSqlText.incrementalNearDups, (s, d) => {
      val docs = Tables.documents(s, d)
      val isNew = substring(md5(col("doc_id").cast("string")), 1, 1) < "4"
      Dedup.incrementalNearDups(docs.filter(isNew), docs.filter(!isNew))
    }),
    // the production daily-crawl path: the existing corpus's ranked prefix
    // index is a write-once parquet snapshot and only the NEW batch is
    // shingled per call (verdict r7 #6). The snapshot build runs ONCE per
    // session and input — a Shared entry, like the staged pipeline
    // caches — so the bench's cold line prices build+probe and
    // its warm line prices the probe alone, the recurring cost the
    // daily-crawl user actually pays (verdict r8 #4). Verify still builds
    // fresh per run (new JVM), keeping the gate self-contained; the final
    // output must hash-match the rebuild-path dedup_incremental — same
    // oracle SQL (exact verification erases the two paths' different-but-
    // both-lossless candidate orders).
    Gate("dedup_incremental_indexed", OracleSqlText.incrementalNearDups, (s, d) => {
      val docs = Tables.documents(s, d)
      val isNew = substring(md5(col("doc_id").cast("string")), 1, 1) < "4"
      val idx = indexBuilt("graft_incr_idx", s, d, "documents")(
        Dedup.buildIncrementalIndex(docs.filter(!isNew), _))
      Dedup.incrementalNearDupsIndexed(docs.filter(isNew), idx)
    }),
    // index LIFECYCLE end-to-end: snapshot built on the ~50% base split,
    // a day's survivor batch APPENDED under the frozen snapshot order,
    // then COMPACTED (dfreq refreshed from the index's own arrays tree,
    // prefixes re-ranked, trees swapped) — the probe against the
    // compacted index must hash-match the same oracle as the rebuild
    // path (exact verification erases the order difference; the twin
    // splits new(<'4') vs existing(>='4') — base/append is an index-side
    // implementation detail)
    Gate("dedup_incremental_compacted", OracleSqlText.incrementalNearDups, (s, d) => {
      val docs = Tables.documents(s, d)
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val idx = indexBuilt("graft_incr_cmp", s, d, "documents") { idx =>
        Dedup.buildIncrementalIndex(docs.filter(h >= "8"), idx)
        Dedup.appendToIncrementalIndex(docs.filter(h >= "4" && h < "8"), idx)
        Dedup.compactIncrementalIndex(s, idx)
      }
      Dedup.incrementalNearDupsIndexed(docs.filter(h < "4"), idx)
    }),
    // compaction cadence evidence: the probe's candidate volume per phase
    // (appended: frozen-order over-selection; compacted: refreshed
    // baseline) — exact integer counts, twin replays both rank orders
    Gate("dedup_compaction_cadence", OracleSqlText.compactionCadence(), (s, d) =>
      Dedup.compactionCadence(Tables.documents(s, d))),
    // banded MinHash with (bands, rows) DERIVED from the threshold by the
    // solver (picks the measured (4,3) at 0.5 — output unchanged)
    Gate("dedup_minhash_lsh", OracleSqlText.minhashLsh, (s, d) => minhashLshShared(s, d)),
    // the solver's candidate table: analytic S-curve facts in integer
    // micro per (bands, rows) factorization + the chosen row (round-11 #5)
    Gate("dedup_lsh_params", OracleSqlText.lshParams(), (s, d) => Dedup.lshParamsGate(s)),
    // asymmetric containment: doc-in-doc duplication Jaccard misses
    Gate("dedup_containment", OracleSqlText.containmentPairs(), (s, d) =>
      Dedup.containmentPairsFrom(shinglesShared(s, d))),
    Gate("text_simhash", OracleSqlText.simhash, (s, d) => Dedup.simhash(Tables.documents(s, d))),
    Gate("dedup_simhash_pairs", OracleSqlText.simhashPairs,
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d))),

    // training-data pipeline: text analysis
    Gate("text_token_stats", OracleSqlText.tokenStats,
      (s, d) => TextOps.tokenStats(Tables.documents(s, d))),
    Gate("text_quality", OracleSqlText.qualityScore,
      (s, d) => TextOps.qualityScore(Tables.documents(s, d))),
    // per-source percentile calibration of the quality score
    Gate("text_quality_calibrated", OracleSqlText.qualityCalibrated(), (s, d) =>
      TextOps.qualityCalibrated(Tables.documents(s, d))),
    // histogram-percentile calibration (the map-side whale-source path)
    Gate("text_quality_histogram", OracleSqlText.qualityHistogramPct(), (s, d) =>
      TextOps.qualityHistogramPct(Tables.documents(s, d))),
    // capped posting-list materialization (search-index build)
    Gate("text_inverted_index", OracleSqlText.invertedIndex(), (s, d) =>
      TextOps.invertedIndex(Tables.documents(s, d))),
    // source-lang chi-square independence screen
    Gate("profile_chi2", OracleSqlText.chiSquareIndependence, (s, d) =>
      Validators.chiSquareIndependence(Tables.documents(s, d))),
    Gate("text_langid", OracleSqlText.languageId,
      (s, d) => TextOps.languageId(Tables.documents(s, d))),
    Gate("text_lang_confusion", OracleSqlText.langConfusion,
      (s, d) => TextOps.langConfusion(Tables.documents(s, d))),
    Gate("text_fingerprint", OracleSqlText.fingerprint,
      (s, d) => TextOps.fingerprint(Tables.documents(s, d))),
    Gate("text_bpe_tokens", OracleSqlText.bpeTokenStats,
      (s, d) => TextOps.bpeTokenStats(Tables.documents(s, d))),
    // tokenizer-vocabulary INDUCTION (not just application): word-level BPE
    // merge learning — iterative pair-count aggregates, driver-side merge
    // state, greedy-left merge rewrite shared bit-for-bit with the oracle
    Gate("text_bpe_merges", OracleSqlText.bpeMerges(), (s, d) =>
      graft.operators.BpeLearn.merges(Tables.documents(s, d))),
    Gate("text_bpe_apply", OracleSqlText.bpeApply(), (s, d) =>
      graft.operators.BpeLearn.applied(Tables.documents(s, d))),
    // tokenizer fertility per language (Rust et al. 2021): symbols/word +
    // chars/symbol under the learned merges -- the vocab-rebalance signal
    Gate("text_bpe_fertility", OracleSqlText.bpeFertility(), (s, d) =>
      graft.operators.BpeLearn.fertilityByLang(Tables.documents(s, d))),
    Gate("text_winnow_fingerprints", OracleSqlText.winnowFingerprints,
      (s, d) => TextOps.winnowFingerprints(Tables.documents(s, d))),
    Gate("text_rolling_hash", OracleSqlText.rollingHash,
      (s, d) => TextOps.rollingHash(Tables.documents(s, d))),
    Gate("text_repetition", OracleSqlText.repetitionStats,
      (s, d) => TextOps.repetitionStats(Tables.documents(s, d))),
    Gate("text_top_tokens", OracleSqlText.topTokens,
      (s, d) => TextOps.topTokens(Tables.documents(s, d))),
    // Zipf rank-frequency fit over the vocab head: slope ~ -1 is natural
    // language; flat = templated, cliff = boilerplate (micro-nat OLS)
    Gate("text_zipf_fit", OracleSqlText.zipfFit(),
      (s, d) => TextOps.zipfFit(Tables.documents(s, d))),
    Gate("text_vocab_coverage", OracleSqlText.vocabCoverage(), (s, d) =>
      TextOps.vocabCoverage(Tables.documents(s, d))),
    Gate("text_source_divergence", OracleSqlText.sourceDivergence, (s, d) =>
      TextOps.sourceDivergence(Tables.documents(s, d))),
    // per-source token entropy / evenness (repetitiveness screen)
    Gate("text_token_entropy", OracleSqlText.tokenEntropy, (s, d) =>
      TextOps.tokenEntropy(Tables.documents(s, d))),
    // pairwise source-vocabulary Jaccard (redundant-source screen)
    Gate("text_source_overlap", OracleSqlText.sourceOverlap, (s, d) =>
      TextOps.sourceOverlap(Tables.documents(s, d))),
    // word2vec-style tf^0.75 negative-sampling table
    Gate("text_negative_sampling", OracleSqlText.negativeSampling, (s, d) =>
      TextOps.negativeSampling(Tables.documents(s, d))),
    // windowed co-occurrence PMI (collocation mining)
    Gate("text_cooc_pmi", OracleSqlText.pmiPairs(), (s, d) =>
      TextOps.pmiPairs(Tables.documents(s, d))),
    Gate("dedup_winnow_pairs", OracleSqlText.winnowPairs,
      (s, d) => Dedup.winnowPairs(Tables.documents(s, d))),
    // content-defined chunking: shift-invariant boundaries, chunk census
    Gate("dedup_cdc_chunks", OracleSqlText.cdcChunks(),
      (s, d) => Dedup.cdcChunks(Tables.documents(s, d))),
    // standing recall/precision audit: banded LSH vs the exact prefix join
    Gate("dedup_lsh_recall", OracleSqlText.dedupLshRecall, (s, d) =>
      Dedup.lshRecallEvalFrom(ngramJaccardShared(s, d), minhashLshShared(s, d))),
    // per-decile S-curve calibration: measured detection vs 1-(1-s^r)^b
    Gate("dedup_lsh_scurve", OracleSqlText.dedupLshScurve, (s, d) =>
      Dedup.lshScurveFrom(ngramJaccardShared(s, d), minhashLshShared(s, d))),
    // leakage audit: near-dup pairs straddling splits, per method (safe = 0)
    Gate("train_leakage_audit", OracleSqlText.leakageAudit(), (s, d) =>
      graft.operators.TrainPrep.leakageAudit(
        Tables.documents(s, d), simhashPairsShared(s, d))),

    // training-data pipeline: similarity search over embeddings
    Gate("ann_cosine_topk", OracleSqlText.annTopK, (s, d) => annShared("ann_exact")(s, d)),
    // filtered vector search: label predicate pre-filters into a keyed join
    Gate("ann_filtered_topk", OracleSqlText.annFilteredTopK(),
      (s, d) => Similarity.filteredTopK(Tables.embeddings(s, d))),
    Gate("ann_lsh_topk", OracleSqlText.annLshTopK, (s, d) => annShared("ann_lsh")(s, d)),
    // per-label embedding scatter: cohesion + nearest-other confusability
    Gate("embed_label_scatter", OracleSqlText.labelScatter, (s, d) =>
      Similarity.labelScatter(Tables.embeddings(s, d))),
    // reciprocal-rank fusion of the exact and LSH rankings (hybrid retrieval)
    Gate("ann_rrf_fusion", OracleSqlText.annRrfFusion(), (s, d) =>
      Similarity.rrfFusionFrom(annShared("ann_exact")(s, d), annShared("ann_lsh")(s, d))),
    // lexical retrieval: BM25 over the inverted-index censuses
    Gate("search_bm25_topk", OracleSqlText.bm25TopK(),
      (s, d) => Search.bm25TopK(Tables.documents(s, d))),
    // the PERSISTED inverted index (third index family, round-11 #3):
    // postings built on the ~87% split, the md5 batch appended (additive
    // integer censuses → probe is bit-identical to the full-corpus
    // computation and shares bm25TopK's oracle); probe reads only the
    // query terms' posting lists via a pushed term IN (…) filter
    Gate("search_bm25_indexed", OracleSqlText.bm25TopK(),
      (s, d) => bm25IndexedGate(s, d, "idx", compact = false)),
    // index lifecycle end-to-end: build + append + COMPACTION (df partials
    // re-merged, postings re-clustered, atomic generation swap — identity
    // on integer censuses, so the probe hash-matches the same oracle)
    Gate("search_bm25_indexed_compacted", OracleSqlText.bm25TopK(),
      (s, d) => bm25IndexedGate(s, d, "cmp", compact = true)),
    // hybrid retrieval: BM25 lexical × exact-cosine dense, RRF-fused by id
    Gate("search_hybrid_rrf", OracleSqlText.hybridRrf(), (s, d) =>
      Search.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d))),
    // entity-resolution fuzzy join: edit-distance pairs via q-gram prefix blocking
    Gate("join_fuzzy_parts", OracleSql.fuzzyPartPairs(),
      (s, d) => FuzzyJoin.editDistancePairs(Tables.part(s, d))),
    // entity resolution end-to-end: fuzzy pairs → components → canonical map
    Gate("er_canonical_names", OracleSql.fuzzyCanonicalNames(),
      (s, d) => FuzzyJoin.canonicalNames(Tables.part(s, d))),
    // one-pass grouped least squares from exact integer moment sums
    Gate("profile_linreg", OracleSqlText.linregProfile,
      (s, d) => Validators.linregProfile(Tables.documents(s, d))),
    // join-key skew census + salting recommendation (physical planning)
    Gate("profile_skew", OracleSql.skewProfile,
      (s, d) => graft.operators.Physical.skewProfileGate(s, d)),
    // exact one-vs-rest KS distance per source (ordered-variable drift)
    Gate("profile_ks", OracleSql.ksProfile, (s, d) => Validators.ksProfile(Tables.documents(s, d))),
    // small-file compaction plan: documents-as-files packed into bins
    Gate("layout_compaction_plan", OracleSql.compactionPlan(), (s, d) =>
      graft.operators.Physical.compactionPlan(
        Tables.documents(s, d), "source", "doc_id", "n_chars")),
    // trailing-window non-equi join via the bucketed equi-join plan
    Gate("join_interval_events", OracleSql.intervalClicksBeforePurchase(), (s, d) =>
      EventQueries.clicksBeforePurchase(Tables.events(s, d))),
    // behavioral bot screen: exact gap moments, cv2 regularity verdict
    Gate("events_bot_screen", OracleSql.botScreen(),
      (s, d) => EventQueries.botScreen(Tables.events(s, d))),
    // reproducible-release manifest: per (split, shard) counts + XOR checksum
    Gate("train_shard_manifest", OracleSqlText.shardManifest(), (s, d) =>
      graft.operators.TrainPrep.shardManifest(Tables.documents(s, d))),
    // Gopher rule family on exact micro-integer metrics
    Gate("text_gopher_rules", OracleSqlText.gopherRules,
      (s, d) => TextOps.gopherRules(Tables.documents(s, d))),
    // exact consecutive-phrase retrieval (positional match)
    Gate("search_phrase_topk", OracleSqlText.phraseTopK(),
      (s, d) => Search.phraseTopK(Tables.documents(s, d))),
    // per-returnflag Pearson correlations from exact 128-bit integer moments
    Gate("profile_corr", OracleSql.corrProfile,
      (s, d) => Validators.corrProfile(Tables.lineitem(s, d))),
    // distribution-shape profile: skew/kurtosis from exact integer power sums
    Gate("profile_moments", OracleSql.momentsProfile,
      (s, d) => Validators.momentsProfile(Tables.events(s, d))),
    // robust MAD-fence outlier screen (exact per-group medians)
    Gate("profile_mad_outliers", OracleSql.madOutliers,
      (s, d) => Validators.madOutliers(Tables.events(s, d))),
    // learned NB language classifier: train split, held-out confusion matrix
    Gate("text_nb_langid", OracleSqlText.nbLangConfusion,
      (s, d) => TextOps.nbLangConfusion(Tables.documents(s, d))),
    // DPO-style preference pairs: near-dup content, strict quality gap
    Gate("train_preference_pairs", OracleSqlText.preferencePairs, (s, d) =>
      graft.operators.TrainPrep.preferencePairs(Tables.documents(s, d))),
    // exact Gini concentration per event type from the value census
    Gate("profile_gini", OracleSql.giniProfile,
      (s, d) => Validators.giniProfile(Tables.events(s, d))),
    // lang × source mutual information: the axis-confounding audit
    Gate("profile_mutual_info", OracleSql.mutualInfoProfile, (s, d) =>
      Validators.mutualInfoProfile(Tables.documents(s, d))),
    // mergeable covariance/correlation census over leading embedding dims
    Gate("embed_covariance", OracleSql.embeddingCovariance(), (s, d) =>
      Similarity.embeddingCovariance(Tables.embeddings(s, d))),
    // principal direction by exact-integer power iteration: one census
    // sees the data; the 500-round K x K iteration is a driver boundary
    Gate("embed_pca_power", OracleSql.embeddingPcaPower(), (s, d) =>
      Similarity.embeddingPcaPower(Tables.embeddings(s, d))),
    // cohort LTV matrix: first-activity month x age, cumulative value/user
    Gate("events_cohort_ltv", OracleSql.cohortLtv,
      (s, d) => EventQueries.cohortLtv(Tables.events(s, d))),
    // sample-ratio-mismatch guard: integer chi2 vs the 50/50 null
    Gate("events_ab_srm", OracleSql.abSrmCheck,
      (s, d) => EventQueries.abSrmCheck(Tables.events(s, d))),
    // Kneser-Ney bigram LM score (the real perplexity-filter smoothing)
    Gate("text_kn_bigram", OracleSqlText.knBigramLogProb,
      (s, d) => TextOps.knBigramLogProb(Tables.documents(s, d))),
    // held-out KN scoring with three-branch backoff: the production
    // perplexity-filter shape (train on a split, score unseen text)
    Gate("text_kn_heldout", OracleSqlText.knHeldoutLogProb,
      (s, d) => TextOps.knHeldoutLogProb(Tables.documents(s, d))),
    // DSIR hashed-ngram importance weights (Xie et al. 2023): O(buckets)
    // model, one-pass dual census, integer micro-nat per-doc sums
    Gate("text_dsir_weights", OracleSqlText.dsirWeights(),
      (s, d) => TextOps.dsirWeights(Tables.documents(s, d))),
    // DSIR importance RESAMPLING: Gumbel-top-k in log space (Kool et al.
    // 2019) over the hashed-ngram log-weights -- the published method end
    // to end (score, then draw without replacement proportional to exp(logw))
    Gate("sample_dsir_resample", OracleSqlText.dsirResample(),
      (s, d) => TextOps.dsirResample(Tables.documents(s, d))),
    // contrastive hard negatives: banded phash Hamming top-k, dups excluded
    Gate("mm_hard_negatives", OracleSqlText.mmHardNegatives(), (s, d) =>
      Multimodal.hardNegativePairs(Multimodal.withMedia(Tables.documents(s, d)))),
    // per-dim standardization with a built-in mean/var self-audit
    Gate("embed_standardize", OracleSql.embeddingStandardize(), (s, d) =>
      Similarity.embeddingStandardize(Tables.embeddings(s, d))),
    // rules-as-data ingest contract: uniform (rule, observed, bound, pass)
    Gate("v_contract_check", OracleSqlText.contractCheck,
      (s, d) => Validators.contractCheck(Tables.documents(s, d))),
    // experiment power: required n per arm + MDE at current size
    Gate("events_ab_power", OracleSql.abPowerAnalysis,
      (s, d) => EventQueries.abPowerAnalysis(Tables.events(s, d))),
    // RAKE keyword extraction: stopword-run phrases, deg/freq word scores
    Gate("text_rake_keywords", OracleSqlText.rakeKeywords(),
      (s, d) => TextOps.rakeKeywords(Tables.documents(s, d))),
    // packing-efficiency audit: per-shard fill, tail waste, straddle share
    Gate("train_pack_audit", OracleSqlText.packAudit(), (s, d) =>
      graft.operators.TrainPrep.packAudit(Tables.documents(s, d))),
    // per-source datasheet: volume, dup share, mean quality, lang entropy
    Gate("train_data_card", OracleSqlText.dataCard, (s, d) =>
      graft.operators.Curation.dataCard(Tables.documents(s, d))),
    // the quantizer is deterministic (lowest-vec_id init, fixed Lloyd
    // rounds, order-invariant rounded means) — the oracle unrolls it in SQL
    Gate("ann_ivf_topk", OracleSqlText.annIvfTopK(), (s, d) => annShared("ann_ivf")(s, d)),
    // probe-only top-k against the persisted cell-partitioned IVF index
    // (build amortized per session, like dedup_incremental_indexed; the
    // probe reads only the probed cell partitions — PartitionFilters)
    // the indexed probe replays ivfTopK bit-for-bit (shared quantizer,
    // parquet float round-trip is exact) — same oracle by construction
    Gate("ann_ivf_indexed", OracleSqlText.annIvfTopK(), (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = indexBuilt("graft_ivf_idx", s, d, "embeddings")(
        Similarity.buildIvfIndex(emb, _))
      Similarity.ivfIndexedTopK(emb, idx)
    }),
    // index MAINTENANCE: quantizer frozen on the ~87% "existing" split,
    // the md5-split new batch appended to the same cell partitions; the
    // probe sees build+append postings as one tree
    Gate("ann_ivf_indexed_append", OracleSqlText.annIvfIndexedAppend(), (s, d) => {
      val emb = Tables.embeddings(s, d)
      val isNew =
        substring(md5(col("vec_id").cast("string").cast("binary")), 1, 1) < "2"
      val idx = indexBuilt("graft_ivf_app", s, d, "embeddings") { idx =>
        Similarity.buildIvfIndex(emb.filter(!isNew), idx)
        Similarity.appendToIvfIndex(emb.filter(isNew), idx)
      }
      Similarity.ivfIndexedTopK(emb, idx)
    }),
    // index lifecycle end-to-end for the ANN family: build on the ~87%
    // split, append the md5 batch, then POSTING COMPACTION (one file per
    // cell behind the atomic generation-manifest swap — semantically
    // identity, so the probe hash-matches the append gate's own oracle)
    Gate("ann_ivf_indexed_compacted", OracleSqlText.annIvfIndexedAppend(), (s, d) => {
      val emb = Tables.embeddings(s, d)
      val isNew =
        substring(md5(col("vec_id").cast("string").cast("binary")), 1, 1) < "2"
      val idx = indexBuilt("graft_ivf_cmp", s, d, "embeddings") { idx =>
        Similarity.buildIvfIndex(emb.filter(!isNew), idx)
        Similarity.appendToIvfIndex(emb.filter(isNew), idx)
        Similarity.compactIvfIndex(s, idx)
      }
      Similarity.ivfIndexedTopK(emb, idx)
    }),
    // scalar-quantization (SQ8) ANN: per-dim envelope codes, integer dot
    Gate("ann_sq_topk", OracleSqlText.annSqTopK(), (s, d) => annShared("ann_sq")(s, d)),
    // binary-quantization ANN: 1-bit/dim sign words, Hamming shortlist, rerank
    Gate("ann_bq_topk", OracleSqlText.annBqTopK(), (s, d) => annShared("ann_bq")(s, d)),
    // Matryoshka two-stage: prefix-dim shortlist, exact full-dim rerank
    Gate("ann_matryoshka_topk", OracleSqlText.annMatryoshkaTopK(),
      (s, d) => annShared("ann_matryoshka")(s, d)),
    // standing recall@k audit of every approximate path vs the exact ranking
    Gate("ann_recall_eval", OracleSqlText.annRecallEval(), (s, d) => Similarity.recallEvalFrom(
      annShared("ann_exact")(s, d), Seq(
        ("ivf", annShared("ann_ivf")(s, d)), ("lsh", annShared("ann_lsh")(s, d)),
        ("matryoshka", annShared("ann_matryoshka")(s, d)), ("pq", annShared("ann_pq")(s, d)),
        ("sq", annShared("ann_sq")(s, d)), ("bq", annShared("ann_bq")(s, d))))),
    // the re-BUILD decision audit (round-11 #4): a norm-collapsed ingest
    // batch appends to frozen centroids; probe recall before/after vs
    // brute force, with the measured drop and the rebuild trigger
    Gate("ann_recall_drift", OracleSqlText.annRecallDrift(),
      (s, d) => Similarity.ivfRecallDrift(Tables.embeddings(s, d))),
    // the EXECUTED rebuild behind that trigger (round-12 #2): spherical
    // re-quantization under the writer lock, same drift queries re-probed
    // against the swapped generation — the rebuilt row's drop returns
    // under the 100000-micro trigger
    Gate("ann_rebuild_recovery", OracleSqlText.annRebuildRecovery(),
      (s, d) => Similarity.ivfRebuildRecovery(Tables.embeddings(s, d))),
    // product-quantization codes: per-subspace Lloyd codebooks + recon error
    Gate("embed_pq_codes", OracleSqlText.embedPqCodes(),
      (s, d) => Similarity.pqCodes(Tables.embeddings(s, d))),
    // ADC top-k over the PQ codes: distance tables + code-lookup scan
    Gate("ann_pq_topk", OracleSqlText.annPqTopK(), (s, d) => annShared("ann_pq")(s, d)),
    // first-class k-means clustering (the IVF quantizer's labels + sizes)
    Gate("embed_kmeans", OracleSqlText.embedKmeans(),
      (s, d) => Similarity.kmeansClusters(Tables.embeddings(s, d))),
    // embedding-space outlier screen: exact integer micro^2 distance to the
    // assigned centroid, global far-tail flag (the CLIP-filtering shape)
    Gate("embed_outlier_dist", OracleSqlText.embedOutliers(),
      (s, d) => Similarity.outlierScreen(Tables.embeddings(s, d))),
    // cluster-balanced diversity sample: hash-rank cap per semantic cluster
    Gate("sample_diversity", OracleSqlText.sampleDiversity(),
      (s, d) => Similarity.diversitySample(Tables.embeddings(s, d))),
    // class-balanced downsampling: every class capped at the minority size
    Gate("sample_class_balanced", OracleSqlText.sampleClassBalanced, (s, d) =>
      graft.operators.Sampling.classBalanced(Tables.embeddings(s, d))),
    // the scale path (LSH blocking + exact verify); the all-pairs form stays
    // gated as embed_neardup_exact, the differential baseline — on gate data
    // the two must produce identical rows (100% LSH recall, see scaladoc)
    Gate("embed_neardup_pairs", OracleSqlText.nearDupPairsLsh(),
      (s, d) => Similarity.nearDupPairsLsh(Tables.embeddings(s, d), 0.45)),
    Gate("embed_neardup_exact", OracleSqlText.nearDupPairs,
      (s, d) => Similarity.nearDupPairs(Tables.embeddings(s, d), 0.45)),
    // SemDeDup: k-means cells + within-cell cosine pruning (keep lowest id)
    Gate("dedup_semantic", OracleSqlText.semDedup(),
      (s, d) => Similarity.semDedup(Tables.embeddings(s, d))),

    // C4-style cleaning: PII/blocklist scrub counts + rule-based verdicts
    Gate("text_scrub", OracleSqlText.scrubStats,
      (s, d) => TextOps.scrubStats(Tables.documents(s, d))),
    Gate("text_c4_filters", OracleSqlText.c4Filters,
      (s, d) => TextOps.c4Filters(Tables.documents(s, d))),

    // v4: round-8 signals (Gopher verdicts, CDC boilerplate-share ceiling)
    // composed onto the v3 skeleton
    Gate("curation_pipeline_v4", OracleSqlText.curationV4(), (s, d) =>
      graft.operators.Curation.curateV4Shared(curationShared(s, d))),
    // v5: the MODEL-derived gates composed -- DSIR distribution-match
    // floor + embedding-geometry outlier removal over the canon corpus
    Gate("curation_pipeline_v5", OracleSqlText.curationV5(), (s, d) =>
      graft.operators.Curation.curateV5Shared(curationShared(s, d),
        Tables.embeddings(s, d))),
    // v3: round-7 signals (containment drop, C4 verdicts, PII ceiling,
    // per-source cap) composed onto the canonicalize-first skeleton
    Gate("curation_pipeline_v3", OracleSqlText.curationV3(), (s, d) =>
      graft.operators.Curation.curateV3Shared(curationShared(s, d))),

    // v2: round-6 signals (length band, novelty, logprob) onto the v1 gates
    Gate("curation_pipeline_v2", OracleSqlText.curationV2(), (s, d) =>
      graft.operators.Curation.curateV2(Tables.documents(s, d))),
    // the composed curation pass: quality -> language -> dedup-canonical
    Gate("curation_pipeline", OracleSqlText.curation, (s, d) =>
      graft.operators.Curation.curate(Tables.documents(s, d))),

    // training-set preparation: deterministic hash split + sharded
    // token-stream sequence packing
    Gate("train_splits", OracleSqlText.trainSplits(), (s, d) =>
      graft.operators.TrainPrep.assignSplits(Tables.documents(s, d))),
    // benchmark decontamination: training docs sharing >=3 word-3-grams
    // with a deterministic probe subset standing in for the eval set
    Gate("text_contamination", OracleSqlText.contamination(), (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairs(docs, docs.filter(pmod(col("doc_id"), lit(97)) === 0))
    }),
    Gate("train_pack_sequences", OracleSqlText.packSequences(), (s, d) =>
      graft.operators.TrainPrep.packSequences(Tables.documents(s, d))),
    // epoch-salted deterministic shuffle: a fresh reproducible permutation
    // per epoch, ranked within shards (no epoch-global sort)
    Gate("train_epoch_shuffle", OracleSqlText.epochShuffle(), (s, d) =>
      graft.operators.TrainPrep.epochShuffle(Tables.documents(s, d))),
    // leakage-safe splits: whole near-dup clusters move together, so no
    // near-duplicate pair can straddle train and test
    Gate("train_splits_safe", OracleSqlText.leakageSafeSplits(), (s, d) =>
      graft.operators.TrainPrep.leakageSafeSplits(
        Tables.documents(s, d), simhashPairsShared(s, d))),
    // token-budget sampling: the mixture cut specified in tokens, not docs
    Gate("sample_token_budget", OracleSqlText.tokenBudgetSample(), (s, d) =>
      graft.operators.Sampling.tokenBudgetSample(Tables.documents(s, d))),
    // overlapping context-window chunking (content-hashed slices)
    Gate("train_chunk_windows", OracleSqlText.chunkWindows(), (s, d) =>
      graft.operators.TrainPrep.chunkWindows(Tables.documents(s, d))),
    // chunk-level exact dedup over the same windows
    Gate("dedup_chunk_exact", OracleSqlText.chunkDupes(), (s, d) =>
      graft.operators.TrainPrep.chunkDupes(Tables.documents(s, d))),

    // deterministic KMV distinct-count sketch (HLL's oracle-checkable twin)
    Gate("sketch_kmv_distinct", OracleSqlText.sketchKmvDistinct, (s, d) =>
      graft.operators.Sketches.kmvDistinct(Tables.events(s, d), "user_id")),
    // KMV set operations: pairwise Jaccard/union/intersection from sketches
    Gate("sketch_kmv_jaccard", OracleSqlText.sketchKmvJaccard(), (s, d) =>
      graft.operators.Sketches.kmvJaccardPairs(Tables.events(s, d), "event_type", "user_id")),
    Gate("sketch_kmv_by_type", OracleSqlText.sketchKmvByType, (s, d) =>
      graft.operators.Sketches.kmvDistinctByGroup(Tables.events(s, d), "event_type", "user_id", k = 64)),
    // portable Bloom filter with measured false-positive rate
    Gate("sketch_bloom_fpr", OracleSqlText.sketchBloomFpr(), (s, d) =>
      graft.operators.Sketches.bloomFpr(Tables.orders(s, d), Tables.customer(s, d))),
    // portable HyperLogLog (raw estimator; register MAX is the sketch
    // every shard merge wants)
    Gate("sketch_hll_distinct",
      OracleSqlText.sketchHllDistinct(graft.operators.Sketches.hllScale()),
      (s, d) =>
      graft.operators.Sketches.hllDistinct(Tables.events(s, d), "user_id")),
    // the cross-shard merge path: 16 independently-built register tables
    // merged by register-wise MAX must equal the single pass bit-for-bit
    // (associativity) — the oracle IS the single-pass SQL
    Gate("sketch_hll_merged", OracleSqlText.sketchHllDistinct(graft.operators.Sketches.hllScale()),
      (s, d) =>
      graft.operators.Sketches.hllMergedDistinct(Tables.events(s, d), "user_id")),
    // the production-common per-group shape: distinct users per event type
    Gate("sketch_hll_by_type", OracleSqlText.sketchHllByType(graft.operators.Sketches.hllScale()),
      (s, d) =>
      graft.operators.Sketches.hllDistinctByGroup(Tables.events(s, d), "event_type", "user_id")),
    // quantile estimates off the bottom-k-by-hash deterministic sample
    Gate("sketch_quantile", OracleSqlText.hashSampleQuantiles(), (s, d) =>
      graft.operators.Sketches.hashSampleQuantiles(Tables.events(s, d), "value", "event_id")),
    // mergeable HDR-histogram quantiles: integer-bit-arithmetic buckets
    // (no log() — cross-engine exact), bounded relative error, with the
    // exact quantile riding along for the audit
    Gate("sketch_hdr_quantiles", OracleSqlText.hdrQuantiles(), (s, d) =>
      graft.operators.Sketches.hdrQuantiles(Tables.events(s, d), "value", "event_type")),
    // rolling-window quantiles from MERGED per-day HDR registers — the
    // percentile-dashboard read-out that never re-touches raw rows
    Gate("sketch_hdr_sliding", OracleSqlText.hdrSlidingQuantiles(), (s, d) =>
      graft.operators.Sketches.hdrSlidingQuantiles(Tables.events(s, d))),
    // Count-Min frequency sketch read out at the exact top-k tokens
    Gate("sketch_cms_tokens", OracleSqlText.cmsTokenCounts(), (s, d) =>
      graft.operators.Sketches.cmsTokenCounts(Tables.documents(s, d))),
    // two-pass exact heavy hitters behind a Misra–Gries candidate sketch
    Gate("sketch_heavy_hitters", OracleSqlText.heavyHitters(), (s, d) =>
      graft.operators.Sketches.heavyHitters(Tables.events(s, d), "user_id", "event_id")),
    // n-gram novelty: share of a doc's distinct shingles unique to it
    Gate("text_novelty", OracleSqlText.noveltyStats,
      (s, d) => TextOps.noveltyStats(Tables.documents(s, d))),
    // token-length histogram: the corpus-shape summary for packing/curriculum
    Gate("text_length_histogram", OracleSqlText.lengthHistogram(), (s, d) =>
      TextOps.lengthHistogram(Tables.documents(s, d))),
    // corpus-unigram log-prob quality score (CCNet-style signal)
    // interpolated-bigram LM quality score (word-salad detector)
    Gate("text_bigram_logprob", OracleSqlText.bigramLogProb, (s, d) =>
      TextOps.bigramLogProb(Tables.documents(s, d))),
    Gate("text_unigram_logprob", OracleSqlText.unigramLogProb, (s, d) =>
      TextOps.unigramLogProb(Tables.documents(s, d))),
    // model-based filter: bigram-LM score calibrated per source (CCNet)
    Gate("text_perplexity_filter", OracleSqlText.perplexityFilter(), (s, d) =>
      TextOps.perplexityFilter(Tables.documents(s, d))),
    // cohort retention: first-active-day cohorts × day offset
    Gate("events_retention", OracleSql.eventsRetention, (s, d) =>
      EventQueries.retention(Tables.events(s, d))),
    // month x type pivot: wide conditional aggregation in one pass
    Gate("events_pivot_monthly", OracleSql.eventsPivotMonthly(EventQueries.EventTypes), (s, d) =>
      EventQueries.pivotMonthly(Tables.events(s, d))),
    // per-type equal-count deciles (global ranks per group, via ntile)
    Gate("events_value_deciles", OracleSql.eventsDeciles(), (s, d) =>
      EventQueries.valueDeciles(Tables.events(s, d))),
    // SCD2 status history: versioned state rows per user
    Gate("events_scd2_status", OracleSql.eventsScd2, (s, d) =>
      EventQueries.scd2Status(Tables.events(s, d))),
    // daily-volume anomaly flags vs the trailing 7-day mean
    Gate("events_anomaly_days", OracleSql.eventsAnomaly(), (s, d) =>
      EventQueries.anomalyDays(Tables.events(s, d))),
    // Z-order clustering evidence: per-bucket bounding boxes
    Gate("layout_zorder_stats", OracleSql.zorderStats(), (s, d) =>
      graft.sources.ZOrder.zorderStats(Tables.orders(s, d))),

    // storage-format fidelity: sink→scan roundtrips digested against the
    // parquet oracle (DuckDB never reads the format — a hash match proves
    // the format preserved every value; see FormatRoundtrip scaladoc)
    Gate("source_orc_roundtrip", OracleSql.formatRoundtripFull, (s, d) =>
      graft.sources.FormatRoundtrip.orcRoundtrip(s, d)),
    Gate("source_csv_roundtrip", OracleSql.formatRoundtripText, (s, d) =>
      graft.sources.FormatRoundtrip.csvRoundtrip(s, d)),
    Gate("source_json_roundtrip", OracleSql.formatRoundtripText, (s, d) =>
      graft.sources.FormatRoundtrip.jsonRoundtrip(s, d)),
    // hive-partitioned layout + partition-pruned scan (PartitionFilters,
    // not row-group pushdown — the plan pin is in FormatRoundtripSpec)
    Gate("layout_partitioned_prune", OracleSql.formatRoundtripPruned, (s, d) =>
      graft.sources.FormatRoundtrip.partitionedPrune(s, d)),
    // dynamic partition pruning: hive-partitioned fact x tier-filtered dim,
    // qualifying directories decided at RUNTIME from the dim's broadcast
    Gate("layout_dpp_join", OracleSql.dppJoin, (s, d) =>
      graft.sources.FormatRoundtrip.dppJoin(s, d)),
    // two ingest batches, two schemas, one mergeSchema read: lang is
    // non-null exactly where batch 2 wrote it
    Gate("source_schema_evolution", OracleSql.schemaEvolution, (s, d) =>
      graft.sources.FormatRoundtrip.schemaEvolution(s, d)),
    // EXECUTED small-file compaction (one broadcast-join + one exchange
    // rewrite, one file per planned bin; file-count pin in PhysicalOpsSpec)
    Gate("layout_compaction_exec", OracleSql.compactionExecDigest, (s, d) =>
      graft.operators.Physical.compactionExecDigest(
        s, Tables.documents(s, d),
        s"/tmp/graft_roundtrip/compact_${graft.RunHygiene.pathKey(d)}")),
    // z-order clustering key: exact 256-bucket quantization + Morton
    // interleave, twin replays the arithmetic bit-for-bit
    Gate("layout_zorder_keys", OracleSql.zorderKeys(), (s, d) =>
      graft.operators.Physical.zorderKeys(Tables.orders(s, d))),
    // EXECUTED z-order rewrite (OPTIMIZE ZORDER): range exchange + sort
    // on the Morton key; digest equality proves losslessness, the
    // per-file span contrast vs a 1-dim sort is pinned in PhysicalOpsSpec;
    // same twin as the full-fidelity format roundtrip
    Gate("layout_zorder_exec", OracleSql.formatRoundtripFull, (s, d) =>
      graft.operators.Physical.zorderExecDigest(
        s, Tables.orders(s, d),
        s"/tmp/graft_roundtrip/zorder_${graft.RunHygiene.pathKey(d)}")),

    // deterministic corpus sampling: exact-count stratified + weighted mix
    // fixed-size global uniform sample (distributed reservoir replacement)
    Gate("sample_uniform_topk", OracleSqlText.uniformSample(), (s, d) =>
      graft.operators.Sampling.uniformSample(Tables.documents(s, d))),
    Gate("sample_stratified", OracleSqlText.stratifiedSample(), (s, d) =>
      graft.operators.Sampling.stratifiedSample(Tables.documents(s, d), "lang")),
    Gate("sample_weighted_mix", OracleSqlText.weightedMix(), (s, d) =>
      graft.operators.Sampling.weightedMix(Tables.documents(s, d),
        graft.operators.Sampling.GateWeights)),
    // absolute per-domain cap (WindowGroupLimit keeps whale groups unsorted)
    Gate("sample_cap_per_source", OracleSqlText.capPerSource(), (s, d) =>
      graft.operators.Sampling.capPerGroup(Tables.documents(s, d))),
    // Efraimidis–Spirakis weighted sample without replacement (top-k heap)
    Gate("sample_weighted_topk", OracleSqlText.weightedTopK(), (s, d) =>
      graft.operators.Sampling.weightedTopK(Tables.documents(s, d))),
    // temperature-scaled (α = 0.5) source mixing with exact quotas
    Gate("sample_temperature", OracleSqlText.temperatureSample(), (s, d) =>
      graft.operators.Sampling.temperatureSample(Tables.documents(s, d))),
    // Benford first-digit screen over the ledger amounts
    Gate("profile_benford", OracleSql.benfordProfile, (s, d) =>
      Validators.benfordProfile(txns(s, d))),
    // curriculum length-binning with per-bin shards
    Gate("train_curriculum", OracleSqlText.curriculumBins(), (s, d) =>
      graft.operators.TrainPrep.curriculumBins(Tables.documents(s, d))),
    // per-doc characteristic terms (linear-idf TF-IDF)
    Gate("text_tfidf_top_terms", OracleSqlText.tfidfTopTerms(), (s, d) =>
      TextOps.tfidfTopTerms(Tables.documents(s, d))),
    // ordered conversion funnel over the event stream
    Gate("events_funnel", OracleSql.eventsFunnel,
      (s, d) => EventQueries.funnel(Tables.events(s, d))),
    // the 24h time-boxed variant: step counts bounded to the step-1 anchor
    Gate("events_funnel_windowed", OracleSql.eventsFunnelWindowed(), (s, d) =>
      EventQueries.funnelWindowed(Tables.events(s, d))),
    // bloom-prefiltered semi join (probe is perf-only; result = plain semi)
    Gate("join_bloom_revenue", OracleSql.bloomFilteredRevenue, (s, d) =>
      RelationalQueries.bloomFilteredRevenue(Tables.lineitem(s, d),
        Tables.orders(s, d), 450000.0)),

    // cross-document exact substring-span dedup (Lee et al. 2021 family,
    // hash-blocked: window hashes -> inverted index -> exact verify -> merge)
    Gate("dedup_substring_spans", OracleSqlText.substringSpans(), (s, d) =>
      Dedup.substringSpans(Tables.documents(s, d))),

    // near-dup clusters over the simhash pair graph (min-label propagation)
    Gate("dedup_clusters", OracleSqlText.dedupClusters, (s, d) =>
      Dedup.dedupClusters(simhashPairsShared(s, d))),
    // the same components by alternating large-star/small-star (Kiveris
    // 2014) — O(log²) rounds over the edge set, no label frame; the unique
    // fixpoint means the SAME oracle hash-gates both formulations
    Gate("dedup_clusters_star", OracleSqlText.dedupClusters, (s, d) =>
      Dedup.dedupClustersStar(simhashPairsShared(s, d))),
    // quality-aware survivor selection: each cluster keeps its cleanest
    // member; emitted rows are the removed docs with survivor pointers
    Gate("dedup_keep_best", OracleSqlText.dedupKeepBest, (s, d) =>
      Dedup.keepBest(Tables.documents(s, d), simhashPairsShared(s, d))),
    // PageRank over the same graph: duplicate-cluster hub scores
    Gate("graph_pagerank", OracleSqlText.pageRank(), (s, d) =>
      graft.operators.Graph.pageRank(simhashPairsShared(s, d))),
    // bounded-round k-core peel over the same near-dup graph: the dense
    // template-family nucleus (survivors of R "degree < k drops" rounds)
    Gate("graph_kcore", OracleSqlText.kCore(), (s, d) =>
      graft.operators.Graph.kCore(simhashPairsShared(s, d))),
    // RA link prediction over the co-purchase part graph (exact integer
    // RA). Edges require support >= 2 (co-purchased in two+ orders):
    // single-co-occurrence noise edges make Σ deg(z)² — the two-hop cost
    // law — 298M paths at sf0.1 vs 10k with the support floor (measured;
    // a real recommender prunes them for signal reasons anyway).
    Gate("graph_link_prediction", OracleSql.linkPrediction(), (s, d) =>
      graft.operators.Graph.linkPrediction(
        coPurchaseSupportShared(s, d).filter(col("support") >= 2)
          .select(col("part_a").as("pa"), col("part_b").as("pb")))),

    // incremental (two-delta) matching must equal the full rebuild — the
    // oracle IS the fifo_match SQL
    Gate("incremental_match", OracleSql.fifoMatch, (s, d) =>
      graft.operators.IncrementalMatcher.twoBatchLedger(txns(s, d)).orderBy(matchedOrder: _*)),

    // the streaming matcher replayed over 3 event-ordered micro-batches
    // (state carries across chunk boundaries) must ALSO equal the batch
    // rebuild — same oracle; §2.10 gated through the hash gate, not just specs
    Gate("streaming_match", OracleSql.fifoMatch, (s, d) =>
      graft.streaming.StreamingFifo.replayLedger(txns(s, d)).orderBy(matchedOrder: _*)),

    // event-time matching under LATE data: a deterministic subset of earned
    // rows is delayed a full micro-batch, the operator re-pairs affected
    // customers and emits add/retract corrections, and the folded log must
    // STILL equal the batch rebuild — same oracle (SURVEY §7.7)
    Gate("streaming_late_match", OracleSql.fifoMatch, (s, d) =>
      graft.streaming.StreamingFifo.replayLedgerLate(txns(s, d)).orderBy(matchedOrder: _*)),

    // the same late replay with the lateness bound ENGAGED (one chunk span):
    // per-customer state holds only the lateness window — the 100-TB mode —
    // and the folded ledger must still equal the batch rebuild (the injected
    // delay is exactly one chunk, so the bound admits every late row)
    Gate("streaming_late_match_bounded", OracleSql.fifoMatch, (s, d) =>
      graft.streaming.StreamingFifo.replayLedgerLateBounded(txns(s, d))
        .orderBy(matchedOrder: _*)),

    // the bounded replay's drop counter, gated: the oracle hardcodes
    // n_drop_late = 0 (the one-chunk bound admits every delayed row), so a
    // pruning/bound regression fails the hash gate observably
    Gate("streaming_bounded_audit", OracleSql.streamingBoundedAudit, (s, d) =>
      graft.streaming.StreamingFifo.replayLedgerLateBoundedAudit(txns(s, d))),

    // BOUNDED-STATE matching: idle customers' queues are snapshot to the
    // log (event-time timeout) and state removed; reappeared customers are
    // re-folded in batch from snapshot + post-eviction rows — the
    // reference's "reprocess affected customers" design. The rebuilt
    // ledger must equal the batch rebuild — same oracle (round-11 #2)
    Gate("streaming_evicted_match", OracleSql.fifoMatch, (s, d) =>
      graft.streaming.StreamingFifo.replayLedgerEvicting(txns(s, d))
        .orderBy(matchedOrder: _*)),

    // late-data correction AND idle-customer eviction COMPOSED (round-12
    // #3 — the last NoTimeout matcher bounded): delayed rows re-pair
    // affected customers, idle customers snapshot to the correction log
    // and restore relationally on reappearance, and the folded ledger
    // must still equal the batch rebuild — same oracle
    Gate("streaming_evicted_late_match", OracleSql.fifoMatch, (s, d) =>
      graft.streaming.StreamingFifo.replayLedgerLateEvicting(txns(s, d))
        .orderBy(matchedOrder: _*)),

    // streaming analytics replayed the same way: the windowed rollup must
    // equal the batch tumbling GROUP BY once the watermark closes every
    // window; streaming dedup must pass exactly one survivor per hash
    Gate("streaming_rollup", OracleSql.streamingRollup, (s, d) =>
      graft.streaming.StreamingAnalytics.replayRollup(Tables.events(s, d))),
    Gate("streaming_dedup", OracleSqlText.streamingDedup, (s, d) =>
      graft.streaming.StreamingAnalytics.replayDedup(Tables.documents(s, d))),
    Gate("streaming_sessions", OracleSql.streamingSessions, (s, d) =>
      graft.streaming.StreamingAnalytics.replaySessions(Tables.events(s, d))),
    // stream-stream interval join: purchases attribute to trailing views
    Gate("streaming_join", OracleSql.streamingJoin, (s, d) =>
      graft.streaming.StreamingAnalytics.replayStreamJoin(Tables.events(s, d))),
    // streaming sketch maintenance: per-window HLL registers as state
    Gate("streaming_hll_rollup",
      OracleSqlText.sketchHllByWindow(graft.operators.Sketches.hllScale()),
      (s, d) =>
      graft.streaming.StreamingAnalytics.replayHllRollup(Tables.events(s, d))),
    // streaming frequency sketch: per-window CMS counters as state
    // (additive merges across micro-batches = the single-pass sketch)
    Gate("streaming_cms_topk", OracleSqlText.streamingCmsTopk(), (s, d) =>
      graft.streaming.StreamingAnalytics.replayCmsTopk(Tables.events(s, d))),
    // streaming top-k sketch: bounded Misra–Gries state per shard, exact
    // batch verify — order/segmentation cancel out of the gated report
    Gate("streaming_heavy_hitters", OracleSqlText.streamingHeavyHitters(), (s, d) =>
      graft.streaming.StreamingAnalytics.replayHeavyHitters(Tables.events(s, d))),
    // streaming quantile sketch: per-day HDR registers as watermarked
    // windowed state (additive, same shared grid as the batch sketch);
    // trailing-window percentile read-out over the EMITTED registers —
    // gated against the sketch_hdr_sliding oracle verbatim: streaming ≡
    // batch ≡ DuckDB by count additivity
    Gate("streaming_hdr_rollup", OracleSqlText.hdrSlidingQuantiles(), (s, d) =>
      graft.streaming.StreamingAnalytics.replayHdrSliding(Tables.events(s, d))),
    // trailing-24h distincts per hour by register MERGE (never a rescan)
    Gate("sketch_hll_sliding", OracleSqlText.sketchHllSliding(graft.operators.Sketches.hllScale()),
      (s, d) =>
      graft.operators.Sketches.hllSlidingDistinct(Tables.events(s, d))),
    // first-crossing threshold alerts (custom keyed state + fired latch)
    Gate("streaming_alerts", OracleSql.thresholdAlerts(), (s, d) =>
      graft.streaming.StreamingAnalytics.replayThresholdAlerts(Tables.events(s, d))),
    // the same alerts with the expiry horizon ENGAGED: idle counters
    // expire mid-replay and re-arm; the oracle renders the engine-probed
    // staged-file timer semantics (reset iff wm(q-2) STRICTLY > timer —
    // Spark evicts iff timer < watermark, equality survives) literally,
    // so the reset points themselves are cross-engine exact
    Gate("streaming_alerts_expiring", OracleSql.thresholdAlertsExpiring(), (s, d) =>
      graft.streaming.StreamingAnalytics.replayThresholdAlertsExpiring(Tables.events(s, d))),

    // snapshot + delta MERGE (the batch upsert / full-outer surface)
    Gate("merge_balance_upsert", OracleSql.balanceUpsert(Params.AsOf), (s, d) =>
      graft.operators.SnapshotMerge.balanceUpsert(txns(s, d), Params.AsOf)),
    // incremental ADDITIVE-rollup maintenance: merge(rollup(base),
    // rollup(delta)) must equal the from-scratch recompute — the
    // materialized-view identity, checked cross-engine (the oracle IS the
    // one-pass recompute)
    Gate("merge_rollup_maintain", OracleSql.rollupMaintain(), (s, d) =>
      graft.operators.SnapshotMerge.rollupMaintain(
        Tables.events(s, d), "2024-01-16 00:00:00")),

    // two-stage salted aggregation gated against the plain GROUP BY
    Gate("agg_salted_sum", OracleSql.aggSaltedSum, (s, d) =>
      graft.operators.Skew.saltedSum(Tables.lineitem(s, d), Seq("l_returnflag"), "l_quantity")
        .orderBy("l_returnflag")),

    // training-data pipeline: REAL image decode (ImageIO) over synthesized
    // PNG payloads; the oracle recomputes the expected pixel stats
    // analytically from doc_id, so the hash gate proves the codec round-trip
    Gate("mm_features", OracleSqlText.mmFeatures, (s, d) =>
      Multimodal.extractFeatures(Multimodal.withImagePayloads(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // aHash near-dup groups over REAL decoded pixels (fixture patterns
    // repeat every 1280 ids, so groups occur); oracle is analytic
    Gate("mm_image_ahash", OracleSqlText.mmImageAHash, (s, d) =>
      Multimodal.imageAHashGroups(Multimodal.withImagePayloads(Tables.documents(s, d)))),
    // real 2x2 average-pool downsample over decoded pixels, stats gated
    Gate("mm_image_downsample", OracleSqlText.mmImageDownsample, (s, d) =>
      Multimodal.poolImages(Multimodal.withImagePayloads(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // REAL audio decode (javax.sound WAV/PCM16) over synthesized payloads;
    // the oracle recomputes clip stats analytically from doc_id, proving
    // the encode -> WAV bytes -> decode -> stats path sample-exact
    Gate("mm_audio_features", OracleSqlText.mmAudioFeatures, (s, d) =>
      Multimodal.audioFeatures(Multimodal.withAudioPayloads(Tables.documents(s, d)))
        .orderBy("doc_id")),
    // frame-level energies (20 ms hop) over decoded samples, top-3 loudest
    // per clip -- the audio analog of video frame-sampling
    Gate("mm_audio_frames", OracleSqlText.mmAudioTopFrames, (s, d) =>
      Multimodal.audioTopFrames(Multimodal.withAudioPayloads(Tables.documents(s, d)))),
    // perceptual-hash near-dup grouping over the binary payload
    Gate("mm_phash_dedup", OracleSqlText.mmPhashDedup(), (s, d) =>
      Multimodal.phashGroups(Multimodal.withMedia(Tables.documents(s, d)))),
    Gate("mm_resize", OracleSqlText.mmResize, (s, d) =>
      Multimodal.resize(Multimodal.withMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("orig_bytes"),
          length(col("media")).cast("long").as("n_out_bytes"),
          md5(col("media")).as("out_md5"))
        .orderBy("doc_id")),
    Gate("mm_frames", OracleSqlText.mmFrames, (s, d) =>
      Multimodal.sampleFrames(Multimodal.withMedia(Tables.documents(s, d)))
        .select(col("doc_id"), col("frame_index").cast("long").as("frame_index"),
          col("offset"), col("n_bytes"), col("frame_md5"))
        .orderBy("doc_id", "frame_index")))

  /** Gate name -> Spark build, derived from [[gates]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  /** Gate name -> DuckDB twin, derived from [[gates]]. */
  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
