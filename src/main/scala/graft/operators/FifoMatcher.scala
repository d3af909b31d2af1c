package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** A single transaction in canonical input shape (FIXTURES.md §1). */
case class Tx(
    transaction_id: String,
    customer_id: String,
    amount: Double,
    timestamp: java.time.LocalDateTime,
    transaction_type: String)

/** A matched output row (FIXTURES.md §2). */
case class MatchedTx(
    TRANS_ID: String,
    TCTYPE: String,
    CREATEDAT: java.time.LocalDateTime,
    CUSTOMERID: String,
    AMOUNT: Double,
    REDEEMID: Option[String])

/** FIFO matcher — the reference's centerpiece operator
  * (reference: src/fifo_matching.py:23-130), re-expressed as declarative
  * Catalyst plans.
  *
  * Semantics (reference: src/fifo_matching.py:7-13, README.md:123-127):
  *  - per customer, the i-th oldest `earned` (by CREATEDAT) is redeemed by the
  *    i-th oldest `spent|expired`; amounts and relative dates are ignored
  *    (1:1 matching, no partial redemption, no chronology constraint);
  *  - REDEEMID is populated only on earned rows and points to the redeeming
  *    spent/expired TRANS_ID; spent/expired rows always carry NULL;
  *  - each TRANS_ID is used at most once on each side.
  *
  * Equivalence of the queue algorithm to a rank join: the queue starts as
  * earned sorted ascending, the k-th pop removes the k-th oldest earned, and
  * pops happen in spent/expired CREATEDAT order — so "pop oldest available"
  * IS "equi-join on per-side rank" (SURVEY.md §2.8).
  *
  * Tie-break contract: equal-CREATEDAT order in the reference depends on
  * pandas' stable sort of input file order (src/fifo_matching.py:75); we fix
  * the deterministic secondary key `TRANS_ID` (SURVEY.md §7.5).
  *
  * Scale: both formulations shuffle on CUSTOMERID (+rank) only — no
  * driver-side state, no per-customer loops. A whale customer bounds one
  * window partition; the state per row is O(1).
  */
object FifoMatcher {

  private val canonicalRename = Map(
    "transaction_id"   -> "TRANS_ID",
    "transaction_type" -> "TCTYPE",
    "timestamp"        -> "CREATEDAT",
    "customer_id"      -> "CUSTOMERID",
    "amount"           -> "AMOUNT")

  /** Rename canonical input columns to the spec output names
    * (reference: src/fifo_matching.py:54-61). */
  def renameToSpec(txns: DataFrame): DataFrame =
    txns.withColumnsRenamed(canonicalRename)
      .select("TRANS_ID", "TCTYPE", "CREATEDAT", "CUSTOMERID", "AMOUNT")

  /** Primary formulation: single scan, two window passes, zero joins.
    *
    * Pass 1 ranks each row within its (customer, side) where side =
    * earned vs spent|expired; pass 2 pairs equal ranks through a window over
    * (CUSTOMERID, rk) — each such partition holds at most one earned and one
    * spent/expired row, so `max(TRANS_ID of the non-earned row)` transfers
    * the redeemer id onto the earned row without a join.
    *
    * Physical plan: Exchange(CUSTOMERID, is_earned) → Sort → Window(rank) →
    * Exchange(CUSTOMERID, rk) → Window(max) — two shuffles of one stream,
    * cheaper than the rank-join's four exchanges + SMJ.
    */
  def matchTransactions(txns: DataFrame): DataFrame = {
    val t = renameToSpec(txns)
    val ranked = t
      .withColumn("is_earned", col("TCTYPE") === "earned")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("CUSTOMERID"), col("is_earned"))
          .orderBy(col("CREATEDAT"), col("TRANS_ID"))))
    val pair = Window.partitionBy("CUSTOMERID", "rk")
    ranked
      .withColumn("REDEEMID",
        when(col("is_earned"),
          max(when(!col("is_earned"), col("TRANS_ID"))).over(pair))
          .otherwise(lit(null).cast(StringType)))
      .drop("is_earned", "rk")
  }

  /** Whale-tolerant formulation (round-11 verdict #6): the primary plan's
    * rank window partitions by (CUSTOMERID, side), so ONE whale customer
    * bounds one task — measured at a 19%-of-corpus whale on 20M rows:
    * max rank-window task 5.6 s vs 1.9 s median (2.9×), wall +67%
    * (PLANS.md:26). This variant computes the SAME global
    * per-(customer, side) rank as a two-stage distributed rank:
    *
    *  1. rows bucket by fixed CREATEDAT ranges (one 2-value min/max
    *     aggregate — a driver scalar), so a whale's history splits across
    *     `buckets` tasks; ties in CREATEDAT share a bucket by
    *     construction, so bucket order extends row order;
    *  2. row_number within (customer, side, bucket);
    *  3. per-bucket counts (customers × 2 × buckets rows — tiny) take a
    *     prefix-sum window, and global rank = local rank + offset. The
    *     offsets join reuses the rank window's own (customer, side,
    *     bucket) hash partitioning — no extra corpus exchange.
    *
    * The pairing window partitions by (CUSTOMERID, rk) — at most two rows
    * per partition, whale-immune already. Output ≡ [[matchTransactions]]
    * row-for-row (gated as `fifo_match_salted` against the same oracle).
    *
    * Equal-timestamp whales (round-12 verdict #6 — the documented hole):
    * a whale whose rows share ONE CREATEDAT lands entirely in one time
    * bucket, so range-salting alone cannot split it. A cheap census
    * (one map-combinable (customer, side, CREATEDAT) count) finds tie
    * runs larger than a bucket's fair share; each heavy run's TIME BUCKET
    * is REFINED by composite (CREATEDAT, TRANS_ID) range. Boundaries are
    * computed DISTRIBUTIVELY (round-13 verdict #4): a deterministic
    * md5-sampled subset of each run takes an `ntile` per run and only the
    * per-tile minima come back — driver bytes O(runs × buckets), a
    * bounded COUNT, never a fixed RATE of the whale (the old 1/64 id
    * collect grew linearly with whale size). Each boundary predicate is
    * `CREATEDAT > ts OR (CREATEDAT = ts AND TRANS_ID >= id)`, scoped to
    * the run's (customer, side, time bucket) — so rows AFTER a heavy run
    * inside the same time bucket take the run's max sub-bucket instead of
    * sub=0, keeping the composite bucket MONOTONE in the matcher's own
    * (CREATEDAT, TRANS_ID) sort key for every whale shape, including a
    * burst surrounded by later activity (round-13 ADVICE, high). Runs
    * sharing a (customer, side, time bucket) merge their boundary sets,
    * thinned to ≤ buckets−1 so composite bucket ids never cross into the
    * next time bucket's range. Monotonicity is the only property the
    * two-stage rank needs: rank = local rank + prefix offset is exact
    * under any monotone bucketing, so boundary placement affects LOAD
    * ONLY, never the gated output. The heaviest 64 runs sub-split
    * (bounding the refinement expression); anything beyond that tail
    * stays time-bucketed. */
  def matchTransactionsSalted(txns: DataFrame, buckets: Int = 16): DataFrame = {
    val t = renameToSpec(txns)
    val mm = t.agg(min(col("CREATEDAT")), max(col("CREATEDAT")),
      count(lit(1))).head()
    if (mm.isNullAt(0)) matchTransactions(txns) else {
      val epoch = java.time.LocalDateTime.of(1970, 1, 1, 0, 0)
      def mic(x: java.time.LocalDateTime): Long =
        java.time.temporal.ChronoUnit.MICROS.between(epoch, x)
      val lo = mic(mm.getAs[java.time.LocalDateTime](0))
      val hi = mic(mm.getAs[java.time.LocalDateTime](1))
      val total = mm.getLong(2)
      val span = hi - lo + 1
      val bucket = expr(
        s"cast(((unix_micros(cast(CREATEDAT as timestamp)) - ${lo}L) * " +
          s"${buckets}L) div ${span}L as int)")
      // ---- equal-timestamp sub-split (see scaladoc) ----
      val sided = t.withColumn("is_earned", col("TCTYPE") === "earned")
      val subBoundaries = subSplitBoundaries(sided, buckets, bucket, total)
      // sub = count of cuts at-or-before the row in (CREATEDAT, TRANS_ID)
      // order, scoped to the row's (customer, side, time bucket): rows
      // before the first cut get 0, rows past the run (later ts, same
      // bucket) count EVERY cut — monotone across the whole bucket
      val subExpr: org.apache.spark.sql.Column = subBoundaries.foldLeft(lit(0)) {
        case (acc, ((cust, side, tb), bs)) if bs.nonEmpty =>
          when(col("CUSTOMERID") === lit(cust) && col("is_earned") === lit(side) &&
            bucket === lit(tb.toInt),
            bs.map { case (bts, bid) =>
              when(col("CREATEDAT") > lit(bts) ||
                (col("CREATEDAT") === lit(bts) && col("TRANS_ID") >= lit(bid)),
                lit(1)).otherwise(lit(0))
            }.reduce(_ + _))
            .otherwise(acc)
        case (acc, _) => acc
      }
      val ranked = sided
        // composite bucket: (time range, id sub-bucket) — monotone in the
        // (CREATEDAT, TRANS_ID) sort key; sub = 0 off the heavy runs
        .withColumn("bkt", bucket * lit(buckets) + subExpr)
        .withColumn("lrk", row_number().over(
          Window.partitionBy(col("CUSTOMERID"), col("is_earned"), col("bkt"))
            .orderBy(col("CREATEDAT"), col("TRANS_ID"))))
      val offsets = ranked.groupBy("CUSTOMERID", "is_earned", "bkt")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          Window.partitionBy("CUSTOMERID", "is_earned").orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("CUSTOMERID", "is_earned", "bkt", "off")
      val withRk = ranked.join(offsets, Seq("CUSTOMERID", "is_earned", "bkt"))
        .withColumn("rk", (col("lrk") + col("off")).cast("int"))
      val pair = Window.partitionBy("CUSTOMERID", "rk")
      withRk
        .withColumn("REDEEMID",
          when(col("is_earned"),
            max(when(!col("is_earned"), col("TRANS_ID"))).over(pair))
            .otherwise(lit(null).cast(StringType)))
        .select("TRANS_ID", "TCTYPE", "CREATEDAT", "CUSTOMERID", "AMOUNT", "REDEEMID")
    }
  }

  /** The sub-split's boundary derivation, extracted so its driver
    * footprint can be measured directly (round-13 verdict #4; PLANS.md:3596). Census:
    * one map-combinable (customer, side, CREATEDAT) count finds tie runs
    * past a bucket's fair share (heaviest 64). Boundaries: per heavy run,
    * `ntile(buckets)` over a deterministic md5 sample INSIDE the cluster,
    * collecting only the per-tile minima — driver bytes are O(runs ×
    * buckets) regardless of whale size (a bounded COUNT, never a fixed
    * RATE of the whale; the pre-r14 1/64 id collect grew linearly). Runs
    * sharing a (customer, side, time bucket) merge their composite
    * (CREATEDAT, TRANS_ID) cuts into ONE ordered set, thinned to ≤
    * buckets−1 so a composite bucket id never crosses into the next time
    * bucket's range.
    *
    * The run's time-bucket id is computed by the caller-supplied `bucket`
    * Column — the SAME expression the matcher buckets rows with — and
    * collected alongside the census (round-14 ADVICE, low): a driver-side
    * recomputation from naive-LocalDateTime micros disagreed with the
    * session-timezone-dependent `unix_micros(cast(... as timestamp))`
    * under a non-UTC session, silently no-oping the sub-split (load-only;
    * output was never affected). One derivation site, zero tz coupling. */
  private[graft] def subSplitBoundaries(sided: DataFrame, buckets: Int,
      bucket: org.apache.spark.sql.Column, total: Long):
      Seq[((String, Boolean, Long), Seq[(java.time.LocalDateTime, String)])] = {
    val runThreshold = math.max(1L, total / buckets)
    val heavyRuns = sided
      .groupBy("CUSTOMERID", "is_earned", "CREATEDAT")
      // bucket is functionally determined by CREATEDAT, so max() just
      // reads the one value through the aggregate
      .agg(count(lit(1)).as("cnt"), max(bucket.cast("long")).as("tb"))
      .filter(col("cnt") > runThreshold)
      .orderBy(col("cnt").desc, col("CUSTOMERID"), col("is_earned"), col("CREATEDAT"))
      .limit(64)
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1),
        r.getAs[java.time.LocalDateTime](2), r.getLong(4)))
    val tbOfRun: Map[(String, Boolean, java.time.LocalDateTime), Long] =
      heavyRuns.map { case (c, s, ts, tb) => (c, s, ts) -> tb }.toMap
    val rawBoundaries: Array[((String, Boolean, java.time.LocalDateTime), String)] =
      if (heavyRuns.isEmpty) Array.empty else {
        import sided.sparkSession.implicits._
        val keys = broadcast(heavyRuns.toSeq.map { case (c, s, ts, _) => (c, s, ts) }
          .toDF("CUSTOMERID", "is_earned", "CREATEDAT"))
        sided
          .join(keys, Seq("CUSTOMERID", "is_earned", "CREATEDAT"), "left_semi")
          .filter(substring(md5(col("TRANS_ID").cast("binary")), 1, 2) < "04")
          .select("CUSTOMERID", "is_earned", "CREATEDAT", "TRANS_ID")
          .withColumn("tile", ntile(buckets).over(
            Window.partitionBy("CUSTOMERID", "is_earned", "CREATEDAT")
              .orderBy("TRANS_ID")))
          .filter(col("tile") > 1) // tile 1's min is the run start, not a cut
          .groupBy("CUSTOMERID", "is_earned", "CREATEDAT", "tile")
          .agg(min(col("TRANS_ID")).as("b"))
          .select("CUSTOMERID", "is_earned", "CREATEDAT", "b")
          .collect()
          .map(r => ((r.getString(0), r.getBoolean(1),
            r.getAs[java.time.LocalDateTime](2)), r.getString(3)))
      }
    rawBoundaries.groupBy { case ((cust, side, ts), _) => (cust, side, tbOfRun((cust, side, ts))) }
      .view.mapValues { cuts =>
        val s = cuts.map { case ((_, _, ts), id) => (ts, id) }
          .distinct.sortBy(identity).toIndexedSeq
        if (s.size <= buckets - 1) s.toSeq
        else (1 to buckets - 1).map(i => s((i * s.size) / buckets))
      }.toSeq
  }

  /** Whale-dispatch threshold: a customer holding more than this share of
    * all rows (in ppm — 50000 = 5%) makes the salted two-stage rank the
    * cheaper plan. Priced in PLANS.md:3596: at a 19% whale
    * the primary's straggler task costs +67% wall while the salted
    * overhead is a tiny counts aggregate + reused-partitioning join; at
    * balanced data the salted form loses ~40%. The crossover sits where
    * one customer's rank-window task outgrows a fair share — conservative
    * at 5% (≈1.6 fair shares on 32 slots, hours-long straggler at
    * 1000-executor scale). */
  val WhaleShareMicro = 50000L

  /** The census the dispatcher reads: one count-only aggregate
    * (map-side combinable, reduced state = |customers| rows collapsing to
    * a 2-value scalar) emitting total rows, the largest single customer's
    * rows, its integer-exact share in ppm, and the variant the threshold
    * selects. Kept as a relational output so the decision itself is
    * oracle-gated (the compaction-cadence pattern applied to skew). */
  def skewDecision(txns: DataFrame,
      whaleShareMicro: Long = WhaleShareMicro): DataFrame =
    renameToSpec(txns)
      .groupBy("CUSTOMERID").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("total_rows"), max(col("c")).as("max_customer_rows"))
      .select(col("total_rows"), col("max_customer_rows"),
        expr("max_customer_rows * 1000000 div total_rows").as("share_ppm"),
        (col("max_customer_rows") * 1000000L >
          col("total_rows") * whaleShareMicro).as("whale"))
      .withColumn("variant",
        when(col("whale"), lit("salted")).otherwise(lit("primary")))

  /** Adaptive formulation: run [[skewDecision]]'s census (two driver
    * scalars off one count aggregate — the stratified sampler's precedent
    * for a cheap pre-pass that prices a plan choice), then dispatch to
    * [[matchTransactionsSalted]] iff a whale customer crosses
    * [[WhaleShareMicro]], else the cheaper [[matchTransactions]]. Both
    * branches are row-identical (gated against the same oracle), so the
    * dispatch changes cost only, never output. */
  def matchTransactionsAdaptive(txns: DataFrame,
      whaleShareMicro: Long = WhaleShareMicro): DataFrame = {
    // the dispatcher reads the SAME census the fifo_skew_decision gate
    // oracle-checks — one rule, one place; a null whale flag (empty
    // input) dispatches primary
    val r = skewDecision(txns, whaleShareMicro).select("whale").head()
    val whale = !r.isNullAt(0) && r.getBoolean(0)
    if (whale) matchTransactionsSalted(txns) else matchTransactions(txns)
  }

  /** Alternate formulation: two ranked branches + left equi-join on
    * (CUSTOMERID, rank) — the exact shape the reference names as its own
    * billion-row migration path (reference: README.md:696). Kept as a
    * plan-diversity cross-check; [[matchTransactions]] is the default. */
  def matchRankJoin(txns: DataFrame): DataFrame = {
    val t = renameToSpec(txns)
    val w = Window.partitionBy("CUSTOMERID").orderBy("CREATEDAT", "TRANS_ID")
    val e  = t.filter(col("TCTYPE") === "earned").withColumn("rk", row_number().over(w))
    val se = t.filter(col("TCTYPE").isin("spent", "expired")).withColumn("rk", row_number().over(w))
    val matchedEarned = e.join(
      se.select(col("CUSTOMERID"), col("rk"), col("TRANS_ID").as("REDEEMID")),
      Seq("CUSTOMERID", "rk"), "left")
    val seOut = se.withColumn("REDEEMID", lit(null).cast(StringType))
    matchedEarned.drop("rk")
      .select("TRANS_ID", "TCTYPE", "CREATEDAT", "CUSTOMERID", "AMOUNT", "REDEEMID")
      .unionByName(seOut.drop("rk")
        .select("TRANS_ID", "TCTYPE", "CREATEDAT", "CUSTOMERID", "AMOUNT", "REDEEMID"))
  }

  /** Differential-testing oracle: a literal translation of the reference's
    * per-customer queue loop (src/fifo_matching.py:71-122) confined to
    * `flatMapGroups`. Materializes one customer's rows at a time — used by
    * the test suite to validate the declarative formulations, not by the
    * pipeline (a whale customer would bound executor memory here). */
  def matchQueue(txns: DataFrame): DataFrame = {
    val spark = txns.sparkSession
    implicit val txEnc = Encoders.product[Tx]
    implicit val outEnc = Encoders.product[MatchedTx]
    implicit val strEnc = Encoders.STRING
    txns.select("transaction_id", "customer_id", "amount", "timestamp", "transaction_type")
      .as[Tx]
      .groupByKey(_.customer_id)
      .flatMapGroups { (_, it) =>
        val rows = it.toIndexedSeq.sortBy(t => (t.timestamp, t.transaction_id))(
          Ordering.Tuple2(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _), Ordering.String))
        val earned = rows.filter(_.transaction_type == "earned")
        val se     = rows.filter(t => t.transaction_type == "spent" || t.transaction_type == "expired")
        val queue  = scala.collection.mutable.Queue(earned.map(_.transaction_id): _*)
        val earnedToRedeemer = scala.collection.mutable.Map.empty[String, String]
        se.foreach { t => if (queue.nonEmpty) earnedToRedeemer(queue.dequeue()) = t.transaction_id }
        rows.iterator.map { t =>
          val redeem = if (t.transaction_type == "earned") earnedToRedeemer.get(t.transaction_id) else None
          MatchedTx(t.transaction_id, t.transaction_type, t.timestamp, t.customer_id, t.amount, redeem)
        }
      }
      .toDF()
  }
}
