package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cumulative-balance analytics over the matched output
  * (reference: src/thrive_cash_processing_dag.py:426-560).
  *
  * The reference iterates customers and accumulates running totals row by
  * row (:452-487); here the whole history is ONE window pass — a single
  * shuffle on CUSTOMERID, whole-stage-codegen'd, no joins.
  *
  * Frame contract: `rowsBetween(unboundedPreceding, currentRow)` — NOT the
  * default `rangeBetween` — so duplicate timestamps keep the reference's
  * row-at-a-time semantics; ties are broken by TRANS_ID (SURVEY.md §7.5).
  */
object BalanceAnalytics {

  /** `customer_balance_history`
    * (reference: src/thrive_cash_processing_dag.py:477-487):
    * per customer in CREATEDAT order, running |amount| sums per type and
    * `current_balance = cumulative_earned − cumulative_spent − cumulative_expired` (:474). */
  def balanceHistory(matched: DataFrame): DataFrame = {
    val w = Window.partitionBy("customer_id")
      .orderBy("transaction_date", "transaction_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Rounded to cents: the true cumulative is a multiple of 0.01 (sums of
    // 2-decimal amounts), but engines associate float additions differently —
    // rounding pins both to the identical double, making every downstream
    // comparison (> threshold, = 0, rank by balance) engine-deterministic.
    def cum(tpe: String) =
      round(sum(when(col("transaction_type") === tpe, abs(col("transaction_amount"))).otherwise(0.0)).over(w), 2)
    matched.select(
        col("CUSTOMERID").as("customer_id"),
        col("CREATEDAT").as("transaction_date"),
        col("TRANS_ID").as("transaction_id"),
        col("TCTYPE").as("transaction_type"),
        col("AMOUNT").as("transaction_amount"))
      .withColumn("cumulative_earned", cum("earned"))
      .withColumn("cumulative_spent", cum("spent"))
      .withColumn("cumulative_expired", cum("expired"))
      .withColumn("current_balance",
        round(col("cumulative_earned") - col("cumulative_spent") - col("cumulative_expired"), 2))
  }

  /** Calendar gap-fill with carry-forward (time-series resample-to-daily):
    * per customer, one row per day from that customer's first transaction
    * day to the corpus's last day, carrying the day-end balance forward
    * across gap days — the shape every downstream daily-snapshot consumer
    * (BI joins, as-of features, SCD rollups) wants.
    *
    * Plan shape: day-end balances are one per-customer window pass (rn = 1
    * per (customer, day), descending (ts, id) — deterministic day-end);
    * the day spine is a per-customer `sequence(first_day, last_day)`
    * explode against a broadcast 1-row global max; carry-forward is
    * `last(ignoreNulls)` over one (customer, day) window. Every shuffle is
    * keyed on customer_id; spine size is days×customers — linear in the
    * calendar, never in the transaction count, so a 100 TB ledger (more
    * rows, same horizon) leaves the spine unchanged. A whale customer adds
    * no skew: the spine is uniform per customer, and the day-end pass
    * reduces the whale's rows before the fill window sees them. */
  def gapFillDaily(history: DataFrame): DataFrame = {
    val h = history.select(col("customer_id"),
      to_date(col("transaction_date")).as("day"),
      col("transaction_date"), col("transaction_id"), col("current_balance"))
    val wDay = Window.partitionBy("customer_id", "day")
      .orderBy(col("transaction_date").desc, col("transaction_id").desc)
    val dayEnd = h.withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("customer_id"), col("day"), col("current_balance").as("observed_balance"))
    val lastDay = broadcast(h.agg(max(col("day")).as("last_day")))
    val spine = h.groupBy("customer_id").agg(min(col("day")).as("first_day"))
      .crossJoin(lastDay)
      .select(col("customer_id"),
        explode(sequence(col("first_day"), col("last_day"))).as("day"))
    val wFill = Window.partitionBy("customer_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(dayEnd, Seq("customer_id", "day"), "left")
      .select(col("customer_id"), col("day"),
        last(col("observed_balance"), ignoreNulls = true).over(wFill).as("balance"),
        col("observed_balance").isNotNull.as("is_observed"))
      .orderBy("customer_id", "day")
  }

  /** Average daily balance per customer — the interest/fee basis every
    * bank statement computes: mean of the gap-filled daily balance series
    * over the customer's active horizon. Consumes `gapFillDaily` (one row
    * per customer-day, carry-forward), so weighting is uniform-by-day by
    * construction — the time-weighted average without interval arithmetic.
    * Balances are cent-exact by the history contract, so the mean is an
    * INTEGER cent sum read out through the sign-split truncating integer
    * division (the hll_rollup basis-point idiom, 4 decimal places) — a
    * `round(sum/n, 2)` double would hit the representation-boundary
    * half-rounding divergence between engines exactly where this one did
    * on first gate contact (a negative -162.795 average). One keyed
    * aggregate over the spine; one row per customer at any volume. */
  def avgDailyBalance(filled: DataFrame): DataFrame =
    filled
      .withColumn("cents", round(col("balance") * 100).cast("long"))
      .groupBy("customer_id")
      .agg(count(lit(1)).as("n_days"),
        sum(col("cents")).as("cents_sum"),
        min(col("day")).as("first_day"),
        max(col("day")).as("last_day"))
      .select(col("customer_id"), col("n_days"),
        (signum(col("cents_sum")) *
          expr("(abs(cents_sum) * 100) div n_days") / 10000.0)
          .as("avg_daily_balance"),
        col("first_day"), col("last_day"))
      .orderBy("customer_id")

  /** `customer_current_balances`
    * (reference: src/thrive_cash_processing_dag.py:504-510). The reference's
    * pandas `.last()` is positional and correct only because history was
    * appended pre-sorted (:456); here the ordering is explicit. */
  def currentBalances(history: DataFrame): DataFrame = {
    val w = Window.partitionBy("customer_id")
      .orderBy(col("transaction_date").desc, col("transaction_id").desc)
    history
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("customer_id", "current_balance", "cumulative_earned",
        "cumulative_spent", "cumulative_expired")
  }

  /** Summary block of the analytics report
    * (reference: src/thrive_cash_processing_dag.py:518-537), as a 1-row DF:
    * total customers, totals per type, total current balance, count with
    * positive balance. The reference's success-alert reads keys the report
    * never emits (:584-592 vs :525-530); this schema is the unified one
    * (SURVEY.md §3.1). The money totals are rounded to cents like
    * [[balanceHistory]]: a float sum's last bits follow the partition
    * layout, so unrounded totals changed with `spark.sql.shuffle.partitions`. */
  def reportSummary(matched: DataFrame, current: DataFrame): DataFrame = {
    def cents(c: Column) = round(sum(c), 2)
    val totals = matched.agg(
      count(lit(1)).as("total_transactions"),
      cents(when(col("TCTYPE") === "earned", col("AMOUNT")).otherwise(0.0)).as("total_earned"),
      cents(when(col("TCTYPE") === "spent", abs(col("AMOUNT"))).otherwise(0.0)).as("total_spent"),
      cents(when(col("TCTYPE") === "expired", abs(col("AMOUNT"))).otherwise(0.0)).as("total_expired"),
      sum(when(col("TCTYPE") === "earned" && col("REDEEMID").isNotNull, 1L).otherwise(0L))
        .as("matching_records_count"))
    val balances = current.agg(
      count(lit(1)).as("total_customers"),
      cents(col("current_balance")).as("total_current_balance"),
      sum(when(col("current_balance") > 0, 1L).otherwise(0L)).as("customers_with_positive_balance"))
    totals.crossJoin(balances)
  }

  /** Top-K customers by current balance
    * (reference: src/thrive_cash_processing_dag.py:532 — `nlargest(10)`).
    * orderBy+limit plans as TakeOrderedAndProject: no global sort at scale. */
  def topBalances(current: DataFrame, k: Int = 10): DataFrame =
    current.orderBy(col("current_balance").desc, col("customer_id")).limit(k)

  /** Per-customer OLS trend of the day-end balance series — "is this
    * balance growing or draining, and how fast": slope in cents/day from
    * the closed-form least-squares fit over (epoch day, day-end cents).
    * The portfolio-health readout next to [[avgDailyBalance]].
    *
    * Determinism: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    * are exact integer sums (the ACF discipline) and the slope is ONE
    * double division CAST(nΣxy−ΣxΣy AS DOUBLE) / (nΣx²−(Σx)²); a
    * single-day customer (den = 0) yields NULL on both engines. Integer
    * envelope: |epoch day| ≈ 2·10⁴ and |cents| ≤ c keep every statistic
    * under 2⁶³ while n·c·2·10⁴ < 9·10¹⁸ — beyond that, re-origin the day
    * axis per customer.
    *
    * Shape: the ledger collapses to day-end rows first (per-(customer,
    * day) rank — one keyed shuffle, WindowGroupLimit-capped), then one
    * map-side-combinable aggregate per customer. One row per customer at
    * any volume. */
  def balanceTrend(history: DataFrame): DataFrame = {
    val h = history.select(col("customer_id"),
      to_date(col("transaction_date")).as("day"),
      col("transaction_date"), col("transaction_id"), col("current_balance"))
    val wDay = Window.partitionBy("customer_id", "day")
      .orderBy(col("transaction_date").desc, col("transaction_id").desc)
    val dayEnd = h.withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("customer_id"),
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long").as("x"),
        round(col("current_balance") * 100).cast("long").as("y"))
    val den = col("n_days") * col("sxx") - col("sx") * col("sx")
    dayEnd.groupBy("customer_id")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("customer_id"), col("n_days"),
        round(when(den === 0, lit(null).cast("double"))
          .otherwise((col("n_days") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / den), 4).as("slope_cents_per_day"))
      .orderBy("customer_id")
  }
}
