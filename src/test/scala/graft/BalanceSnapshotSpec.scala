package graft

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.operators.{BalanceAnalytics, FifoMatcher}
import graft.queries.{BalanceQueries, BalanceQueryBuilders}
import graft.queries.OracleSql.Params
import graft.sources.Tables
import graft.streaming.FileReplay

/** [[BalanceQueries]] reads a range-partitioned session snapshot of its
  * input tables: its answers must equal the same expressions over the raw
  * tables whatever the snapshot's partition count, the single-customer and
  * `customer_id`-ordered queries must plan with no exchange, a table
  * rewritten under the same path must be answered from its new files, and
  * a session keeps one snapshot per table path. */
class BalanceSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** The same 12 expressions over the frames as given. */
  private object Raw extends BalanceQueryBuilders {
    override protected def historyOf(history: DataFrame): DataFrame = history
    override protected def currentOf(current: DataFrame): DataFrame = current
  }

  private def queries(q: BalanceQueryBuilders, h: DataFrame, c: DataFrame)
      : Seq[(String, () => DataFrame)] = Seq(
    "q01" -> (() => q.q1BalanceAsOf(h, Seq(Params.CustA, Params.CustB), Params.AsOf)),
    "q02" -> (() => q.q2CurrentBalance(c, Seq(Params.CustA, Params.CustB))),
    "q03" -> (() => q.q3History(h, Params.CustA)),
    "q04" -> (() => q.q4MonthEnd(h, Params.CustA)),
    "q05" -> (() => q.q5AboveThreshold(h, Params.AsOf, Params.Threshold)),
    "q06" -> (() => q.q6BalanceChange(h, Params.CustA, Params.Start, Params.End)),
    "q07" -> (() => q.q7TopBalances(h, Params.AsOf)),
    "q08" -> (() => q.q8ZeroBalance(h, Params.AsOf)),
    "q09" -> (() => q.q9BalanceStats(h, Params.AsOf)),
    "q10" -> (() => q.q10DayTransactions(h, Params.CustA, Params.Day)),
    "q11" -> (() => q.q11DailySnapshots(h, Params.CustA, Params.MonthFrom, Params.MonthUntil)),
    "q12" -> (() => q.q12NeverSpent(c)))

  private val root: Path = Files.createTempDirectory("graft_snapshot_spec_")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(root.toFile) finally super.afterAll()

  private lazy val history = {
    val h = BalanceAnalytics.balanceHistory(
      FifoMatcher.matchTransactions(Tables.transactions(spark, "/root/testdata/sf0.001")))
      .persist()
    h.count()
    h
  }

  /** `df` written to `dir` the way another process would rewrite a table:
    * through a sibling directory swapped in with `java.nio`, so Spark's own
    * write-path cache refresh never sees `dir`. */
  private def replace(df: DataFrame, dir: Path): Unit = {
    val staged = Files.createTempDirectory(root, "staged_")
    df.write.mode("overwrite").parquet(staged.toString)
    if (Files.exists(dir)) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    Files.createDirectories(dir.getParent)
    Files.move(staged, dir)
  }

  /** The day's two tables written under `root/name`, read back. */
  private def tables(name: String): (DataFrame, DataFrame) = {
    val dir = root.resolve(name)
    replace(history, dir.resolve("history.parquet"))
    replace(BalanceAnalytics.currentBalances(history), dir.resolve("current.parquet"))
    (spark.read.parquet(dir.resolve("history.parquet").toString),
      spark.read.parquet(dir.resolve("current.parquet").toString))
  }

  /** The partition count of the snapshot a query reads. */
  private def snapshotPartitions(df: DataFrame): Int =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.getNumPartitions
    }.getOrElse(fail("the query reads no cached snapshot"))

  private def assertSameAnswers(h: DataFrame, c: DataFrame): Unit =
    queries(BalanceQueries, h, c).zip(queries(Raw, h, c)).foreach {
      case ((name, snap), (_, raw)) =>
        val (s, r) = (snap(), raw())
        assert(s.columns.toSeq === r.columns.toSeq, s"$name columns")
        assert(s.collect().map(_.toSeq).toSeq === r.collect().map(_.toSeq).toSeq,
          s"$name: snapshot rows or their order differ from the raw tables'")
    }

  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  test("snapshot coalesced to 1 partition: all 12 answers equal the raw tables'") {
    val (h, c) = tables("one")
    FileReplay.withConfs(spark, advisory -> "1g",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      val (q1, q2) = (BalanceQueries.q1BalanceAsOf(h, Seq(Params.CustA), Params.AsOf),
        BalanceQueries.q2CurrentBalance(c, Seq(Params.CustA)))
      assert(snapshotPartitions(q1) === 1)
      assert(snapshotPartitions(q2) === 1)
    }
    assertSameAnswers(h, c)
  }

  /** Tables whose snapshots were built with small advisory partitions. */
  private lazy val multi: (DataFrame, DataFrame) = {
    val (h, c) = tables("multi")
    FileReplay.withConfs(spark, advisory -> "2k", "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      BalanceQueries.q1BalanceAsOf(h, Seq(Params.CustA), Params.AsOf)
      BalanceQueries.q2CurrentBalance(c, Seq(Params.CustA))
    }
    (h, c)
  }

  test("snapshot in at least 3 partitions: all 12 answers equal the raw tables'") {
    val (h, c) = multi
    assert(snapshotPartitions(BalanceQueries.q1BalanceAsOf(h, Seq(Params.CustA), Params.AsOf)) >= 3)
    assert(snapshotPartitions(BalanceQueries.q2CurrentBalance(c, Seq(Params.CustA))) >= 3)
    assertSameAnswers(h, c)
  }

  test("Q1-Q4, Q10, Q11 over a multi-partition snapshot: no exchange, one job") {
    val (h, c) = multi
    val pinned = Set("q01", "q02", "q03", "q04", "q10", "q11")
    queries(BalanceQueries, h, c).filter(q => pinned(q._1)).foreach { case (name, q) =>
      val df = q()
      assert(snapshotPartitions(df) >= 2, name)
      val group = s"snapshot_spec_$name"
      spark.sparkContext.setJobGroup(group, name)
      try df.collect() finally spark.sparkContext.clearJobGroup()
      val exchanges = collect(df.queryExecution.executedPlan) { case e: Exchange => e }
      assert(exchanges.isEmpty, s"$name plans an exchange:\n${df.queryExecution.executedPlan}")
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).length === 1,
        s"$name jobs")
    }
  }

  test("a history rewritten under the same path is answered from its new files") {
    val (h, _) = tables("rewrite")
    val path = root.resolve("rewrite").resolve("history.parquet")
    def balances(df: DataFrame) =
      BalanceQueries.q1BalanceAsOf(df, Seq(Params.CustA, Params.CustB), Params.AsOf)
        .select("thrive_cash_balance").collect().map(_.getDouble(0)).toSeq
    val before = balances(h)
    assert(before.nonEmpty)
    replace(history.withColumn("current_balance", col("current_balance") + 1000.0), path)
    val after = balances(spark.read.parquet(path.toString))
    assert(after === before.map(_ + 1000.0), "the snapshot of the old files answered")
  }

  test("two rewrites of one path leave one snapshot cached and registered") {
    val (h, _) = tables("lifetime")
    val path = root.resolve("lifetime").resolve("history.parquet")
    def q1(df: DataFrame) =
      BalanceQueries.q1BalanceAsOf(df, Seq(Params.CustA), Params.AsOf).collect()
    // the session cache's entry count (numCachedEntries is private[sql])
    def cached(): Int = {
      val cm = spark.sharedState.cacheManager
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    }
    val cachedBefore = cached()
    q1(h)
    Seq(1.0, 2.0).foreach { d =>
      replace(history.withColumn("current_balance", col("current_balance") + d), path)
      q1(spark.read.parquet(path.toString))
    }
    assert(cached() - cachedBefore === 1, "cached snapshots of the path")
    val registered = Shared.keys.filter(k => k.tag == "balance_history_snapshot" &&
      k.files.exists(_._1.contains("/lifetime/history.parquet/")))
    assert(registered.size === 1, "registered snapshots of the path")
  }
}
