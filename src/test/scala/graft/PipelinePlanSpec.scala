package graft

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ThrivePipeline
import graft.sources.Tables

/** The daily pipeline's plan shape and its deliverables' row order: one
  * range exchange on `customer_id` serves every per-customer step, and the
  * single-file CSVs come out in key order however many range partitions
  * AQE leaves. */
class PipelinePlanSpec extends AnyFunSuite {
  import TestSpark._

  private val Source = "/root/testdata/sf0.001"

  /** Every shuffle exchange `p` runs: through AQE's stages and into the
    * cached plans it reads. */
  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = {
    val here = p match { case e: ShuffleExchangeExec => Seq(e); case _ => Nil }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other => other.children
    }
    here ++ below.flatMap(shuffles)
  }

  test("matched, history and current run over one range exchange on customer_id") {
    val (m, h, c) = ThrivePipeline.frames(Tables.transactions(spark, Source))
    Seq(m, h, c).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      c.count()
      for ((name, df) <- Seq("matched" -> m, "history" -> h, "current" -> c)) {
        df.collect()
        val plan = df.queryExecution.executedPlan
        val ex = shuffles(plan)
        assert(ex.size === 1, s"$name runs ${ex.size} shuffle exchanges:\n$plan")
        val onCustomer = ex.head.outputPartitioning match {
          case RangePartitioning(Seq(SortOrder(a: AttributeReference, Ascending, _, _)), _) =>
            a.name == "customer_id"
          case _ => false
        }
        assert(onCustomer, s"$name's exchange is not a range exchange on customer_id:\n$plan")
      }
    } finally Seq(c, h, m).foreach(_.unpersist())
  }

  /** The CSV at `dir`'s one part file as (header, rows of fields). */
  private def csv(dir: Path): (Seq[String], Seq[Array[String]]) = {
    val part = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toSeq
    assert(part.size === 1, s"$dir must hold exactly one CSV part")
    val lines = Files.readAllLines(part.head).asScala.toSeq
    (lines.head.split(",", -1).toSeq, lines.tail.map(_.split(",", -1)))
  }

  /** The rows of `dir`'s CSV keyed on (customer, timestamp, id) columns. */
  private def keys(dir: Path, cust: String, ts: String, id: String)
      : Seq[(String, LocalDateTime, String)] = {
    val (header, rows) = csv(dir)
    rows.map(r => (r(header.indexOf(cust)), LocalDateTime.parse(r(header.indexOf(ts))),
      r(header.indexOf(id))))
  }

  test("the matched and history CSVs are in key order at one and at several range partitions") {
    val conf = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prior = conf.map(k => k -> spark.conf.getOption(k))
    val settings = Seq(
      "one partition" -> (Map(conf(1) -> "64m"), (n: Int) => n == 1),
      "several partitions" ->
        (Map(conf(0) -> "8", conf(1) -> "1k", conf(2) -> "1b"), (n: Int) => n >= 3))
    implicit val order: Ordering[(String, LocalDateTime, String)] = Ordering.Tuple3(
      Ordering.String, Ordering.fromLessThan[LocalDateTime](_.isBefore(_)), Ordering.String)
    try for ((label, (set, partsOk)) <- settings) {
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      val tmp = Files.createTempDirectory("graft-pipeline-order")
      val report = ThrivePipeline.run(spark, Source,
        ThrivePipeline.Config(s"$tmp/staging", s"$tmp/out", executionDate = "20260812"))
      assert(report.status === "success")
      val parts = Files.list(tmp.resolve("out/tc_data_with_redemptions.parquet")).iterator()
        .asScala.count(_.getFileName.toString.startsWith("part-"))
      assert(partsOk(parts), s"$label: the matched frame has $parts range partitions")
      val matched = keys(tmp.resolve("out/tc_data_with_redemptions.csv"),
        "CUSTOMERID", "CREATEDAT", "TRANS_ID")
      val history = keys(tmp.resolve("out/customer_balance_history.csv"),
        "customer_id", "transaction_date", "transaction_id")
      assert(matched.size === 1000 && history.size === 1000)
      assert(matched === matched.sorted, s"$label: matched CSV out of key order")
      assert(history === history.sorted, s"$label: history CSV out of key order")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
