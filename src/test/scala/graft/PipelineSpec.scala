package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ThrivePipeline

/** End-to-end 6-stage pipeline run over the sf0.001 test data
  * (mirrors doc/QUICKSTART.md:126-157 expectations). */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("full pipeline run produces deliverables and a sane report") {
    val tmp = Files.createTempDirectory("graft-pipeline").toString
    val report = ThrivePipeline.run(spark, "/root/testdata/sf0.001",
      ThrivePipeline.Config(s"$tmp/staging", s"$tmp/out", executionDate = "20260812"))

    assert(report.status === "success")
    assert(report.totalTransactions === 1000L)
    assert(report.matchedCount > 0)
    assert(report.totalCustomers === 15L)
    assert(report.stages.map(_.stage) ===
      Seq("ingest", "validate_source", "fifo_match", "validate_results", "build_analytics"))

    // dual-format matched output + CSV deliverables + one JSON document
    assert(Files.exists(Paths.get(s"$tmp/out/tc_data_with_redemptions.parquet")))
    def singleCsv(dir: String): java.io.File = {
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
      assert(files.length === 1, s"$dir must hold exactly one CSV part")
      files.head
    }
    singleCsv(s"$tmp/out/tc_data_with_redemptions.csv")
    singleCsv(s"$tmp/out/customer_balance_history.csv")
    singleCsv(s"$tmp/out/customer_current_balances.csv")
    val json = Files.readString(Paths.get(s"$tmp/out/analytics_report.json"))
    assert(json.contains("\"status\": \"success\""))
    assert(json.contains("\"matching_records_count\""))

    // top_customers_by_balance parity (reference dag :532-537): ≤10 records,
    // the reference record shape (the current-balances columns), descending
    // by balance, and the head record is the true maximum.
    assert(json.contains("\"top_customers_by_balance\""))
    assert(report.topCustomers.nonEmpty && report.topCustomers.size <= 10)
    assert(report.topCustomers.size === math.min(10, report.totalCustomers).toInt)
    for (f <- Seq("customer_id", "current_balance", "cumulative_earned",
        "cumulative_spent", "cumulative_expired"))
      assert(json.contains("\"" + f + "\""), s"report array must carry field $f")
    val balances = report.topCustomers.map(_.currentBalance)
    assert(balances === balances.sorted.reverse, "top customers must be sorted desc")
    assert(balances.head === report.topCustomers.map(_.currentBalance).max)

    // staged split is re-readable under the dated namespace, per type
    // (restartability contract; partitionBy layout = the 3-way split)
    val staged = spark.read.parquet(s"$tmp/staging/20260812/transactions.parquet")
    assert(staged.filter(org.apache.spark.sql.functions
      .col("transaction_type") === "earned").count() > 0)

    // matched parquet row count equals input
    val m = spark.read.parquet(s"$tmp/out/tc_data_with_redemptions.parquet")
    assert(m.count() === 1000L)

    // same-day rerun is idempotent: staging + outputs overwritten, same report
    val rerun = ThrivePipeline.run(spark, "/root/testdata/sf0.001",
      ThrivePipeline.Config(s"$tmp/staging", s"$tmp/out", executionDate = "20260812"))
    assert(rerun.status === "success")
    assert(rerun.totalTransactions === report.totalTransactions)
    assert(rerun.totalCurrentBalance === report.totalCurrentBalance)
    assert(spark.read.parquet(s"$tmp/staging/20260812/transactions.parquet").count() === 1000L)

    // a different execution date stages separately, leaving the first intact
    val other = ThrivePipeline.run(spark, "/root/testdata/sf0.001",
      ThrivePipeline.Config(s"$tmp/staging", s"$tmp/out", executionDate = "20260813"))
    assert(other.status === "success")
    assert(Files.exists(Paths.get(s"$tmp/staging/20260812/transactions.parquet")))
    assert(Files.exists(Paths.get(s"$tmp/staging/20260813/transactions.parquet")))
  }

  test("pipeline output is invariant to shuffle partitions and its cached plans are sized by AQE") {
    // The session is shared by the whole suite: restore its sizing after.
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    def runAt(partitions: Int) = {
      spark.conf.set(key, partitions.toString)
      val tmp = Files.createTempDirectory(s"graft-pipeline-p$partitions").toString
      val report = ThrivePipeline.run(spark, "/root/testdata/sf0.001",
        ThrivePipeline.Config(s"$tmp/staging", s"$tmp/out", executionDate = "20260812"))
      val matchedDir = s"$tmp/out/tc_data_with_redemptions.parquet"
      val rows = spark.read.parquet(matchedDir).collect().map(_.toString).sorted.toSeq
      val parts = new java.io.File(matchedDir).listFiles().count(_.getName.startsWith("part-"))
      (report.copy(stages = report.stages.map(_.copy(seconds = 0.0))), rows, parts)
    }
    val ((r2, rows2, _), (r200, rows200, parts200)) =
      try (runAt(2), runAt(200)) finally spark.conf.set(key, prior)

    assert(r2.status === "success")
    assert(r200 === r2)
    assert(rows200 === rows2)
    assert(rows2.size === 1000)
    // Without AQE coalescing inside the cached `matched` plan, its global
    // sort keeps every shuffle partition and the write emits one file each.
    assert(parts200 <= spark.sparkContext.defaultParallelism,
      s"$parts200 part files at 200 shuffle partitions")
  }

  test("pipeline fails fast on invalid source data") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-pipeline-bad").toString
    // poison a staging dir by hand: write transactions with an invalid type,
    // then run from a source dir stub — easier: strict chronology mode over
    // data with pre-earned spends triggers the resultErrors path instead
    val report = ThrivePipeline.run(spark, "/root/testdata/sf0.001",
      ThrivePipeline.Config(s"$tmp/staging", s"$tmp/out",
        strictChronology = true, failOnBalanceMismatch = true))
    assert(report.status === "failed")
    assert(report.validationErrors.nonEmpty)
    assert(report.alertMessage.contains("FAILED"))
    // V5 parity detail: failed checks carry offending-id samples
    assert(report.validationErrors.exists(_.contains("first ")),
      s"expected sample ids in: ${report.validationErrors}")
  }

  test("strict-parity profile aborts on an amount-mismatched fixture like the reference DAG") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-strict-parity").toString
    // Fixture: C1 earns 100.00 then spends 30.00 — FIFO matches them 1:1
    // ignoring amounts, so V8 sees earned 100 ≠ spent 30 + remaining 0 and
    // the strict profile must abort (reference raises; default reports).
    // C2 balances exactly (earn 50, spend 50) and must NOT be flagged.
    val events = spark.createDataFrame(Seq(
      ("E1", "C1", 100.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "signup"),
      ("S1", "C1", 30.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "purchase"),
      ("E2", "C2", 50.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "signup"),
      ("S2", "C2", 50.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "purchase")))
      .toDF("event_id", "user_id", "value", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    events.write.parquet(s"$tmp/src/events.parquet")

    // a run releases what it persisted on every exit path, failures included
    // the session cache's entry count (numCachedEntries is private[sql])
    def cached(): Int = {
      val cm = spark.sharedState.cacheManager
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    }
    val cachedBefore = cached()
    val strict = ThrivePipeline.run(spark, s"$tmp/src",
      ThrivePipeline.Config.strictParity(s"$tmp/staging", s"$tmp/out", "20260813"))
    assert(strict.status === "failed")
    assert(cached() === cachedBefore, "the failed run left frames cached")
    assert(strict.alertMessage.contains("FAILED"))
    assert(strict.validationErrors.exists(e =>
      e.contains("balance equation mismatches: 1") && e.contains("C1") && !e.contains("C2")),
      s"expected exactly C1 flagged, got: ${strict.validationErrors}")

    // same data, default profile: reports success instead of aborting
    val lenient = ThrivePipeline.run(spark, s"$tmp/src",
      ThrivePipeline.Config(s"$tmp/staging2", s"$tmp/out2", "20260813"))
    assert(lenient.status === "success")
    assert(cached() === cachedBefore, "the successful run left frames cached")
  }

  test("source validation failures carry first-10 offending transaction ids") {
    val bad = tx(
      ("T1", "C1", 10.0, "2024-01-01", "earned"),
      ("T2", "C1", 5.0, "2024-01-02", "badtype"),
      ("T3", "C1", 5.0, "2024-01-03", "badtype"))
    val samples = graft.operators.Validators.sourceQualitySamples(bad, Seq("invalid_type_count"))
    assert(samples("invalid_type_count") === Seq("T2", "T3"))
  }
}
