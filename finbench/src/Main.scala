package finbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.operators.{BalanceAnalytics, FifoMatcher, MatchedTx, Validators}
import graft.pipeline.ThrivePipeline
import graft.queries.BalanceQueries
import graft.sources.Tables
import graft.streaming.StreamingFifo

/** One benchmark workload in one fresh JVM. Started by `finbench/run.py`:
  *
  *   java ... finbench.Main --workload <name> --data <seed dir> --run <run dir>
  *     --master local[N] --seconds <s> --trace <0|1>
  *
  * The session gets the master, UI off, UTC and its scratch paths; every
  * sizing setting (shuffle partitions, AQE, replay state partitions) is the
  * program's own. Results go to `<run dir>/jvm_result.json` (metrics,
  * attempted and failed operations) plus the outputs the independent DuckDB
  * checker reads after this JVM has exited.
  */
object Main {
  /** replay chunks: one trigger each */
  val ReplayChunks = 40
  /** the untimed warm-up replay in `ledger_replay`'s setup: one customer in
    * `WarmupShare`, in `WarmupChunks` chunks */
  val WarmupShare = 20
  val WarmupChunks = 3
  /** timed query rounds (12 queries each) after the pipeline run in
    * `daily_batch`, and in `balance_queries` (the latencies; `run_s` there) */
  val DailyQueryRounds = 3
  val QueryRounds = 9
  val ExecutionDate = "20240401"
  val QueryNames: Seq[String] = (1 to 12).map(i => s"q$i")

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** The benchmark's own artifacts as JSON (json4s, which Spark ships). */
  def json(v: Map[String, Any]): String = Serialization.write(v)(DefaultFormats)

  /** A result cell as JSON sees it: timestamps and dates as strings. */
  def cell(v: Any): Any = v match {
    case t: java.time.LocalDateTime => t.format(tsFormat)
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFormat)
    case d: java.time.LocalDate => d.toString
    case d: java.sql.Date => d.toString
    case other => other
  }

  val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** seconds from JVM start to now */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  /** what a workload hands back: operations, JVM-side failures, metrics;
    * `pipelineFailed` tells the checker to skip the deliverables */
  final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
      metrics: Map[String, Double], layers: Map[String, Double] = Map.empty,
      pipelineFailed: Boolean = false)

  def main(args: Array[String]): Unit = {
    // halt rather than return: the run directory is thrown away after the
    // checks, so Spark's own shutdown adds nothing but time, and a failed
    // workload must not leave the JVM waiting on Spark's threads
    val code =
      try { runWorkload(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  private def runWorkload(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = opt("run")
    val trace = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(opt("master"))
      .appName("finbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark, java.util.UUID.randomUUID().toString)) else None
    val w = new Workloads(spark, opt("data"), run, opt("seconds").toDouble, tracer)
    val out = opt("workload") match {
      case "daily_batch" => w.dailyBatch()
      case "ledger_replay" => w.ledgerReplay()
      case "balance_queries" => w.balanceQueries()
      case other => sys.error(s"unknown workload $other")
    }
    val metrics = out.metrics + ("peak_rss_mb" -> peakRssMb())
    val layers = tracer.map { t =>
      val engine = w.engineLayers(t)
      w.writeTrace(t, opt("workload"))
      engine ++ out.layers
    }.getOrElse(Map.empty)
    Files.writeString(Paths.get(s"$run/jvm_result.json"), json(Map(
      "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors,
      "pipeline_failed" -> out.pipelineFailed, "metrics" -> metrics, "layers" -> layers)))
  }
}

final class Workloads(spark: SparkSession, data: String, run: String, seconds: Double,
    tracer: Option[Tracer]) {
  import Main._

  private def span[T](name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  private val rootSpans = scala.collection.mutable.Set.empty[String]
  private var rootCodegenMs = 0.0

  /** The workload's timed calls: engine-wide counts cover these spans only. */
  private def root[T](name: String)(f: => T): T = {
    rootSpans += name
    val c0 = codegenMs()
    try span(name)(f) finally rootCodegenMs += codegenMs() - c0
  }

  private def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val vs = h.getSnapshot.getValues
    if (h.getCount <= vs.length) vs.sum.toDouble else h.getSnapshot.getMean * h.getCount
  }

  /** engine-wide counts over the workload's timed calls, plus JVM totals */
  def engineLayers(t: Tracer): Map[String, Double] = {
    t.flush()
    val c = t.countsOf(t.subtree(s => rootSpans(s.name)))
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.scheduler_delay_ms" -> c.schedulerDelayMs.toDouble,
      "spark.executor_run_ms" -> c.runMs.toDouble, "spark.executor_cpu_ms" -> c.cpuMs,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.codegen_compile_ms" -> rootCodegenMs,
      "jvm.gc_s" -> gcMs / 1000.0,
      "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  /** what the trace file holds beside the spans */
  private var traceExtra = Map.empty[String, Any]

  def writeTrace(t: Tracer, workload: String): Unit = {
    val origin = t.spans.find(s => rootSpans(s.name)).map(_.start).getOrElse(0L)
    Files.writeString(Paths.get(s"$run/trace.json"), json(Map("run_id" -> t.runId,
      "workload" -> workload, "spans" -> t.spansJson(origin)) ++ traceExtra))
  }

  private def dirStats(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val files = s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  // ---------------------------------------------------------------- daily_batch

  /** The pipeline run (one operation, cold), then the analysts' queries over
    * the day's balances in the same process: `run_s` and `rows_per_s` are the
    * run's, the latencies the queries'. */
  def dailyBatch(): Outcome = {
    val cfg = ThrivePipeline.Config(s"$run/staging", s"$run/out", ExecutionDate)
    val (setup, runS, rows, errs, layers) = tracer match {
      case None =>
        val setup = sinceJvmStart()
        val t0 = System.nanoTime()
        val (rows, errs) =
          try {
            val report = ThrivePipeline.run(spark, data, cfg)
            (report.totalTransactions,
              if (report.status == "success") Nil else report.validationErrors)
          } catch { case e: Exception => (0L, Seq(s"ThrivePipeline.run: $e")) }
        (setup, (System.nanoTime() - t0) / 1e9, rows, errs, Map.empty[String, Double])
      case Some(t) => dailyBatchTraced(t, cfg)
    }
    val mix = new QueryMix
    mix.warmUp()
    val q = mix.timedRounds("queries", DailyQueryRounds, 0)
    Outcome(1 + q.done.size, (if (errs.isEmpty) 0 else 1) + q.failed, errs ++ q.errors,
      Map("setup_s" -> setup, "run_s" -> runS, "latency_p50_ms" -> q.p50,
        "rows_per_s" -> rows / runS),
      layers ++ q.layers, pipelineFailed = errs.nonEmpty)
  }

  /** The calls `ThrivePipeline.run` makes, in its order, each inside a span.
    * Matched and history frames are counted before they are written, so the
    * matching and window work lands in the fifo and analytics spans and the
    * writes read the cache. The program's own run follows on the same
    * inputs; its `RunReport` must agree and its stages are recorded beside
    * the spans. */
  private def dailyBatchTraced(t: Tracer, cfg: ThrivePipeline.Config)
      : (Double, Double, Long, Seq[String], Map[String, Double]) = {
    val mine = cfg.copy(stagingDir = s"$run/staging_trace", outputDir = s"$run/out_trace")
    val setup = sinceJvmStart()
    val origin = System.nanoTime()
    var rows = 0L
    val summary = root("daily_batch") {
      val stagingRoot = s"${mine.stagingDir}/${mine.executionDate}"
      val txns = t.span("sources") {
        val src = Tables.transactions(spark, data)
        src.write.mode(SaveMode.Overwrite).partitionBy("transaction_type")
          .parquet(s"$stagingRoot/transactions.parquet")
        val staged = spark.read.parquet(s"$stagingRoot/transactions.parquet")
          .select(src.columns.map(col).toIndexedSeq: _*)
        rows = staged.count()
        staged
      }
      t.span("validators.source") {
        val q = Validators.sourceQuality(txns).collect().head
        val failedChecks = Seq("null_transaction_id", "null_customer_id", "null_amount",
          "null_timestamp", "null_transaction_type", "non_numeric_amount",
          "invalid_type_count").filter(k => q.getAs[Long](k) > 0)
        Validators.sourceQualitySamples(txns, failedChecks)
      }
      val matched = t.span("fifo") {
        val m = FifoMatcher.matchTransactions(txns)
          .orderBy("CUSTOMERID", "CREATEDAT", "TRANS_ID")
          .persist(StorageLevel.MEMORY_AND_DISK)
        m.count()
        m
      }
      t.span("sink.matched") {
        matched.write.mode(SaveMode.Overwrite).parquet(s"${mine.outputDir}/tc_data_with_redemptions.parquet")
        matched.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
          .csv(s"${mine.outputDir}/tc_data_with_redemptions.csv")
      }
      t.span("validators.results") {
        Validators.invalidRedeemIds(matched).count()
        Validators.balanceEquation(matched, mine.tolerance).filter(!col("balanced")).count()
        matched.count()
      }
      val history = t.span("analytics") {
        val h = BalanceAnalytics.balanceHistory(matched)
          .orderBy("customer_id", "transaction_date", "transaction_id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        h.count()
        h
      }
      val current = BalanceAnalytics.currentBalances(history)
      t.span("sink.analytics") {
        history.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
          .csv(s"${mine.outputDir}/customer_balance_history.csv")
        current.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
          .csv(s"${mine.outputDir}/customer_current_balances.csv")
      }
      val (s, top) = t.span("analytics.report") {
        (BalanceAnalytics.reportSummary(matched, current).collect().head,
          BalanceAnalytics.topBalances(current).collect().toSeq)
      }
      t.span("sink.report") {
        Files.writeString(Paths.get(s"${mine.outputDir}/analytics_report.json"),
          json(Map("summary" -> s.getValuesMap[Any](s.schema.fieldNames.toSeq).view.mapValues(cell).toMap,
            "top" -> top.map(_.toSeq.map(cell)))))
      }
      history.unpersist()
      matched.unpersist()
      s
    }
    val runS = (System.nanoTime() - origin) / 1e9
    val report = t.span("program.run")(ThrivePipeline.run(spark, data, cfg))
    t.flush()
    val errs = Seq(
      "total_transactions" -> (summary.getAs[Long]("total_transactions") == report.totalTransactions),
      "matching_records_count" -> (summary.getAs[Long]("matching_records_count") == report.matchedCount),
      "total_customers" -> (summary.getAs[Long]("total_customers") == report.totalCustomers),
      "total_current_balance" ->
        (math.abs(summary.getAs[Double]("total_current_balance") - report.totalCurrentBalance) < 0.01))
      .collect { case (k, false) => s"traced calls disagree with ThrivePipeline.run on $k" } ++
      (if (report.status == "success") Nil else report.validationErrors)
    def spansNamed(p: String => Boolean) = t.subtree(s => p(s.name))
    val fifo = t.countsOf(spansNamed(_ == "fifo"))
    val analytics = t.countsOf(spansNamed(_.startsWith("analytics")))
    val (bytes, files) = dirStats(mine.outputDir)
    val layers = Map(
      "sources.ingest_s" -> t.seconds(_.name == "sources"),
      "sources.rows" -> rows.toDouble,
      "validators.source_s" -> t.seconds(_.name == "validators.source"),
      "validators.results_s" -> t.seconds(_.name == "validators.results"),
      "validators.jobs" -> t.countsOf(spansNamed(_.startsWith("validators"))).jobs.toDouble,
      "fifo.match_s" -> t.seconds(_.name == "fifo"),
      "fifo.tasks" -> fifo.tasks.toDouble,
      "fifo.shuffle_bytes" -> fifo.shuffleWriteBytes.toDouble,
      "fifo.task_skew" -> fifo.taskSkew,
      "analytics.s" -> t.seconds(_.name.startsWith("analytics")),
      "analytics.tasks" -> analytics.tasks.toDouble,
      "analytics.shuffle_bytes" -> analytics.shuffleWriteBytes.toDouble,
      "pipeline.sink_s" -> t.seconds(_.name.startsWith("sink.")),
      "pipeline.bytes_written" -> bytes.toDouble,
      "pipeline.files_written" -> files.toDouble)
    traceExtra = Map("traced_run_s" -> runS,
      "program_stages" -> report.stages.map(s =>
        Map("stage" -> s.stage, "rows" -> s.rows, "seconds" -> s.seconds)))
    (setup, runS, rows, errs, layers)
  }

  // -------------------------------------------------------------- ledger_replay

  def ledgerReplay(): Outcome = {
    val progressLog = new ProgressLog
    spark.streams.addListener(progressLog)
    val txns = Tables.transactions(spark, data)
    // warm-up, untimed: the same call over a twentieth of the customers, so
    // the process's first streaming query, state-store and file-system calls
    // and their compiles are not timed
    StreamingFifo.replayLedger(
      txns.filter(pmod(hash(col("customer_id")), lit(WarmupShare)) === 0), WarmupChunks).count()
    if (!progressLog.awaitTerminated(30000)) sys.error("warm-up replay never reported termination")
    progressLog.clear()
    val setup = sinceJvmStart()
    val callMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ledger, err) =
      try root("ledger_replay") {
        val l = StreamingFifo.replayLedger(txns, ReplayChunks)
        l.count()
        (l, None)
      } catch { case e: Exception => (null, Some(s"replayLedger: $e")) }
    val endMs = System.currentTimeMillis()
    val runS = (System.nanoTime() - t0) / 1e9
    if (!progressLog.awaitTerminated(30000)) sys.error("streaming query never reported termination")
    val progress = progressLog.snapshot
    def phase(k: String): Seq[Double] =
      progress.flatMap(p => Option(p.durationMs.get(k))).map(_.doubleValue)
    val trig = phase("triggerExecution")
    val inputRows = progress.map(_.numInputRows).sum
    if (ledger != null)
      ledger.write.mode(SaveMode.Overwrite).parquet(s"$run/replay_ledger.parquet")
    val metrics = Map(
      "setup_s" -> setup, "run_s" -> runS,
      "latency_p50_ms" -> quantile(trig, 0.5),
      "rows_per_s" -> (if (trig.isEmpty) 0.0 else inputRows / (trig.sum / 1000.0)))
    val layers = tracer.map { t =>
      t.flush()
      val epochMs = (p: org.apache.spark.sql.streaming.StreamingQueryProgress) =>
        java.time.Instant.parse(p.timestamp).toEpochMilli
      val firstMs = progress.headOption.map(epochMs).getOrElse(callMs)
      val lastEndMs = progress.lastOption
        .map(p => epochMs(p) + p.durationMs.get("triggerExecution").longValue).getOrElse(endMs)
      val ops = progress.flatMap(_.stateOperators.headOption)
      val root = t.spans.find(_.name == "ledger_replay").get
      val ns = (ms: Long) => t0 + (ms - callMs) * 1000000L
      t.addSpan("replay.stage", root.id, t0, ns(firstMs))
      t.addSpan("replay.triggers", root.id, ns(firstMs), ns(lastEndMs))
      t.addSpan("replay.readback", root.id, ns(lastEndMs), root.end)
      traceExtra = Map("traced_run_s" -> runS,
        "triggers" -> progress.map(p => Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state" -> p.stateOperators.map(o => Map("rows" -> o.numRowsTotal,
            "commit_ms" -> o.commitTimeMs, "memory_bytes" -> o.memoryUsedBytes,
            "partitions" -> o.numShufflePartitions)))))
      Map(
        "replay.stage_s" -> (firstMs - callMs) / 1000.0,
        "replay.readback_s" -> (endMs - lastEndMs) / 1000.0,
        "replay.triggers" -> progress.size.toDouble,
        "replay.state_partitions" -> ops.lastOption.map(_.numShufflePartitions.toDouble).getOrElse(0.0),
        "replay.addBatch_ms_p50" -> quantile(phase("addBatch"), 0.5),
        "replay.queryPlanning_ms_p50" -> quantile(phase("queryPlanning"), 0.5),
        "replay.walCommit_ms_p50" -> quantile(phase("walCommit"), 0.5),
        "replay.commitOffsets_ms_p50" -> quantile(phase("commitOffsets"), 0.5),
        "replay.latestOffset_ms_p50" -> quantile(phase("latestOffset"), 0.5),
        "replay.state_commit_ms_p50" -> quantile(ops.map(_.commitTimeMs.toDouble), 0.5),
        "replay.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "replay.state_bytes" -> ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "replay.tasks" -> t.countsOf(t.subtree(_.name == "ledger_replay")).tasks.toDouble)
    }.getOrElse(Map.empty)
    Outcome(ReplayChunks, if (err.isEmpty) 0 else ReplayChunks, err.toSeq, metrics, layers)
  }

  // ------------------------------------------------------------ balance_queries

  private implicit val formats: Formats = DefaultFormats

  final case class Done(round: Int, q: String, ms: Double, planMs: Double,
      rows: Seq[Seq[Any]], err: Option[String])

  /** What the timed rounds of a [[QueryMix]] hand back. */
  final case class Queries(done: Seq[Done], fixedRounds: Int, seconds: Double,
      layers: Map[String, Double]) {
    /** the first `fixedRounds` rounds: the latencies, and `seconds` */
    val timed: Seq[Done] = done.filter(_.round < fixedRounds)
    def p50: Double = quantile(timed.map(_.ms), 0.5)
    def p90: Double = quantile(timed.map(_.ms), 0.9)
    def failed: Long = done.count(_.err.nonEmpty).toLong
    def errors: Seq[String] = done.flatMap(_.err)
  }

  /** The analysts' traffic: Q1-Q12 through `BalanceQueries`, each query in
    * turn, over the generator's history and current-balances tables, with
    * fresh customers and as-of dates per round from the seed's parameters.
    * Every answer goes to `queries.jsonl` for the checker. */
  final class QueryMix {
    val history = spark.read.parquet(s"$data/history.parquet")
    val current = spark.read.parquet(s"$data/current.parquet")
    checkSchemas(history, current)
    private val params =
      JsonMethods.parse(new String(Files.readAllBytes(Paths.get(s"$data/params.json")), "UTF-8"))
    private val JArray(warmup) = params \ "warmup"
    private val JArray(rounds) = params \ "rounds"

    private def build(q: String, p: JValue): DataFrame = {
      def s(k: String) = (p \ k).extract[String]
      q match {
        case "q1" => BalanceQueries.q1BalanceAsOf(history, (p \ "customers").extract[Seq[String]], s("as_of"))
        case "q2" => BalanceQueries.q2CurrentBalance(current, (p \ "customers").extract[Seq[String]])
        case "q3" => BalanceQueries.q3History(history, s("customer"))
        case "q4" => BalanceQueries.q4MonthEnd(history, s("customer"))
        case "q5" => BalanceQueries.q5AboveThreshold(history, s("as_of"), (p \ "threshold").extract[Double])
        case "q6" => BalanceQueries.q6BalanceChange(history, s("customer"), s("start"), s("end"))
        case "q7" => BalanceQueries.q7TopBalances(history, s("as_of"))
        case "q8" => BalanceQueries.q8ZeroBalance(history, s("as_of"))
        case "q9" => BalanceQueries.q9BalanceStats(history, s("as_of"))
        case "q10" => BalanceQueries.q10DayTransactions(history, s("customer"), s("day"))
        case "q11" => BalanceQueries.q11DailySnapshots(history, s("customer"), s("from"), s("until"))
        case "q12" => BalanceQueries.q12NeverSpent(current)
      }
    }

    private def one(round: Int, q: String, p: JValue): Done = {
      val t0 = System.nanoTime()
      try {
        val df = build(q, p)
        val rows = span(s"queries.$q")(df.collect())
        val ms = (System.nanoTime() - t0) / 1e6
        val plan = Seq("analysis", "optimization", "planning")
          .flatMap(df.queryExecution.tracker.phases.get).map(_.durationMs).sum.toDouble
        Done(round, q, ms, plan, rows.toSeq.map(_.toSeq.map(cell)), None)
      } catch {
        case e: Exception => Done(round, q, (System.nanoTime() - t0) / 1e6, 0, Nil, Some(s"$q: $e"))
      }
    }

    /** one untimed round, not checked */
    def warmUp(): Unit = warmup.foreach(p => QueryNames.foreach(q => one(-1, q, p \ q)))

    /** Whole rounds inside root span `name` until `fixedRounds` rounds and
      * `floorS` seconds have passed. */
    def timedRounds(name: String, fixedRounds: Int, floorS: Double): Queries = {
      val t0 = System.nanoTime()
      val done = scala.collection.mutable.ArrayBuffer.empty[Done]
      var fixedS = 0.0
      root(name) {
        var r = 0
        while (r < fixedRounds || (System.nanoTime() - t0) / 1e9 < floorS) {
          val p = rounds(r % rounds.size)
          QueryNames.foreach(q => done += one(r, q, p \ q))
          r += 1
          if (r == fixedRounds) fixedS = (System.nanoTime() - t0) / 1e9
        }
      }
      Files.write(Paths.get(s"$run/queries.jsonl"), done.map(d => json(Map(
        "round" -> d.round, "q" -> d.q, "ms" -> d.ms, "error" -> d.err.orNull, "rows" -> d.rows))).asJava)
      val out = Queries(done.toSeq, fixedRounds, fixedS, Map.empty)
      out.copy(layers = tracer.map { t =>
        t.flush()
        val rootId = t.spans.find(_.name == name).get.id
        val per = QueryNames.map(q =>
          t.countsOf(t.subtree(s => s.name == s"queries.$q" && s.parent == rootId)))
        val n = done.size.toDouble
        Map(
          "queries.plan_ms_p50" -> quantile(out.timed.map(_.planMs), 0.5),
          "queries.exec_ms_p50" -> quantile(out.timed.map(d => d.ms - d.planMs), 0.5),
          "queries.jobs_per_query" -> per.map(_.jobs).sum / n,
          "queries.tasks_per_query" -> per.map(_.tasks).sum / n) ++
          QueryNames.map(q => f"queries.q${q.drop(1).toInt}%02d_ms" ->
            quantile(out.timed.filter(_.q == q).map(_.ms), 0.5))
      }.getOrElse(Map.empty))
    }
  }

  /** One client in a closed loop in a fresh process: a warm-up round in
    * setup, then whole rounds until QueryRounds rounds and `seconds`. */
  def balanceQueries(): Outcome = {
    val mix = new QueryMix
    val tableRows = Map("history" -> mix.history.count(), "current" -> mix.current.count())
    mix.warmUp()
    val setup = sinceJvmStart()
    val q = mix.timedRounds("balance_queries", QueryRounds, seconds)
    def rowsRead(name: String) = tableRows(if (name == "q2" || name == "q12") "current" else "history")
    Outcome(q.done.size, q.failed, q.errors,
      Map("setup_s" -> setup, "run_s" -> q.seconds, "latency_p50_ms" -> q.p50,
        "latency_p90_ms" -> q.p90, "rows_per_s" -> q.timed.map(d => rowsRead(d.q)).sum / q.seconds),
      q.layers)
  }

  /** The generated tables must have exactly the columns and types the
    * program's own analytics produce. */
  private def checkSchemas(history: DataFrame, current: DataFrame): Unit = {
    val empty = spark.createDataFrame(java.util.List.of[Row](), Encoders.product[MatchedTx].schema)
    val h = BalanceAnalytics.balanceHistory(empty)
    val c = BalanceAnalytics.currentBalances(h)
    def cols(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    Seq(("history", history, h), ("current", current, c)).foreach { case (n, got, want) =>
      if (cols(got) != cols(want))
        sys.error(s"generated $n table schema ${cols(got)} differs from the program's ${cols(want)}")
    }
  }
}
