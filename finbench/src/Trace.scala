package finbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-trigger progress of streaming queries, from Spark's public
  * `StreamingQueryListener`. Used untraced too: the replay's per-trigger
  * latency is `triggerExecution`. Progress events arrive on Spark's own
  * listener thread; [[awaitTerminated]] waits until a query's terminate
  * event, which the bus posts after all of that query's progress events. */
class ProgressLog extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val terminated = mutable.Set.empty[java.util.UUID]
  private val started = mutable.ArrayBuffer.empty[java.util.UUID]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { if (!started.contains(e.runId)) started += e.runId }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { terminated += e.runId; notifyAll() }

  /** Wait until every started query has posted its terminate event. */
  def awaitTerminated(timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (started.exists(r => !terminated(r)) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    started.forall(terminated)
  }

  def snapshot: Seq[StreamingQueryProgress] = synchronized(progress.toList)

  /** Forget what finished queries reported (the untimed warm-up replay). */
  def clear(): Unit = synchronized(progress.clear())
}

/** Spark work attributed to one span: job, stage and task counts plus the
  * task metrics the per-layer table reads. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** task durations (ms) per stage, for the skew ratio */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task time in the stage with the most total task time */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0 else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      if (med <= 0) ts.last.toDouble else ts.last.toDouble / med
    }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuMs,
    "scheduler_delay_ms" -> schedulerDelayMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "task_skew" -> taskSkew)
}

/** In-memory spans around the benchmark's calls into each layer, with Spark
  * counts attributed to them. Each span sets a job group before its call;
  * a `SparkListener` maps jobs to spans through that group. Jobs that run
  * under another group (a streaming query's micro-batches run under the
  * query's own) go to the innermost span open when they started. */
final class Tracer(spark: SparkSession, val runId: String) extends SparkListener {
  final case class Span(id: Int, name: String, parent: Int, start: Long) {
    var end: Long = 0L
  }

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  @volatile private var current = -1
  private val counts = mutable.Map.empty[Int, SparkCounts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var flushJob = -1
  private var flushed = false

  sc.addSparkListener(this)

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    current = s.id
    sc.setJobGroup(s"finbench-span-${s.id}", name, interruptOnCancel = false)
    try f
    finally {
      s.end = System.nanoTime()
      open = open.tail
      current = open.headOption.map(_.id).getOrElse(-1)
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"finbench-span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span whose bounds were observed elsewhere (streaming trigger times). */
  def addSpan(name: String, parent: Int, startNs: Long, endNs: Long): Unit = {
    val s = Span(spans.size, name, parent, startNs)
    s.end = endNs
    spans += s
  }

  def countsOf(spanIds: Iterable[Int]): SparkCounts = synchronized {
    val c = new SparkCounts
    spanIds.flatMap(counts.get).foreach { x =>
      c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks; c.runMs += x.runMs
      c.cpuMs += x.cpuMs; c.schedulerDelayMs += x.schedulerDelayMs
      c.shuffleWriteBytes += x.shuffleWriteBytes; c.spillBytes += x.spillBytes
      c.outputBytes += x.outputBytes
      x.taskMs.foreach { case (k, v) => c.taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    }
    c
  }

  /** Ids of the spans matching `pred` and of all their descendants. */
  def subtree(pred: Span => Boolean): Seq[Int] = {
    val roots = spans.filter(pred).map(_.id).toSet
    spans.filter { s =>
      var p = s.id
      while (p >= 0 && !roots(p)) p = spans(p).parent
      p >= 0
    }.map(_.id).toSeq
  }

  def seconds(pred: Span => Boolean): Double =
    spans.filter(pred).map(s => (s.end - s.start) / 1e9).sum

  /** Run one marker job and wait until its end event arrives: the listener
    * bus delivers events in order, so every earlier event has arrived too. */
  def flush(): Unit = {
    synchronized { flushed = false }
    sc.setJobGroup("finbench-flush", "flush", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (!flushed && System.currentTimeMillis() < deadline) wait(100)
    }
  }

  private def groupSpan(props: java.util.Properties): Int = {
    val g = Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g == null) current
    else if (g == "finbench-flush") -2
    else if (g.startsWith("finbench-span-")) g.stripPrefix("finbench-span-").toInt
    else current
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = groupSpan(e.properties)
    if (sp == -2) { flushJob = e.jobId; return }
    e.stageIds.foreach(st => stageSpan(st) = sp)
    if (sp >= 0) counts.getOrElseUpdate(sp, new SparkCounts).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == flushJob) { flushed = true; notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).filter(_ >= 0).foreach { sp =>
      counts.getOrElseUpdate(sp, new SparkCounts).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).filter(_ >= 0).foreach { sp =>
      val c = counts.getOrElseUpdate(sp, new SparkCounts)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
      c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var upTo = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo)
      if (b > lo) { covered += b - lo; upTo = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  def spansJson(origin: Long): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
      "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9,
      "self_s" -> selfSeconds(s), "spark" -> countsOf(Seq(s.id)).toMap)
  }
}
