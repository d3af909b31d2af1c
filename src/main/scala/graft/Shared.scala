package graft

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext, Future, Promise, TimeoutException}
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}

/** The one registry of session-shared frames and memos: every
  * ETL-once/query-many value (the reference stages its matched ledger and
  * balance history once for all downstream queries,
  * src/thrive_cash_processing_dag.py:257) is built through [[get]]:
  *
  *  - '''Key:''' the session, a tag, the parameters, the input's
  *    canonicalized plan, and the (path, size, mtime) of every file that
  *    plan scans. The plan alone is no identity: a file index compares
  *    equal on its root paths, so a file appended under a memoized root
  *    would hit the old entry.
  *  - '''One build per key, under that key's own lock:''' the cell is made
  *    inside the map's atomic insert and built outside it, so independent
  *    keys build concurrently and a build may get other keys (a nested
  *    `computeIfAbsent` throws "Recursive update"). A build that throws
  *    leaves no entry; the next get rebuilds.
  *  - '''Lifetime:''' every access first drops the entries whose
  *    SparkContext has stopped (the [[RunHygiene]] sweep rule). Nothing is
  *    registered on a session that never uses the registry. An entry got
  *    through [[latest]] also ends when the same input is rebuilt for a new
  *    file listing.
  */
object Shared {

  private[graft] final case class Key(session: SparkSession, tag: String, params: Seq[Any],
      plan: LogicalPlan, files: Seq[(String, Long, Long)])

  private final class Cell {
    private var value: Option[Any] = None
    @volatile var failed = false

    /** The value, built on first use; None once a build on this cell has
      * thrown (the caller then retries on a fresh cell). */
    def apply(build: => Any): Option[Any] = synchronized {
      if (!failed && value.isEmpty)
        try value = Some(build) catch { case e: Throwable => failed = true; throw e }
      value
    }

    /** The value if a build has finished (waits for a running one). */
    def built: Option[Any] = synchronized(value)
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()

  /** The value shared under (`tag`, `input`, `params`) in `input`'s
    * session, running `build` only if no live entry has that key. */
  def get[T](tag: String, input: DataFrame, params: Any*)(build: => T): T = {
    sweep()
    getOrBuild(keyOf(tag, input, params), build).asInstanceOf[T]
  }

  /** [[get]] that keeps one entry per session, tag, parameters and input
    * plan: before `build` runs for a new file listing of the same input
    * roots (the next day's rewrite under one path), the entries built for
    * the listings it replaces are dropped and their values handed to
    * `release`. A session that re-reads a rewritten table then holds one
    * value for it, not one per listing. Releasing first matters for
    * persisted values: Spark's cache matches plans, not listings, so a new
    * `persist()` of a plan still cached for the old listing would be
    * served the old listing's rows. */
  def latest[T](tag: String, input: DataFrame, params: Any*)(build: => T)(
      release: T => Unit): T = {
    sweep()
    val key = keyOf(tag, input, params)
    if (!cells.containsKey(key)) cells.forEach { (k, cell) =>
      if (k.tag == tag && k.files != key.files && k.copy(files = key.files) == key &&
          cells.remove(k, cell))
        cell.built.foreach(old => release(old.asInstanceOf[T]))
    }
    getOrBuild(key, build).asInstanceOf[T]
  }

  private def keyOf(tag: String, input: DataFrame, params: Seq[Any]): Key = {
    val plan = input.queryExecution.analyzed
    Key(input.sparkSession, tag, params, plan.canonicalized, scannedFiles(plan))
  }

  @annotation.tailrec
  private def getOrBuild(key: Key, build: => Any): Any = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    val v = try cell(build) finally if (cell.failed) cells.remove(key, cell)
    v match {
      case Some(x) => x
      case None => getOrBuild(key, build)
    }
  }

  /** The keys of the live entries (after the stopped-session sweep). */
  private[graft] def keys: Seq[Key] = {
    sweep()
    cells.keySet.toArray(Array.empty[Key]).toSeq
  }

  private def sweep(): Unit = cells.keySet.removeIf(_.session.sparkContext.isStopped)

  /** (path, size, mtime) of every file `plan` scans, sorted. A listing
    * index reports the statuses it listed when the frame was made; any
    * other file index reports its paths with unknown size and mtime. */
  private def scannedFiles(plan: LogicalPlan): Seq[(String, Long, Long)] =
    plan.collectWithSubqueries { case r: LogicalRelation => r.relation }.flatMap {
      case fs: HadoopFsRelation => fs.location match {
        case idx: PartitioningAwareFileIndex =>
          idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        case idx => idx.inputFiles.toSeq.map(p => (p, -1L, -1L))
      }
      case _ => Nil
    }.sorted

  /** How long [[buildConcurrently]] waits: it must fire before an outer
    * timeout (the Tier-1 command allows 2,670 s) kills the JVM with no
    * diagnostic. The longest shared build takes about 20 s at sf0.1. */
  val BuildDeadline: FiniteDuration = 30.minutes

  /** Work running under a name, started by [[startThread]] or
    * [[buildConcurrently]] and waited for by [[awaitAll]]. `done` completes
    * with the work's outcome, a fatal throwable included, so a waiter sees
    * every failure at once instead of at its deadline. */
  final class Running private[Shared] (val name: String) {
    private val promise = Promise[Unit]()
    def done: Future[Unit] = promise.future

    private[Shared] def body(work: () => Any): Runnable = () =>
      try { work(); promise.success(()) }
      catch { case t: Throwable => promise.failure(t); if (!NonFatal(t)) throw t }
  }

  /** Start `work` under `name` on a new daemon thread. A new thread
    * inherits the caller's Spark local properties (job group, scheduler
    * pool), so its jobs are attributed like the caller's; a pooled thread
    * keeps those of whichever thread created it. */
  def startThread(name: String)(work: => Any): Running = {
    val r = new Running(name)
    val t = new Thread(r.body(() => work), name)
    t.setDaemon(true)
    t.start()
    r
  }

  /** Wait for all of `work` until `deadline`. A failure propagates; work
    * still running at the deadline fails the wait with an
    * IllegalStateException that names it after `what`. */
  def awaitAll(work: Seq[Running], deadline: Deadline, what: String): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    try Await.result(Future.sequence(work.map(_.done)), deadline.timeLeft)
    catch {
      case _: TimeoutException =>
        val stuck = work.collect { case r if !r.done.isCompleted => r.name }
        throw new IllegalStateException(s"$what: ${stuck.mkString(", ")}")
    }
  }

  /** Run independent named builds concurrently and wait for all of them
    * (guide §2.6: each build's task tail backfills the others' idle
    * cores). A failure propagates; a build still running at `deadline`
    * fails the wait with an error that names it. */
  def buildConcurrently(builds: Seq[(String, () => Any)],
      deadline: FiniteDuration = BuildDeadline): Unit = {
    val running = builds.map { case (name, b) =>
      val r = new Running(name)
      ExecutionContext.global.execute(r.body(b))
      r
    }
    awaitAll(running, deadline.fromNow, s"shared builds still running after $deadline")
  }
}
