package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Storage hygiene for many-query sessions (Bench / Verify run 70 queries
  * in one SparkSession).
  *
  * Operators persist their stage tables (shingle sets, packed blocks,
  * fingerprints) for reuse WITHIN one query plan; nothing can unpersist
  * them at the right time from inside a lazy DataFrame. Left alone, 70
  * queries accumulate every such cache in the storage pool — harmless on
  * an idle 128 GiB box, but under memory pressure it turns into
  * eviction/GC churn that inflates exactly the allocation-heavy queries.
  *
  * Operators register their per-query caches here ([[stage]]); runners
  * drop them once the query's action completes ([[drainStages]]). Cleanup
  * goes through `Dataset.unpersist` — NOT `rdd.unpersist` — so the SQL
  * CacheManager entry is removed too: killing only the RDD leaves a dead
  * CacheManager entry that silently turns every later `persist()` of the
  * same plan into a no-op that recomputes per access.
  *
  * The session-lived shared frames and memos ([[Shared]] entries: the
  * matched ledger / balance history, the shared pair and ranking
  * checkpoints) are deliberately NOT registered, so a drain can never
  * evict them.
  */
object RunHygiene {
  // Frames must be held STRONGLY: a drain right after a query's action has
  // to find them, and a weak value could be collected in the gap between
  // action and drain, silently skipping the unpersist. The buffered
  // DataFrames reference their SparkSession, so the map key can never be
  // weakly collected while its entry lives — the no-eternal-pinning
  // guarantee therefore comes from [[sweep]], not from key weakness: every
  // track/drain drops entries whose session has STOPPED, so a session that
  // ends without draining is released at the next touch of RunHygiene from
  // anywhere (and a live session's entry is bookkeeping only — a buffer of
  // plan references, not extra cached data; the caches exist regardless,
  // draining is what frees them early).
  private val pool =
    new java.util.HashMap[org.apache.spark.sql.SparkSession, scala.collection.mutable.Buffer[DataFrame]]

  private def sweep(): Unit = {
    val it = pool.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
  }

  /** Persist a per-query stage table (MEMORY_AND_DISK) and register it for
    * the next [[drainStages]]. */
  def stage(df: DataFrame): DataFrame = track(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** True when `df` is already materialized by its owner — persisted, or a
    * localCheckpoint (LogicalRDD). Operators that persist+unpersist their
    * input internally must use such a frame AS-IS: re-persisting and then
    * unpersisting a plan `sameResult` to a session-shared cache entry
    * REMOVES that entry from the CacheManager (measured: an identity
    * projection staged by one gate silently killed the shared frame for
    * every later gate, turning cache hits into full recomputes). */
  def preMaterialized(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE ||
      df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** [[stage]] unless the frame is already materialized by its owner
    * (see [[preMaterialized]]) — operators whose stage table may arrive as
    * a session-shared checkpoint use it AS-IS instead of re-persisting
    * (and later draining) a copy of frozen blocks. */
  def stageOrReuse(df: DataFrame): DataFrame =
    if (preMaterialized(df)) df else stage(df)

  /** Register an already-persisted frame for the next [[drainStages]]. */
  def track(df: DataFrame): DataFrame = synchronized {
    sweep()
    var b = pool.get(df.sparkSession)
    if (b == null) {
      b = scala.collection.mutable.Buffer.empty
      pool.put(df.sparkSession, b)
    }
    b += df
    df
  }

  /** Unpersist every stage table registered since the last drain.
    * Double-unpersist (an operator already cleaned up internally) is a
    * no-op, and frames persisted by a failed query drain safely. Run-scoped
    * scratch directories registered via [[scratch]] are deleted here too —
    * after the query's action, so the lazy read that materialized them has
    * already happened. */
  def drainStages(spark: org.apache.spark.sql.SparkSession): Unit = {
    val drained = synchronized { sweep(); pool.remove(spark) }
    if (drained != null) drained.foreach(_.unpersist(blocking = false))
    val dirs = scratchLock.synchronized {
      val (mine, rest) = scratchPool.partition(_._1 eq spark)
      scratchPool = rest
      mine.map(_._2)
    }
    dirs.foreach(deleteRecursively)
  }

  // ---- run-scoped scratch directories --------------------------------
  // Operators that stage a per-run UUID directory (incremental-dedup
  // rebuild index, schema-evolution run dir, executed layout rewrites)
  // register it here; the runner's drain deletes it once the query's
  // action completes. Fresh UUID paths are never overwritten, so without
  // this every bench/verify round leaked the full staged tree into
  // java.io.tmpdir (round-10 advice measured 9+ GB of it). A JVM shutdown
  // hook sweeps whatever a drain never reached (spec JVMs don't drain).
  private val scratchLock = new Object
  private var scratchPool =
    List.empty[(org.apache.spark.sql.SparkSession, java.nio.file.Path)]
  private lazy val shutdownHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val dirs = scratchLock.synchronized {
        val d = scratchPool.map(_._2) ++ exitPool
        scratchPool = Nil; exitPool = Nil; d
      }
      dirs.foreach(deleteRecursively)
    }))

  /** Register a run-scoped scratch directory for deletion at the next
    * [[drainStages]] of `spark` (or JVM exit, whichever comes first).
    * Returns the path unchanged so call sites stay one-liners. */
  def scratch(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    shutdownHookInstalled
    scratchLock.synchronized {
      scratchPool = (spark, java.nio.file.Paths.get(path)) :: scratchPool
    }
    path
  }

  /** Register a SESSION-MEMOIZED scratch directory for deletion at JVM
    * exit only — never by a per-query drain. For staged trees a session
    * cache hands to multiple later queries (the shared streaming chunk
    * sets): draining those after the first consumer would hand the second
    * consumer a deleted path. Bounded by the memo's own key space. */
  def scratchAtExit(path: String): String = {
    shutdownHookInstalled
    scratchLock.synchronized {
      exitPool = java.nio.file.Paths.get(path) :: exitPool
    }
    path
  }
  private var exitPool = List.empty[java.nio.file.Path]

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => try java.nio.file.Files.deleteIfExists(f) catch { case _: Throwable => () })
        finally walk.close()
      }
    } catch { case _: Throwable => () } // cleanup must never fail a run

  /** Collision-proof key for staging/index paths derived from a source
    * dir: 64 bits of the md5 of the ABSOLUTE path. The previous
    * `Integer.toHexString(dir.hashCode)` key was 32 bits of a weak string
    * hash — a collision between two source dirs in one JVM would have
    * silently reused another dataset's staging tree with no error. */
  def pathKey(sourceDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(sourceDir).getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
}
