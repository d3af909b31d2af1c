package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File-source replay staging for the streaming correctness gates.
  *
  * The round-3 harness fed replays through `MemoryStream`, which collects
  * the entire input table to the driver by construction. This helper keeps
  * the replay DISTRIBUTED end to end: the input frame is split into
  * `batches` event-time-range chunk files (each written by a Spark job —
  * the driver never materializes a row), and a `readStream` file source
  * with `maxFilesPerTrigger=1` replays them oldest-first, one micro-batch
  * per chunk. That is exactly the state-carry-over shape the gates
  * exercise, and the same files-on-a-landing-dir deployment shape a
  * production stream tails.
  *
  * Chunking is by event-time range (global min/max: one two-value
  * aggregate), so chunk k holds strictly earlier events than chunk k+1 —
  * arrival order stands in for event order across micro-batches, matching
  * the streaming operators' documented contract. Each chunk coalesces to
  * ONE file: if a chunk split into several part files the source would
  * turn each into its own micro-batch with an arbitrary relative order,
  * and event order across batches would be lost. File mtimes are set
  * strictly increasing (2 s apart) because the file source processes
  * oldest-mtime-first when `maxFilesPerTrigger` is set.
  *
  * The replay root (chunks + sink output + checkpoint) lives under
  * `java.io.tmpdir` and must outlive the staging call: the batch frames
  * returned by [[runToParquet]] read the sink files lazily. It is
  * registered with [[graft.RunHygiene.scratch]], so the runner's
  * end-of-query drain (which only fires AFTER the calling query's action)
  * or JVM exit deletes it — un-registered, every bench/verify round leaked
  * the full replay tree per streaming gate (round-11: 905 stale roots).
  */
object FileReplay {

  /** One replay's directory layout: `in/` chunk files (what the file
    * source tails), `out/` the parquet sink, `ckpt/` the checkpoint.
    * `tag` separates the sink/checkpoint of queries SHARING one staged
    * chunk set (the rollup and sessions gates replay the same `in/`). */
  final case class ReplayDirs(root: Path) {
    def in: Path = root.resolve("in")
    def out(tag: String = ""): Path = root.resolve(s"out$tag")
    def ckpt(tag: String = ""): Path = root.resolve(s"ckpt$tag")
  }

  private val epoch = LocalDateTime.of(1970, 1, 1, 0, 0)
  private def micros(t: LocalDateTime): Long = ChronoUnit.MICROS.between(epoch, t)
  private def fromMicros(u: Long): LocalDateTime = epoch.plus(u, ChronoUnit.MICROS)

  /** Where replay trees live. A replay's chunks, sink, and checkpoint are
    * EPHEMERAL BY CONSTRUCTION — the root is registered for deletion at
    * the caller's end-of-query drain (or JVM exit), so checkpoint
    * durability buys nothing here, and a RAM-backed filesystem keeps the
    * trees off the disk. It does not lift the per-trigger floor (550-650
    * ms a trigger on a 4-vCPU VM, 310-400 ms of it the state-store commit
    * of 4 partitions): that floor is not fsync, which costs about 0.4 ms
    * for a small file on the same VM's disk. Without Hadoop's native
    * library, Hadoop's local file system starts a `chmod` or `readlink`
    * child process for the checkpoint, state-store and sink files, about
    * 60 a trigger, on any local path, `/dev/shm` included. Override with
    * `-Dgraft.replay.tmpdir=<path>`; a production stream — whose
    * checkpoint must outlive the process — sets a durable path there
    * (this helper is the replay-gate harness, not the deployment
    * surface). */
  private[graft] val scratchBase: Path = {
    val shm = Path.of("/dev/shm")
    sys.props.get("graft.replay.tmpdir").map(Path.of(_))
      .orElse(Option(shm).filter(p => Files.isDirectory(p) && Files.isWritable(p)))
      .getOrElse(Path.of(System.getProperty("java.io.tmpdir")))
  }

  private def newReplayRoot(): Path =
    Files.createTempDirectory(scratchBase, "graft_replay_")

  /** Stage `df` (with a TIMESTAMP_NTZ event-time column `tsCol`) into
    * `batches` event-time-range chunk files, appending any `sentinels` as
    * their own strictly-later chunks (watermark-flush rows for append-mode
    * aggregations). If every timestamp is identical the range degenerates
    * and all rows land in the last chunk — still event-ordered, just fewer
    * effective batches. */
  def stageChunks(df: DataFrame, tsCol: String, batches: Int,
      sentinels: Seq[DataFrame] = Nil, ephemeral: Boolean = true): ReplayDirs = {
    // ephemeral (per-call) roots die at the caller's end-of-query drain;
    // session-memoized roots (stagedShared) must survive to later
    // consumers and die only at JVM exit
    val dirs = ReplayDirs(newReplayRoot())
    if (ephemeral) graft.RunHygiene.scratch(df.sparkSession, dirs.root.toString)
    else graft.RunHygiene.scratchAtExit(dirs.root.toString)
    Files.createDirectories(dirs.in)
    val src = df.persist()
    try {
      val mm = src.agg(min(col(tsCol)), max(col(tsCol))).head()
      val base = System.currentTimeMillis()
      if (mm.isNullAt(0)) {
        // empty input: one empty chunk keeps the schema on disk
        writeChunk(src, dirs.in, 0, base)
        sentinels.zipWithIndex.foreach { case (c, i) =>
          writeChunk(c, dirs.in, 1 + i, base)
        }
      } else {
        // ONE partitioned write stages every data chunk (was: `batches`
        // sequential coalesce(1) jobs, each a single-task scan of the whole
        // input — at 24 batches the staging cost dominated the gate). The
        // chunk id is the same integer boundary math as the old per-chunk
        // range filters, so each file holds the identical row SET; only the
        // within-file row ORDER changes (shuffle-fetch order instead of
        // cached-partition order), which no consumer observes: every
        // stateful fold sorts its batch (sortTx / foldAlertBatch), windowed
        // and sketch aggregations are commutative, the stream-stream join
        // is multiset-semantic, and the streaming-dedup gate pins survivor
        // counts, not identities.
        val lo = micros(mm.getAs[LocalDateTime](0))
        val span = micros(mm.getAs[LocalDateTime](1)) - lo + 1
        val bounds = (1 until batches).map(k => fromMicros(lo + span * k / batches))
        val rangeChunk = bounds.zipWithIndex
          .foldRight(lit(batches - 1): org.apache.spark.sql.Column) {
            case ((b, k), rest) => when(col(tsCol) < lit(b), k).otherwise(rest)
          }
        writeChunksOneJob(src.withColumn("_chunk", rangeChunk), src, batches,
          dirs.in, base)
        sentinels.zipWithIndex.foreach { case (c, i) =>
          writeChunk(c, dirs.in, batches + i, base)
        }
      }
    } finally src.unpersist()
    dirs
  }

  /** [[stageChunks]] with DELIBERATE lateness: rows matching `delay` are
    * pushed one chunk later than their event-time range assigns (rows
    * already in the last chunk stay put — nothing later exists to carry
    * them). The result is a replay where chunk k+1 contains rows whose
    * event times precede chunk k's entire range — the late-data shape the
    * retraction gates exercise. Chunk assignment happens in the plan (a
    * when-chain over the range boundaries), so staging stays one Spark
    * job per chunk with no driver-side rows. */
  def stageChunksDelayed(df: DataFrame, tsCol: String, batches: Int,
      delay: org.apache.spark.sql.Column,
      sentinels: Seq[DataFrame] = Nil): ReplayDirs = {
    val dirs = ReplayDirs(newReplayRoot())
    graft.RunHygiene.scratch(df.sparkSession, dirs.root.toString)
    Files.createDirectories(dirs.in)
    // same staging-window persist as stageChunks: one source scan, not
    // `batches` (order-preserving — see the comment there)
    val src = df.persist()
    try {
      val mm = src.agg(min(col(tsCol)), max(col(tsCol))).head()
      val chunked =
        if (mm.isNullAt(0)) src.withColumn("_chunk", lit(0))
        else {
          val lo = micros(mm.getAs[LocalDateTime](0))
          val span = micros(mm.getAs[LocalDateTime](1)) - lo + 1
          val bounds = (1 until batches).map(k => fromMicros(lo + span * k / batches))
          val rangeChunk = bounds.zipWithIndex.foldRight(lit(batches - 1): org.apache.spark.sql.Column) {
            case ((b, k), rest) => when(col(tsCol) < lit(b), k).otherwise(rest)
          }
          src.withColumn("_chunk",
            least(lit(batches - 1), rangeChunk + when(delay, 1).otherwise(0)))
        }
      val base = System.currentTimeMillis()
      // same one-job partitioned staging as stageChunks (and the same
      // within-chunk order argument — the retraction folds sort per batch)
      writeChunksOneJob(chunked, src, batches, dirs.in, base)
      // sentinel chunks ride strictly after the data chunks, exactly as in
      // stageChunks — watermark-flush rows for event-time timeouts
      sentinels.zipWithIndex.foreach { case (c, i) =>
        writeChunk(c, dirs.in, batches + i, base)
      }
    } finally src.unpersist()
    dirs
  }

  /** Stage every data chunk in ONE Spark job: `chunked` carries the chunk
    * id in `_chunk`; a hash repartition on it puts each chunk's rows in
    * exactly one task, and `partitionBy` gives one part file per chunk
    * directory. Chunk values the data never hits produce no directory, so
    * they are backfilled with schema-only empty files (an empty chunk
    * still has to EXECUTE as a micro-batch — the expiry gates' absent-user
    * semantics count it). File naming/mtime discipline matches
    * [[writeChunk]]. */
  private def writeChunksOneJob(chunked: DataFrame, schemaSrc: DataFrame,
      batches: Int, in: Path, base: Long): Unit = {
    val stage = in.resolve(".stage_all")
    chunked.repartition(col("_chunk"))
      .write.partitionBy("_chunk").mode("overwrite").parquet(stage.toString)
    var emptyTemplate: Option[Path] = None
    (0 until batches).foreach { k =>
      val dest = in.resolve(f"chunk_$k%05d.parquet")
      val dir = stage.resolve(s"_chunk=$k")
      if (Files.isDirectory(dir)) {
        val s = Files.list(dir)
        val part =
          try s.filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
          finally s.close()
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      } else emptyTemplate match {
        case Some(t) => Files.copy(t, dest, StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // first empty chunk pays one tiny job; later ones are file copies
          writeChunk(schemaSrc.limit(0), in, k, base)
          emptyTemplate = Some(dest)
      }
      dest.toFile.setLastModified(base + k * 2000L)
    }
    deleteRecursively(stage)
  }

  /** Write one chunk as a single parquet file with mtime base + 2k seconds
    * (the source's replay order). The staging dir is dot-prefixed so the
    * file source's listing never sees the in-flight write. */
  private def writeChunk(c: DataFrame, in: Path, k: Int, base: Long): Unit = {
    val stage = in.resolve(s".stage_$k")
    c.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = {
      val s = Files.list(stage)
      try s.filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
      finally s.close()
    }
    val dest = in.resolve(f"chunk_$k%05d.parquet")
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(stage)
    dest.toFile.setLastModified(base + k * 2000L)
  }

  /** The chunk-replaying stream: one staged file per micro-batch,
    * oldest first. */
  def stream(spark: SparkSession, schema: StructType, dirs: ReplayDirs): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dirs.in.toString)

  /** Drive `streamed` through a parquet sink until every staged chunk has
    * been processed, then return the batch read-back of the sink — the
    * distributed replacement for a driver-resident memory sink.
    *
    * A streaming query fixes its STATE partition count from
    * `spark.sql.shuffle.partitions` at first-batch time and every
    * micro-batch then commits every state partition; at gate scale 32
    * partitions × 5+ batches is pure state-store overhead, so the conf is
    * pinned to `statePartitions` for the (synchronous) lifetime of the
    * replay and restored before returning — the read-back frame is planned
    * by the caller after restore, so only the stream is affected. On a
    * real deployment the operator runs under the session's own sizing. */
  def runToParquet(streamed: DataFrame, dirs: ReplayDirs,
      statePartitions: Int = 8, tag: String = ""): DataFrame = {
    val spark = streamed.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // session override for the replay state sizing (sweeps, deployments
    // with different core counts); the 8-partition default is the round-14
    // sweep winner for the local gates
    val stateParts = spark.conf.getOption("graft.replay.statePartitions")
      .flatMap(_.toIntOption).getOrElse(statePartitions)
    val query =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
        streamed.writeStream.format("parquet")
          .option("path", dirs.out(tag).toString)
          .option("checkpointLocation", dirs.ckpt(tag).toString)
          .outputMode("append").start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try query.processAllAvailable() finally query.stop()
    spark.read.parquet(dirs.out(tag).toString)
  }

  private def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
