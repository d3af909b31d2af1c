package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The [[Shared]] registry's rules: one build per key, per-key locks
  * (independent and nested builds do not wait on each other), no entry
  * after a failed build, keys that see appended input files, no entry left
  * by a stopped session, and a bounded wait on concurrent builds. */
class SharedSpec extends AnyFunSuite {
  import TestSpark._

  // a fresh parameter per call keeps each case's keys apart from every
  // other case's (and from a re-run in the same JVM)
  private def fresh(): String = java.util.UUID.randomUUID().toString
  private def input = spark.range(4).toDF()

  private def inPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutorService(pool))
    finally pool.shutdownNow()
  }

  test("N threads getting one key build it once") {
    val id = fresh()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val got = inPool(8) { implicit ec =>
      val fs = (1 to 8).map(_ => Future {
        start.await()
        Shared.get("spec_once", input, id) {
          builds.incrementAndGet(); Thread.sleep(200); new Object
        }
      })
      start.countDown()
      Await.result(Future.sequence(fs), 60.seconds)
    }
    assert(builds.get === 1)
    assert(got.distinct.size === 1, "every getter must see the one built value")
  }

  test("two keys build concurrently: A waits on a latch only B's build releases") {
    val id = fresh()
    val aStarted = new CountDownLatch(1)
    val released = new CountDownLatch(1)
    val (a, b) = inPool(2) { implicit ec =>
      val fa = Future(Shared.get("spec_a", input, id) {
        aStarted.countDown()
        released.await(30, TimeUnit.SECONDS)
      })
      assert(aStarted.await(30, TimeUnit.SECONDS))
      val fb = Future(Shared.get("spec_b", input, id) { released.countDown(); "b" })
      (Await.result(fa, 60.seconds), Await.result(fb, 60.seconds))
    }
    assert(a === true, "A's build timed out: B's build could not run while A held a lock")
    assert(b === "b")
  }

  test("a build may get another key (nested builds)") {
    val id = fresh()
    val outer = Shared.get("spec_outer", input, id) {
      Shared.get("spec_inner", input, id)(21) * 2
    }
    assert(outer === 42)
    assert(Shared.get("spec_inner", input, id)(0) === 21)
  }

  test("a build that throws leaves no entry, and the next get rebuilds") {
    val id = fresh()
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Shared.get("spec_fail", input, id) {
        builds.incrementAndGet(); throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(!Shared.keys.exists(k => k.tag == "spec_fail" && k.params == Seq(id)))
    assert(Shared.get("spec_fail", input, id) { builds.incrementAndGet(); "ok" } === "ok")
    assert(builds.get === 2)
  }

  test("appending a parquet file under a memoized input root retrains the quantizer") {
    import spark.implicits._
    val emb = (0L until 24L).map(i =>
      (i, Seq.tabulate(64)(j => ((i * 31 + j * 7) % 17 - 8).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_shared_spec_").toString
    try {
      emb.filter(col("vec_id") >= 8).write.mode("overwrite").parquet(dir)
      val first = Similarity.lloydCentroids(spark.read.parquet(dir), 8, 3)
      emb.filter(col("vec_id") < 8).write.mode("append").parquet(dir)
      val second = Similarity.lloydCentroids(spark.read.parquet(dir), 8, 3)
      assert(second !== first, "the appended file did not change the key: stale centroids")
      assert(second === Similarity.lloydCentroids(emb, 8, 3),
        "the retrained centroids must equal a training over the same rows")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a stopped session leaves zero entries (child JVM)") {
    // Stopping a context is process-wide, so the session is made, used,
    // and stopped in a child JVM on this test classpath.
    val javaBin = new java.io.File(System.getProperty("java.home"), "bin/java").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx1g", "-cp", System.getProperty("java.class.path")) ++
      jvmArgs ++ Seq(SharedStopProbe.getClass.getName.stripSuffix("$"))
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out ++= l + "\n", _ => ()))
    assert(code === 0, out.toString)
    assert(out.toString.contains("entries before stop: 2"), out.toString)
    assert(out.toString.contains("entries after stop: 0"), out.toString)
  }

  test("a build still running at the deadline fails the wait and is named") {
    val latch = new CountDownLatch(1)
    try {
      val e = intercept[IllegalStateException] {
        Shared.buildConcurrently(Seq(
          "quick_build" -> (() => ()),
          "stuck_build" -> (() => latch.await())), 300.millis)
      }
      assert(e.getMessage.contains("stuck_build"), e.getMessage)
      assert(!e.getMessage.contains("quick_build"), e.getMessage)
    } finally latch.countDown()
  }
}

/** Child-JVM body of the stopped-session case: fill two entries, stop the
  * context, and report the registry's entry count before and after. */
object SharedStopProbe {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val df = s.range(3).toDF()
    Shared.get("probe_a", df)(df.localCheckpoint(true))
    Shared.get("probe_b", df, 1)("memo")
    println(s"entries before stop: ${Shared.keys.size}")
    s.stop()
    println(s"entries after stop: ${Shared.keys.size}")
  }
}
