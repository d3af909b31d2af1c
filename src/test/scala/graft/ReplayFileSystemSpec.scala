package graft

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{ParentNotDirectoryException, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Encoders}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Tx
import graft.streaming.{FileReplay, ReplayFileSystem, StreamingFifo}

/** The replay trees' file system (`graftfs:`), the conf pin around a
  * stream's start, and a FIFO replay that stops and resumes from its
  * checkpoint. */
class ReplayFileSystemSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(): NioPath = {
    val d = Files.createTempDirectory("graftfs_spec_")
    RunHygiene.scratchAtExit(d.toString)
    d
  }

  private def fs(dir: NioPath) = {
    ReplayFileSystem.register(spark)
    new Path(ReplayFileSystem.uri(dir)).getFileSystem(spark.sessionState.newHadoopConf())
  }

  private def perms(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("graftfs: is its own scheme and setPermission sets the POSIX bits") {
    val dir = tmpDir()
    val g = fs(dir)
    assert(g.getScheme === "graftfs")
    assert(g.getUri.getScheme === "graftfs")
    assert(!(g eq new Path(dir.toUri).getFileSystem(spark.sessionState.newHadoopConf())))
    val f = dir.resolve("f")
    Files.writeString(f, "x")
    for ((octal, rwx) <- Seq("640" -> "rw-r-----", "755" -> "rwxr-xr-x",
        "000" -> "---------", "777" -> "rwxrwxrwx", "421" -> "r---w---x")) {
      g.setPermission(new Path(ReplayFileSystem.uri(f)),
        new FsPermission(Integer.parseInt(octal, 8).toShort))
      assert(perms(f) === rwx, s"mode $octal")
    }
  }

  test("mkdirs, create, rename and listStatus round-trip under graftfs:") {
    val dir = tmpDir()
    val g = fs(dir)
    val d = new Path(ReplayFileSystem.uri(dir.resolve("a/b")))
    assert(g.mkdirs(d))
    assert(Files.isDirectory(dir.resolve("a/b")))
    val x = new Path(d, "x.txt")
    val out = g.create(x)
    try out.write("hello".getBytes("UTF-8")) finally out.close()
    assert(Files.readString(dir.resolve("a/b/x.txt")) === "hello")
    // permissions were set through the java.nio override (umask applied)
    assert(perms(dir.resolve("a/b/x.txt")).startsWith("rw"))

    val y = new Path(d, "y.txt")
    assert(g.rename(x, y))
    assert(!Files.exists(dir.resolve("a/b/x.txt")))
    val listed = g.listStatus(d)
    assert(listed.map(_.getPath.getName).toSeq === Seq("y.txt")) // .crc files hidden
    assert(listed.head.getPath.toUri.getScheme === "graftfs")
    assert(listed.head.getLen === 5L)
    val in = g.open(y) // checksum-verified read through the renamed .crc
    try assert(new String(in.readAllBytes(), "UTF-8") === "hello") finally in.close()
  }

  test("withConfs restores each conf, or unsets it, also when the body throws") {
    val k1 = "spark.sql.shuffle.partitions"
    val k2 = "graft.spec.neverSet"
    val before = spark.conf.getAll
    assert(before.contains(k1) && !before.contains(k2))
    intercept[IllegalStateException] {
      FileReplay.withConfs(spark, k1 -> "7", k2 -> "x") {
        assert(spark.conf.get(k1) === "7" && spark.conf.get(k2) === "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.getAll === before)
  }

  private def txns(rows: (String, String, Double, Int, String)*): DataFrame =
    tx(rows.map { case (id, c, a, day, t) => (id, c, a, f"2024-01-$day%02d", t) }: _*)
      .select("transaction_id", "customer_id", "amount", "timestamp", "transaction_type")

  private def fifoStream(src: DataFrame, dirs: FileReplay.ReplayDirs): DataFrame =
    StreamingFifo.matchStream(
      FileReplay.stream(spark, src.schema, dirs).as[Tx](Encoders.product[Tx])).toDF()

  test("a stream whose start() fails on a bad sink path leaves spark.conf as it was") {
    val src = txns(("E1", "C1", 10.0, 1, "earned"), ("S1", "C1", -10.0, 2, "spent"))
    val dirs = FileReplay.stageChunks(src, "timestamp", 2)
    Files.writeString(dirs.out("_bad"), "a file where the sink's directory should be")
    val before = spark.conf.getAll
    assert(!before.contains("spark.sql.streaming.checkpointFileManagerClass"))
    // the sink's metadata log cannot be made under a regular file
    intercept[ParentNotDirectoryException](
      FileReplay.runToParquet(fifoStream(src, dirs), dirs, 2, "_bad"))
    assert(spark.conf.getAll === before)
  }

  test("a FIFO replay stopped after k chunks resumes from its graftfs: checkpoint") {
    // six days, one chunk each; C1's earned rows sit in state across the stop
    val src = txns(
      ("E1", "C1", 100.0, 1, "earned"), ("E2", "C1", 50.0, 2, "earned"),
      ("S1", "C1", -80.0, 4, "spent"), ("S2", "C1", -20.0, 6, "spent"),
      ("S3", "C2", -5.0, 1, "spent"), ("E3", "C2", 5.0, 3, "earned"),
      ("E4", "C2", 7.0, 5, "earned"), ("X1", "C2", -7.0, 6, "expired"),
      ("E5", "C3", 9.0, 2, "earned"), ("S4", "C3", -9.0, 3, "spent"),
      ("E6", "C3", 4.0, 4, "earned"), ("S5", "C3", -4.0, 5, "spent"))
    val n = 6
    val k = 3
    val dirs = FileReplay.stageChunks(src, "timestamp", n)
    val chunks = {
      val s = Files.list(dirs.in)
      try s.toArray.map(_.asInstanceOf[NioPath]).sortBy(_.getFileName.toString).toSeq
      finally s.close()
    }
    assert(chunks.size === n)
    val held = Files.createDirectories(dirs.root.resolve("held"))
    chunks.drop(k).foreach(c => Files.move(c, held.resolve(c.getFileName)))

    def pairs(df: DataFrame): Seq[(String, String)] =
      df.select("EARNED_ID", "REDEEMID").collect().map(r => (r.getString(0), r.getString(1)))
        .toSeq.sorted

    val first = pairs(FileReplay.runToParquet(fifoStream(src, dirs), dirs, 2, "_resume"))
    assert(first === Seq(("E3", "S3"), ("E5", "S4")))

    // the rest of the backlog arrives; the same checkpoint picks it up
    chunks.drop(k).foreach(c => Files.move(held.resolve(c.getFileName), c))
    val resumed = pairs(FileReplay.runToParquet(fifoStream(src, dirs), dirs, 2, "_resume"))
    val whole = pairs(FileReplay.runToParquet(fifoStream(src, dirs), dirs, 2, "_whole"))

    assert(resumed === whole)
    // state recovered: C1's pre-stop earned rows match post-restart spends
    assert(resumed.contains(("E1", "S1")) && resumed.contains(("E2", "S2")))
    // nothing re-emitted, nothing lost
    val redeemIds = resumed.map(_._2)
    assert(redeemIds.distinct.size === redeemIds.size)
    assert(redeemIds.toSet === Set("S1", "S2", "S3", "X1", "S4", "S5"))

    // the checkpoint and the sink's log are plain files under the replay root
    val ckpt = dirs.ckpt("_resume")
    for (sub <- Seq("offsets", "commits"))
      assert((0 until n).forall(b => Files.isRegularFile(ckpt.resolve(s"$sub/$b"))), sub)
    assert(Files.isDirectory(ckpt.resolve("state/0")))
    val stateFiles = Files.walk(ckpt.resolve("state"))
    try assert(stateFiles.anyMatch(p => p.getFileName.toString.endsWith(".delta")))
    finally stateFiles.close()
    assert(Files.isRegularFile(dirs.out("_resume").resolve("_spark_metadata/0")))
    assert(dirs.root.startsWith(FileReplay.scratchBase))
  }
}
