package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The Hadoop file system the replay trees ([[FileReplay]]) are handed to
  * Spark through: the local file system (checksummed, like `file:`) under
  * the scheme `graftfs:`, with its permission calls made in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs a `chmod` child process, and every file and directory Hadoop
  * creates goes through it: a 40-trigger FIFO replay started about 1,500
  * of them. Here `setPermission` is `Files.setPosixFilePermissions`
  * instead. Everything else (`create`, `rename` = `rename(2)`, listing,
  * file status) is `RawLocalFileSystem`'s own code, so a `graftfs:` path
  * names the same file as its `file:` twin.
  *
  * A scheme of its own keeps the change to the replay trees: Hadoop's
  * `FileSystem` cache is keyed on the scheme, so the session's cached
  * `file:` instance, and everything else it reads and writes, is left as
  * it was. */
class ReplayFileSystem extends LocalFileSystem(new ReplayFileSystem.Raw) {
  override def getScheme: String = ReplayFileSystem.Scheme
}

object ReplayFileSystem {
  val Scheme = "graftfs"
  private val Root = URI.create(s"$Scheme:///")

  /** `RawLocalFileSystem` under [[Scheme]]. Paths resolve to files by
    * their URI path alone (`pathToFile`), once `checkPath` has accepted
    * the scheme that `getUri` names. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = Root
    override def getScheme: String = Scheme

    /** The rwx bits of `perm` (`PosixFilePermission` declares them from
      * 0400 down to 0001); the sticky bit has no `java.nio` form and is
      * dropped, which no replay file uses. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val bits = perm.toShort.toInt
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) set.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }
  }

  /** Make [[Scheme]] resolvable in `spark`'s Hadoop confs. A session conf,
    * so it reaches every Hadoop conf Spark derives from the session: the
    * stream's checkpoint and state store, the file source and sink, and
    * the batch read-back. */
  def register(spark: SparkSession): Unit =
    spark.conf.set(s"fs.$Scheme.impl", classOf[ReplayFileSystem].getName)

  /** The `graftfs:` URI of a local path. */
  def uri(p: java.nio.file.Path): String = s"$Scheme:${p.toAbsolutePath}"
}
