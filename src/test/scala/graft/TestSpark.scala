package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftRuntime.local(4, "spark.app.name" -> "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** The one directory every suite's scratch files and dirs live
    * under, made on first use and deleted with everything in it when
    * the test JVM exits, so a run leaves nothing behind in the system
    * temp dir (sibling files such as an index's `<dir>.maxid` too).
    */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft_test")
    sys.addShutdownHook(FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A new empty directory under the per-JVM temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tmpRoot, prefix)

  /** A new empty file under the per-JVM temp root. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tmpRoot, prefix, suffix)

  /** Set session confs for `body`, restoring previous values (or
    * unsetting) afterwards. Safe because suites run sequentially in
    * the one forked test JVM — no concurrent suite sees the flip.
    */
  def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
