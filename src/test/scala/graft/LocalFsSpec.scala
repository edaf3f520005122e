package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.sources.GraftLocalFs
import graft.streaming.{EventStream, ParsedEvent}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FSDataInputStream, FsConstants, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftLocalFs]], the `file://` `AbstractFileSystem` of graft
  * sessions: the same modes, link statuses, rename and checksum
  * behaviour as Hadoop's `LocalFs`, with no process forked by a
  * streaming checkpoint, and with `open(path)` verifying checksums,
  * which `LocalFs` skips.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Impl = "fs.AbstractFileSystem.file.impl"
  private val Stock = "org.apache.hadoop.fs.local.LocalFs"

  private def context(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(Impl, impl)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }
  private lazy val stock = context(Stock)
  private lazy val graft = context(classOf[GraftLocalFs].getName)
  private lazy val both = Seq("stock" -> stock, "graft" -> graft)

  private def tempDir(): String = TestSpark.tempDir("graft_localfs").toString
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff
  private def setMode(p: String, m: String): Unit =
    Files.setAttribute(Paths.get(p), "unix:mode", Integer.valueOf(Integer.parseInt(m, 8)))
  private def perm(m: String): FsPermission = new FsPermission(Integer.parseInt(m, 8).toShort)
  private def octal(m: Int): String = f"$m%04o"

  /** `f` run once per file system on a fresh directory, by name. */
  private def perFs[T](f: (FileContext, String) => T): Map[String, T] =
    both.map { case (name, fc) => name -> f(fc, tempDir()) }.toMap

  private def write(fc: FileContext, p: String, bytes: Array[Byte]): Unit = {
    val out = fc.create(new Path(p), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(bytes) finally out.close()
  }

  test("the session binds file:// to GraftLocalFs") {
    assert(spark.conf.get(Impl) == classOf[GraftLocalFs].getName)
    val hadoopConf = org.apache.spark.sql.graft.Bridge.newHadoopConf(spark)
    val fs = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, hadoopConf).getDefaultFileSystem
    assert(fs.isInstanceOf[GraftLocalFs])
  }

  test("a spark.hadoop.-prefixed setting of the key keeps Hadoop's binding") {
    // the only form of the key spark-submit passes on (--conf spark.*)
    val s = spark.newSession()
    s.conf.set(s"spark.hadoop.$Impl", Stock)
    org.apache.spark.sql.graft.Bridge.setUnlessSet(s, GraftRuntime.sessionConfs)
    assert(!s.conf.getOption(Impl).contains(classOf[GraftLocalFs].getName))
  }

  test("create and mkdir give LocalFs's modes under the default umask") {
    val modes = perFs { (fc, d) =>
      write(fc, s"$d/f", Array[Byte](1, 2, 3))
      fc.mkdir(new Path(s"$d/a/b/c"), FsPermission.getDirDefault, true)
      Seq("f", ".f.crc", "a", "a/b", "a/b/c").map(p => p -> octal(mode(s"$d/$p")))
    }
    assert(modes("graft") == modes("stock"))
    assert(modes("graft").toMap == Map("f" -> "0644", ".f.crc" -> "0644",
      "a" -> "0755", "a/b" -> "0755", "a/b/c" -> "0755"))
  }

  test("setPermission sets chmod's bits: 0600, 0751 and 1777 on files and directories") {
    val modes = perFs { (fc, d) =>
      write(fc, s"$d/f", Array[Byte](1))
      fc.mkdir(new Path(s"$d/dir"), FsPermission.getDirDefault, false)
      for (p <- Seq("f", "dir"); m <- Seq("0600", "0751", "1777")) yield {
        fc.setPermission(new Path(s"$d/$p"), perm(m))
        (p, m, octal(mode(s"$d/$p")))
      }
    }
    assert(modes("graft") == modes("stock"))
    assert(modes("graft").forall { case (_, asked, got) => asked == got }, modes("graft"))
  }

  test("a directory keeps its setgid bit under setPermission(0755); a file loses it") {
    val modes = perFs { (fc, d) =>
      Files.createDirectory(Paths.get(s"$d/dir"))
      Files.createFile(Paths.get(s"$d/f"))
      setMode(s"$d/dir", "2775")
      setMode(s"$d/f", "2664")
      fc.setPermission(new Path(s"$d/dir"), perm("0755"))
      fc.setPermission(new Path(s"$d/f"), perm("0644"))
      (octal(mode(s"$d/dir")), octal(mode(s"$d/f")))
    }
    assert(modes("graft") == modes("stock"))
    assert(modes("graft") == ("2755", "0644"))
  }

  test("getFileLinkStatus and getLinkTarget match LocalFs on files, dirs, links and missing paths") {
    def outcome[T](f: => T): Either[String, T] =
      try Right(f) catch { case e: IOException => Left(e.getClass.getName) }
    val seen = perFs { (fc, d) =>
      Files.write(Paths.get(s"$d/file"), Array[Byte](1, 2))
      Files.createDirectory(Paths.get(s"$d/dir"))
      Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get("file"))
      Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/gone"))
      // unqualified paths reach readlink as they are; qualified ones as
      // "file:/...", which readlink never resolves: both must match
      for (name <- Seq("file", "dir", "link", "dangling", "missing");
           p <- Seq(new Path(s"$d/$name"), new Path(s"file:$d/$name"))) yield {
        val st = outcome(fc.getFileLinkStatus(p)).map { s =>
          (s.isSymlink, s.isDirectory, s.getLen,
            if (s.isSymlink) s.getSymlink.toString.replace(d, "<d>") else "")
        }
        (name, p.toString.replace(d, "<d>"), st,
          outcome(fc.getLinkTarget(p).toString.replace(d, "<d>")))
      }
    }
    assert(seen("graft") == seen("stock"))
    val byName = seen("graft").filter(_._2.startsWith("<d>")).map(s => s._1 -> s).toMap
    assert(byName("link")._3.exists(_._1) && byName("link")._4 == Right("file"))
    assert(byName("dangling")._3.exists(_._1) && byName("dangling")._4 == Right("<d>/gone"))
    assert(byName("file")._3.exists(s => !s._1 && !s._2 && s._3 == 2))
    assert(byName("dir")._3.exists(s => !s._1 && s._2))
    assert(byName("missing")._3 == Left(classOf[FileNotFoundException].getName))
  }

  test("rename(NONE) onto an existing destination throws FileAlreadyExistsException") {
    perFs { (fc, d) =>
      write(fc, s"$d/src", Array[Byte](1))
      write(fc, s"$d/dst", Array[Byte](2))
      intercept[FileAlreadyExistsException] {
        fc.rename(new Path(s"$d/src"), new Path(s"$d/dst"), Options.Rename.NONE)
      }
      fc.rename(new Path(s"$d/src"), new Path(s"$d/dst"), Options.Rename.OVERWRITE)
      assert(Files.readAllBytes(Paths.get(s"$d/dst")).toSeq == Seq[Byte](1))
      assert(Files.exists(Paths.get(s"$d/.dst.crc")) && !Files.exists(Paths.get(s"$d/.src.crc")))
    }
  }

  test("a corrupted file still fails its checksum") {
    def readAll(in: FSDataInputStream): Unit =
      try in.readFully(new Array[Byte](4096)) finally in.close()
    val oneArg = perFs { (fc, d) =>
      write(fc, s"$d/f", Array.tabulate[Byte](4096)(_.toByte))
      val raw = Paths.get(s"$d/f")
      val bytes = Files.readAllBytes(raw)
      bytes(100) = (bytes(100) ^ 1).toByte
      Files.write(raw, bytes)
      intercept[ChecksumException](readAll(fc.open(new Path(s"$d/f"), 4096)))
      // open(path) is the call Spark's checkpoint manager makes
      try { readAll(fc.open(new Path(s"$d/f"))); "read" }
      catch { case _: ChecksumException => "ChecksumException" }
    }
    assert(oneArg("graft") == "ChecksumException")
    // LocalFs inherits FilterFs.open(path), which reads the raw file
    // and skips ChecksumFs's verifying reader
    assert(oneArg("stock") == "read")
  }

  private val rawSchema = StructType(Seq(StructField("value", StringType)))
  private val users = (0 until 6).map(u => s"u$u")

  private def pipeline(df: DataFrame): DataFrame = {
    val (valid, _) = EventStream.parseRoute(df)
    EventStream.enrich(valid.as[ParsedEvent]).toDF()
  }

  /** History file `f`: the (f+1)-th event of each user. */
  private def addHistory(src: String, files: Range): Unit = files.foreach { f =>
    users.map(u => s"""{"id":"$u","type":"login","timestamp":${1000L + f},"data":{}}""")
      .toDF("value").coalesce(1).write.mode("append").parquet(src)
  }

  /** Drains `src` into `out` through the stateful enrich with an
    * AvailableNow query on `ckpt`; returns (user, sequence) rows.
    */
  private def backfill(src: String, out: String, ckpt: String): Set[(String, Int)] = {
    val q = EventStream.backfill(spark, src, rawSchema, pipeline, out, ckpt, maxFilesPerTrigger = 2)
    q.awaitTermination(120000L)
    assert(!q.isActive && q.exception.isEmpty, q.exception)
    spark.read.parquet(out).select("originalId", "sequence").as[(String, Int)].collect().toSet
  }

  /** Processes the JVM started while `body` ran whose stacks pass
    * through a streaming `CheckpointFileManager`.
    */
  private def checkpointSpawns(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    val file = TestSpark.tempFile("graft_spawns", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.contains("CheckpointFileManager"))
      }
    } finally { rec.close(); Files.delete(file) }
  }

  private def freshBackfillSpawns(): Int = {
    val src = tempDir()
    addHistory(src, 0 until 4)
    checkpointSpawns(backfill(src, tempDir(), tempDir()))
  }

  test("a stateful AvailableNow query forks nothing for its checkpoint") {
    assert(freshBackfillSpawns() == 0)
  }

  test("control: with Hadoop's LocalFs bound, the same query forks for its checkpoint") {
    TestSpark.withConfs(Impl -> Stock) {
      assert(freshBackfillSpawns() > 0)
    }
    assert(spark.conf.get(Impl) == classOf[GraftLocalFs].getName)
  }

  test("a checkpoint written under LocalFs resumes under GraftLocalFs with equal output") {
    val (src, out, ckpt) = (tempDir(), tempDir(), tempDir())
    addHistory(src, 0 until 3)
    TestSpark.withConfs(Impl -> Stock)(backfill(src, out, ckpt))
    addHistory(src, 3 until 6)
    val resumed = backfill(src, out, ckpt)
    assert(resumed == (for (u <- users; s <- 1 to 6) yield (u, s)).toSet)
  }
}
