package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The z-ordered write path: per-file z-contiguity and the
  * two-dimensional locality advantage over a hash layout.
  */
class LayoutSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var dir: String = _

  override def afterAll(): Unit = if (dir != null) {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  private def fileSpans(path: String) =
    spark.read.parquet(path)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg(min("l_partkey").as("mnx"), max("l_partkey").as("mxx"),
        min("l_suppkey").as("mny"), max("l_suppkey").as("mxy"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  test("z-ordered files are z-contiguous and bound both dimensions") {
    dir = TestSpark.tempDir("graft_layout").toString
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    sources.Layout.writeZOrdered(li, "l_partkey", "l_suppkey", s"$dir/z", 8)
    li.repartition(8).write.parquet(s"$dir/hash")

    // contiguity: recompute each row's z after the round trip (same
    // maxes -> same key); per-file z ranges must be pairwise disjoint
    // capture the file name BEFORE withZ's broadcast cross join adds
    // a second source (input_file_name is single-source only)
    val withFile = spark.read.parquet(s"$dir/z")
      .withColumn("f", input_file_name())
    val zRanges = sources.Layout.withZ(withFile, "l_partkey", "l_suppkey")
      .groupBy("f").agg(min("z").as("mn"), max("z").as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    zRanges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"file z-ranges overlap: $aMax > $bMin")
      case _ =>
    }

    // locality: total (part-span x supp-span) volume across files
    // must be far below the hash layout's (each hash file spans
    // ~the whole domain in both dimensions)
    def volume(spans: Array[(Long, Long, Long, Long)]) =
      spans.map { case (mnx, mxx, mny, mxy) =>
        (mxx - mnx + 1).toDouble * (mxy - mny + 1)
      }.sum
    val zVol = volume(fileSpans(s"$dir/z"))
    val hashVol = volume(fileSpans(s"$dir/hash"))
    assert(zVol < hashVol / 2,
      s"z layout volume $zVol not materially below hash layout $hashVol")

    // and the data itself survives the layout intact
    assert(spark.read.parquet(s"$dir/z").count() == li.count())
  }

  test("compact glues small files, preserves data, swaps atomically") {
    import spark.implicits._
    val cdir = TestSpark.tempDir("graft_compact").toString + "/t"
    try {
      // 30 tiny appends — the shape a per-batch streaming append leaves
      (0 until 30).foreach { i =>
        Seq((i.toLong, s"row$i")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(cdir)
      }
      val before = spark.read.parquet(cdir).collect().map(_.toString).sorted
      val (nBefore, nAfter) = sources.Layout.compact(spark, cdir, 256L * 1024 * 1024)
      assert(nBefore === 30 && nAfter === 1, s"$nBefore -> $nAfter")
      val files = new java.io.File(cdir).listFiles()
        .map(_.getName).filter(_.startsWith("part-"))
      assert(files.length === 1, files.mkString(", "))
      val after = spark.read.parquet(cdir).collect().map(_.toString).sorted
      assert(after === before, "compaction must not change the data")
      // no leftover temp/old dirs from the swap
      val parent = new java.io.File(cdir).getParentFile.listFiles().map(_.getName)
      assert(!parent.exists(_.contains("_compact")), parent.mkString(", "))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(cdir).getParentFile).deleteRecursively()
    }
  }

  test("a hard-killed compact's full crash state refuses peers and recovers (r14 verdict #7)") {
    import spark.implicits._
    // the EXACT on-disk state a kill -9 mid-compact leaves behind: the
    // maintenance lock (holder string with a dead pid) AND the
    // half-written _compact_tmp dir, original data untouched
    val base = TestSpark.tempDir("graft_mkill").toString
    try {
      val mdir = s"$base/store"
      (0 until 5).foreach { i =>
        Seq((i.toLong, s"row$i")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(mdir)
      }
      val before = spark.read.parquet(mdir).collect().map(_.toString).sorted
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$mdir.maintenance"),
        "Layout.compact pid=99999 started=2026-08-16T00:00:00Z")
      Seq((99L, "partial")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"${mdir}_compact_tmp")
      // every peer refuses, naming the dead holder and the recovery
      val e1 = intercept[IllegalStateException] {
        sources.Layout.requireNoMaintenance(spark, mdir)
      }
      assert(e1.getMessage.contains("pid=99999") &&
        e1.getMessage.contains("delete the lock"), e1.getMessage)
      val e2 = intercept[IllegalStateException] {
        sources.Layout.compact(spark, mdir)
      }
      assert(e2.getMessage.contains("pid=99999"), e2.getMessage)
      // the conservative failure preserved the data
      assert(spark.read.parquet(mdir).collect()
        .map(_.toString).sorted === before)
      // documented operator recovery: verify consistency, delete the
      // lock — the re-run then clears the stale tmp itself and the
      // data survives byte-identical
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$mdir.maintenance"))
      val (nb, na) = sources.Layout.compact(spark, mdir)
      assert(nb == 5 && na == 1, s"$nb -> $na")
      assert(spark.read.parquet(mdir).collect()
        .map(_.toString).sorted === before)
      val leftovers = new java.io.File(base).listFiles().map(_.getName)
      assert(!leftovers.exists(_.contains("_compact")), leftovers.mkString(", "))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("the maintenance lock excludes a second job, releases on both exits") {
    import spark.implicits._
    val base = TestSpark.tempDir("graft_mlock").toString
    try {
      val mdir = s"$base/store"
      Seq((1L, "a")).toDF("id", "v").write.parquet(mdir)
      val lockFile = new java.io.File(s"$mdir.maintenance")
      // exclusion: a second maintenance job inside the window refuses,
      // naming the holder and the recovery
      sources.Layout.withMaintenanceLock(spark, mdir, "job-one") {
        assert(lockFile.exists(), "lock must be on disk inside the window")
        val e = intercept[IllegalStateException] {
          sources.Layout.withMaintenanceLock(spark, mdir, "job-two") { fail() }
        }
        assert(e.getMessage.contains("job-one") &&
          e.getMessage.contains("delete the lock"),
          s"refusal must name the holder and the recovery: ${e.getMessage}")
      }
      assert(!lockFile.exists(), "lock must release on normal completion")
      // release on exception too: an exception means no torn state the
      // lock could protect (old-or-new swap + epoch guard cover those)
      intercept[RuntimeException] {
        sources.Layout.withMaintenanceLock(spark, mdir, "job-three") {
          throw new RuntimeException("body failed")
        }
      }
      assert(!lockFile.exists(), "lock must release when the body throws")
      // a crash-leftover lock (created out-of-band) blocks compaction
      // with the recovery message
      java.nio.file.Files.writeString(lockFile.toPath, "crashed pid=0")
      val e2 = intercept[IllegalStateException] {
        sources.Layout.compact(spark, mdir)
      }
      assert(e2.getMessage.contains("crashed pid=0"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("withZ handles int columns, large domains, and negative values") {
    import spark.implicits._
    // int columns whose product with 65536 overflows Int, plus a
    // negative range: the z keys must still be valid and monotone in
    // each dimension's normalized order
    val df = Seq((-500000, 40000), (0, 80000), (500000, 120000), (999999, 160000))
      .toDF("x", "y")
    val z = sources.Layout.withZ(df, "x", "y")
      .orderBy("x").select("x", "z").collect()
    assert(z.length == 4)
    // equal y-order and x-order here -> z must be strictly increasing
    assert(z.map(_.getLong(1)).sliding(2).forall { case Array(a, b) => a < b },
      z.mkString(", "))
    assert(z.forall(_.getLong(1) >= 0L), "z keys must be non-negative")
  }
}
