package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{ScaleGate, ScaleStream, SparkEntry, Tables}
import graft.streaming.EmbStream

/** The D-side LocalPipelineMain (r15 verdict #5): ONE self-checking
  * local entrypoint composing the corpus lifecycle the way a real
  * curation deployment runs it —
  *
  *   ingest → norm-exact dedup (D64, the registered
  *   `dedup_norm_exact` query) → BLOCKED embedding near-dup dedup
  *   through the B29 streaming store (bootstrap half indexes via
  *   `writeIndexBlocked`, the rest arrives as a checkpointed
  *   file-source backlog through `dedupIndexedStreamBlocked`, the
  *   production starter, through the BatchPar parallelism seam) →
  *   survivor corpus → curate (D16) → shard (D75)
  *
  * — batch flagships riding the streaming loops' index dirs. This is
  * the exact seam a real user hits first: the registered queries are
  * verified piecewise by the oracle and the loops by their specs, but
  * only a composition proves the two halves agree on one corpus (the
  * A/B-side LocalPipelineMain found a live NPE this way in r15).
  *
  * Self-checks are the EXISTING gate laws, not bespoke ones:
  * [[ScaleGate.normExactLaws]] on the dedup verdicts,
  * [[ScaleStream.partnerSeenLaw]]/[[ScaleStream.growthLaw]] on the
  * streaming store, and [[graft.operators.Curate.shardChecksFor]] —
  * the full 100x-gate law suite — on the final shard, plus the
  * composition-level conservation and idempotence laws only the
  * composition can state.
  *
  * Run: `sbt "runMain graft.jobs.LocalCorpusPipelineMain
  * dir=/tmp/graft_corpus_pipeline sf=/root/testdata/sf0.01"`.
  * Prints a one-line JSON summary; exits non-zero on any violated
  * invariant.
  */
object LocalCorpusPipelineMain {

  final case class Summary(
      totalDocs: Long, normKept: Long, bootstrapVecs: Long,
      streamedVecs: Long, embSurvivors: Long, survivorDocs: Long,
      curated: Long, shardRows: Long,
      checks: Seq[(String, Boolean, String)])

  private[graft] def run(spark: SparkSession, dir: String,
      sfDir: String): Summary = {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def check(inv: String, pass: Boolean, detail: String): Unit =
      checks += ((inv, pass, detail))

    // ---- stage 0: ingest — materialize the working corpus dir the
    // registered queries will read (a real deployment's landing zone)
    val corpus0 = s"$dir/corpus_raw"
    Tables.documents(spark, sfDir).write.parquet(s"$corpus0/documents.parquet")
    val docs = spark.read.parquet(s"$corpus0/documents.parquet").persist()
    val embs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).persist()
    val totalDocs = docs.count()
    val aligned = docs.select(col("doc_id").as("vec_id"))
      .join(embs, Seq("vec_id"), "left_anti").count()
    check("ingest: every document has an embedding under the same id",
      aligned == 0 && totalDocs > 0, s"docs=$totalDocs unmatched=$aligned")

    // ---- stage 1: norm-exact dedup (D64), the registered query on
    // the landing corpus; gate laws on its verdict frame
    val normVerdicts = SparkEntry.queries("dedup_norm_exact")(spark, corpus0)
      .persist()
    checks ++= ScaleGate.normExactLaws(normVerdicts,
      docs.select("doc_id")).map(c => (s"D64 ${c.invariant}", c.pass, c.detail))
    val normKeepIds = normVerdicts.filter(col("keep"))
      .select(col("doc_id")).persist()
    val normKept = normKeepIds.count()

    // ---- stage 2: blocked embedding near-dup dedup via the B29
    // store. The id-low half BOOTSTRAPS the frozen-quantizer index
    // (history); the id-high half STREAMS through the production
    // starter as a checkpointed file backlog in id order (the
    // IdWatermark monotone contract).
    val keptEmbs = embs.join(normKeepIds.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi").persist()
    val bounds = keptEmbs.agg(min("vec_id"), max("vec_id")).head()
    val cut = (bounds.getLong(0) + bounds.getLong(1) + 1) / 2
    val bootstrap = keptEmbs.filter(col("vec_id") < cut)
    val streamed = keptEmbs.filter(col("vec_id") >= cut)
    val (bootstrapVecs, streamedVecs) = (bootstrap.count(), streamed.count())
    val (cent, band, vec) = (s"$dir/cent", s"$dir/band", s"$dir/vec")
    EmbStream.writeIndexBlocked(bootstrap, cent, band, vec)
    // backlog: three id-range slices, one file each, mtime-ordered
    val backlog = s"$dir/backlog"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(backlog))
    val width = math.max(1L, (bounds.getLong(1) + 1 - cut) / 3 + 1)
    val mtBase = System.currentTimeMillis() - 10000L
    (0 until 3).foreach { i =>
      val lo = cut + i * width
      val tmp = s"$backlog/_tmp"
      streamed.filter(col("vec_id") >= lo && col("vec_id") < lo + width)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file, got ${part.length}")
      val target = java.nio.file.Paths.get(f"$backlog/slice_$i%02d.parquet")
      java.nio.file.Files.move(part(0).toPath, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(mtBase + i * 1000L))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val q = EmbStream.dedupIndexedStreamBlocked(
      spark.readStream.schema(streamed.schema)
        .option("maxFilesPerTrigger", 1).parquet(backlog),
      cent, band, vec, s"$dir/emb_verdicts", s"$dir/ckpt_emb",
      trigger = Trigger.AvailableNow(),
      batchPartitions = Some(spark.sparkContext.defaultParallelism))
    q.awaitTermination()
    val embVerdicts = spark.read.parquet(s"$dir/emb_verdicts").persist()
    val embSurvivors = embVerdicts.filter(col("partner_id").isNull).count()
    val vRows = embVerdicts.count()
    check("B29 verdict conservation: one verdict per streamed vector",
      vRows == streamedVecs &&
        embVerdicts.select("vec_id").distinct().count() == vRows,
      s"verdicts=$vRows streamed=$streamedVecs")
    val seen = bootstrap.select("vec_id")
      .unionByName(embVerdicts.select("vec_id"))
    val psl = ScaleStream.partnerSeenLaw("corpus_pipeline", embVerdicts,
      "vec_id", seen)
    check(s"B29 ${psl.invariant}", psl.pass, psl.detail)
    val gl = ScaleStream.growthLaw("corpus_pipeline",
      "accepted-vector store",
      spark.read.parquet(vec).count(), bootstrapVecs, embSurvivors)
    check(s"B29 ${gl.invariant}", gl.pass, gl.detail)

    // ---- stage 3: the survivor corpus — norm-exact keepers that the
    // embedding pass also admitted (bootstrap half is the index, so
    // it is admitted by construction)
    val keepIds = normKeepIds.join(
      bootstrap.select(col("vec_id").as("doc_id"))
        .unionByName(embVerdicts.filter(col("partner_id").isNull)
          .select(col("vec_id").as("doc_id"))),
      Seq("doc_id"), "left_semi").persist()
    val survivorDocs = keepIds.count()
    check("composition conservation: survivors = norm keepers - embedding dups",
      survivorDocs == normKept - (streamedVecs - embSurvivors),
      s"survivors=$survivorDocs norm_kept=$normKept " +
        s"emb_dropped=${streamedVecs - embSurvivors}")
    val corpus1 = s"$dir/corpus_dedup"
    docs.join(keepIds, Seq("doc_id"), "left_semi")
      .write.parquet(s"$corpus1/documents.parquet")

    // idempotence: the dedup stages must find nothing on their own
    // output — norm-exact over the survivor corpus keeps everything
    val rerun = SparkEntry.queries("dedup_norm_exact")(spark, corpus1)
    check("idempotence: norm-exact dedup finds no dups in the survivor corpus",
      rerun.filter(!col("keep")).count() == 0,
      s"residual_dups=${rerun.filter(!col("keep")).count()}")

    // ---- stages 4+5: curate (D16) + shard (D75), the registered
    // flagships over the deduplicated corpus; self-checks = the FULL
    // 100x-gate law suite on the final shard
    val curated = SparkEntry.queries("pipeline_curate")(spark, corpus1).count()
    val shardOut = SparkEntry.queries("pipeline_shard")(spark, corpus1)
    val shardRows = shardOut.count()
    check("curate ⊆ survivors, shard ⊆ curate (monotone pipeline)",
      curated <= survivorDocs && shardRows <= curated && shardRows > 0,
      s"survivors=$survivorDocs curated=$curated shard=$shardRows")
    checks ++= graft.operators.Curate.shardChecksFor(spark, corpus1)
      .map { case (inv, pass, det) => (s"D75 $inv", pass, det) }

    docs.unpersist(); embs.unpersist(); normVerdicts.unpersist()
    normKeepIds.unpersist(); keptEmbs.unpersist(); embVerdicts.unpersist()
    keepIds.unpersist()
    Summary(totalDocs, normKept, bootstrapVecs, streamedVecs,
      embSurvivors, survivorDocs, curated, shardRows, checks.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val a = Jobs.parseArgs(args)
    val dir = a.getOrElse("dir", "/tmp/graft_corpus_pipeline")
    val sfDir = a.getOrElse("sf", "/root/testdata/sf0.01")
    val cpus = a.getOrElse("cpus", "8").toInt
    val spark = graft.GraftRuntime.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val s = run(spark, dir, sfDir)
    def esc(x: String): String = x.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val checksJson = s.checks.map { case (inv, pass, det) =>
      s"""{"invariant":"${esc(inv)}","pass":$pass,"detail":"${esc(det)}"}"""
    }.mkString("[", ",", "]")
    println(
      s"""{"total_docs":${s.totalDocs},"norm_kept":${s.normKept},"bootstrap_vecs":${s.bootstrapVecs},"streamed_vecs":${s.streamedVecs},"emb_survivors":${s.embSurvivors},"survivor_docs":${s.survivorDocs},"curated":${s.curated},"shard_rows":${s.shardRows},"n_checks":${s.checks.size},"n_failed":${s.checks.count(!_._2)},"checks":$checksJson}""")
    spark.stop()
    if (s.checks.exists(!_._2)) sys.exit(1)
  }
}
