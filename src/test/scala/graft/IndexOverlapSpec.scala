package graft

import graft.operators.Similarity
import graft.streaming.{DocStream, EmbStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The OVERLAPPING-WRITER BOUND of the plain-parquet signature-index
  * loops ([[graft.streaming.DocStream]] / [[graft.streaming.EmbStream]]),
  * demonstrated rather than merely documented — both halves, the way
  * UpsertOverlapSpec demonstrates upsertSink's lost update.
  *
  * Half 1 (what append CANNOT break): the index is append-only — a
  * writer lands uniquely-named part files and never replaces or tears
  * another's COMMITTED files (contrast: upsertSink's snapshot SWAP,
  * where the second writer replaces the first — the lost update), and
  * DUPLICATE index rows (an at-least-once replay re-appending
  * survivors) are verdict-stable by construction: the dedup join
  * takes MIN over matches, which duplicates cannot change. What
  * append does NOT give is safe concurrent COMMITS on one dir —
  * overlapping jobs share the FileOutputCommitter staging dir, and
  * the v1 committer race can fail a writer loudly OR silently commit
  * a partial set of its files — so the guaranteed-in-every-
  * interleaving invariants pinned here are exactly the ones that make
  * "serialize appends per dir; on doubt, re-append whole" the safe
  * discipline: committed rows survive, nothing duplicates or tears,
  * nothing appears that no writer produced.
  *
  * Half 2 (what overlap CAN do): two writers whose read-index..append
  * windows overlap both dedup against the same snapshot, so a near-dup
  * pair split across them is admitted TWICE — a second survivor, the
  * append-loop analog of the upsert lost update. The stream itself
  * never hits this (foreachBatch serializes batches within a query);
  * it is the multi-driver hazard, and the production answer is a
  * transactional table format's optimistic commit on the index table
  * (post-hoc, `dedup_cluster_keep` / `dedup_embedding_keep` collapse
  * any double-admitted pair).
  */
class IndexOverlapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(tag: String): String =
    TestSpark.tempDir(s"graft_io_$tag").toString

  private val dupText = "the quick brown fox jumps over the lazy dog again and again today"
  private val otherText = "completely different corpus text about streaming query engines"
  private val thirdText = "a third unrelated document concerning distributed snapshot protocols"

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def verdicts(df: DataFrame): Map[Long, Option[Long]] =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  // ----------------------------------------------------------------
  // DocStream
  // ----------------------------------------------------------------

  test("doc index: appends never silently lose committed rows (append = union)") {
    val indexDir = tmp("dapp") + "/idx"
    DocStream.writeSignatureIndex(docs(1L -> otherText), indexDir)
    val bandA = DocStream.bandRows(docs(2L -> dupText)).localCheckpoint()
    val bandB = DocStream.bandRows(docs(3L -> thirdText)).localCheckpoint()
    val perDoc = Map(2L -> bandA.count(), 3L -> bandB.count())
    val boot = spark.read.parquet(indexDir).count()
    // interleaved appenders (commit windows serialized): append is a
    // UNION of uniquely-named part files — B's append cannot replace
    // or drop A's, unlike the upsert swap
    bandA.write.mode("append").parquet(indexDir)
    bandB.write.mode("append").parquet(indexDir)
    val after = spark.read.parquet(indexDir)
    assert(after.count() == boot + perDoc.values.sum,
      "an admitted doc's band rows were lost by a second appender")
    val byDoc = after.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(2L) == perDoc(2L) && byDoc(3L) == perDoc(3L),
      s"per-doc band rows torn: $byDoc")
  }

  test("doc index: concurrent commits never corrupt — committed state stays a clean subset") {
    // overlapping commit WINDOWS on one dir share the
    // FileOutputCommitter staging root (<idx>/_temporary/0) — vanilla
    // parquet's real concurrency limit, distinct from the append
    // semantics above. The v1 committer race means an appender can
    // fail loudly OR silently commit a PARTIAL set of its task files
    // (a racer's cleanup deleted the rest), so per-writer completeness
    // is NOT guaranteed and the Scaladoc tells deployments to
    // serialize appends per dir. What IS guaranteed in every
    // interleaving — and what makes a blind whole re-append the safe
    // recovery — is pinned here: already-committed rows survive
    // untouched, nothing is duplicated or torn into invalid rows, and
    // the dir never holds rows that neither writer produced.
    val indexDir = tmp("drace") + "/idx"
    DocStream.writeSignatureIndex(docs(1L -> otherText), indexDir)
    val boot = spark.read.parquet(indexDir).localCheckpoint()
    val writers = Seq(
      2L -> DocStream.bandRows(docs(2L -> dupText)).localCheckpoint(),
      3L -> DocStream.bandRows(docs(3L -> thirdText)).localCheckpoint())
    val ok = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]
    val ts = writers.map { case (id, b) =>
      new Thread(() =>
        try { b.write.mode("append").parquet(indexDir); ok.put(id, true) }
        catch { case _: Throwable => ok.put(id, false) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    // A racer that dies mid-commit can strand FileOutputCommitter
    // staging debris under <idx>/_temporary. Parquet readers skip
    // _-prefixed paths, so the asserts below never see it — scrub it
    // anyway (advisor r10) so the only run-to-run variance in the dir
    // is the committed files the assertions are about, and a later
    // writer can't inherit a stale staging root.
    // delete() returning false on a still-existing path would mean
    // the debris SURVIVED the scrub (advisor r11) — fail loudly
    // rather than let the stale-staging-root guarantee pass vacuously.
    def scrub(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(scrub)
      assert(!f.exists() || f.delete(), s"failed to scrub staging debris at $f")
    }
    scrub(new java.io.File(indexDir, "_temporary"))
    val after = spark.read.parquet(indexDir).localCheckpoint()
    assert(after.filter(col("doc_id") === 1L).count() == boot.count(),
      "bootstrap rows must survive any append outcome")
    // subset of the intended union, nothing invented or torn
    val intended = boot.unionByName(writers(0)._2).unionByName(writers(1)._2)
    assert(after.exceptAll(intended).isEmpty,
      "the index holds rows no writer produced — a torn/corrupt commit")
    // and nothing duplicated: each doc's rows appear at most once
    val byDoc = after.groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    writers.foreach { case (id, b) =>
      val expect = b.count()
      val got = byDoc.getOrElse(id, 0L)
      assert(got <= expect, s"writer $id rows duplicated: $got > $expect")
      info(s"writer $id: reported=${ok.get(id)} rows=$got/$expect" +
        (if (got < expect) " (partial/failed — whole re-append is the safe recovery)"
         else ""))
    }
  }

  test("doc index: duplicate band rows (replayed append) are verdict-stable") {
    val indexDir = tmp("ddup") + "/idx"
    DocStream.writeSignatureIndex(
      docs(1L -> dupText, 2L -> otherText), indexDir)
    val clean = verdicts(DocStream.dedupBatch(
      docs(20L -> dupText, 21L -> thirdText),
      spark.read.parquet(indexDir).localCheckpoint()))
    // an at-least-once replay re-appends doc 1's survivor band rows
    DocStream.bandRows(docs(1L -> dupText))
      .write.mode("append").parquet(indexDir)
    val withDups = verdicts(DocStream.dedupBatch(
      docs(20L -> dupText, 21L -> thirdText),
      spark.read.parquet(indexDir)))
    assert(clean == Map(20L -> Some(1L), 21L -> None),
      s"baseline verdicts unexpected: $clean")
    assert(withDups == clean,
      "duplicate index rows changed a verdict — MIN-over-matches must absorb replays")
  }

  test("doc index: overlapped read..append windows admit a near-dup pair twice") {
    val indexDir = tmp("ddbl") + "/idx"
    DocStream.writeSignatureIndex(docs(1L -> otherText), indexDir)
    // OVERLAP WINDOW: both writers pin the SAME index snapshot before
    // either appends (localCheckpoint eagerly materializes the read,
    // the UpsertOverlapSpec device) — what two drivers racing on one
    // index dir do
    val prior1 = spark.read.parquet(indexDir).localCheckpoint()
    val prior2 = spark.read.parquet(indexDir).localCheckpoint()
    val batchA = docs(10L -> dupText)
    val batchB = docs(11L -> dupText) // near-dup of 10, split across writers
    // writer A: dedup vs the pinned snapshot, append its survivor
    val vA = verdicts(DocStream.dedupBatch(batchA, prior1))
    DocStream.bandRows(batchA).write.mode("append").parquet(indexDir)
    // writer B: dedups vs the SAME snapshot — it never saw doc 10
    val vB = verdicts(DocStream.dedupBatch(batchB, prior2))
    DocStream.bandRows(batchB).write.mode("append").parquet(indexDir)
    // THE HAZARD, DEMONSTRATED: both copies admitted as survivors
    assert(vA == Map(10L -> None) && vB == Map(11L -> None),
      s"expected the double admit the doc warns about; got A=$vA B=$vB")
    // THE BOUND: a SERIALIZED writer (fresh index read — it sees doc
    // 10's appended bands) catches exactly what the overlap missed...
    val serial = verdicts(DocStream.dedupBatch(
      docs(12L -> dupText), spark.read.parquet(indexDir)))
    assert(serial == Map(12L -> Some(10L)),
      "a non-overlapped writer must dedup against both appended survivors")
    // ...and nothing was LOST by the interleaved appends: both
    // writers' band rows coexist in the index (append ≠ swap)
    val ids = spark.read.parquet(indexDir).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 10L, 11L))
  }

  // ----------------------------------------------------------------
  // EmbStream (same two halves on the embedding loop)
  // ----------------------------------------------------------------

  private val base: Seq[Double] =
    Seq.tabulate(64)(i => if (i % 2 == 0) 0.5 + 0.01 * i else 0.0)
  private val orth: Seq[Double] =
    Seq.tabulate(64)(i => if (i % 2 == 1) 0.5 + 0.01 * i else 0.0)

  private def vecs(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    Similarity.quantizeCols(rows.toDF("vec_id", "embedding"))
  }

  private def embVerdicts(df: DataFrame): Map[Long, Option[Long]] =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("emb index: duplicated band/vector rows are verdict-stable; overlap double-admits") {
    import spark.implicits._
    val (bandDir, vecDir) = (tmp("eband") + "/b", tmp("evec") + "/v")
    EmbStream.writeIndex(
      Seq((0L, base)).toDF("vec_id", "embedding"), bandDir, vecDir)

    // half 1: an at-least-once replay re-appends vec 0's rows to BOTH
    // stores — min-struct verdicts cannot change
    val batch = vecs(10L -> base, 11L -> orth)
    val clean = embVerdicts(EmbStream.dedupBatch(batch,
      spark.read.parquet(bandDir).localCheckpoint(),
      spark.read.parquet(vecDir).localCheckpoint()))
    val q0 = vecs(0L -> base)
    Similarity.dedupBandRows(q0).write.mode("append").parquet(bandDir)
    q0.write.mode("append").parquet(vecDir)
    val withDups = embVerdicts(EmbStream.dedupBatch(batch,
      spark.read.parquet(bandDir), spark.read.parquet(vecDir)))
    assert(clean == Map(10L -> Some(0L), 11L -> None),
      s"baseline emb verdicts unexpected: $clean")
    assert(withDups == clean,
      "duplicate store rows changed an emb verdict — min-struct must absorb replays")

    // half 2: two overlapped writers split a near-dup pair (20, 21)
    val pb1 = spark.read.parquet(bandDir).localCheckpoint()
    val pv1 = spark.read.parquet(vecDir).localCheckpoint()
    val pb2 = spark.read.parquet(bandDir).localCheckpoint()
    val pv2 = spark.read.parquet(vecDir).localCheckpoint()
    val qA = vecs(20L -> orth)
    val qB = vecs(21L -> orth)
    val vA = embVerdicts(EmbStream.dedupBatch(qA, pb1, pv1))
    Similarity.dedupBandRows(qA).write.mode("append").parquet(bandDir)
    qA.write.mode("append").parquet(vecDir)
    val vB = embVerdicts(EmbStream.dedupBatch(qB, pb2, pv2))
    Similarity.dedupBandRows(qB).write.mode("append").parquet(bandDir)
    qB.write.mode("append").parquet(vecDir)
    assert(vA == Map(20L -> None) && vB == Map(21L -> None),
      s"expected the emb double admit; got A=$vA B=$vB")
    // serialized writer sees both survivors and catches the dup
    val serial = embVerdicts(EmbStream.dedupBatch(vecs(22L -> orth),
      spark.read.parquet(bandDir), spark.read.parquet(vecDir)))
    assert(serial == Map(22L -> Some(20L)),
      "a non-overlapped emb writer must dedup against the appended survivors")
  }
}
