package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** Property tests: the CEP-family queries must agree with brute-force
  * Scala references on arbitrary event sets (random users, types,
  * timestamps with deliberate collisions).
  *
  * The generated corpus is written as a real parquet `events` table
  * (ts in NANOS, like the driver testdata) so the queries run their
  * actual read path.
  */
object PatternsProps extends Properties("Patterns") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  private val DayMs = 86400000L
  private val HourMs = 3600000L

  private val eventGen = for {
    user <- Gen.choose(0L, 3L)
    tpe <- Gen.oneOf("view", "click", "purchase", "error")
    // spread over ~2 days so the 24h funnel window actually cuts;
    // coarse steps force same-ms collisions to exercise tie-breaks
    ms <- Gen.choose(0L, 2 * DayMs / (6 * HourMs)).map(_ * 6 * HourMs)
  } yield (user, tpe, ms)

  private val corpusGen = Gen.choose(5, 40).flatMap(n => Gen.listOfN(n, eventGen))

  /** Write a (user, type, ms) list as an events-table parquet dir. */
  private def writeEvents(rows: List[(String, Long, Long)], dir: String): Unit = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((tpe, user, ms), id) =>
      (id.toLong, ms * 1000000L, user, tpe, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
  }

  private def withCorpus[T](rows: List[(Long, String, Long)])(f: String => T): T = {
    val dir = TestSpark.tempDir("graft_pat").toString
    try {
      writeEvents(rows.map { case (u, t, m) => (t, u, m) }, dir)
      f(dir)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  property("q_funnel equals the brute-force reference") =
    forAllNoShrink(corpusGen) { rows =>
      withCorpus(rows) { dir =>
        val got = SparkEntry.queries("q_funnel")(spark, dir).head()
        val byUser = rows.groupBy(_._1)
        def views(u: Long) = byUser(u).filter(_._2 == "view").map(_._3)
        val vUsers = byUser.keys.filter(u => views(u).nonEmpty).toSet
        val cUsers = vUsers.flatMap { u =>
          val tv = views(u).min
          val cs = byUser(u).filter(e => e._2 == "click" && e._3 > tv && e._3 <= tv + DayMs)
          if (cs.nonEmpty) Some(u -> (tv, cs.map(_._3).min)) else None
        }.toMap
        val pUsers = cUsers.filter { case (u, (tv, tc)) =>
          byUser(u).exists(e => e._2 == "purchase" && e._3 > tc && e._3 <= tv + DayMs)
        }
        got.getLong(0) == vUsers.size.toLong &&
          got.getLong(1) == cUsers.size.toLong &&
          got.getLong(2) == pUsers.size.toLong
      }
    }

  property("q_pattern_match equals the adjacent-pair reference") =
    forAllNoShrink(corpusGen) { rows =>
      withCorpus(rows) { dir =>
        val got = SparkEntry.queries("q_pattern_match")(spark, dir)
          .select("view_event_id", "purchase_event_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // reference: per user, order by (ms, event_id); adjacent
        // (view, purchase) with gap <= 1h
        val ids = rows.zipWithIndex.map { case ((u, t, m), id) => (u, t, m, id.toLong) }
        val want = ids.groupBy(_._1).values.flatMap { g =>
          val sorted = g.sortBy(e => (e._3, e._4))
          sorted.zip(sorted.drop(1)).collect {
            case (a, b) if a._2 == "view" && b._2 == "purchase" &&
              b._3 - a._3 <= HourMs => (a._4, b._4)
          }
        }.toSet
        got == want
      }
    }

  // retention needs multi-week spans (the funnel generator's 48 h cap
  // would collapse every event into week 0 and make the property
  // vacuous): ~6 weeks, day granularity
  private val retentionEventGen = for {
    user <- Gen.choose(0L, 3L)
    tpe <- Gen.oneOf("view", "click", "purchase", "error")
    ms <- Gen.choose(0L, 42L).map(_ * DayMs)
  } yield (user, tpe, ms)

  private val retentionCorpusGen =
    Gen.choose(5, 40).flatMap(n => Gen.listOfN(n, retentionEventGen))

  property("q_retention equals the cohort reference") =
    forAllNoShrink(retentionCorpusGen) { rows =>
      withCorpus(rows) { dir =>
        val got = SparkEntry.queries("q_retention")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val weeks = rows.map { case (u, _, m) => (u, m / (7 * DayMs)) }.distinct
        val cohort = weeks.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
        val want = weeks.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
          .map { case (k, g) => k -> g.size.toLong }
        got == want
      }
    }
}
