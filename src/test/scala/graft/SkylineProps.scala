package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

/** Property test: q_skyline's distributed prefix-max plan must agree
  * with the brute-force O(n²) dominance reference on arbitrary point
  * sets — small value domains force heavy price AND date ties, the
  * edge cases of the prefix-max decomposition.
  */
object SkylineProps extends Properties("Skyline") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark

  private val pointGen = for {
    price <- Gen.choose(1, 6).map(_ * 100.0) // few distinct prices -> ties
    day <- Gen.choose(0, 5)                  // few distinct dates -> ties
  } yield (price, day)

  private val caseGen = Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, pointGen))

  property("equals the brute-force dominance reference") =
    forAllNoShrink(caseGen) { points =>
      import spark.implicits._
      val dir = TestSpark.tempDir("graft_sky").toString
      try {
        val rows = points.zipWithIndex.map { case ((price, day), id) =>
          (id.toLong, 0L, "O", price,
            java.time.LocalDateTime.of(2024, 1, 1 + day, 0, 0), "P")
        }
        rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
          .coalesce(1).write.parquet(s"$dir/orders.parquet")
        val got = SparkEntry.queries("q_skyline")(spark, dir)
          .select("o_orderkey").collect().map(_.getLong(0)).toSet
        // reference: keep i iff no j dominates it
        val pts = rows.map(r => (r._1, r._4, r._5))
        val want = pts.filter { case (_, pi, di) =>
          !pts.exists { case (_, pj, dj) =>
            pj <= pi && !dj.isBefore(di) && (pj < pi || dj.isAfter(di))
          }
        }.map(_._1).toSet
        got == want
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      }
    }
}
