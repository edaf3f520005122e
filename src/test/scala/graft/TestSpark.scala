package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftRuntime.local(4, "spark.app.name" -> "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

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
