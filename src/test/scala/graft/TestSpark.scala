package graft

import org.apache.spark.sql.SparkSession

import graft.metrics.Recorder

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[Recorder.observe]] on the shared session; a failing body rethrows. */
  def observe[A](body: => A): (A, Recorder) =
    Recorder.observe(spark.sparkContext)(body) match { case (a, r) => (a.get, r) }
}
