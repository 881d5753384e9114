package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.Recorder

/** graft's one SparkListener: failure counts and the per-stage JSON that
  * `bench_detail.json` ships. Executor loss cannot happen in local mode, so
  * `executorsLost` is not exercised here.
  */
class RecorderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a body whose task fails still reports its counts") {
    val (res, rec) = Recorder.observe(spark.sparkContext)(
      spark.range(0, 8, 1, 2).select(raise_error(lit("boom"))).collect())
    assert(res.isFailure)
    assert(rec.failedTasks >= 1, s"failed tasks: ${rec.failedTasks}")
    assert(rec.jobs.size == 1)
  }

  test("a two-stage job's stages JSON has the bench_detail keys and shuffle bytes") {
    val (_, rec) = TestSpark.observe(
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect())
    val stages = "\\{[^}]*\\}".r.findAllIn(rec.stagesJson).toSeq
    assert(stages.size >= 2, rec.stagesJson)
    stages.foreach { s =>
      assert("\"(\\w+)\":".r.findAllMatchIn(s).map(_.group(1)).toSeq == Seq("stage",
        "tasks", "records_read", "records_written", "shuffle_read_bytes",
        "shuffle_write_bytes", "max_task_ms", "median_task_ms", "skew_ratio"), s)
      assert(s.matches(".*\"skew_ratio\":\\d+\\.\\d\\d}"), s)
    }
    def total(key: String): Long = stages.map(s =>
      s"\"$key\":(\\d+)".r.findFirstMatchIn(s).get.group(1).toLong).sum
    assert(total("shuffle_write_bytes") > 0 && total("shuffle_read_bytes") > 0, rec.stagesJson)
    assert(rec.failedTasks == 0 && rec.executorsLost == 0)
  }
}
