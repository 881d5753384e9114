package graft.plans

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Scratch

/** Retention over routed sinks (reference DeleteOldEventsTask,
  * plugins/tasks/DeleteOldEventsTask.go:47-84 + S8 DeleteBatch): drop events
  * older than the cutoff.
  *
  * Scale shape: per committed batch, parquet min/max `ts` statistics decide
  * whole-batch outcomes without reading data — fully-old batches are
  * directory deletes, fully-new batches untouched; only straddling batches
  * are rewritten. (With real Iceberg this is `DELETE FROM t WHERE ts <
  * cutoff` + snapshot expiry; same pruning, managed manifests.)
  */
object RetentionJob {

  final case class RetentionStats(batchesDropped: Int, batchesRewritten: Int,
      batchesKept: Int, rowsDeleted: Long)

  def apply(spark: SparkSession, routeOut: String, cutoff: Timestamp): RetentionStats = {
    val fs = new Path(routeOut).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a micro-batch that routed no row (all of it dropped as late or
    // duplicate) leaves a dir without data files: nothing in it expires
    val (empty, batches) = LogPipeline.batchDirs(routeOut)
      .partition(d => CompactionJob.fileCount(spark, d.toString) == 0L)
    var dropped = 0; var rewritten = 0; var kept = empty.size; var rowsDeleted = 0L
    batches.foreach { dir =>
      val df = spark.read.parquet(dir.toString)
      // min/max from parquet column statistics — no row scan
      val mm = df.agg(min("ts").as("mn"), max("ts").as("mx"), count(lit(1)).as("n")).head()
      val (mn, mx, n) = (mm.getTimestamp(0), mm.getTimestamp(1), mm.getLong(2))
      if (mx != null && mx.before(cutoff)) {
        // whole batch expired: directory delete, no read
        Scratch.deleteRecursively(dir.toFile)
        if (dir.toFile.exists) throw new java.io.IOException(s"failed to delete expired batch $dir")
        dropped += 1; rowsDeleted += n
      } else if (mn != null && !mn.before(cutoff)) {
        kept += 1
      } else {
        // straddling batch: filter-rewrite into a hidden staging dir, whose
        // kept-row signature (observed on the write, recomputed from the
        // written files) must match before it is swapped in
        val (keptDf, keptSig) = CompactionJob.routedSig.observe(df.filter(col("ts") >= lit(cutoff)))
        CompactionJob.verifiedSwap(fs, new Path(dir.toString)) { dst =>
          keptDf.write.mode(SaveMode.Overwrite).partitionBy("sink").parquet(dst)
        }(dst => CompactionJob.routedSig.of(spark.read.parquet(dst)), keptSig())
        rewritten += 1; rowsDeleted += n - keptSig()._1
      }
    }
    RetentionStats(dropped, rewritten, kept, rowsDeleted)
  }
}
