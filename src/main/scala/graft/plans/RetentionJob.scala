package graft.plans

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
    val base = Paths.get(routeOut)
    val fs = new Path(routeOut).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // `batch=<digits>` dirs only: a dir a rewrite or a crashed run left
    // next to them is no batch
    val batchDirs = Files.list(base).iterator().asScala
      .filter(p => p.getFileName.toString.matches("batch=\\d+") && Files.isDirectory(p))
      .toSeq.sortBy(_.toString)
    var dropped = 0; var rewritten = 0; var kept = 0; var rowsDeleted = 0L
    batchDirs.foreach { dir =>
      val df = spark.read.parquet(dir.toString)
      // min/max from parquet column statistics — no row scan
      val mm = df.agg(min("ts").as("mn"), max("ts").as("mx"), count(lit(1)).as("n")).head()
      val (mn, mx, n) = (mm.getTimestamp(0), mm.getTimestamp(1), mm.getLong(2))
      if (mx != null && mx.before(cutoff)) {
        // whole batch expired: directory delete, no read
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.delete(f))
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
