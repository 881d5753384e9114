package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for routed sinks.
  *
  * The streaming fan-out accumulates one directory per micro-batch
  * (`batch=N/sink=S/part-*`); at cluster scale the file count, not the
  * byte count, becomes the metastore/planning bottleneck. Compaction
  * rewrites a routed output into ~`targetRows`-sized files per sink,
  * keeping the time clustering (sort by ts within files -> row-group
  * min/max pruning survives).
  *
  * Safety: the order-independent row-set signature (count + bit_xor of
  * xxhash64(doc_id, tokens), the same invariant the north rule uses for
  * routed-row equality) is computed per sink on both sides and the job
  * REFUSES to commit a mismatch — the rewrite lands in a staging dir and
  * is renamed into `outDir` only after the signatures match, so a failed
  * verification leaves no partial output behind. The reference has no
  * compaction (SQLite is one file); this is pure scale machinery.
  */
object CompactionJob {

  /** Order-independent row-set signature over `cols`: (count, bit_xor of
    * xxhash64(cols)). A plain global aggregate, so the same signature is
    * both recomputed from written files ([[of]], the "after" side) and
    * observed as an [[org.apache.spark.sql.Observation]] riding the rewrite
    * itself ([[observe]], the "before" side; guide §1.2: one pass, not two).
    * Including `sink` in the routed-row columns makes a row silently
    * CHANGING sinks flip the global xor, so one (count, xor) pair carries
    * the per-sink row-set guarantee.
    */
  private[graft] final class RowSetSig(cols: String*) {
    private def aggs = (count(lit(1)).as("n"), bit_xor(xxhash64(cols.map(col): _*)).as("sig"))
    private def value(n: Any, sig: Any): (Long, Long) =
      (n.asInstanceOf[Long], sig match { case l: Long => l; case _ => 0L })

    def of(df: DataFrame): (Long, Long) = {
      val (n, sig) = aggs
      val r = df.agg(n, sig).head()
      value(r.get(0), r.get(1))
    }

    /** `df` observing its signature, and the signature once an action ran it. */
    def observe(df: DataFrame): (DataFrame, () => (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val (n, sig) = aggs
      (df.observe(obs, n, sig), () => {
        val m = obs.get
        value(m("n"), m.getOrElse("sig", null))
      })
    }
  }
  private[plans] val routedSig = new RowSetSig("sink", "doc_id", "tokens")

  final case class Result(sinks: Int, rows: Long, filesBefore: Long, filesAfter: Long)

  /** Write a staging dir via `write`, verify it with `sig` (recomputed on
    * both sides), then swap it into `outPath`. Staging and backup dirs are
    * `.`-prefixed siblings of `outPath`, which Spark's file index skips.
    * The old output is renamed ASIDE — not deleted — before the swap, and
    * the backup is dropped only after the swap succeeds: a failed rename (or a crash between the two) always
    * leaves at least one complete output behind, old or new. A failed
    * write/verification leaves no partial output; once verified, the staging
    * dir may be the only complete copy, so post-verification failures keep
    * it for recovery instead of destroying both sides.
    */
  private[graft] def verifiedSwap[S](fs: org.apache.hadoop.fs.FileSystem,
      outPath: Path)(write: String => Unit)(sig: String => S,
      before: => S): Unit = { // by-name: the input signature may ride the
    var verified = false      // write itself as an Observation
    val staging = new Path(outPath.getParent,
      s".${outPath.getName}.compact-staging-${System.nanoTime()}")
    try {
      write(staging.toString)
      val after = sig(staging.toString)
      require(before == after,
        s"the rewrite changed the row set: before=$before after=$after")
      verified = true
      val backup = new Path(outPath.getParent,
        s".${outPath.getName}.compact-old-${System.nanoTime()}")
      val hadOld = fs.exists(outPath)
      if (hadOld && !fs.rename(outPath, backup))
        throw new java.io.IOException(s"failed to move $outPath aside to $backup")
      if (!fs.rename(staging, outPath)) {
        if (hadOld) fs.rename(backup, outPath): Unit // restore the old output
        throw new java.io.IOException(s"failed to rename $staging to $outPath")
      }
      if (hadOld) fs.delete(backup, true): Unit
      // a fresh verified output supersedes recovery copies kept by EARLIER
      // failed runs (post-verification rename failures, crash windows) —
      // reclaim them now instead of accumulating full-size orphans.
      // Single-writer-per-outDir assumption, like any compaction job.
      // Best-effort: the commit already happened, so a cleanup hiccup must
      // not turn a successful compaction into a reported failure.
      try {
        val stale = Seq(s".${outPath.getName}.compact-staging-",
          s".${outPath.getName}.compact-old-")
        fs.listStatus(outPath.getParent)
          .filter(s => stale.exists(s.getPath.getName.startsWith))
          .foreach(s => fs.delete(s.getPath, true): Unit)
      } catch { case _: java.io.IOException => () }
    } finally {
      if (!verified && fs.exists(staging)) fs.delete(staging, true): Unit
    }
  }

  private[graft] def fileCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val dfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!dfs.exists(p)) return 0L
    val it = dfs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  /** Compact `inDir` (any batch/sink partition layout) into `outDir` (per sink). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetRows: Long = 2000000L): Result = {
    val outPath = new Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val in = LogPipeline.routedRows(spark.read.parquet(inDir))
    // writer sizing from a column-less count (parquet footer row counts, no
    // data pass); the input row-set signature rides the rewrite itself as
    // an Observation — the previous shape read the full input TWICE (one
    // summarize pass + the rewrite). The output side is still recomputed
    // independently from the written files. A retried/replayed task would
    // double-fold the observed signature: the gate then REFUSES (staging
    // kept, no commit) — fail-safe, never a silent wrong commit.
    val rows = spark.read.parquet(inDir).count()
    val parts = math.max(1, math.min(Int.MaxValue.toLong, (rows + targetRows - 1) / targetRows)).toInt
    val (observed, before) = routedSig.observe(in)
    verifiedSwap(fs, outPath) { dst =>
      observed
        .repartition(parts, col("sink"), pmod(hash(col("doc_id")), lit(parts * 8)))
        .sortWithinPartitions(col("sink"), col("ts"))
        .write.mode("overwrite").partitionBy("sink").parquet(dst)
    }(dst => routedSig.of(spark.read.parquet(dst)), before())
    val sinks = {
      val it = fs.listStatus(outPath)
      it.count(s => s.isDirectory && s.getPath.getName.startsWith("sink="))
    }
    Result(sinks, rows, fileCount(spark, inDir), fileCount(spark, outDir))
  }

  /** Compact the per-batch inverted-index dirs that streaming ingest
    * accumulates (`indexDir/batch=N/`, StreamingPipeline.ingest) back into
    * one globally word-ordered postings table — restoring the row-group
    * min/max pruning that FullTextIndex.build establishes (a word's postings
    * scattered across every batch dir defeats it). Same verified-swap
    * signature gate as the data compaction: count + bit_xor of
    * xxhash64(word, doc_id) must survive the rewrite.
    */
  def compactIndex(spark: SparkSession, inDir: String, outDir: String,
      numPartitions: Int = 0): Result = {
    val outPath = new Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism

    val postingsSig = new RowSetSig("word", "doc_id")
    def sig(dir: String): (Long, Long) = postingsSig.of(spark.read.parquet(dir))
    val before = sig(inDir)
    verifiedSwap(fs, outPath) { dst =>
      spark.read.parquet(inDir).select("word", "doc_id")
        .repartitionByRange(parts, col("word"), col("doc_id"))
        .sortWithinPartitions("word", "doc_id")
        .write.mode("overwrite").parquet(dst)
    }(sig, before)
    Result(1, before._1, fileCount(spark, inDir), fileCount(spark, outDir))
  }
}
