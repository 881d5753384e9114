package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.plans.CompactionJob

/** A merge-on-read store behind a live view (SURVEY.md §2.7), and the one
  * owner of its dir layout:
  *
  *   - `delta=<batchId>/`: one micro-batch's output. Each batch overwrites
  *     only its own dir, so a batch replayed after a crash lands in place
  *     instead of duplicating.
  *   - `base-<id>/`: a compacted snapshot of the store as of batch `id`.
  *     Parts at or below the newest base's id are superseded by it (left
  *     only for readers planned before the base committed).
  *
  * The store's merge rule fixes how the newest base and the newer deltas
  * merge into the served rows: [[DeltaStore.NewestWins]] for update-mode
  * aggregations (the latest batch that touched a key carries its cumulative
  * row), [[DeltaStore.Append]] for append-mode outputs (every row counts).
  * The four stores are constants of the companion; no store is configured.
  */
final class DeltaStore private (dir: String, keyCols: Seq[String],
    valueCols: Seq[String], rule: DeltaStore.Rule) {
  import DeltaStore._

  private def cols: Seq[String] = keyCols ++ valueCols
  private def fs(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's parts: the newest base (if any), the deltas newer than it,
    * and every part it superseded. The base-commit rename is the single
    * atomic point of a compaction: a superseded part a crash left behind is
    * never served.
    */
  private def parts(spark: SparkSession): Parts = {
    val root = new Path(dir)
    val dfs = fs(spark)
    if (!dfs.exists(root)) return Parts(None, Seq.empty, Seq.empty)
    val children = dfs.listStatus(root).filter(_.isDirectory)
    def numbered(prefix: String) = children.toSeq.flatMap { c =>
      val n = c.getPath.getName
      if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption.map(Part(_, c))
      else None
    }.sortBy(_.id)
    val bases = numbered(BasePrefix)
    val floor = bases.lastOption.fold(-1L)(_.id)
    val (deltas, oldDeltas) = numbered(DeltaPrefix).partition(_.id > floor)
    Parts(bases.lastOption, deltas, bases.dropRight(1) ++ oldDeltas)
  }

  /** The served rows: the newest base (its rows rank at the base's batch
    * id) merged with every newer delta under the merge rule. Only aggregate or
    * output rows move, never events.
    */
  def served(spark: SparkSession): DataFrame = served(spark, parts(spark))

  /** [[served]] over one listing: a compaction builds its signature and its
    * rewrite from the same part set while the writer appends concurrently.
    */
  private def served(spark: SparkSession, p: Parts): DataFrame = {
    val out = cols.map(col)
    // single-part store: one base or one delta is one aggregation output
    // (keys unique by construction) or one append batch, so the merge is
    // the identity. Skipping it removes a full shuffle + sort of the cell
    // table from the serving plan (guide §2.4 "remove shuffles outright").
    (p.base, p.deltas) match {
      case (Some(b), Seq()) => return spark.read.parquet(b.path).select(out: _*)
      case (None, Seq(d)) => return spark.read.parquet(d.path).select(out: _*)
      case _ => ()
    }
    val frames =
      p.base.map(b => spark.read.parquet(b.path).withColumn("delta", lit(b.id))).toSeq ++
      (if (p.deltas.nonEmpty)
        Seq(spark.read.option("basePath", dir).parquet(p.deltas.map(_.path): _*)
          .withColumn("delta", col("delta").cast("long")))
      else Seq.empty)
    require(frames.nonEmpty, s"no delta store at $dir")
    val all = frames.reduce(_ unionByName _)
    (rule match {
      case NewestWins =>
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("delta").desc)
        all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      case Append => all
    }).select(out: _*)
  }

  /** Run `stream` into this store: update output mode for a newest-wins
    * store, append for an append store, one delta dir per micro-batch.
    *
    * Reset rule: a FRESH checkpoint (no `offsets/` yet) against a store that
    * already holds parts is refused. Its batch ids would restart at 0, so
    * the stale higher-numbered deltas would win a newest-wins serve, be
    * counted twice by an append serve, or hide every new delta below a
    * base. A restart that reuses its checkpoint is not a reset.
    */
  def start[T](stream: Dataset[T], checkpointDir: String,
      trigger: Trigger): StreamingQuery = {
    val spark = stream.sparkSession
    val offsets = new Path(checkpointDir, "offsets")
    val p = parts(spark)
    require(offsets.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(offsets) ||
        (p.base.isEmpty && p.deltas.isEmpty && p.superseded.isEmpty),
      s"delta store $dir already holds parts but checkpoint $checkpointDir is " +
        "fresh — a reset checkpoint against a kept sink restarts batch ids at " +
        "0 and serves stale deltas; start a fresh sink dir")
    stream.writeStream
      .outputMode(rule match { case NewestWins => "update"; case Append => "append" })
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: Dataset[T], batchId: Long) => writeBatch(batch.toDF(), batchId))
      .start()
  }

  private def writeBatch(batch: DataFrame, batchId: Long): Unit = {
    // pin the batch output: the emptiness probe and the write would
    // otherwise each re-run the stateful operator
    batch.persist()
    try {
      if (!batch.isEmpty)
        batch.write.mode("overwrite").parquet(s"$dir/$DeltaPrefix$batchId")
    } finally batch.unpersist(): Unit
  }

  /** Fold the newest base (if any) and every newer delta into ONE base
    * snapshot ranked at the newest delta's batch id. The writer keeps
    * appending deltas with higher ids concurrently, and the serve composes
    * `newest base + newer deltas`, so compaction never blocks ingest or
    * serving.
    *
    * The fold goes through the data compaction's verified swap
    * (`CompactionJob.verifiedSwap`): the served rows' (count, xor of row
    * hashes), observed on the rewrite and recomputed from the written
    * files, must match before the verified `.base-<id>…` staging dir is
    * renamed to `base-<id>`. That one atomic rename is the commit: until it
    * lands, readers see the old parts untouched; after it lands, the
    * superseded parts are invisible to every NEW reader but stay at their
    * paths for `graceMs`, so a CONCURRENT reader whose plan listed them
    * before the commit keeps reading — a merge-on-read store never deletes
    * under a live scan. Supersede time is a tombstone marker
    * (`.graft-reclaim/<part>`); a later compaction reclaims every marked
    * part older than the grace, and any staging debris a crashed run left
    * behind.
    */
  def compact(spark: SparkSession, graceMs: Long = 600000L): CompactionJob.Result = {
    val root = new Path(dir)
    val dfs = fs(spark)
    val filesBefore = CompactionJob.fileCount(spark, dir)
    val marks = new Path(root, ".graft-reclaim")
    def tombstone(ps: Seq[Part]): Unit = ps.foreach { part =>
      val m = new Path(marks, part.name)
      if (!dfs.exists(m)) { dfs.mkdirs(marks): Unit; dfs.create(m, true).close() }
    }
    // the reclaim pass runs on EVERY call, even a no-op one
    val now = System.currentTimeMillis()
    try {
      if (dfs.exists(marks)) dfs.listStatus(marks).foreach { m =>
        if (now - m.getModificationTime > graceMs) {
          dfs.delete(new Path(root, m.getPath.getName), true): Unit
          dfs.delete(m.getPath, false): Unit
        }
      }
      if (dfs.exists(root)) dfs.listStatus(root)
        .filter(s => s.getPath.getName.startsWith(s".$BasePrefix") &&
          now - s.getModificationTime > graceMs)
        .foreach(s => dfs.delete(s.getPath, true): Unit)
    } catch { case _: java.io.IOException => () }
    // ONE listing feeds the signature AND the rewrite: a delta the writer
    // appends meanwhile is simply left for the next compaction
    val p = parts(spark)
    // a crash between commit and tombstoning leaves superseded parts
    // unmarked (never served, never reclaimed): start their grace clock now
    try tombstone(p.superseded) catch { case _: java.io.IOException => () }
    if (p.deltas.isEmpty) // nothing newer than the base: no-op
      return CompactionJob.Result(1, 0L, filesBefore, filesBefore)
    val sig = new CompactionJob.RowSetSig(cols: _*)
    val (observed, before) = sig.observe(served(spark, p))
    CompactionJob.verifiedSwap(dfs, new Path(root, s"$BasePrefix${p.deltas.map(_.id).max}")) {
      dst => observed.write.mode("overwrite").parquet(dst)
    }(dst => sig.of(spark.read.parquet(dst)), before())
    // the marker's mtime IS the supersede time (best-effort: the commit
    // already happened)
    try tombstone(p.base.toSeq ++ p.deltas) catch { case _: java.io.IOException => () }
    CompactionJob.Result(1, before()._1, filesBefore, CompactionJob.fileCount(spark, dir))
  }
}

object DeltaStore {
  sealed trait Rule
  /** Update-mode outputs: the newest part that carries a key wins. */
  case object NewestWins extends Rule
  /** Append-mode outputs: every row of every part counts. */
  case object Append extends Rule

  private final case class Part(id: Long, status: FileStatus) {
    def name: String = status.getPath.getName
    def path: String = status.getPath.toString
  }
  private final case class Parts(base: Option[Part], deltas: Seq[Part], superseded: Seq[Part])

  private val BasePrefix = "base-"
  private val DeltaPrefix = "delta="

  /** [[StreamingPipeline.histogramToSink]]: rows per (1 h bucket, sink). */
  def histogram(dir: String): DeltaStore =
    new DeltaStore(dir, Seq("bucket_start", "sink"), Seq("n"), NewestWins)

  /** [[StreamingPipeline.fieldCellsToSink]]: (day, source, key, value) counts. */
  def fieldCells(dir: String): DeltaStore =
    new DeltaStore(dir, Seq("window_start", "source", "key", "value"), Seq("n"), NewestWins)

  /** [[StreamingPipeline.templateCellsToSink]]: (source, len, pos, tok) counts. */
  def templateCells(dir: String): DeltaStore =
    new DeltaStore(dir, Seq("source", "len", "pos", "tok"), Seq("cnt"), NewestWins)

  /** [[StreamingPipeline.transitionsToSink]]: one row per emitted pair. */
  def transitionPairs(dir: String): DeltaStore =
    new DeltaStore(dir, Seq("from_type", "to_type"), Seq.empty, Append)
}
