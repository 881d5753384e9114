package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SourceConfig
import graft.util.Scratch

/** Resumable fan-out route with per-batch lineage — the rebuild's analog of
  * Iceberg snapshot / streaming-offset commit tracking (north rule:
  * "checkpoints per-partition offsets and lineage (doc_id ranges + snapshot
  * ids) so a killed run resumes without reprocessing").
  *
  * The input parquet directory's leaf files are deterministically grouped
  * into `batches` micro-batches (the batch's file list IS its offset range —
  * same model as Kafka offsets / Iceberg split planning). Each batch reads
  * ONLY its own files (no re-scan of already-committed data), is routed
  * (salted repartition -> per-sink partitioned write into the batch's own
  * directory) and committed by atomically publishing a lineage manifest
  * (doc_id range, per-sink counts, row-set signature, input files).
  *
  * On resume: committed batches are skipped; an orphan batch directory with
  * no manifest (mid-write kill) is removed and rewritten — exactly-once
  * output without a table-format dependency. At cluster scale each batch is
  * one Spark job over ~1/batches of the input; a full-job kill loses at most
  * one uncommitted batch.
  */
class RouteJob(spark: SparkSession, outDir: String,
    batches: Int = 8, saltBuckets: Int = 32) {

  val lineageDir: Path = Paths.get(outDir, "_lineage")

  case class Lineage(batch: Int, rows: Long, minDoc: String, maxDoc: String,
      sinkCounts: Map[String, Long], rowsetSig: Long, inputFiles: Seq[String])

  final class SimulatedKill extends RuntimeException("simulated mid-run kill")

  def committedBatches(): Set[Int] =
    if (!Files.isDirectory(lineageDir)) Set.empty
    else Files.list(lineageDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("batch-\\d+\\.json") =>
        s.stripPrefix("batch-").stripSuffix(".json").toInt }
      .toSet

  private def batchDir(i: Int): Path = Paths.get(outDir, s"batch=$i")

  /** Deterministic micro-batch planning: sorted leaf files, round-robin. */
  def planBatches(inputDir: String): Map[Int, Seq[String]] = {
    val files = Files.walk(Paths.get(inputDir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(_.toString).toSeq.sorted
    files.zipWithIndex.groupMap { case (_, i) => i % batches } { case (f, _) => f }
  }

  /** Run (or resume) the route over `inputDir`. `failAfter >= 0` simulates a
    * kill after that many batch commits (resumability test). Returns lineage
    * of the batches committed by THIS run.
    */
  def run(inputDir: String, configs: Seq[SourceConfig],
      failAfter: Int = -1): Seq[Lineage] = {
    Files.createDirectories(lineageDir)
    val plan = planBatches(inputDir)
    val done = committedBatches()
    plan.keys.filterNot(done).foreach(i => Scratch.deleteRecursively(batchDir(i).toFile))

    val out = Seq.newBuilder[Lineage]
    var committed = 0
    plan.toSeq.sortBy(_._1).filterNot { case (i, _) => done(i) }.foreach { case (i, files) =>
      if (failAfter >= 0 && committed >= failAfter) throw new SimulatedKill
      val sequences = spark.read.parquet(files: _*)
      val enriched = LogPipeline.run(spark, sequences, configs)
      LogPipeline.routeWrite(enriched, batchDir(i).toString, saltBuckets)
      // lineage from what was actually written (read-back = the "snapshot")
      val written = spark.read.parquet(batchDir(i).toString)
      val sinkRows = written.groupBy("sink").agg(
        count(lit(1)).as("n"),
        min("doc_id").as("mn"), max("doc_id").as("mx"),
        bit_xor(xxhash64(col("doc_id"), col("tokens"))).as("sig")).collect()
      val lin = Lineage(i,
        rows = sinkRows.map(_.getLong(1)).sum,
        minDoc = if (sinkRows.isEmpty) "" else sinkRows.map(_.getString(2)).min,
        maxDoc = if (sinkRows.isEmpty) "" else sinkRows.map(_.getString(3)).max,
        sinkCounts = sinkRows.map(r => r.getString(0) -> r.getLong(1)).toMap,
        rowsetSig = sinkRows.map(_.getLong(4)).foldLeft(0L)(_ ^ _),
        inputFiles = files)
      commitLineage(lin)
      out += lin
      committed += 1
    }
    out.result()
  }

  private def commitLineage(l: Lineage): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sinks = l.sinkCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    val files = l.inputFiles.map(q).mkString("[", ",", "]")
    val json =
      s"""{"batch": ${l.batch}, "rows": ${l.rows}, "min_doc": ${q(l.minDoc)}, "max_doc": ${q(l.maxDoc)}, "rowset_sig": ${l.rowsetSig}, "sink_counts": $sinks, "input_files": $files}"""
    val tmp = lineageDir.resolve(s".batch-${l.batch}.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, lineageDir.resolve(s"batch-${l.batch}.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** All routed rows across committed batches. */
  def routed(): DataFrame = routedAt(Int.MaxValue)

  /** TIME-TRAVEL read: the routed table AS OF lineage snapshot
    * `batch` — only batches committed with id <= `batch` are visible,
    * exactly Iceberg's read-at-snapshot-id over the same manifests the
    * writer publishes atomically. A reader pinned to a snapshot never
    * sees rows from later commits, so audits/re-runs are reproducible
    * while ingestion keeps appending.
    */
  def routedAt(batch: Int): DataFrame = {
    val dirs = committedBatches().filter(_ <= batch).toSeq.sorted
      .map(i => batchDir(i).toString)
      .filter(d => Files.isDirectory(Paths.get(d)))
    spark.read.option("basePath", outDir).parquet(dirs: _*)
  }
}
