package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.SequenceGen
import graft.plans.LogPipeline

/** The `graft.Main --out` batch path, as `search_jobs` runs it before it
  * serves: read the staged sequences, `LogPipeline.run`, `routeWrite`, and
  * the printed `sinkSummary(openSinks)`, checked per sink against the input.
  */
object Route {
  type Summary = Map[String, (Long, Long, Long)]

  def stage(ctx: Ctx, name: String, evs: Seq[Ev]): String = {
    val in = ctx.dir(name)
    Gen.sequences(ctx.spark, evs, ctx.conf.cores * 2).write.mode("overwrite").parquet(in)
    in
  }

  /** Expected per-sink (n, rowset_sig, total_tokens), from the input and the
    * generator's sink names.
    */
  def expected(spark: SparkSession, in: String): Summary = {
    val sinkOf = typedLit(Gen.Sources.map(s => s -> Gen.sinkOf(s)).toMap)
    spark.read.parquet(in).groupBy(element_at(sinkOf, col("source")).as("sink"))
      .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("tokens"))), sum(col("n_tok").cast("long")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  private def summary(spark: SparkSession, out: String): Summary =
    LogPipeline.sinkSummary(LogPipeline.openSinks(spark, out).withColumn("sink", LogPipeline.sinkCol))
      .orderBy("sink").collect()
      .map((r: Row) => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  /** One `Main --out` pass; returns the printed per-sink summary. */
  def pass(ctx: Ctx, in: String, out: String, req: String): Summary = {
    val spark = ctx.spark
    val enriched = ctx.tr.span("LogPipeline.run", req)(
      LogPipeline.run(spark, spark.read.parquet(in), SequenceGen.configs))
    ctx.tr.span("LogPipeline.routeWrite", req)(
      LogPipeline.routeWrite(enriched, out, spark.sparkContext.defaultParallelism))
    ctx.tr.span("LogPipeline.sinkSummary", req)(summary(spark, out))
  }

  def check(ctx: Ctx, name: String, got: Summary, want: Summary): Unit =
    ctx.out.check(name, got == want, s"sink summary $got != $want")

  def routedBytes(out: String): Double = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try files.filter(_.toString.endsWith(".parquet")).mapToLong(java.nio.file.Files.size(_)).sum().toDouble
    finally files.close()
  }

  /** Cumulative prefixes scan -> +parse -> +enrich -> +route write, each
    * forced (the noop sink, then the real write), plus the summary read.
    * The first round warms the plans up and is dropped; reports the median
    * per-stage differences of the others as `LogPipeline.*_ms`.
    */
  def prefixes(ctx: Ctx, in: String, rowsIn: Int, seconds: Double): Unit = {
    val spark = ctx.spark
    val out = ctx.dir("routed-prefix")
    val seqs = () => spark.read.parquet(in)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // the columns routeWrite persists: the fields map is pruned, as on the write path
    val persisted = Seq("doc_id", "tokens", "n_tok", "source", "host", "ts", "offset", "sink").map(col)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    ctx.group("prefix") {
      ctx.loop(seconds, minOps = 4) { i =>
        val req = s"p-$i"
        def t(name: String)(body: => Unit): Double = ctx.timeMs(ctx.tr.span(name, req)(body))._2
        val scan = t("prefix.scan")(noop(seqs()))
        val parse = t("prefix.parse")(noop(LogPipeline.parse(seqs())))
        val enrich = t("prefix.enrich")(noop(LogPipeline.run(spark, seqs(), SequenceGen.configs).select(persisted: _*)))
        val write = t("prefix.route_write")(LogPipeline.routeWrite(
          LogPipeline.run(spark, seqs(), SequenceGen.configs), out, spark.sparkContext.defaultParallelism))
        val sum = t("prefix.sink_summary")(summary(spark, out))
        rows += Seq(scan, parse - scan, enrich - parse, write - enrich, sum)
        write + sum
      }
    }
    ctx.counters.drain(spark.sparkContext)
    val written = ctx.counters.total(_ == s"perfbench-${ctx.conf.workload}-prefix")("spark.output_bytes")
    ctx.out.layers("spark.output_bytes_per_seq") = (written / math.max(1, rows.length) / rowsIn, "bytes")
    Seq("scan_ms", "parse_ms", "enrich_ms", "route_write_ms", "sink_summary_ms").zipWithIndex.foreach {
      case (n, j) => ctx.out.layers(s"LogPipeline.$n") = (Stats.median(rows.drop(1).map(_(j)).toSeq), "ms")
    }
  }

  /** Scaling efficiency thr(N cores) / (N x thr(1 core)): the best of two
    * warm passes on all cores, then of two in a fresh `local[1]` session.
    * The session is replaced, so this runs last.
    */
  def scaling(ctx: Ctx, in: String, want: Summary, rows: Int): Unit = {
    def best(out: String, tag: String): Double = (0 until 2).map { i =>
      val (got, ms) = ctx.timeMs(pass(ctx, in, out, s"$tag-$i"))
      check(ctx, s"route pass $tag $i", got, want); ms
    }.min
    val thrN = rows / (best(ctx.dir("routed-all-cores"), "all-cores") / 1000.0)
    ctx.spark.stop()
    ctx.spark = Main.session(ctx.conf, 1)
    val thr1 = rows / (best(ctx.dir("routed-one-core"), "one-core") / 1000.0)
    val eff = thrN / (ctx.conf.cores * thr1)
    ctx.out.note("ingest_seqs_per_s_warm", thrN, "1/s", s""","cores":${ctx.conf.cores}""")
    ctx.out.note("ingest_seqs_per_s_1core", thr1, "1/s")
    ctx.out.note("ingest_scaling_eff", eff, "ratio", s""","cores":${ctx.conf.cores}""")
    ctx.out.layers("ingest.scaling_eff") = (eff, "ratio")
  }
}
