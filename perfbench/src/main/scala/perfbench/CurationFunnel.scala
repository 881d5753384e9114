package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ml.{Funnel, TextAnalysis, TextCleaning, TextDedup}
import graft.sources.DocsAdapter

/** `curation_funnel`: `Funnel.curationFunnelOnePass` over
  * `DocsAdapter.funnelDocs`, pointed at a `documents.parquet` staged from the
  * seeded word-soup generator; one closed-loop client. Every pass's
  * survivor table is checked against `Funnel.curationFunnel`, computed once
  * outside the timed window.
  */
object CurationFunnel {
  val Docs = 2500
  /** Documents of the traced prefix chain: large enough that each stage's
    * difference stands well above the fixed cost of a Spark job.
    */
  val PrefixDocs = 10000

  def stageDocs(ctx: Ctx, name: String, n: Int): String = {
    val dir = ctx.dir(name)
    Gen.documents(ctx.spark, ctx.conf.seed, n).repartition(ctx.conf.cores)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  def table(df: DataFrame): Seq[(String, Long, Option[Long])] =
    df.orderBy("stage").collect().toSeq.map((r: Row) =>
      (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))

  def pass(ctx: Ctx, dir: String, req: String): Seq[(String, Long, Option[Long])] =
    ctx.tr.span("Funnel.curationFunnelOnePass", req)(
      table(Funnel.curationFunnelOnePass(DocsAdapter.funnelDocs(ctx.spark, dir))))

  def run(ctx: Ctx): Unit = {
    val conf = ctx.conf
    var dir: String = null
    val setups = ctx.phase("setup", 60) {
      // five set-ups: the first is cold, the median is of warm ones
      (0 until 5).map { k => val (d, ms) = ctx.timeMs(stageDocs(ctx, s"sf-$k", Docs)); dir = d; ms }
    }.getOrElse(Vector.empty)
    if (dir == null) return
    ctx.out.e2e("setup_s") = (Stats.median(setups) / 1000.0, "s")
    // the union form, computed once outside the timed window, is the
    // expected survivor table and warms up the shared operators
    val want = ctx.phase("expected", 90)(table(Funnel.curationFunnel(DocsAdapter.funnelDocs(ctx.spark, dir))))
      .getOrElse(return)
    val nDocs = want.head._2
    def checked(i: Int, req: String): Double = {
      val (got, ms) = ctx.timeMs(pass(ctx, dir, req))
      ctx.out.check(s"funnel pass $i", got == want, s"$got != $want")
      ms
    }
    ctx.phase("warm-up", 60)(checked(-1, "warm"))
    if (!conf.trace) {
      val (ok, wall) = ctx.timeMs(ctx.phase("measure", conf.seconds + 60)(
        ctx.loop(conf.seconds, 3)(i => checked(i, s"pass-$i"))))
      val xs = ok.getOrElse(Vector.empty)
      if (xs.isEmpty) return
      ctx.out.e2e("latency_p50_ms") = (Stats.median(xs), "ms")
      ctx.out.noteTail("funnel_pass_tail_ms", xs, "ms")
      val thr = xs.length * nDocs / (wall / 1000.0)
      ctx.out.e2e("throughput_per_s") = (thr, "1/s")
      ctx.out.note("funnel_docs_per_s", thr, "1/s")
    } else {
      val third = conf.seconds / 3
      val (u, t) = ctx.phase("traced", conf.seconds + 60)(ctx.group("pass") {
        Traced.alternate(ctx, "funnel.pass", third * 2, minPairs = 2) { (i, _) =>
          ctx.tr.span("funnel.pass", s"pass-$i")(checked(i, s"pass-$i"))
        }
      }).getOrElse((Vector.empty, Vector.empty))
      Traced.sparkCounters(ctx, u.length + t.length)
      ctx.phase("prefixes", third + 90)(ctx.group("prefix") {
        val big = stageDocs(ctx, "sf-prefix", PrefixDocs)
        prefixes(ctx, big, third, table(Funnel.curationFunnelOnePass(DocsAdapter.funnelDocs(ctx.spark, big))).last)
      })
    }
  }

  /** Cumulative prefixes of the one-pass chain, each forced with the noop
    * sink: url dedup -> +html extract -> +quality -> +chunk dedup -> +LM
    * score, over `dir`. The last prefix's survivor (n, sig) must equal the
    * last row of the one-pass table over the same documents (which ran just
    * before and warmed the later stages up; the first two prefixes are
    * warmed up here), so a drift between this chain and `Funnel` fails the
    * run instead of misattributing time.
    */
  def prefixes(ctx: Ctx, dir: String, seconds: Double, last: (String, Long, Option[Long])): Unit = {
    val spark = ctx.spark
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val sig = bit_xor(TextDedup.hash64Col(col("doc_id").cast("string")))
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    var lastSig: (Long, Option[Long]) = null
    val docs = () => DocsAdapter.funnelDocs(spark, dir).select(col("doc_id"), col("url"), col("html"))
    val url = () => TextCleaning.urlDedupMarked(docs()).filter(!col("is_dup")).select("doc_id", "html")
    val extracted = () => TextCleaning.htmlExtract(url())
    val quality = () => TextCleaning.gopherRules(
        TextCleaning.c4Filters(extracted(), passThrough = Seq("text")).withColumnRenamed("keep", "keep_c4"),
        passThrough = Seq("keep_c4", "text"))
      .filter(col("keep_c4") && col("keep")).select("doc_id", "text")
    val chunked = () => TextDedup.chunkDedup(quality())
      .filter(col("n_kept") * 2 >= col("n_chunks")).select("doc_id", "text")
    noop(url()); noop(extracted())
    ctx.loop(seconds, 3) { i =>
      val req = s"p-$i"
      def t(name: String)(body: => Unit): Double = ctx.timeMs(ctx.tr.span(name, req)(body))._2
      val a = t("prefix.url_dedup")(noop(url()))
      val b = t("prefix.html_extract")(noop(extracted()))
      val c = t("prefix.quality")(noop(quality()))
      val d = t("prefix.chunk_dedup")(noop(chunked()))
      val e = t("prefix.lm_score") {
        val r = TextAnalysis.lmScore(chunked()).filter(col("lm_score") >= Funnel.DefaultLmCutoff)
          .agg(count(lit(1)), sig).head()
        lastSig = (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
      }
      rows += Seq(a, b - a, c - b, d - c, e - d)
      e
    }
    ctx.out.check("funnel prefix chain matches Funnel", lastSig == ((last._2, last._3)),
      s"prefix chain survivors $lastSig != one-pass ${(last._2, last._3)}")
    Seq("TextCleaning.url_dedup_ms", "TextCleaning.html_extract_ms", "TextCleaning.quality_ms",
      "TextDedup.chunk_dedup_ms", "TextAnalysis.lm_score_ms").zipWithIndex.foreach { case (k, j) =>
      ctx.out.layers(k) = (Stats.median(rows.map(_(j)).toSeq), "ms")
    }
  }
}
