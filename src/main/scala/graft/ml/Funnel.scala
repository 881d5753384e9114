package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The composed curation funnel — the end-to-end shape in which the
  * training-data operators actually run at 100 TB: a crawl corpus of
  * (doc_id, url, html) pages flows through
  *
  *   1. URL canonicalization + keep-first dedup ([[TextCleaning.urlDedup]])
  *      — collapse crawl variants of the same page BEFORE paying for any
  *      content work;
  *   2. HTML -> text extraction ([[TextCleaning.htmlExtract]]);
  *   3. page-quality filtering — C4 heuristics ([[TextCleaning.c4Filters]])
  *      AND Gopher rules ([[TextCleaning.gopherRules]]) both keep;
  *   4. chunk-level content dedup ([[TextDedup.chunkDedup]]), dropping docs
  *      that lost half or more of their chunks (re-hosted copies survive
  *      URL dedup by construction — content dedup is what catches them);
  *   5. an LM quality cutoff ([[TextAnalysis.lmScore]] >= `lmCutoff`).
  *
  * The result is one per-stage survivor table: (stage, n_docs, sig) where
  * `sig` is the order-independent bit_xor of the cross-engine 64-bit doc
  * hash — the oracle checks the exact survivor SET at every stage, not
  * just its size.
  *
  * Scale shape: the whole funnel is ONE lazy plan — no intermediate
  * actions, no materialization between stages (PlanSpec asserts zero jobs
  * until the single collect). Every stage joins on doc_id; the heavy text
  * columns flow forward only through the stages that read them, and the
  * stage aggregates reduce to one row each before the union.
  */
object Funnel {

  /** Default LM cutoff for stage 5 — sits inside the corpus score band
    * (measured [-2.07, -1.60] at both sf0.001 and sf0.01; -1.72 keeps
    * roughly the upper 60%), so the cut is non-trivial in both directions.
    * A production funnel would take the head/tail cut from
    * [[TextAnalysis.perplexityBuckets]]. Scores are 4-dp-rounded
    * identically in both engines, so the >= comparison is tie-safe.
    */
  val DefaultLmCutoff: Double = -1.72

  /** The declarative stage chain shared by [[curationFunnel]] and
    * [[survivors]]: (urlKeep, quality, chunked, lmKeep).
    */
  private def chain(docs: DataFrame, lmCutoff: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val urlKeep = TextCleaning.urlDedup(docs.select(col("doc_id"), col("url")))
      .filter(!col("is_dup")).select("doc_id")
    val extracted = TextCleaning.htmlExtract(
        docs.join(urlKeep, Seq("doc_id")).select(col("doc_id"), col("html")))
      .select(col("doc_id"), col("text"))
    val c4Keep = TextCleaning.c4Filters(extracted)
      .filter(col("keep")).select("doc_id")
    val gopherKeep = TextCleaning.gopherRules(extracted)
      .filter(col("keep")).select("doc_id")
    val quality = extracted
      .join(c4Keep, Seq("doc_id")).join(gopherKeep, Seq("doc_id"))
    val chunked = TextDedup.chunkDedup(quality)
      .filter(col("n_kept") * 2 >= col("n_chunks"))
      .select(col("doc_id"), col("text"))
    val lmKeep = TextAnalysis.lmScore(chunked)
      .filter(col("lm_score") >= lmCutoff).select("doc_id")
    (urlKeep, quality, chunked, lmKeep)
  }

  /** Run the funnel over a (doc_id, url, html) corpus; returns the
    * five-row per-stage survivor table described above.
    */
  def curationFunnel(docs: DataFrame,
      lmCutoff: Double = DefaultLmCutoff): DataFrame = {
    val (urlKeep, quality, chunked, lmKeep) = chain(docs, lmCutoff)
    def stage(name: String, ids: DataFrame): DataFrame =
      ids.agg(count(lit(1)).as("n_docs"),
          bit_xor(TextDedup.hash64Col(col("doc_id").cast("string"))).as("sig"))
        .withColumn("stage", lit(name))
        .select("stage", "n_docs", "sig")
    stage("0_input", docs.select("doc_id"))
      .unionByName(stage("1_url_dedup", urlKeep))
      .unionByName(stage("2_quality", quality.select("doc_id")))
      .unionByName(stage("3_chunk_dedup", chunked.select("doc_id")))
      .unionByName(stage("4_lm_cutoff", lmKeep))
  }

  /** The funnel's FINAL survivor set — the doc_ids a pipeline feeds into
    * the downstream tokenize/pack/shard steps (`graft.Main --curate
    * --out` writes exactly this). Same lazy chain as [[curationFunnel]].
    */
  def survivors(docs: DataFrame,
      lmCutoff: Double = DefaultLmCutoff): DataFrame =
    chain(docs, lmCutoff)._4

  /** ONE-PASS form of [[curationFunnel]] — the serving shape. The union
    * form above re-derives each stage's prefix per survivor aggregate
    * (exchange reuse covers only the shuffled subtrees), so the corpus
    * pays the regex-heavy extract ~stage-count times. Here the chain is
    * restructured strictly LINEARLY and the per-stage counters ride the
    * single pass as [[Observation]]s (`Dataset.observe` /
    * CollectMetrics — Spark's accumulator-backed per-operator metrics):
    *
    *   - URL dedup marks in place ([[TextCleaning.urlDedupMarked]] — the
    *     html payload rides the one canonical-key window, no join-back);
    *     stage 0 AND stage 1 are conditional aggregates in one
    *     observation (count/xor over all rows vs non-dup rows);
    *   - C4 and Gopher verdicts become pass-through COLUMNS on the same
    *     frame (both are map-only), so "quality" is a filter, not two
    *     doc_id joins against re-derived subtrees;
    *   - chunk dedup is [[TextDedup.chunkDedupKept]]: n_chunks rides the
    *     posexplode instead of joining the pre-split frame back (identical
    *     survivor set: a doc that loses every chunk has n_kept = 0 <
    *     n_chunks/2 and fails the survivor predicate either way — only the
    *     n_kept=0 rows the batch operator reports, which the funnel drops,
    *     are elided);
    *   - the LM cutoff is one more observed conditional aggregate over
    *     [[TextAnalysis.lmScore]]'s output (whose (doc,w,cnt) exchange
    *     ReuseExchange already evaluates once).
    *
    * The observations themselves verify single-execution: if any observed
    * segment were re-executed by a surviving diamond, its count would
    * double and its xor signature would cancel to 0 — the parity test
    * against the union form (and the q_funnel oracle) would fail.
    *
    * Runs the action eagerly (observations need one) and returns the same
    * five-row (stage, n_docs, sig) table as [[curationFunnel]].
    */
  def curationFunnelOnePass(docs: DataFrame,
      lmCutoff: Double = DefaultLmCutoff): DataFrame = {
    val spark = docs.sparkSession
    def sig(flag: Column): Column =
      bit_xor(when(flag, TextDedup.hash64Col(col("doc_id").cast("string"))))
    def n(flag: Column): Column = count(when(flag, 1))

    val obsUrl = Observation()
    val marked = TextCleaning.urlDedupMarked(
        docs.select(col("doc_id"), col("url"), col("html")))
      .observe(obsUrl,
        n(lit(true)).as("n0"), sig(lit(true)).as("sig0"),
        n(!col("is_dup")).as("n1"), sig(!col("is_dup")).as("sig1"))

    val extracted = TextCleaning.htmlExtract(
      marked.filter(!col("is_dup")).select("doc_id", "html"))
    val flagged = TextCleaning.gopherRules(
        TextCleaning.c4Filters(extracted, passThrough = Seq("text"))
          .withColumnRenamed("keep", "keep_c4"),
        passThrough = Seq("keep_c4", "text"))
      .withColumn("keep_q", col("keep_c4") && col("keep"))
    val obsQ = Observation()
    val quality = flagged
      .observe(obsQ, n(col("keep_q")).as("n2"), sig(col("keep_q")).as("sig2"))
      .filter(col("keep_q")).select("doc_id", "text")

    val obsChunk = Observation()
    val surviveChunk = col("n_kept") * 2 >= col("n_chunks")
    val chunked = TextDedup.chunkDedupKept(quality)
      .observe(obsChunk, n(surviveChunk).as("n3"), sig(surviveChunk).as("sig3"))
      .filter(surviveChunk).select("doc_id", "text")

    val obsLm = Observation()
    val scored = TextAnalysis.lmScore(chunked)
      .observe(obsLm,
        n(col("lm_score") >= lmCutoff).as("n4"),
        sig(col("lm_score") >= lmCutoff).as("sig4"))

    scored.agg(count(lit(1))).head(): Unit // the ONE action

    def stageRow(name: String, m: Map[String, Any], i: Int): Row =
      Row(name, m(s"n$i").asInstanceOf[Long],
        m.get(s"sig$i").collect { case l: Long => java.lang.Long.valueOf(l) }.orNull)
    val rows = Seq(
      stageRow("0_input", obsUrl.get, 0), stageRow("1_url_dedup", obsUrl.get, 1),
      stageRow("2_quality", obsQ.get, 2), stageRow("3_chunk_dedup", obsChunk.get, 3),
      stageRow("4_lm_cutoff", obsLm.get, 4))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("stage", StringType, nullable = false),
        StructField("n_docs", LongType, nullable = false),
        StructField("sig", LongType, nullable = true))))
  }

  /** DuckDB twin of [[curationFunnel]]: the SAME chain, composed from the
    * component twins (each rel-parameterized builder nests as a
    * parenthesized subquery; inner CTE names are scoped to their
    * subquery). The stage predicates and the survivor-set signature are
    * stated once per stage, identically to the Spark side.
    */
  def curationFunnelSql(rel: String,
      lmCutoff: Double = DefaultLmCutoff): String = {
    val sig = TextDedup.hash64Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH fdocs AS (SELECT * FROM $rel),
       |u AS (SELECT doc_id FROM (${TextCleaning.urlDedupSql("(SELECT doc_id, url FROM fdocs)")}) WHERE NOT is_dup),
       |ex AS (SELECT doc_id, text FROM (${TextCleaning.htmlExtractSql("(SELECT doc_id, html FROM fdocs JOIN u USING (doc_id))")})),
       |c4 AS (SELECT doc_id FROM (${TextCleaning.c4FiltersSql("ex")}) WHERE keep),
       |gr AS (SELECT doc_id FROM (${TextCleaning.gopherRulesSql("ex")}) WHERE keep),
       |q AS (SELECT doc_id, text FROM ex JOIN c4 USING (doc_id) JOIN gr USING (doc_id)),
       |cd AS (SELECT doc_id, text FROM (${TextDedup.chunkDedupSql("q")}) WHERE n_kept * 2 >= n_chunks),
       |lm AS (SELECT doc_id FROM (${TextAnalysis.lmScoreSql("cd")}) WHERE lm_score >= $lmCutoff)
       |SELECT '0_input' AS stage, count(*) AS n_docs, bit_xor($sig) AS sig FROM fdocs
       |UNION ALL SELECT '1_url_dedup', count(*), bit_xor($sig) FROM u
       |UNION ALL SELECT '2_quality', count(*), bit_xor($sig) FROM q
       |UNION ALL SELECT '3_chunk_dedup', count(*), bit_xor($sig) FROM cd
       |UNION ALL SELECT '4_lm_cutoff', count(*), bit_xor($sig) FROM lm""".stripMargin.replace("\n", " ")
  }
}
