package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over `documents`:
  * language-ID (marker-word heuristic), quality scoring, token counting,
  * document fingerprinting. Spark plan and DuckDB oracle generated from the
  * same constants.
  */
object TextAnalysis {

  // --------------------------------------------------------- token counts

  /** Whitespace tokens + a BPE-ish segmentation estimate (letter runs,
    * single digits, single punctuation marks — the classic "~chars/4" proxy
    * replaced by an explicit segmenter both engines share).
    */
  val BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BPE_PATTERN), lit(0))).as("bpe_tokens"),
      length(col("text")).as("n_chars"))

  def tokenCountsSql(docsRel: String): String =
    s"""SELECT doc_id,
       | len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       | len(regexp_extract_all(text, '$BPE_PATTERN', 0)) AS bpe_tokens,
       | length(text) AS n_chars
       | FROM $docsRel""".stripMargin.replace("\n", " ")

  // -------------------------------------------------------- n-gram top-k

  /** Corpus-wide top-k word n-grams over normalized text — the corpus
    * statistic behind boilerplate detection and n-gram-overlap
    * decontamination thresholds. One exploded count agg (map-side
    * combined, shuffle on gram) feeding a TakeOrdered top-k — never a
    * global sort of the full gram table. Ties at the cut break on the
    * gram string, so the result is deterministic at any parallelism.
    */
  def ngramTopK(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val ws = split(TextDedup.normalizeCol(col("text")), " ")
    val grams = transform(sequence(lit(0), size(ws) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*))
    docs.filter(size(ws) >= n)
      .select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)
  }

  /** Heavy-hitter n-grams via per-partition Misra-Gries summaries + an
    * exact candidate recount — the 10^12-token scale path for
    * [[ngramTopK]], whose shuffle carries every distinct gram (at web
    * scale: trillions of near-unique grams for a top-50 answer).
    *
    * Pass 1 (map-only): each partition folds its gram stream through a
    * capacity-`capacity` Misra-Gries summary (Misra & Gries '82; merging
    * preserves the guarantee — Agarwal et al., PODS'12 mergeable
    * summaries), so any gram with global count > N/(capacity+1) survives
    * in some partition. The candidate union (≤ capacity×partitions rows,
    * the only driver traffic) broadcasts back.
    * Pass 2: exact recount of CANDIDATES only — non-candidates are
    * filtered before the aggregate, so the exchange carries the partial
    * counts of ≤ capacity grams per partition, never the distinct-gram
    * table.
    *
    * The operator NEVER returns an approximate answer: the result is
    * provably exact iff the k-th recounted frequency clears the MG
    * threshold N/(capacity+1) (then every gram with count ≥ k-th is a
    * candidate, ties included); when the check fails — flat distributions,
    * tiny corpora — it falls back to the exact [[ngramTopK]]. The sketch
    * only ever decides how much shuffles.
    */
  def ngramTopKSketch(docs: DataFrame, n: Int, k: Int,
      capacity: Int = 65536): DataFrame =
    ngramTopKSketchProven(docs, n, k, capacity)._1

  /** [[ngramTopKSketch]] plus whether the sketch path PROVED exactness (vs
    * taking the exact fallback) — exposed for tests.
    */
  private[graft] def ngramTopKSketchProven(docs: DataFrame, n: Int, k: Int,
      capacity: Int): (DataFrame, Boolean) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = split(TextDedup.normalizeCol(col("text")), " ")
    def gramArr = transform(sequence(lit(0), size(ws) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*))
    val grams = docs.filter(size(ws) >= n).select(explode(gramArr).as("gram"))
    // Counters riding the MG pass (guide §2.3 "aggregate before you
    // shuffle", §1.2 "don't compute things twice"): `totalAcc` replaces the
    // separate whole-corpus gram-count aggregate (one fewer full pass), and
    // `decrAcc` records whether ANY partition ever hit capacity. Accumulator
    // overcount under task retry/speculation only makes both checks MORE
    // conservative (larger total -> higher proof threshold; nonzero decr ->
    // no completeness shortcut) — never an incorrect "exact" claim.
    val totalAcc = spark.sparkContext.longAccumulator("mg_grams_total")
    val decrAcc = spark.sparkContext.longAccumulator("mg_decrements")
    val candidates = grams.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var seen = 0L
      it.foreach { g =>
        seen += 1
        m.get(g) match {
          case Some(c) => m.update(g, c + 1)
          case None if m.size < capacity => m.update(g, 1L)
          case None =>
            // decrement-all: O(capacity) amortized over >= capacity arrivals
            decrAcc.add(1L)
            val dead = List.newBuilder[String]
            m.mapValuesInPlace((_, c) => c - 1)
            m.foreach { case (g0, c) => if (c <= 0) dead += g0 }
            dead.result().foreach(m.remove)
        }
      }
      totalAcc.add(seen)
      m.keysIterator
    }.toDF("gram").distinct()
    // recount via a broadcast hash semi-join on the candidate frame — the
    // previous collect + isInCollection(...) baked up to capacity×partitions
    // strings into ONE literal expression (driver collect + a multi-MB plan
    // to serialize/codegen, guide §5 "the driver should do almost no data
    // work"); a broadcast relation ships the same strings once, hashed.
    val top = grams.join(broadcast(candidates), Seq("gram"), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(k)
      .localCheckpoint(eager = true) // k rows; pinned so the check is free
    val rows = top.collect()
    // the eager checkpoint ran the MG pass, so the accumulators are final
    val total = totalAcc.value
    // no partition ever decremented => every partition kept ALL its
    // distinct grams => the candidate union is the complete distinct-gram
    // set => the recount IS the exact aggregate, threshold or not
    val exactProven = decrAcc.value == 0L || (rows.length == k &&
      rows.map(_.getLong(1)).min > total.toDouble / (capacity + 1))
    if (exactProven) (top, true) else (ngramTopK(docs, n, k), false)
  }

  def ngramTopKSql(docsRel: String, n: Int, k: Int): String =
    s"""SELECT gram, count(*) AS n FROM (
       | SELECT unnest(list_transform(range(len(ws) - ${n - 1}),
       |   i -> array_to_string(ws[i + 1 : i + $n], ' '))) AS gram
       | FROM (SELECT string_split(${TextDedup.normalizeSql("text")}, ' ') AS ws
       |   FROM $docsRel) WHERE len(ws) >= $n)
       | GROUP BY gram ORDER BY n DESC, gram LIMIT $k""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------ chunking

  /** Overlapping token-window chunking — the retrieval/packing prep step
    * that turns documents into fixed-size training or RAG units: windows of
    * `width` normalized words advancing by `stride` (width − stride words
    * of overlap), last window allowed short. Emits (doc_id, chunk_idx,
    * start, n_tokens, sig) where sig is the shared 64-bit content hash —
    * the chunk manifest downstream dedup/embedding stages key on.
    *
    * Scale shape: zero exchanges — pure per-row generate. The word array is
    * STAGED through the generator's child projection so the split runs once
    * per document; the post-generate slice reads the carried array
    * attribute per chunk row (a `transform` lambda over a derived array
    * would re-evaluate the split per element — the WinnowFps lesson).
    */
  def chunkWindows(docs: DataFrame, width: Int = 32, stride: Int = 24): DataFrame = {
    require(stride >= 1 && width >= stride,
      s"need 1 <= stride <= width, got width=$width stride=$stride")
    val staged = docs.select(col("doc_id"),
      split(TextDedup.normalizeCol(col("text")), " ").as("_ws"))
    val nChunks = when(size(col("_ws")) <= width, lit(1L))
      .otherwise(floor((size(col("_ws")) - width + stride - 1)
        .cast("double") / stride) + 1L)
    staged
      .select(col("doc_id"), col("_ws"),
        explode(sequence(lit(0L), nChunks - 1)).as("_i"))
      .select(col("doc_id"), col("_i").as("chunk_idx"),
        (col("_i") * stride).as("start"),
        slice(col("_ws"), (col("_i") * stride + 1).cast("int"), lit(width)).as("_c"))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        size(col("_c")).cast("long").as("n_tokens"),
        TextDedup.hash64Col(array_join(col("_c"), " ")).as("sig"))
  }

  /** DuckDB twin of [[chunkWindows]] (same width/stride arithmetic over the
    * same normalized split; 1-based inclusive list slice mirrors Spark's
    * slice(start, length) including the short tail).
    */
  def chunkWindowsSql(docsRel: String, width: Int = 32, stride: Int = 24): String = {
    val norm = TextDedup.normalizeSql("text")
    s"""SELECT doc_id, c['idx'] AS chunk_idx, c['idx'] * $stride AS start,
       |  len(c['chunk']) AS n_tokens,
       |  ${TextDedup.hash64Sql("array_to_string(c['chunk'], ' ')")} AS sig
       |FROM (SELECT doc_id,
       |    unnest(list_transform(range(
       |        CASE WHEN len(ws) <= $width THEN 1
       |             ELSE (len(ws) - $width + $stride - 1) // $stride + 1 END),
       |      i -> {'idx': i,
       |            'chunk': ws[i * $stride + 1 : i * $stride + $width]})) AS c
       |  FROM (SELECT doc_id, string_split($norm, ' ') AS ws
       |        FROM $docsRel))""".stripMargin.replace("\n", " ")
  }

  // ------------------------------------------------------------- quality

  /** Deterministic quality score in [0,1]: blend of alpha ratio, stopword
    * ratio, mean word length band, and length band. Same arithmetic (and
    * rounding) on both engines.
    */
  val STOPWORDS: Seq[String] = Seq("the", "a", "and", "of", "to", "is", "in", "for")

  def qualityScore(docs: DataFrame): DataFrame = {
    val words = split(TextDedup.normalizeCol(col("text")), " ")
    val nWords = size(words)
    val alphaChars = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
    val alphaRatio = alphaChars.cast("double") / greatest(length(col("text")), lit(1))
    val stopCount = size(filter(words, w => w.isInCollection(STOPWORDS)))
    val stopRatio = stopCount.cast("double") / greatest(nWords, lit(1))
    val meanWordLen = aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") /
      greatest(nWords, lit(1))
    val lengthBand = when(length(col("text")) >= 200 && length(col("text")) <= 2000, 1.0)
      .when(length(col("text")) >= 50, 0.5).otherwise(0.0)
    val wordLenBand = when(meanWordLen >= 3 && meanWordLen <= 10, 1.0).otherwise(0.3)
    val score = round(
      alphaRatio * 0.3 + least(stopRatio * lit(3.0), lit(1.0)) * 0.3 +
        lengthBand * 0.2 + wordLenBand * 0.2, 4)
    docs.select(col("doc_id"), round(alphaRatio, 4).as("alpha_ratio"),
      round(stopRatio, 4).as("stop_ratio"), score.as("quality"))
  }

  def qualityScoreSql(docsRel: String): String = {
    val norm = TextDedup.normalizeSql("text")
    val stopList = STOPWORDS.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       | round(alpha_chars / greatest(length(text), 1), 4) AS alpha_ratio,
       | round(stop_count / greatest(n_words, 1), 4) AS stop_ratio,
       | round((alpha_chars / greatest(length(text), 1)) * 0.3
       |   + least((stop_count / greatest(n_words, 1)) * 3.0, 1.0) * 0.3
       |   + (CASE WHEN length(text) BETWEEN 200 AND 2000 THEN 1.0 WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END) * 0.2
       |   + (CASE WHEN (char_sum / greatest(n_words, 1)) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.3 END) * 0.2, 4) AS quality
       |FROM (SELECT doc_id, text,
       |   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars,
       |   CAST(len(string_split($norm, ' ')) AS DOUBLE) AS n_words,
       |   CAST(len(list_filter(string_split($norm, ' '), w -> list_contains($stopList, w))) AS DOUBLE) AS stop_count,
       |   CAST(list_sum(list_transform(string_split($norm, ' '), w -> length(w))) AS DOUBLE) AS char_sum
       | FROM $docsRel)""".stripMargin.replace("\n", " ")
  }

  // ----------------------------------------------------- LM quality score

  /** CCNet-style language-model quality score (Wenzek et al., LREC'20 §4.3
    * bucket documents by LM perplexity): mean log10 probability of the
    * document's word OCCURRENCES under the corpus's own add-one-smoothed
    * unigram model, p(w) = (c(w)+1) / (total+V). Gibberish/outlier docs sit
    * far below the corpus mode; mixing pipelines split head/middle/tail on
    * this score.
    *
    * Scale shape: one agg builds the unigram table (shuffle on word,
    * map-side combined), one equi-join scores occurrences against it (the
    * vocab is ≪ corpus — AQE broadcasts it when small, and at web vocab
    * size it stays a word-keyed shuffle join), one per-doc agg. The
    * corpus-wide (total, V) pair rides a 1-row broadcast. Nothing
    * driver-side.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    // stage through per-doc occurrence counts FIRST: the (doc_id, w, cnt)
    // exchange is consumed identically by the vocab aggregation and the
    // score join, so ReuseExchange evaluates the expensive
    // normalize+split+explode pipeline ONCE (a flat words frame would run
    // it twice — once per consumer), and everything downstream works on
    // distinct (doc, word) pairs instead of raw occurrences
    val occ = docs.select(col("doc_id"),
        explode(split(TextDedup.normalizeCol(col("text")), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val freq = occ.groupBy("w").agg(sum(col("cnt")).as("c"))
    val totals = freq.agg(sum(col("c")).as("total"), count(lit(1)).as("v"))
    occ.join(freq, Seq("w"))
      .crossJoin(broadcast(totals))
      .withColumn("lp", log10((col("c") + 1).cast("double") /
        (col("total") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_words"),
        round(sum(col("cnt") * col("lp")) / sum(col("cnt")), 4).as("lm_score"))
  }

  /** DuckDB twin of [[lmScore]] (same smoothing, same 4-dp rounding — the
    * score is an fp mean, so parity holds through rounding, not bitwise).
    * Aggregates through the SAME (doc_id, w, cnt) shape as the Spark plan —
    * sum(cnt*lp)/sum(cnt) over distinct words, never a per-occurrence avg —
    * so both sides fold the same addends (a per-occurrence mean sums in a
    * different order and can flip the 4th rounded decimal).
    */
  def lmScoreSql(docsRel: String): String = {
    val norm = TextDedup.normalizeSql("text")
    s"""WITH words AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w FROM $docsRel),
       |occ AS (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w),
       |freq AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS c FROM occ GROUP BY w),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total, count(*) AS v FROM freq)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |  round(sum(cnt * log10(CAST(c + 1 AS DOUBLE) / CAST(total + v AS DOUBLE)))
       |    / sum(cnt), 4) AS lm_score
       |FROM occ JOIN freq USING (w), tot GROUP BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** The two head/middle cut scores for [[perplexityBuckets]], derived
    * from the score HISTOGRAM, never a global sort: lm_score is 4-dp
    * rounded, so distinct scores are bounded (score range × 1e4 — a few
    * thousand in practice) and the cumulative walk is driver-side over
    * that tiny table, like BPE's histogram-bounded training. cut1/cut2 =
    * the highest scores whose top-down cumulative count reaches 1/3 and
    * 2/3 of the corpus.
    */
  def perplexityCuts(scored: DataFrame): (Double, Double) = {
    val h = scored.groupBy("lm_score").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(-_._1)
    val total = h.map(_._2).sum.toDouble
    var cum = 0L
    var cut1 = Double.NegativeInfinity
    var cut2 = Double.NegativeInfinity
    for ((score, n) <- h) {
      cum += n
      if (cut1.isNegInfinity && cum >= total / 3.0) cut1 = score
      if (cut2.isNegInfinity && cum >= 2.0 * total / 3.0) cut2 = score
    }
    (cut1, cut2)
  }

  /** CCNet's perplexity partition (Wenzek et al. LREC'20 §4.3): split the
    * corpus into head/middle/tail thirds by [[lmScore]] — head = most
    * target-like. Docs AT a cut score share its bucket (buckets cut by
    * score VALUE, so ties never straddle a boundary and the split is
    * deterministic). Assignment is a map-only comparison against the two
    * broadcast-literal cuts; `cuts` supplies precomputed thresholds (the
    * corpus-level build artifact, like the IVF centroids) — the default
    * path derives them inline, which re-runs the scoring pass once for
    * the histogram (CCNet itself is two-pass: fit the LM, then bucket).
    */
  def perplexityBuckets(docs: DataFrame,
      cuts: Option[(Double, Double)] = None): DataFrame = {
    // derive-cuts path: pin the scored frame once (doc-cardinality rows) —
    // without it the whole lmScore DAG (normalize+explode+model join) runs
    // TWICE, once for the cuts histogram and once for the returned frame
    // (guide §1.2: don't compute things twice). Explicit-cuts callers keep
    // the pure lazy plan.
    val scored =
      if (cuts.isEmpty) lmScore(docs).localCheckpoint(eager = true)
      else lmScore(docs)
    val (cut1, cut2) = cuts.getOrElse(perplexityCuts(scored))
    scored.select(col("doc_id"), col("lm_score"),
      when(col("lm_score") >= cut1, "head")
        .when(col("lm_score") >= cut2, "middle")
        .otherwise("tail").as("bucket"))
  }

  /** DuckDB twin of [[perplexityBuckets]]: same histogram walk as a
    * descending cumulative window, same >= comparisons against t/3, 2t/3.
    */
  def perplexityBucketsSql(docsRel: String): String =
    s"""WITH pscored AS (${lmScoreSql(docsRel)}),
       |phisto AS (SELECT lm_score, count(*) AS n FROM pscored GROUP BY lm_score),
       |pcum AS (SELECT lm_score, CAST(sum(n) OVER (ORDER BY lm_score DESC) AS BIGINT) AS c FROM phisto),
       |ptot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM phisto),
       |pc1 AS (SELECT max(lm_score) AS cut1 FROM pcum, ptot WHERE c >= t / 3.0),
       |pc2 AS (SELECT max(lm_score) AS cut2 FROM pcum, ptot WHERE c >= 2.0 * t / 3.0)
       |SELECT doc_id, lm_score,
       |  CASE WHEN lm_score >= cut1 THEN 'head'
       |       WHEN lm_score >= cut2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM pscored, pc1, pc2""".stripMargin.replace("\n", " ")

  // -------------------------------------------------------------- lang id

  /** Marker-word language heuristic. Marker sets are deliberately tiny (the
    * corpus is synthetic); determinism and cross-engine parity are the
    * point, with a fixed precedence for ties.
    */
  val LANG_MARKERS: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "que"),
    "zh" -> Seq("de5", "shi4", "le5"))

  def langId(docs: DataFrame): DataFrame = {
    val words = split(TextDedup.normalizeCol(col("text")), " ")
    val counts = LANG_MARKERS.map { case (lang, markers) =>
      lang -> size(filter(words, w => w.isInCollection(markers)))
    }
    // argmax with declaration-order precedence on ties; 0 markers -> unknown
    val best = counts.foldLeft((lit("unknown"), lit(0))) {
      case ((bl, bc), (lang, c)) => (when(c > bc, lit(lang)).otherwise(bl), greatest(c, bc))
    }
    docs.select(col("doc_id"), best._1.as("lang_pred"), best._2.as("marker_hits"))
  }

  def langIdSql(docsRel: String): String = {
    val norm = TextDedup.normalizeSql("text")
    val countCols = LANG_MARKERS.map { case (lang, markers) =>
      val lst = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(string_split($norm, ' '), w -> list_contains($lst, w))) AS c_$lang"
    }
    val (bestLang, bestCnt) = LANG_MARKERS.foldLeft(("'unknown'", "0")) {
      case ((bl, bc), (lang, _)) =>
        (s"(CASE WHEN c_$lang > $bc THEN '$lang' ELSE $bl END)", s"greatest(c_$lang, $bc)")
    }
    s"""SELECT doc_id, $bestLang AS lang_pred, $bestCnt AS marker_hits
       |FROM (SELECT doc_id, ${countCols.mkString(", ")} FROM $docsRel)""".stripMargin.replace("\n", " ")
  }

  // -------------------------------------- quality classifier (Naive Bayes)

  /** Fixed-point scale for classifier log-ratios: per-word ratios become
    * `round(lr * 1e6)` BIGINTs, so the per-doc score is an exact integer
    * sum (order-independent at any parallelism) and only the final
    * division returns to double. lmScore's rounded-double mean is safe for
    * a per-doc average; a classifier sums hundreds of signed addends that
    * land arbitrarily close to the keep boundary, where double summation
    * order could flip the verdict between engines.
    */
  val CLF_SCALE = 1000000L

  /** fastText-style binary quality classifier — the curation step where a
    * model trained on a curated positive set scores every crawl page
    * (GPT-3, Brown et al. 2020 Appendix A; LLaMA, Touvron et al. 2023
    * §2 "classified as references by a linear classifier"): multinomial
    * Naive Bayes over normalized word occurrences, trained from `source`
    * labels (`posSources` = the curated set), scored as
    * prior log-ratio + Σ_w cnt(w) · (log10 p(w|pos) − log10 p(w|neg))
    * with add-one smoothing over the joint vocabulary.
    *
    * Scale shape: the label is a pure function of the row, so it rides the
    * explode into ONE (doc_id, pos, w, cnt) exchange that both training
    * and self-scoring consume (ReuseExchange, like [[lmScore]] — never a
    * per-doc label join back onto the pairs); the model is a vocab-sized
    * table joined on `w` (AQE broadcasts it when small); the corpus totals
    * and the prior ride 1-row broadcasts. Words unseen at training time
    * (scoring a different corpus than the training one) fall back to the
    * smoothed-unseen constant via the same totals row. Nothing
    * driver-side.
    */
  def qualityClassifier(docs: DataFrame, posSources: Seq[String],
      train: Option[DataFrame] = None): DataFrame = {
    // the label is a pure function of the row (`source`), so it rides the
    // explode instead of joining a per-doc label table back onto the
    // occurrence pairs — one fewer occurrence-scale shuffle
    def occLabeled(d: DataFrame) = d.select(col("doc_id"),
        col("source").isInCollection(posSources).as("pos"),
        explode(split(TextDedup.normalizeCol(col("text")), " ")).as("w"))
      .groupBy("doc_id", "pos", "w").agg(count(lit(1)).as("cnt"))
    val trainDocs = train.getOrElse(docs)
    val occTrain = occLabeled(trainDocs)
    val freq = occTrain
      .groupBy("w").agg(
        sum(when(col("pos"), col("cnt")).otherwise(0L)).as("cpos"),
        sum(when(!col("pos"), col("cnt")).otherwise(0L)).as("cneg"))
    val totals = freq.agg(
        sum(col("cpos")).as("tpos"), sum(col("cneg")).as("tneg"),
        count(lit(1)).as("v"))
      .crossJoin(trainDocs
        .select(col("source").isInCollection(posSources).as("pos"))
        .agg(
          sum(when(col("pos"), 1L).otherwise(0L)).as("npos"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("nneg")))
      .withColumn("prior",
        round(lit(CLF_SCALE) * log10(col("npos").cast("double") / col("nneg"))).cast("long"))
    val lr = freq.crossJoin(broadcast(totals))
      .withColumn("lr", round(lit(CLF_SCALE) * (
        log10((col("cpos") + 1).cast("double") / (col("tpos") + col("v"))) -
        log10((col("cneg") + 1).cast("double") / (col("tneg") + col("v"))))).cast("long"))
      .select("w", "lr")
    // unseen-word fallback: cpos = cneg = 0 under the same smoothing
    val unseen = round(lit(CLF_SCALE) *
      log10((col("tneg") + col("v")).cast("double") / (col("tpos") + col("v")))).cast("long")
    // self-train (the oracle shape) re-reads the SAME labeled-occurrence
    // exchange for scoring (ReuseExchange); a distinct scoring corpus gets
    // its own pairs pass
    val scoreOcc = if (train.isEmpty) occTrain.drop("pos")
      else docs.select(col("doc_id"),
          explode(split(TextDedup.normalizeCol(col("text")), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    scoreOcc.join(lr, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lr_eff", coalesce(col("lr"), unseen))
      .groupBy("doc_id", "prior")
      .agg(sum(col("cnt")).as("n_words"),
        (col("prior") + sum(col("cnt") * col("lr_eff"))).as("score_scaled"))
      .select(col("doc_id"), col("n_words"),
        // + 0.0 folds a possible -0.0 (score in (-0.00005, 0)) to +0.0 so
        // both engines stringify the rounded zero identically
        (round(col("score_scaled").cast("double") / CLF_SCALE, 4) + 0.0).as("clf_score"),
        (col("score_scaled") > 0).as("keep"))
  }

  /** DuckDB twin of [[qualityClassifier]] (train == score corpus): the
    * same CTE chain, the same fixed-point BIGINT ratios — parity is exact
    * integer arithmetic, not fp-rounding luck. (The per-word `round(1e6·lr)`
    * could differ only if both engines' log10 disagree within ~an ulp of a
    * half-integer — ~1e-10 per word.)
    */
  def qualityClassifierSql(docsRel: String, posSources: Seq[String]): String = {
    val norm = TextDedup.normalizeSql("text")
    val posList = posSources.map(s => s"'$s'").mkString(", ")
    s"""WITH qc_occ AS (SELECT doc_id, w, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split($norm, ' ')) AS w FROM $docsRel) GROUP BY doc_id, w),
       |qc_lab AS (SELECT doc_id, source IN ($posList) AS pos FROM $docsRel),
       |qc_freq AS (SELECT w,
       |    CAST(sum(CASE WHEN pos THEN cnt ELSE 0 END) AS BIGINT) AS cpos,
       |    CAST(sum(CASE WHEN NOT pos THEN cnt ELSE 0 END) AS BIGINT) AS cneg
       |  FROM qc_occ JOIN qc_lab USING (doc_id) GROUP BY w),
       |qc_tot AS (SELECT CAST(sum(cpos) AS BIGINT) AS tpos, CAST(sum(cneg) AS BIGINT) AS tneg, count(*) AS v FROM qc_freq),
       |qc_prior AS (SELECT CAST(round($CLF_SCALE * log10(
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) / sum(CASE WHEN NOT pos THEN 1 ELSE 0 END))) AS BIGINT) AS prior
       |  FROM qc_lab),
       |qc_lr AS (SELECT w, CAST(round($CLF_SCALE * (
       |    log10(CAST(cpos + 1 AS DOUBLE) / (tpos + v)) -
       |    log10(CAST(cneg + 1 AS DOUBLE) / (tneg + v)))) AS BIGINT) AS lr
       |  FROM qc_freq, qc_tot)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |  round(CAST(prior + sum(cnt * lr) AS DOUBLE) / $CLF_SCALE, 4) + 0.0 AS clf_score,
       |  (prior + sum(cnt * lr)) > 0 AS keep
       |FROM qc_occ JOIN qc_lr USING (w), qc_prior
       |GROUP BY doc_id, prior""".stripMargin.replace("\n", " ")
  }

  // ----------------------------------------------------------- corpus drift

  /** Fixed scale for [[corpusDrift]] contributions: p·log-ratio terms are
    * O(1e-7), so they're reported ×1e9 ("per billion") and rounded to 3 dp
    * — a 1-ulp libm difference between engines lands ~1e-14 after scaling,
    * ten orders below the rounding step.
    */
  val DRIFT_SCALE = 1000000000L

  /** Corpus DRIFT between two snapshots (monitoring distribution shift
    * between crawls — the check a pipeline runs before mixing a new dump
    * into training): per-word contributions to KL(P_new ‖ P_old) under
    * add-one-smoothed unigram models over the UNION vocabulary,
    * d(w) = p_new(w) · log10(p_new(w)/p_old(w)), reporting the top-k words
    * by contribution (new template/spam vocabulary surfaces at the top;
    * vanished vocabulary drifts negative).
    *
    * Scale shape: the snapshot tag rides the explode (like
    * [[qualityClassifier]]'s label), so both corpora cross ONE word-keyed
    * conditional-aggregate exchange — never a per-snapshot agg + full
    * outer join; totals ride a 1-row broadcast; top-k is TakeOrdered
    * (never a global sort). Ordering ties cut by (drift desc, word) in
    * both engines, so the k-boundary is deterministic.
    */
  def corpusDrift(oldDocs: DataFrame, newDocs: DataFrame, k: Int = 50): DataFrame = {
    def words(d: DataFrame, tag: Int) = d.select(
      explode(split(TextDedup.normalizeCol(col("text")), " ")).as("w"),
      lit(tag).as("t"))
    val counts = words(oldDocs, 0).unionByName(words(newDocs, 1))
      .groupBy("w").agg(
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("c_old"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("c_new"))
    val totals = counts.agg(
      sum(col("c_old")).as("t_old"), sum(col("c_new")).as("t_new"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals))
      .withColumn("p_old",
        (col("c_old") + 1).cast("double") / (col("t_old") + col("v")))
      .withColumn("p_new",
        (col("c_new") + 1).cast("double") / (col("t_new") + col("v")))
      .select(col("w"), col("c_old"), col("c_new"),
        round(lit(DRIFT_SCALE) * col("p_new") * log10(col("p_new") / col("p_old")), 3)
          .as("drift_ppb"))
      .orderBy(col("drift_ppb").desc, col("w"))
      .limit(k)
  }

  /** DuckDB twin of [[corpusDrift]] — same smoothing over the union vocab,
    * same ×1e9 scaling and tie-cut.
    */
  def corpusDriftSql(oldRel: String, newRel: String, k: Int = 50): String = {
    val norm = TextDedup.normalizeSql("text")
    s"""WITH cd_w AS (
       |  SELECT unnest(string_split($norm, ' ')) AS w, 0 AS t FROM $oldRel
       |  UNION ALL
       |  SELECT unnest(string_split($norm, ' ')) AS w, 1 AS t FROM $newRel),
       |cd_c AS (SELECT w,
       |    CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
       |    CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
       |  FROM cd_w GROUP BY w),
       |cd_t AS (SELECT CAST(sum(c_old) AS BIGINT) AS t_old,
       |    CAST(sum(c_new) AS BIGINT) AS t_new, count(*) AS v FROM cd_c)
       |SELECT w, c_old, c_new,
       |  round($DRIFT_SCALE * (CAST(c_new + 1 AS DOUBLE) / (t_new + v)) *
       |    log10((CAST(c_new + 1 AS DOUBLE) / (t_new + v)) /
       |          (CAST(c_old + 1 AS DOUBLE) / (t_old + v))), 3) AS drift_ppb
       |FROM cd_c, cd_t
       |ORDER BY drift_ppb DESC, w LIMIT $k""".stripMargin.replace("\n", " ")
  }

  // --------------------------------------------------------- dataset card

  /** Per-(source, lang) dataset-card statistics — the corpus summary every
    * training-mix decision starts from (docs, whitespace tokens, bytes, and
    * each cell's share of the corpus): one exploded-free aggregate with
    * map-side combine (source×lang cells, never doc-cardinality), corpus
    * totals on a 1-row broadcast, shares as single exact-integer divisions
    * rounded at 6 dp.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val cells = docs
      .select(col("source"), col("lang"),
        size(split(trim(col("text")), "\\s+")).as("toks"),
        length(col("text")).as("chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"))
    val totals = cells.agg(sum(col("n_docs")).as("t_docs"),
      sum(col("n_tokens")).as("t_tokens"))
    cells.crossJoin(broadcast(totals))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        round(col("n_docs").cast("double") / col("t_docs"), 6).as("doc_share"),
        round(col("n_tokens").cast("double") / col("t_tokens"), 6).as("token_share"))
  }

  def datasetCardSql(docsRel: String): String =
    s"""WITH dc AS (SELECT source, lang, count(*) AS n_docs,
       |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars
       |  FROM $docsRel GROUP BY source, lang),
       |dct AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM dc)
       |SELECT source, lang, n_docs, n_tokens, n_chars,
       |  round(CAST(n_docs AS DOUBLE) / t_docs, 6) AS doc_share,
       |  round(CAST(n_tokens AS DOUBLE) / t_tokens, 6) AS token_share
       |FROM dc, dct""".stripMargin.replace("\n", " ")

  // --------------------------------------------------------- fingerprints

  /** Document fingerprints: md5 of normalized text + the shared 64-bit
    * integer hash (rolling-hash analog usable as a join/dedup key).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(TextDedup.normalizeCol(col("text"))).as("fp_md5"),
      TextDedup.hash64Col(TextDedup.normalizeCol(col("text"))).as("fp_int"))

  def fingerprintsSql(docsRel: String): String = {
    val norm = TextDedup.normalizeSql("text")
    s"SELECT doc_id, md5(norm) AS fp_md5, ${TextDedup.hash64Sql("norm")} AS fp_int FROM (SELECT doc_id, $norm AS norm FROM $docsRel)"
  }

  // --------------------------------------------------- keyword extraction

  /** Per-document top-k keywords by tf·idf with the LINEAR idf `N/df`
    * (instead of log N/df): the score is then the pure rational
    * `cnt·N/df`, and both engines materialize it as the IDENTICAL IEEE
    * double (exact integer operands < 2^53, same op order), so the
    * per-document ranking — including near-ties — agrees bit-for-bit.
    * A log idf would rank almost identically but hang the ORDER BY on a
    * transcendental the two engines may round differently at the ulp.
    * Stopwords need no list: df ≈ N drives their idf to the floor.
    *
    * Scale shape: one (doc, word) occurrence exchange with map-side
    * combine, a vocab-sized df join (AQE-broadcast here, word-keyed
    * shuffle at web vocab), the corpus size on a 1-row broadcast; the
    * per-doc top-k is a `row_number ≤ k` filter that Spark rewrites to
    * WindowGroupLimit — each map task forwards at most k rows per doc
    * before the window exchange, so the sort never sees full postings.
    */
  def keywords(docs: DataFrame, k: Int = 5, minLen: Int = 3): DataFrame = {
    val occ = docs.select(col("doc_id"),
        explode(split(TextDedup.normalizeCol(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= minLen)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val dfreq = occ.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    occ.join(dfreq, "w").crossJoin(broadcast(n))
      .withColumn("score_raw",
        col("cnt").cast("double") * col("n") / col("df"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score_raw").desc, col("w"))))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("w").as("keyword"),
        round(col("score_raw"), 4).as("tfidf"), col("rn"))
  }

  /** DuckDB twin of [[keywords]] — same double, same tie-break. */
  def keywordsSql(docsRel: String, k: Int = 5, minLen: Int = 3): String = {
    val norm = TextDedup.normalizeSql("text")
    s"""WITH occ AS (SELECT doc_id, w, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split($norm, ' ')) AS w
       |        FROM $docsRel)
       |  WHERE length(w) >= $minLen GROUP BY doc_id, w),
       |dfreq AS (SELECT w, count(*) AS df FROM occ GROUP BY w),
       |n AS (SELECT count(*) AS n FROM $docsRel)
       |SELECT doc_id, keyword, round(score_raw, 4) AS tfidf, rn
       |FROM (SELECT occ.doc_id, occ.w AS keyword,
       |    CAST(occ.cnt AS DOUBLE) * n.n / dfreq.df AS score_raw,
       |    row_number() OVER (PARTITION BY occ.doc_id
       |      ORDER BY CAST(occ.cnt AS DOUBLE) * n.n / dfreq.df DESC, occ.w) AS rn
       |  FROM occ JOIN dfreq ON dfreq.w = occ.w, n)
       |WHERE rn <= $k""".stripMargin.replace("\n", " ")
  }

  // ------------------------------------------------------ bigram LM score

  /** Bigram-LM quality score — the conditional upgrade of [[lmScore]]'s
    * unigram model (CCNet uses a real LM; the add-one-smoothed bigram is
    * the strongest model two engines can share exactly): per document, the
    * mean log10 of p(b|a) = (c(a,b)+1) / (c(a)+V) over its adjacent word
    * bigrams, where c(·) are corpus counts and V the corpus vocab size.
    * Repetitive or template text scores high, gibberish word salad low —
    * and unlike the unigram score, scrambled word order now costs.
    *
    * Same staging discipline as [[lmScore]]: everything aggregates through
    * the (doc, a, b, cnt) exchange, so both engines fold the same addends
    * in the per-doc mean; documents with fewer than two words have no
    * bigram and emit no row (both engines).
    *
    * Scale shape: one bigram-pair exchange (map-side combined) reused by
    * the model aggregate and the scoring join (ReuseExchange), a
    * bigram-vocab join, a word-vocab join, V on a 1-row broadcast.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"),
      split(TextDedup.normalizeCol(col("text")), " ").as("ws"))
    val occ = ws.filter(size(col("ws")) > 1)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - 2), i =>
          struct(element_at(col("ws"), i + 1).as("a"),
            element_at(col("ws"), i + 2).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("doc_id", "a", "b").agg(count(lit(1)).as("cnt"))
    val big = occ.groupBy("a", "b").agg(sum(col("cnt")).as("cab"))
    val uni = ws.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("ca"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    occ.join(big, Seq("a", "b"))
      .join(uni.select(col("w").as("a"), col("ca")), "a")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log10((col("cab") + 1).cast("double") /
        (col("ca") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt") * col("lp")) / sum(col("cnt")), 4).as("bi_score"))
  }

  /** DuckDB twin of [[bigramLmScore]] — same smoothing, same (doc, a, b,
    * cnt) fold shape, same 4-dp rounding.
    */
  def bigramLmScoreSql(docsRel: String): String = {
    val norm = TextDedup.normalizeSql("text")
    s"""WITH w0 AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM $docsRel),
       |occ AS (SELECT doc_id, p['a'] AS a, p['b'] AS b, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |      i -> {'a': ws[i], 'b': ws[i + 1]})) AS p FROM w0)
       |  GROUP BY 1, 2, 3),
       |big AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS cab FROM occ GROUP BY a, b),
       |uni AS (SELECT w, count(*) AS ca
       |  FROM (SELECT unnest(ws) AS w FROM w0) GROUP BY w),
       |voc AS (SELECT count(*) AS v FROM uni)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |  round(sum(cnt * log10(CAST(cab + 1 AS DOUBLE) / CAST(ca + v AS DOUBLE)))
       |    / sum(cnt), 4) AS bi_score
       |FROM occ JOIN big USING (a, b) JOIN uni ON uni.w = occ.a, voc
       |GROUP BY doc_id""".stripMargin.replace("\n", " ")
  }
}
