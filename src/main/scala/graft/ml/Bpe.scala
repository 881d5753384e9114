package graft.ml

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Artifacts

/** Learned byte-pair-encoding tokenizer over the corpus (Sennrich et al.,
  * ACL'16) — the tokens-axis counterpart of the fixed [[graft.data.Vocab]]
  * wordpiece table.
  *
  * Scale architecture (the part that must survive 100 TB):
  *
  *   1. `wordHistogram` — ONE distributed agg (shuffle on word, map-side
  *      combined) collapses the corpus to its word-frequency table. That
  *      table is vocabulary-bounded, not corpus-bounded: the 10^12-row
  *      corpus and the 10^6-row corpus produce histograms of the same
  *      order of magnitude.
  *   2. `train` — the classic merge loop runs over the HISTOGRAM (weighted
  *      by word frequency), so its cost is O(vocab × merges) no matter the
  *      corpus size. This is how production BPE trainers work: they never
  *      stream the corpus per merge.
  *   3. `encode` — map-only over docs: merge ranks ship as one broadcast
  *      (closure) table; a per-partition word→tokens memo exploits word
  *      repetition so each DISTINCT word is segmented once per partition.
  *
  * Determinism everywhere: merge selection breaks count ties on the pair's
  * lexicographic order, so the learned merge list — and therefore every
  * encoding — is a pure function of the corpus, at any parallelism.
  *
  * Correctness invariant (the north rule's per-row token-array equality):
  * BPE merges only ever CONCATENATE adjacent symbols of a word, so
  * rejoining a word's tokens must reproduce the word exactly —
  * `decode(encode(text)) == normalize(text)` row-for-row. The DuckDB twin
  * recomputes the normalized text independently and the driver compares
  * the reconstruction (see SparkEntry `q_bpe_roundtrip`).
  */
object Bpe {

  /** Distributed word-frequency table over normalized text. */
  def wordHistogram(docs: DataFrame): DataFrame =
    docs.select(explode(split(TextDedup.normalizeCol(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Learn `numMerges` merges from a word histogram. Each word starts as
    * its character symbols; every round merges the adjacent symbol pair
    * with the highest frequency-weighted count (ties: lexicographically
    * first pair). Stops early when no pair repeats.
    */
  def train(hist: Array[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    // distinct words as symbol arrays + their corpus frequencies
    var words: Array[(Array[String], Long)] =
      hist.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          j += 1
        }
      }
      if (counts.isEmpty || counts.valuesIterator.max < 2) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        words = words.map { case (syms, f) =>
          if (syms.length < 2) (syms, f)
          else {
            val out = new mutable.ArrayBuffer[String](syms.length)
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
                out += merged; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.toArray, f)
          }
        }
        i += 1
      }
    }
    merges.result()
  }

  /** Histogram collect + train: the collect is vocab-scale, not corpus-scale. */
  def trainOn(docs: DataFrame, numMerges: Int): Seq[(String, String)] =
    train(wordHistogram(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))), numMerges)

  /** Segment one word under the learned ranks: repeatedly apply the
    * LOWEST-rank applicable merge to all its occurrences (left to right) —
    * the standard greedy BPE encode, deterministic.
    */
  private[graft] def encodeWord(word: String,
      rank: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    var continue = syms.length >= 2
    while (continue) {
      var bestRank = Int.MaxValue
      var j = 0
      while (j < syms.length - 1) {
        val r = rank.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        j += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val out = new mutable.ArrayBuffer[String](syms.length)
        var k = 0
        while (k < syms.length) {
          if (k < syms.length - 1 &&
              rank.getOrElse((syms(k), syms(k + 1)), Int.MaxValue) == bestRank) {
            out += syms(k) + syms(k + 1); k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out.toArray
        continue = syms.length >= 2
      }
    }
    syms
  }

  /** Deterministic id table for the learned vocabulary: all single chars
    * seen in the merges' alphabet plus each merge output, sorted. Encoding
    * may still emit unseen single chars (bytes outside the training
    * corpus); those fall back to id -1 and survive round-trip untouched.
    */
  def vocabOf(merges: Seq[(String, String)]): Map[String, Int] = {
    val symbols = mutable.SortedSet.empty[String]
    merges.foreach { case (a, b) =>
      a.foreach(c => symbols += c.toString)
      b.foreach(c => symbols += c.toString)
      symbols += (a + b)
    }
    symbols.toSeq.zipWithIndex.toMap
  }

  /** The learned merges' artifact format ([[graft.util.Artifacts]]): one
    * `a<TAB>b` pair per line, in rank order (symbols come from normalized
    * text, so tabs and newlines cannot occur inside them). Trained ONCE per
    * corpus generation, loaded by every encode job like a broadcast dim.
    */
  val mergesCodec: Artifacts.Codec[Seq[(String, String)]] = Artifacts.Codec.text(
    _.map { case (a, b) => s"$a\t$b" }.mkString("\n"),
    _.split("\n").filter(_.nonEmpty).toSeq
      .map { line =>
        val t = line.split("\t", 2)
        (t(0), t(1))
      })

  /** Map-only distributed encode: (doc_id, tokens array<string>, ids
    * array<int>, n_tok, decoded). `decoded` is the reconstruction
    * (tokens rejoined per word, words by single spaces) — the row-level
    * equality invariant the oracle checks against an independent
    * normalize. Ranks + ids travel once per executor in the task closure;
    * a per-partition memo segments each distinct word once.
    */
  def encode(spark: SparkSession, docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
    val ids: Map[String, Int] = vocabOf(merges)
    docs.select(col("doc_id"),
      split(TextDedup.normalizeCol(col("text")), " ").as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { rows =>
        val memo = mutable.HashMap.empty[String, Array[String]]
        rows.map { case (id, ws) =>
          val toks = ws.iterator.filter(_.nonEmpty)
            .flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, rank)))
            .toArray
          val decoded = ws.iterator.filter(_.nonEmpty)
            .map(w => memo(w).mkString).mkString(" ")
          (id, toks, toks.map(t => ids.getOrElse(t, -1)), toks.length, decoded)
        }
      }
      .toDF("doc_id", "tokens", "ids", "n_tok", "decoded")
  }
}
