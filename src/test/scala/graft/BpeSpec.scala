package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Bpe, TextDedup}
import graft.sources.DocsAdapter

/** Learned BPE tokenizer: hand-computed training, rank-ordered encoding,
  * the distributed round-trip invariant, and the train-once artifact.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("train learns the hand-computed merge sequence with deterministic tiebreaks") {
    // weighted pair counts by hand: (a,b)=2*10+5=25 wins round 1, then the
    // merged symbols pair up: (ab,ab)=10, (ab,c)=5, (b,c)=3
    val merges = Bpe.train(Array(("abab", 10L), ("abc", 5L), ("bc", 3L)), 10)
    assert(merges == Seq(("a", "b"), ("ab", "ab"), ("ab", "c"), ("b", "c")))
    // count ties break on the lexicographically first pair
    assert(Bpe.train(Array(("xy", 2L), ("yz", 2L)), 1) == Seq(("x", "y")))
    // a pair seen once is not worth a merge: training stops
    assert(Bpe.train(Array(("ab", 1L)), 5).isEmpty)
  }

  test("encodeWord applies merges in rank order over all occurrences") {
    val rank = Seq(("a", "b"), ("ab", "ab"), ("ab", "c")).zipWithIndex.toMap
    assert(Bpe.encodeWord("ababc", rank).toSeq == Seq("abab", "c"))
    assert(Bpe.encodeWord("abc", rank).toSeq == Seq("abc"))
    assert(Bpe.encodeWord("zzz", rank).toSeq == Seq("z", "z", "z"))
    assert(Bpe.encodeWord("a", rank).toSeq == Seq("a"))
  }

  test("distributed encode round-trips, compresses, and ignores partitioning") {
    val docs = DocsAdapter.docs(spark, dir)
    val merges = Bpe.trainOn(docs, 200)
    assert(merges.nonEmpty && merges.size <= 200)
    val rows = Bpe.encode(spark, docs, merges).collect()
    assert(rows.length == 500)
    // round-trip: rejoined tokens equal an independent normalize pass
    val norm = docs.select(col("doc_id"), TextDedup.normalizeCol(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[String]("decoded") == norm(r.getLong(0)), s"doc ${r.getLong(0)}")
      assert(r.getAs[scala.collection.Seq[String]]("tokens").length == r.getAs[Int]("n_tok"))
    }
    // 200 learned merges must beat the char baseline comfortably
    val totTok = rows.map(_.getAs[Int]("n_tok").toLong).sum
    val totChars = norm.values.map(_.count(_ != ' ').toLong).sum
    assert(totTok < totChars / 2, s"learned merges must compress: $totTok vs $totChars")
    // id mapping is consistent with the deterministic vocab table
    val vocab = Bpe.vocabOf(merges)
    rows.take(20).foreach { r =>
      r.getAs[scala.collection.Seq[String]]("tokens").zip(r.getAs[scala.collection.Seq[Int]]("ids")).foreach {
        case (t, i) => assert(vocab.get(t).forall(_ == i))
      }
    }
    // decisions are a pure function of (corpus, merges) — not partitioning
    val again = Bpe.encode(spark, docs.repartition(7), merges)
      .select("doc_id", "decoded", "n_tok").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    val first = rows.map(r =>
      (r.getLong(0), r.getAs[String]("decoded"), r.getAs[Int]("n_tok")))
      .sortBy(_._1).toSeq
    assert(first == again)
  }

  test("merge artifact round-trips the store; a fresh process loads it with zero Spark jobs") {
    SparkEntry.queries("q_bpe_roundtrip")(spark, dir).collect()
    val artifact = new java.io.File(SparkEntry.bpeArtifact.path(dir, "m200"))
    assert(artifact.isFile && artifact.length() > 0,
      s"training must publish the merge artifact at $artifact")
    // fresh-driver simulation: forget the in-process table; the next use
    // must load from the store — a driver-local read, ZERO Spark jobs
    graft.util.Artifacts.clearMemory()
    val (loaded, loadEvents) = TestSpark.observe(SparkEntry.bpeMergesFor(spark, dir))
    assert(loadEvents.jobs.isEmpty,
      s"loading the merge artifact must launch no Spark jobs (saw ${loadEvents.jobs.size})")
    // the stored table is exactly what a retrain produces (v1 tag honest)
    assert(loaded == Bpe.trainOn(DocsAdapter.docs(spark, dir), 200))
  }
}
