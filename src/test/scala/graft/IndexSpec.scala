package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.FullTextIndex
import graft.sources.EventsAdapter
import graft.util.Scratch

/** The inverted full-text index (reference FTS4 EventRaws + MATCH prefilter,
  * SqliteEventRepository.go:64-65,305-352): results must equal the full-scan
  * path on every query shape, and the lookup must prune at the scan.
  */
class IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val engine = EventsAdapter.engine(spark, dir)
  private lazy val indexDir: String = {
    val d = Scratch.dir("ftindex").toString
    FullTextIndex.build(engine.events, d)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("doc_id").collect().map(_.getString(0)).toSet

  test("indexed search == scan search for plain word fragments") {
    for (q <- Seq("error", "error userid=13", "purchase NOT signup",
        "error | where userid=13")) {
      val scan = rows(engine.run(q).df)
      val indexed = rows(FullTextIndex.search(spark, engine, indexDir, q))
      assert(indexed == scan, s"query '$q': indexed ${indexed.size} vs scan ${scan.size}")
      assert(scan.nonEmpty, s"query '$q' must be non-trivial")
    }
  }

  test("non-indexable fragments fall back to the scan, same results") {
    for (q <- Seq("err*r", "eventtype=p*")) { // wildcard / no positive fragment
      val scan = rows(engine.run(q).df)
      val indexed = rows(FullTextIndex.search(spark, engine, indexDir, q))
      assert(indexed == scan, s"query '$q'")
    }
  }

  test("generator elision: fragments come from the SURVIVING generator, not the first step") {
    // compile() discards everything before the last generator
    // (Pipeline.go:89-95). "purchase | search error" must answer like plain
    // "error" — narrowing by the elided first step's fragment ("purchase")
    // would feed the surviving search a wrongly-filtered event table.
    val q = "purchase | search error"
    val scan = rows(engine.run(q).df)
    val indexed = rows(FullTextIndex.search(spark, engine, indexDir, q))
    assert(scan.nonEmpty && scan == rows(engine.run("error").df))
    assert(indexed == scan, s"indexed ${indexed.size} vs scan ${scan.size}")
    // a non-search surviving generator makes the index inapplicable -> scan
    val q2 = "error | surrounding count=6 eventId=50"
    assert(rows(FullTextIndex.search(spark, engine, indexDir, q2)) ==
      rows(engine.run(q2).df))
  }

  test("multi-word AND narrows through the postings") {
    val cand = FullTextIndex.candidates(spark, indexDir, Seq("error", "performing"))
    val all = engine.events.count()
    val n = cand.count()
    assert(n > 0 && n < all, s"AND-candidates must narrow: $n of $all")
  }

  test("postings lookup pushes the word filter to the parquet scan") {
    val plan = spark.read.parquet(indexDir)
      .filter(col("word") === "error")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(word), EqualTo(word,error)]"),
      s"word filter must reach the scan (sorted files -> row-group pruning):\n$plan")
  }

  test("selective indexed search pushes the id filter BELOW the render projection") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    val df = FullTextIndex.search(spark, engine, indexDir, "error")
    // the candidate-id filter must sit under every Project (the render /
    // extract projection) so the expensive per-row rendering runs only on
    // candidates — the whole point of the index at table scale
    def projectFree(p: LogicalPlan): Boolean =
      p.collect { case pr: Project => pr }.isEmpty
    val pushed = df.queryExecution.optimizedPlan.collect {
      case f: Filter if projectFree(f.child) &&
        f.condition.toString.toUpperCase.contains("IN") => f
    }
    assert(pushed.nonEmpty,
      s"candidate IN-filter must reach below the render:\n${df.queryExecution.optimizedPlan}")
    assert(!df.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "selective path must not pay the render-all semi-join")
    // results identical to the scan either way
    assert(rows(df) == rows(engine.run("error").df))
  }

  test("past the id bound the index falls back to the distributed semi-join, same results") {
    val df = FullTextIndex.search(spark, engine, indexDir, "error", maxIdFilter = 0)
    assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "un-selective candidates must go through the semi-join, not the driver")
    assert(rows(df) == rows(engine.run("error").df))
  }

  test("index compaction merges per-batch postings with the signature gate; search parity kept") {
    val idx = Scratch.dir("ftidx-cmp").toString
    val ev = engine.events
    // two ingest batches, like StreamingPipeline.ingest accumulates
    FullTextIndex.build(ev.filter(col("offset") % 2 === 0), s"$idx/batch=0")
    FullTextIndex.build(ev.filter(col("offset") % 2 === 1), s"$idx/batch=1")
    val out = Scratch.dir("ftidx-cmp-out").toString
    val res = graft.plans.CompactionJob.compactIndex(spark, idx, out, numPartitions = 2)
    assert(res.filesAfter < res.filesBefore,
      s"compaction must reduce postings files: ${res.filesBefore} -> ${res.filesAfter}")
    // identical postings row set
    def postings(d: String): Set[(String, String)] =
      spark.read.parquet(d).select("word", "doc_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    assert(postings(out) == postings(idx))
    // the compacted index answers searches exactly like the scan path
    val scanRows = rows(engine.run("error").df)
    assert(scanRows.nonEmpty &&
      rows(FullTextIndex.search(spark, engine, out, "error")) == scanRows)
  }

  test("streaming ingest maintains the index; indexed query over sinks == scan") {
    import graft.data.SequenceGen
    import graft.plans.LogPipeline
    val in = Scratch.dir("ftidx-stream-in").toString
    val out = Scratch.dir("ftidx-stream-out").toString
    val ckpt = Scratch.dir("ftidx-stream-ckpt").toString
    val idx = Scratch.dir("ftidx-stream-idx").toString
    SequenceGen.sequences(spark, 1000, 2).write.mode("overwrite").parquet(in)
    val q = graft.streaming.StreamingPipeline.ingest(
      spark, in, out, ckpt, SequenceGen.configs, indexDir = Some(idx))
    q.awaitTermination()
    val sinks = LogPipeline.openSinks(spark, out)
    val eng = new graft.compile.QueryEngine(sinks, SequenceGen.configs)
    val query = "reticulated"
    val scan = rows(eng.run(query).df)
    val indexed = rows(FullTextIndex.search(spark, eng, idx, query))
    assert(indexed == scan && scan.nonEmpty,
      s"index built at ingest must answer like the scan: ${indexed.size} vs ${scan.size}")
  }
}
