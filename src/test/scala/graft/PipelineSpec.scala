package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{SequenceGen, Vocab}
import graft.functions.F
import graft.model.SourceConfig
import graft.plans.{LogPipeline, RouteJob}
import graft.util.Scratch

/** End-to-end parse -> enrich -> route -> aggregate pipeline tests against an
  * independent single-threaded Scala oracle implementing the reference
  * semantics directly (SURVEY.md §7.1 step 7), plus the kill/resume lineage
  * test (north rule resumability).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 3000L

  private lazy val inputDir: String = {
    val dir = Scratch.dir("seq").toString
    SequenceGen.sequences(spark, N, 6).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Independent oracle: plain Scala/Java over the collected input — glob
    * matching via regex translation done by hand here (not via engine code
    * paths), sink naming per the documented rule.
    */
  private lazy val oracle: Map[String, Long] = {
    val rows = spark.read.parquet(inputDir)
      .select("doc_id", "source").collect()
    rows.groupBy(r => r.getString(1).replaceAll("[^A-Za-z0-9_-]", "_"))
      .view.mapValues(_.length.toLong).toMap
  }

  test("route: per-sink counts match the oracle exactly") {
    val out = Scratch.dir("route").toString
    val job = new RouteJob(spark, out, batches = 4)
    val lineage = job.run(inputDir, SequenceGen.configs)
    assert(lineage.map(_.rows).sum == N)
    val got = job.routed().groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == oracle)
    // lineage sink counts agree with the data read back
    val linCounts = lineage.flatMap(_.sinkCounts).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    assert(linCounts == oracle)
  }

  test("route: time-travel read at a lineage snapshot id") {
    val out = Scratch.dir("route-tt").toString
    val job = new RouteJob(spark, out, batches = 4)
    val lineage = job.run(inputDir, SequenceGen.configs)
    // a reader pinned at snapshot 1 sees EXACTLY batches 0-1's manifested
    // rows — later commits are invisible, and the union of the pinned view
    // and the remaining batches is the full table (no overlap, no loss)
    val asOf1 = job.routedAt(1)
    val expect01 = lineage.filter(_.batch <= 1).map(_.rows).sum
    assert(asOf1.count() == expect01 && expect01 > 0 && expect01 < N)
    assert(job.routedAt(Int.MaxValue).count() == N)
    val ids1 = asOf1.select("doc_id").collect().map(_.getString(0)).toSet
    val idsAll = job.routed().select("doc_id").collect().map(_.getString(0)).toSet
    assert(ids1.subsetOf(idsAll) && idsAll.size == N)
    // min/max doc lineage brackets the pinned view (the audit contract)
    val mins = lineage.filter(_.batch <= 1).map(_.minDoc).min
    assert(ids1.min >= mins)
  }

  test("route: per-row token-array equality (the invariant)") {
    val out = Scratch.dir("route2").toString
    val job = new RouteJob(spark, out, batches = 3)
    job.run(inputDir, SequenceGen.configs)
    val in = spark.read.parquet(inputDir).select("doc_id", "tokens")
    val routedTok = job.routed().select("doc_id", "tokens")
    assert(routedTok.count() == N)
    assert(in.exceptAll(routedTok).isEmpty)
    assert(routedTok.exceptAll(in).isEmpty)
  }

  test("enrich: host/file_type resolved per source glob; unknown falls back") {
    import spark.implicits._
    val seqs = Seq(
      ("doc-1", Vocab.encode("2021/01/20 19:37:00.000000 a=1").toSeq, 5, "log-0.txt"),
      ("doc-2", Vocab.encode("x").toSeq, 1, "mystery.bin"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val enriched = LogPipeline.run(spark, seqs, SequenceGen.configs)
      .select("doc_id", "host", "host_type").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(enriched("doc-1") == (("app-host", "app")))
    assert(enriched("doc-2") == (("unknown-host", "unknown")))
  }

  test("enrich parity table: source -> (host, host_type, file_type, sink)") {
    import spark.implicits._
    def cfg(glob: String, host: String, hostType: String, fileType: String,
        timeField: String = "_time", layout: String = SourceConfig.defaultTimeLayout,
        extractors: Seq[String] = SourceConfig.defaultExtractors) =
      SourceConfig(glob, fileType, extractors, timeField, layout, host, hostType)
    // overlapping globs: app-special.log matches the first two and *.log,
    // and the first one listed wins
    val configs = Seq(
      cfg("app-*.log", "h-app", "app", "kv", timeField = "t", layout = "UNIX",
        extractors = Seq("(\\w+)=(\\w+)")),
      cfg("app-special.log", "h-special", "special", "json", timeField = "when"),
      cfg("*.log", "h-any", "any", "access", timeField = "t", layout = "UNIX_MILLIS"),
      cfg("var/log/*", "h-var", "var", "kv"))
    val expected = Map(
      "app-1.log" -> (("h-app", "app", "kv", "app-1_log")),
      "app-special.log" -> (("h-app", "app", "kv", "app-special_log")),
      "web.log" -> (("h-any", "any", "access", "web_log")),
      "var/log/my app.txt" -> (("h-var", "var", "kv", "var_log_my_app_txt")),
      // `*` does not cross `/`: no glob matches, the fallbacks apply
      "nested/web.log" -> (("unknown-host", "unknown", "kv", "nested_web_log")),
      "mystery.bin" -> (("unknown-host", "unknown", "kv", "mystery_bin")))
    // every row carries the same line, so what `fields` and `ts` make of it
    // names the rule that parsed it; var/log/* configures the defaults
    val line = "2024/01/02 03:04:05.000000 t=1700000000 n=7"
    val kv = Map("t" -> "1700000000", "n" -> "7")
    val appRule = (kv + ("_time" -> "1700000000"), java.time.Instant.ofEpochSecond(1700000000L))
    val anyLogRule = (appRule._1, java.time.Instant.ofEpochMilli(1700000000L))
    val defaults = (kv + ("_time" -> "2024/01/02 03:04:05.000000"),
      java.time.Instant.parse("2024-01-02T03:04:05Z"))
    val parsedBy = Map(
      // kv-extracted under app-*.log's time field and layout, not as JSON
      "app-1.log" -> appRule, "app-special.log" -> appRule,
      "web.log" -> anyLogRule, "var/log/my app.txt" -> defaults,
      // the fallback rule: default extractors, `_time`, default layout
      "nested/web.log" -> defaults, "mystery.bin" -> defaults)
    // every source on several rows, so most rows are answered by the memo
    val seqs = (0 until 24).map { i =>
      val src = expected.keys.toSeq(i % expected.size)
      (f"doc-$i%012d", Vocab.encode(line).toSeq, 2, src)
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val enriched = LogPipeline.run(spark, seqs.repartition(3), configs)
    val got = enriched
      .select("source", "host", "host_type", "file_type", "sink").distinct().collect()
    assert(got.length == expected.size, s"one answer per source: ${got.mkString(", ")}")
    assert(got.map(r => r.getString(0) ->
      ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap == expected)
    // fields and ts come from the same rule as host; ExtractEvent over the
    // rendered raw and over the tokens gives the same map as `fields`
    val parsed = enriched.select(col("source"), col("fields"), col("ts"),
      F.extract_event(col("raw"), col("host"), col("source"), configs),
      F.extract_event(col("tokens"), col("host"), col("source"), configs)).collect()
    assert(parsed.length == 24)
    parsed.foreach { r =>
      val src = r.getString(0)
      val fields = r.getMap[String, String](1).toMap
      assert(fields("host") == expected(src)._1 && fields("source") == src, src)
      assert((fields - "host" - "source", r.getTimestamp(2).toInstant) == parsedBy(src), src)
      assert(r.getMap[String, String](3) == r.getMap[String, String](1), s"raw path: $src")
      assert(r.getMap[String, String](4) == r.getMap[String, String](1), s"tokens path: $src")
    }
    // sinkCol gives the same key as the enriched frame and the per-row
    // sanitize it replaces
    val sinks = seqs.select(col("source"), LogPipeline.sinkCol.as("sink"),
      regexp_replace(col("source"), "[^A-Za-z0-9_-]", "_").as("per_row")).collect()
    assert(sinks.forall(r => r.getString(1) == expected(r.getString(0))._4 &&
      r.getString(1) == r.getString(2)))
  }

  test("parse: every kv/access/json row gets a real event time") {
    val enriched = LogPipeline.run(spark, spark.read.parquet(inputDir), SequenceGen.configs)
    val fallback = enriched.filter(col("ts") === to_timestamp(lit("1970-01-01 00:00:00"))).count()
    assert(fallback == 0L)
  }

  test("kill mid-run, resume completes without reprocessing (lineage)") {
    val out = Scratch.dir("resume").toString
    val job = new RouteJob(spark, out, batches = 5)
    intercept[job.SimulatedKill] {
      job.run(inputDir, SequenceGen.configs, failAfter = 2)
    }
    assert(job.committedBatches().size == 2)
    // simulate a partially-written uncommitted batch (mid-write kill debris)
    val orphan = java.nio.file.Paths.get(out, "batch=4", "sink=garbage")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-junk.parquet"), "junk")

    val resumed = job.run(inputDir, SequenceGen.configs)
    assert(resumed.map(_.batch).toSet == Set(0, 1, 2, 3, 4) -- Set(0, 1)
      || resumed.size == 3) // exactly the 3 uncommitted batches
    assert(job.committedBatches() == Set(0, 1, 2, 3, 4))
    val got = job.routed().groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == oracle)
    assert(job.routed().count() == N)
  }

  test("route output partitions by sink (pruned reads) and spreads skew") {
    val out = Scratch.dir("skew").toString
    val job = new RouteJob(spark, out, batches = 2, saltBuckets = 8)
    job.run(inputDir, SequenceGen.configs)
    // pruned read: only the hot sink's directory is touched
    val hot = job.routed().filter(col("sink") === "log-0_txt")
    val scan = hot.queryExecution.executedPlan.toString
    assert(hot.count() == oracle("log-0_txt"))
    // salted write: the hot sink is split across multiple files per batch
    val hotFiles = Files.walk(java.nio.file.Paths.get(out))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val cnt = {
      var c = 0
      while (hotFiles.hasNext) {
        val p = hotFiles.next()
        if (p.toString.contains("sink=log-0_txt") && p.toString.endsWith(".parquet")) c += 1
      }
      c
    }
    assert(cnt > 2, s"expected hot sink split into >2 files, got $cnt\n$scan")
  }

  test("streaming ingest: same sink counts; restart processes only new files") {
    val streamIn = Scratch.dir("stream-in").toString
    val streamOut = Scratch.dir("stream-out").toString
    val ckpt = Scratch.dir("ckpt").toString
    SequenceGen.sequences(spark, 1000, 2).write.mode("overwrite").parquet(streamIn)

    val ((q1, q2), events) = TestSpark.observe {
      val q1 = graft.streaming.StreamingPipeline.ingest(
        spark, streamIn, streamOut, ckpt, SequenceGen.configs)
      q1.awaitTermination()
      val c1 = spark.read.parquet(streamOut).count()
      assert(c1 == 1000L)

      // new data arrives; restart from the same checkpoint
      SequenceGen.sequences(spark, 1500, 2).filter(col("doc_id") >= "doc-000000001000")
        .write.mode("append").parquet(streamIn)
      val q2 = graft.streaming.StreamingPipeline.ingest(
        spark, streamIn, streamOut, ckpt, SequenceGen.configs)
      q2.awaitTermination()
      val c2 = spark.read.parquet(streamOut).count()
      assert(c2 == 1500L, "restart must process only the new file (no dupes)")
      (q1, q2)
    }
    // Spark jobs per micro-batch, keyed by (query id, batch id)
    val jobs = events.jobs.flatMap(e => Option(e.properties))
      .flatMap(p => Option(p.getProperty("sql.streaming.queryId"))
        .map(_ -> p.getProperty("streaming.sql.batchId")))
      .groupMapReduce(identity)(_ => 1)(_ + _)

    Seq(q1 -> 1000L, q2 -> 500L).foreach { case (q, landed) =>
      val data = q.recentProgress.filter(_.numInputRows > 0)
      // one action per micro-batch: each landed row is read, and counted, once
      assert(data.map(_.numInputRows).sum == landed,
        s"numInputRows must equal the rows landed: ${data.map(_.numInputRows).mkString(",")}")
      // a data trigger runs what the route write needs and nothing else:
      // its shuffle map stage and its write (AQE); a per-batch side plan
      // (e.g. resolving sources through a join) would add jobs here
      data.foreach { p =>
        val n = jobs.getOrElse((q.id.toString, p.batchId.toString), 0)
        assert(n == 2, s"batch ${p.batchId} ran $n Spark jobs, expected 2: $jobs")
      }
    }
  }

  test("streaming ingest dedup drops re-shipped rows across batches via checkpointed state") {
    val in = Scratch.dir("sdedup-in").toString
    val out = Scratch.dir("sdedup-out").toString
    val ckpt = Scratch.dir("sdedup-ckpt").toString
    SequenceGen.sequences(spark, 1000, 2).write.mode("overwrite").parquet(in)
    graft.streaming.StreamingPipeline.ingestDedup(
      spark, in, out, ckpt, SequenceGen.configs, horizon = "2 days")
      .awaitTermination()
    assert(spark.read.parquet(out).count() == 1000L)
    // a shipper replays docs 600-999 and delivers new docs 1000-1199: the
    // re-shipped 400 must be dropped by the dedup STATE (this is a new
    // file, hence a new micro-batch in a new run — per-batch overwrite
    // idempotence alone cannot catch it), the 200 new ones must land
    SequenceGen.sequences(spark, 1200, 2)
      .filter(col("doc_id") >= "doc-000000000600")
      .write.mode("append").parquet(in)
    graft.streaming.StreamingPipeline.ingestDedup(
      spark, in, out, ckpt, SequenceGen.configs, horizon = "2 days")
      .awaitTermination()
    val docs = spark.read.parquet(out).select("doc_id").collect().map(_.getString(0))
    assert(docs.length == 1200,
      s"state dedup: expected 1000 + 200 new rows, got ${docs.length}")
    assert(docs.distinct.length == 1200, "no doc may be routed twice")
    org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
  }

  test("streaming URL dedup: second shipment dropped by state; canon set equals batch urlDedup") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_stream_urldedup")(spark, dir).collect()
    // every canonical URL survived exactly once — the second shipment was
    // dropped by checkpointed state, and in-batch variants collapsed
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("n") == 1L),
      s"state dedup must leave one row per canon: ${rows.take(5).mkString(",")}")
    val batchCanons = graft.ml.TextCleaning.urlDedup(
        graft.sources.DocsAdapter.urlDocs(spark, dir))
      .select("canon").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getAs[String]("canon")).toSet == batchCanons,
      "streaming canon set must equal the batch operator's")
  }

  test("watermark loss window: beyond-horizon NEW events drop in-stream, reconcileLate repairs them exactly once") {
    val in = Scratch.dir("late-in").toString
    val out = Scratch.dir("late-out").toString
    val ckpt = Scratch.dir("late-ckpt").toString
    // batch 1: rows 0..999 span ~20.6 min of event time; horizon 5 min
    // leaves the watermark ~15.6 min into the range
    SequenceGen.sequences(spark, 1000, 2).write.mode("overwrite").parquet(in)
    graft.streaming.StreamingPipeline.ingestDedup(
      spark, in, out, ckpt, SequenceGen.configs, horizon = "5 minutes")
      .awaitTermination()
    assert(spark.read.parquet(out).count() == 1000L)
    // batch 2: replays of 600..999 (true duplicates) PLUS genuinely-new
    // events carrying OLD timestamps — the same early rows re-keyed to a
    // different source (a host shipping after an outage): their unique key
    // is new, but their event time sits beyond the horizon
    val lateNew = SequenceGen.sequences(spark, 100, 1)
      .filter(col("source").startsWith("log-"))
      .withColumn("source", lit("log-9.txt"))
    val nLate = lateNew.count()
    assert(nLate > 0)
    SequenceGen.sequences(spark, 1000, 2)
      .filter(col("doc_id") >= "doc-000000000600")
      .unionByName(lateNew)
      .write.mode("append").parquet(in)
    graft.streaming.StreamingPipeline.ingestDedup(
      spark, in, out, ckpt, SequenceGen.configs, horizon = "5 minutes")
      .awaitTermination()
    // the documented loss window: duplicates dropped (right), but the
    // late-but-NEW events are gone too — the reference's conflict-ignore
    // insert would have kept them
    assert(spark.read.parquet(out).count() == 1000L,
      "beyond-horizon events (new AND duplicate) are dropped by the stream")
    // a micro-batch that routed no row leaves no batch dir behind: a dir
    // without parquet files fails every reader's schema inference
    val bare = LogPipeline.batchDirs(out).filterNot { d =>
      val files = Files.walk(d)
      try files.anyMatch(_.getFileName.toString.endsWith(".parquet")) finally files.close()
    }
    assert(bare.isEmpty, s"batch dirs without parquet files: $bare")
    // the batch repair lands exactly the missed sliver, exactly once
    val repaired = graft.streaming.StreamingPipeline.reconcileLate(
      spark, in, out, SequenceGen.configs, lateBatchId = "late-A")
    assert(repaired == nLate, s"expected $nLate repaired, got $repaired")
    val keys = spark.read.parquet(out).select("host", "source", "ts", "offset")
    assert(keys.count() == 1000L + nLate)
    assert(keys.distinct().count() == 1000L + nLate, "repair must not duplicate")
    // idempotent: a second reconcile finds nothing left to repair
    assert(graft.streaming.StreamingPipeline.reconcileLate(
      spark, in, out, SequenceGen.configs, lateBatchId = "late-B") == 0L)
    // retention covers the repaired batch dir: a cutoff past the repaired
    // rows drops them and counts them
    val routedNow = spark.read.parquet(out)
    val lateMax = routedNow.filter(col("source") === "log-9.txt")
      .agg(max("ts")).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(lateMax.getTime + 1)
    val expired = routedNow.filter(col("ts") < lit(cutoff)).count()
    assert(expired >= nLate)
    val stats = graft.plans.RetentionJob(spark, out, cutoff)
    assert(stats.rowsDeleted == expired,
      s"rowsDeleted ${stats.rowsDeleted} != $expired rows older than the cutoff")
    val left = spark.read.parquet(out)
    assert(left.filter(col("source") === "log-9.txt").isEmpty, "repaired rows must expire")
    assert(left.count() == 1000L + nLate - expired)
    org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
  }

  test("streaming route replay is idempotent (same batch id overwrites)") {
    val out = Scratch.dir("replay").toString
    val enriched = LogPipeline.run(spark,
      SequenceGen.sequences(spark, 500, 2), SequenceGen.configs)
    LogPipeline.routeWrite(enriched, s"$out/batch=7", 4)
    LogPipeline.routeWrite(enriched, s"$out/batch=7", 4) // crash-replay of the same micro-batch
    assert(spark.read.parquet(out).count() == 500,
      "a replayed micro-batch must overwrite its own directory, not append")
  }

  test("compaction: fewer files, identical per-sink row sets (signature-gated)") {
    val streamIn = Scratch.dir("cmp-in").toString
    val routed = Scratch.dir("cmp-routed").toString
    val ckpt = Scratch.dir("cmp-ckpt").toString
    val compacted = Scratch.dir("cmp-out").toString
    // two streaming batches -> many small per-batch files
    SequenceGen.sequences(spark, 1000, 2).write.mode("overwrite").parquet(streamIn)
    graft.streaming.StreamingPipeline.ingest(
      spark, streamIn, routed, ckpt, SequenceGen.configs).awaitTermination()
    SequenceGen.sequences(spark, 1500, 2).filter(col("doc_id") >= "doc-000000001000")
      .write.mode("append").parquet(streamIn)
    graft.streaming.StreamingPipeline.ingest(
      spark, streamIn, routed, ckpt, SequenceGen.configs).awaitTermination()

    val res = graft.plans.CompactionJob.compact(spark, routed, compacted, targetRows = 1000L)
    assert(res.rows == 1500L)
    assert(res.filesAfter < res.filesBefore,
      s"compaction must reduce files: ${res.filesBefore} -> ${res.filesAfter}")
    // compacted output still answers queries identically
    val a = LogPipeline.openSinks(spark, routed).select("doc_id").collect().map(_.getString(0)).toSet
    val b = LogPipeline.openSinks(spark, compacted).select("doc_id").collect().map(_.getString(0)).toSet
    assert(a == b)
  }

  test("histogram file-sink serving: batch parity across restarts, state evicts past the watermark") {
    val streamIn = Scratch.dir("hsink-in").toString
    val sink = Scratch.dir("hsink-out").toString
    val ckpt = Scratch.dir("hsink-ckpt").toString
    // the generator's json layout runs its own clock at 13 s/id (vs
    // 1.23 s/id for kv/access), which would put the watermark hours past
    // anything a later slice can reach — keep the corpus on ONE clock so
    // the across-restart lateness math is controlled
    def slice(lo: Long, hi: Long) = SequenceGen.sequences(spark, hi, 2)
      .filter(col("doc_id") >= f"doc-$lo%012d" && !col("source").startsWith("json"))
    // run 1: ids 0..20000 -> ~6.9 h of event time -> several 1 h windows
    slice(0, 20000).write.mode("overwrite").parquet(streamIn)
    graft.streaming.StreamingPipeline.histogramToSink(
      spark, streamIn, sink, ckpt, SequenceGen.configs).awaitTermination()
    // run 2: a much later slice (ids 50000..51000 -> ~17.1 h, far past the
    // run-1 watermark of ~4.9 h) arrives; restart from the same checkpoint
    slice(50000, 51000).write.mode("append").parquet(streamIn)
    val q2 = graft.streaming.StreamingPipeline.histogramToSink(
      spark, streamIn, sink, ckpt, SequenceGen.configs)
    q2.awaitTermination()
    // the run-1 windows are long past the restart watermark: their state
    // must have been EVICTED, not carried forever (the complete-mode
    // failure shape) — check the state-store metrics of run 2
    val progress = q2.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(progress.nonEmpty)
    val removed = progress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    val finalState = progress.last.stateOperators.map(_.numRowsTotal).sum
    val served = graft.streaming.StreamingPipeline.servedHistogram(spark, sink)
    val allWindows = served.count()
    assert(removed > 0 || finalState < allWindows,
      s"watermark must evict closed-window state: removed=$removed finalState=$finalState windows=$allWindows")
    // merge-on-read parity: latest-wins over the deltas == batch histogram
    // over the full input, across the restart boundary
    val batch = LogPipeline.histogram(
      LogPipeline.run(spark, spark.read.parquet(streamIn), SequenceGen.configs))
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty,
      "served histogram must equal the batch recomputation")
    // the monitoring op composes over the SERVING view (no event re-read):
    // flags recompute exactly from the served cells, brute-forced per sink
    val flagged = graft.plans.Anomaly.flagCells(served, "sink", "n")
      .collect().map(r => (r.getAs[Any]("bucket_start").toString,
        r.getAs[String]("sink")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("med"), r.getAs[Long]("mad"),
          r.getAs[Boolean]("is_anomaly")))).toMap
    def t1med(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    served.collect().groupBy(_.getAs[String]("sink")).foreach { case (s, rows) =>
      val med = t1med(rows.toSeq.map(_.getAs[Long]("n")))
      val mad = t1med(rows.toSeq.map(r => math.abs(r.getAs[Long]("n") - med)))
      rows.foreach { r =>
        val dev = math.abs(r.getAs[Long]("n") - med)
        assert(flagged((r.getAs[Any]("bucket_start").toString, s)) ==
          ((r.getAs[Long]("n"), med, mad, dev > 3 * mad)),
          s"flag mismatch at sink=$s bucket=${r.getAs[Any]("bucket_start")}")
      }
    }
    // exactly-once: a delta dir is keyed by batch id — both runs' deltas
    // coexist and the view picks the newest per window
    val deltaDirs = new java.io.File(sink).listFiles((_, n) => n.startsWith("delta="))
    assert(deltaDirs != null && deltaDirs.length >= 2,
      s"each micro-batch writes its own delta dir, saw ${Option(deltaDirs).map(_.length)}")

    // --- delta compaction: fold deltas into one base snapshot ---
    val res = graft.streaming.DeltaStore.histogram(sink).compact(spark)
    assert(res.rows == allWindows)
    val afterCompact = graft.streaming.StreamingPipeline.servedHistogram(spark, sink)
    assert(afterCompact.exceptAll(batch).isEmpty && batch.exceptAll(afterCompact).isEmpty,
      "compacted store must serve the identical histogram")
    // grace window: the superseded parts stay at their paths, so the
    // PRE-compaction reader plan (which listed the delta files) still
    // executes — a merge-on-read store never deletes under a live scan
    assert(served.count() == allWindows,
      "a reader planned before compaction must survive the commit")
    assert(new java.io.File(sink).listFiles((_, n) => n.startsWith("delta=")).nonEmpty,
      "superseded deltas persist through the grace window")
    // a later compaction past the grace reclaims them (grace -1 = expired)
    val res2 = graft.streaming.DeltaStore.histogram(sink).compact(spark, graceMs = -1L)
    assert(res2.rows == 0L) // no new deltas: the fold itself is a no-op
    val left = new java.io.File(sink).listFiles((_, n) => n.startsWith("delta="))
    assert(left == null || left.isEmpty, "aged-out superseded deltas must be reclaimed")
    assert(new java.io.File(sink).listFiles((_, n) => n.startsWith("base-")).length == 1)

    // --- streaming continues AFTER compaction: new deltas compose with base ---
    // run 3: ids 60000..61000 -> ~20.6 h, past run-2's ~15.5 h watermark
    slice(60000, 61000).write.mode("append").parquet(streamIn)
    graft.streaming.StreamingPipeline.histogramToSink(
      spark, streamIn, sink, ckpt, SequenceGen.configs).awaitTermination()
    val served3 = graft.streaming.StreamingPipeline.servedHistogram(spark, sink)
    val batch3 = LogPipeline.histogram(
      LogPipeline.run(spark, spark.read.parquet(streamIn), SequenceGen.configs))
    assert(served3.exceptAll(batch3).isEmpty && batch3.exceptAll(served3).isEmpty,
      "post-compaction deltas must compose with the base snapshot")
  }

  test("delta stores refuse a fresh checkpoint against a sink that already holds deltas") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.StreamingQuery
    val SP = graft.streaming.StreamingPipeline
    val seqIn = Scratch.dir("reset-seq").toString
    SequenceGen.sequences(spark, 300, 2).write.mode("overwrite").parquet(seqIn)
    val rawIn = Scratch.dir("reset-raw").toString
    Seq(("app", "request user 1 done"), ("app", "request user 2 done"))
      .toDF("source", "raw").write.mode("overwrite").parquet(rawIn)
    val evIn = Scratch.dir("reset-ev").toString
    Seq((1L, java.time.LocalDateTime.parse("2026-01-01T10:00:00"), 1L, "view"),
        (2L, java.time.LocalDateTime.parse("2026-01-01T10:01:00"), 1L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(evIn)
    val writers: Seq[(String, (String, String) => StreamingQuery)] = Seq(
      "histogram" -> ((sink, ck) => SP.histogramToSink(spark, seqIn, sink, ck, SequenceGen.configs)),
      "field cells" -> ((sink, ck) => SP.fieldCellsToSink(spark, seqIn, sink, ck, SequenceGen.configs)),
      "template cells" -> ((sink, ck) => SP.templateCellsToSink(spark, rawIn, sink, ck)),
      "transitions" -> ((sink, ck) => SP.transitionsToSink(spark, evIn, sink, ck)))
    writers.foreach { case (name, run) =>
      val sink = Scratch.dir("reset-sink").toString
      run(sink, Scratch.dir("reset-ckpt").toString).awaitTermination()
      assert(new java.io.File(sink).listFiles((_, n) => n.startsWith("delta=")).nonEmpty,
        s"$name wrote no delta")
      val e = intercept[IllegalArgumentException](
        run(sink, Scratch.dir("reset-ckpt").toString))
      assert(e.getMessage.contains(s"delta store $sink already holds parts"),
        s"$name: ${e.getMessage}")
    }
    org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
  }

  test("DeltaStore.compact folds the field-cell and template-cell stores") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.streaming.{DeltaStore, StreamingPipeline => SP}
    // kv/access sources only: one event-time clock, so no later slice
    // trails the watermark (see the histogram test)
    def seqSlice(lo: Long, hi: Long): DataFrame = SequenceGen.sequences(spark, hi, 2)
      .filter(col("doc_id") >= f"doc-$lo%012d" && !col("source").startsWith("json"))
    def rawSlice(lo: Long, hi: Long): DataFrame =
      seqSlice(lo, hi).select(col("source"), F.tokens_to_text(col("tokens")).as("raw"))
    val cases: Seq[(String, (Long, Long) => DataFrame,
        (String, String, String) => StreamingQuery, String => DeltaStore)] = Seq(
      ("field cells", seqSlice,
        (in, sink, ck) => SP.fieldCellsToSink(spark, in, sink, ck, SequenceGen.configs),
        DeltaStore.fieldCells),
      ("template cells", rawSlice,
        (in, sink, ck) => SP.templateCellsToSink(spark, in, sink, ck),
        DeltaStore.templateCells))
    cases.foreach { case (name, slice, run, storeOf) =>
      val in = Scratch.dir("dcmp-in").toString
      val sink = Scratch.dir("dcmp-sink").toString
      val ckpt = Scratch.dir("dcmp-ckpt").toString
      val store = storeOf(sink)
      def dirs(prefix: String): Int = Option(new java.io.File(sink)
        .listFiles((_, n) => n.startsWith(prefix))).fold(0)(_.length)
      // a first run and two restarts on one checkpoint: three deltas
      Seq((0L, 1500L), (1500L, 3000L), (3000L, 4500L)).foreach { case (lo, hi) =>
        slice(lo, hi).write.mode("append").parquet(in)
        run(in, sink, ckpt).awaitTermination()
      }
      assert(dirs("delta=") == 3, s"$name: one delta per run")
      val pinned = store.served(spark).localCheckpoint(eager = true)
      val planned = store.served(spark) // lists the deltas before the commit
      val res = store.compact(spark)
      assert(res.rows == pinned.count(), s"$name: the fold covers every served row")
      assert(dirs("base-") == 1, s"$name: one base committed")
      val served = store.served(spark)
      assert(served.exceptAll(pinned).isEmpty && pinned.exceptAll(served).isEmpty,
        s"$name: the compacted store must serve the identical rows")
      assert(planned.exceptAll(pinned).isEmpty && pinned.exceptAll(planned).isEmpty,
        s"$name: a reader planned before the commit must survive it")
      // a second fold past the grace reclaims every superseded part
      assert(store.compact(spark, graceMs = -1L).rows == 0L)
      assert(dirs("base-") == 1 && dirs("delta=") == 0,
        s"$name: left ${dirs("base-")} bases and ${dirs("delta=")} deltas")
      // a later batch composes with the base: the store serves what a
      // one-shot stream over the whole input serves
      slice(4500L, 6000L).write.mode("append").parquet(in)
      run(in, sink, ckpt).awaitTermination()
      assert(dirs("delta=") == 1)
      val oneShot = Scratch.dir("dcmp-once").toString
      run(in, oneShot, Scratch.dir("dcmp-ckpt").toString).awaitTermination()
      val got = store.served(spark)
      val want = storeOf(oneShot).served(spark)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$name: post-compaction deltas must compose with the base")
    }
    org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
  }

  test("streaming histogram with watermark matches batch histogram") {
    val streamIn = Scratch.dir("hist-in").toString
    val sink = Scratch.dir("hist-out").toString
    val ckpt = Scratch.dir("hist-ckpt").toString
    SequenceGen.sequences(spark, 800, 2).write.mode("overwrite").parquet(streamIn)
    graft.streaming.StreamingPipeline.histogramToSink(
      spark, streamIn, sink, ckpt, SequenceGen.configs).awaitTermination()
    val streamed = graft.streaming.StreamingPipeline.servedHistogram(spark, sink)
    val batch = LogPipeline.histogram(
      LogPipeline.run(spark, spark.read.parquet(streamIn), SequenceGen.configs))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
  }

  test("sessionize: event at exactly prev+gap extends; strictly past it splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val ev = Seq(
      (1L, t("2024-01-01T00:00:00Z")),
      (1L, t("2024-01-01T00:00:10Z")),          // == prev + gap -> merges
      (1L, t("2024-01-01T00:00:20.000001Z")),   // 1 us past -> new session
      (2L, t("2024-01-01T00:00:05Z"))           // other user: own session
    ).toDF("user_id", "ts")
    val out = graft.plans.Sessionize.sessions(ev, 10).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString,
        r.getTimestamp(2).toInstant.toString, r.getLong(3))).toSet
    assert(out == Set(
      (1L, "2024-01-01T00:00:00Z", "2024-01-01T00:00:10Z", 2L),
      (1L, "2024-01-01T00:00:20.000001Z", "2024-01-01T00:00:20.000001Z", 1L),
      (2L, "2024-01-01T00:00:05Z", "2024-01-01T00:00:05Z", 1L)))
    // plan: the native session_window aggregate (merging hash agg after ONE
    // user_id shuffle), not a windowed sort pass
    val plan = graft.plans.Sessionize.sessions(ev, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("MergingSessions"), s"native session merge expected:\n$plan")
    assert(!plan.contains("Window "), s"no window-function pass expected:\n$plan")
  }

  test("sessionize runs unchanged under streaming: closed sessions match batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    // two files an hour apart -> two micro-batches: the second batch's
    // watermark (delay 0 = max seen ts) closes every epoch-A session
    val dir = Scratch.dir("sess-in")
    val epochA = Seq(
      (1L, t("2024-01-01T00:00:00Z")), (1L, t("2024-01-01T00:00:08Z")),
      (1L, t("2024-01-01T00:01:00Z")), (2L, t("2024-01-01T00:00:30Z")))
    val epochB = Seq((1L, t("2024-01-01T01:00:00Z")), (3L, t("2024-01-01T01:00:05Z")))
    epochA.toDF("user_id", "ts").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    epochB.toDF("user_id", "ts").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .withWatermark("ts", "0 seconds")
    val ckpt = Scratch.dir("sess-ckpt")
    val q = graft.plans.Sessionize.sessions(stream, 10)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_stream_test")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess_stream_test")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    // batch truth, restricted to sessions the final watermark closed
    val wm = t("2024-01-01T01:00:05Z")
    val batchClosed = graft.plans.Sessionize
      .sessions(epochA.++(epochB).toDF("user_id", "ts"), 10)
      .filter(col("session_end") + org.apache.spark.sql.functions.expr("INTERVAL 10 SECONDS") <= org.apache.spark.sql.functions.lit(wm))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(streamed == batchClosed && streamed.nonEmpty,
      s"streamed $streamed != closed batch sessions $batchClosed")
  }

  test("streaming transitions: flatMapGroupsWithState links pairs across restarts") {
    import spark.implicits._
    import java.time.LocalDateTime
    def t(s: String) = LocalDateTime.parse(s)
    // run 1 ends each user mid-journey; run 2 (same checkpoint) delivers
    // the continuation — the boundary pair exists ONLY in the carried state
    val a = Seq(
      (1L, t("2026-01-01T10:00:00"), 1L, "view"),
      (2L, t("2026-01-01T10:01:00"), 1L, "click"),
      (10L, t("2026-01-01T10:00:00"), 2L, "signup"))
    val b = Seq(
      (3L, t("2026-01-01T10:02:00"), 1L, "purchase"),
      (11L, t("2026-01-01T10:03:00"), 2L, "view"))
    def df(rows: Seq[(Long, LocalDateTime, Long, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
    val in = Scratch.dir("trans-in").toString
    val sink = Scratch.dir("trans-sink").toString
    val ckpt = Scratch.dir("trans-ckpt").toString
    df(a).write.mode("append").parquet(in)
    graft.streaming.StreamingPipeline.transitionsToSink(spark, in, sink, ckpt)
      .awaitTermination()
    df(b).write.mode("append").parquet(in)
    graft.streaming.StreamingPipeline.transitionsToSink(spark, in, sink, ckpt)
      .awaitTermination() // restart: the checkpoint admits only the new file
    val got = graft.plans.EventAnalytics.transitionStats(
      graft.streaming.StreamingPipeline.servedTransitionPairs(spark, sink))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val want = graft.plans.EventAnalytics.transitions(df(a ++ b)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == want, s"streamed $got != batch $want")
    assert(got.contains(("click", "purchase")) && got.contains(("signup", "view")),
      "boundary pairs must span the restart (carried by GroupState)")
  }

  test("streaming template mining: drift alerts fall out of diffing serve points") {
    import spark.implicits._
    val in = Scratch.dir("tpl-in").toString
    val sink = Scratch.dir("tpl-sink").toString
    val ckpt = Scratch.dir("tpl-ckpt").toString
    def lines(rows: Seq[(String, String)]) = rows.toDF("source", "raw")
    // epoch A: one stable template (user varies -> wildcard at pos 2)
    lines(Seq(("app", "request user 1 done"), ("app", "request user 2 done")))
      .write.mode("append").parquet(in)
    graft.streaming.StreamingPipeline.templateCellsToSink(spark, in, sink, ckpt)
      .awaitTermination()
    val atA = graft.plans.LogTemplates.templatesFlatFromCells(
      graft.streaming.StreamingPipeline.servedTemplateCells(spark, sink))
      .select("source", "len", "template").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    // epoch B (a deploy): same shape keeps flowing AND a new 5-token line
    // appears — new STRUCTURE, not just new params
    lines(Seq(("app", "request user 3 done"),
        ("app", "request user 4 failed retry=1 queued")))
      .write.mode("append").parquet(in)
    graft.streaming.StreamingPipeline.templateCellsToSink(spark, in, sink, ckpt)
      .awaitTermination() // restart: cumulative cells carry epoch A's counts
    val served = graft.plans.LogTemplates.templatesFlatFromCells(
      graft.streaming.StreamingPipeline.servedTemplateCells(spark, sink))
    val atB = served.select("source", "len", "template").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val drift = atB -- atA
    assert(drift == Set(("app", 6, "request user 4 failed retry=1 queued")),
      s"only the new structure may alert: $drift")
    // the stable template's line count is CUMULATIVE across both epochs
    val nStable = served.filter(col("template") === "request user <*> done")
      .select("n_lines").head().getLong(0)
    assert(nStable == 3L, s"cumulative count across epochs, got $nStable")
  }

  test("field profile: discovery, coverage, numeric shapes, cell-collapsed plan") {
    val sfDir = "/root/testdata/sf0.001"
    val enriched = graft.plans.LogPipeline.run(
      spark, graft.sources.EventsAdapter.mixedSequences(spark, sfDir),
      graft.sources.EventsAdapter.mixedConfigs)
    val frame = graft.plans.LogPipeline.fieldProfile(enriched)
    val got = frame.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val nAccess = got(("access-0.log", "ip"))._1
    // every access event carries every access field (coverage is total)
    Seq("_time", "ip", "method", "path", "status", "size").foreach { k =>
      assert(got(("access-0.log", k))._1 == nAccess, s"coverage of $k")
    }
    // discovery: JSON-only fields never bleed into the kv/access sources
    assert(!got.contains(("access-0.log", "level")))
    assert(got.contains(("json-0.log", "level")))
    // shape classification: status/size all-numeric; dotted-quad ip, level
    // and method are not; the Go %f stringify still reads numeric
    assert(got(("access-0.log", "status"))._3 == nAccess)
    assert(got(("access-0.log", "ip"))._3 == 0L)
    assert(got(("access-0.log", "method")) == ((nAccess, 1L, 0L)))
    val js = got(("json-0.log", "eventid"))
    assert(js._3 == js._1, "%f-stringified numbers classify numeric")
    // ndv: status takes exactly the 4 synthetic codes
    assert(got(("access-0.log", "status"))._2 == 4L)
    // plan: the explode collapses to value cells before the exchange — the
    // first wire crossing is a partial-aggregated (source,key,value) cell
    val plan = frame.queryExecution.executedPlan.toString
    assert("partial_count".r.findAllIn(plan).nonEmpty &&
      plan.contains("Generate explode"), s"cells must partial-agg map-side:\n$plan")
  }
}
