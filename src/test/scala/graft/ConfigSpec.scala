package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.config.ConfigJson
import graft.model.SourceConfig
import graft.util.Scratch

/** Reference-format config reader (logsuck-config.schema.json;
  * JsonConverter.go:100-176, JsonFileTypeConfigConverter.go:24-157) and the
  * CLI entry point.
  */
class ConfigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sample =
    """{
      |  "host": { "name": "web-42", "type": "webserver" },
      |  "files": [
      |    { "fileName": "log-*.txt" },
      |    { "fileName": "svc-*.json", "fileTypes": ["svc_json"] },
      |    { "fileName": "access-*.log", "fileTypes": ["access_log"] }
      |  ],
      |  "fileTypes": [
      |    { "name": "svc_json", "timeLayout": "UNIX_DECIMAL_NANOS",
      |      "parser": { "type": "JSON", "jsonConfig": { "timeField": "ts" } } },
      |    { "name": "access_log", "timeLayout": "02/Jan/2006:15:04:05 -0700",
      |      "parser": { "type": "Regex", "regexConfig": {
      |        "fieldExtractors": ["^(?P<ip>[\\d.]+) (?P<rest>.*)$"],
      |        "timeField": "_time" } } }
      |  ]
      |}""".stripMargin

  test("logsuck.json parse: fileTypes, defaults, host block (JsonConverter.go)") {
    val p = ConfigJson.parse(sample)
    assert(p.hostName == "web-42" && p.hostType == "webserver")
    val byGlob = p.configs.map(c => c.source_glob -> c).toMap
    // unlisted file -> DEFAULT fileType: kv parser, default extractors,
    // default layout (JsonFileTypeConfigConverter.go:148-156)
    val dflt = byGlob("log-*.txt")
    assert(dflt.file_type == "kv")
    assert(dflt.extractors == SourceConfig.defaultExtractors)
    assert(dflt.time_field == "_time")
    assert(dflt.time_layout == ConfigJson.DEFAULT_TIME_LAYOUT)
    // JSON parser: json file_type, schema-default time field kept
    val js = byGlob("svc-*.json")
    assert(js.file_type == "json" && js.time_field == "ts")
    assert(js.time_layout == "UNIX_DECIMAL_NANOS" && js.extractors.isEmpty)
    // custom regex parser
    val acc = byGlob("access-*.log")
    assert(acc.file_type == "kv")
    assert(acc.extractors == Seq("^(?P<ip>[\\d.]+) (?P<rest>.*)$"))
    assert(acc.time_layout == "02/Jan/2006:15:04:05 -0700")
    // every config stamps the host block
    assert(p.configs.forall(c => c.host == "web-42" && c.host_type == "webserver"))
  }

  test("empty config falls back to defaults everywhere") {
    val p = ConfigJson.parse("""{ "files": [ { "fileName": "x.log" } ] }""")
    assert(p.hostName == "localhost" && p.hostType == "DEFAULT")
    assert(p.configs.head.extractors == SourceConfig.defaultExtractors)
  }

  test("per-fileType eventDelimiter drives the text split end-to-end (JsonConverter.go:50-55)") {
    val dir = Scratch.dir("delim-in").toString
    val out = Scratch.dir("delim-out").toString
    // three events, semicolon-delimited, no trailing delimiter (the
    // remainder becomes the final event at batch EOF)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "semi-0.log"),
      "first event a=1;second event a=2;third event a=3".getBytes("UTF-8"))
    val cfgPath = Scratch.dir("delim-cfg").resolve("logsuck.json")
    java.nio.file.Files.write(cfgPath,
      """{ "files": [ { "fileName": "semi-*.log", "fileTypes": ["semi"] } ],
        |  "fileTypes": [ { "name": "semi",
        |    "parser": { "type": "Regex", "regexConfig": { "eventDelimiter": ";" } } } ] }"""
        .stripMargin.getBytes("UTF-8"))
    val parsed = ConfigJson.parseFile(cfgPath.toString)
    assert(parsed.eventDelimiters == Seq("semi-*.log" -> ";"))
    Main.run(spark, Map(
      "config" -> cfgPath.toString,
      "text" -> "true",
      "out" -> out), s"$dir/semi-*.log")
    val routed = graft.plans.LogPipeline.openSinks(spark, out)
    import org.apache.spark.sql.functions.col
    val raws = routed.select(col("raw")).collect().map(_.getString(0)).toSet
    assert(raws == Set("first event a=1", "second event a=2", "third event a=3"),
      s"custom delimiter must split the file into 3 events, got $raws")
  }

  test("streaming config hot-reload: an edited config file takes effect at the next micro-batch") {
    import org.apache.spark.sql.functions.col
    val streamIn = Scratch.dir("hotcfg-in").toString
    val out = Scratch.dir("hotcfg-out").toString
    val ckpt = Scratch.dir("hotcfg-ckpt").toString
    val cfgPath = Scratch.dir("hotcfg-cfg").resolve("logsuck.json")
    def writeCfg(host: String): Unit = java.nio.file.Files.write(cfgPath,
      s"""{ "host": {"name": "$host"}, "files": [ { "fileName": "log-*.txt" } ] }""".getBytes("UTF-8"))
    def kvOnly(n: Long, lo: Long) = graft.data.SequenceGen.sequences(spark, n, 2)
      .filter(col("source").startsWith("log-") && col("doc_id") >= f"doc-$lo%012d")

    writeCfg("hostA")
    kvOnly(500, 0).write.mode("overwrite").parquet(streamIn)
    val mainOpts = Map("config" -> cfgPath.toString, "stream" -> "true",
      "out" -> out, "checkpoint" -> ckpt)
    Main.run(spark, mainOpts, streamIn)
    // operator edits the config while the stream is down/between batches;
    // the NEXT batch must resolve under the new file (reference FileWatcher
    // behavior), with no query-restart plumbing beyond the checkpoint
    writeCfg("hostB")
    kvOnly(800, 500).write.mode("append").parquet(streamIn)
    Main.run(spark, mainOpts, streamIn)

    val routed = spark.read.option("basePath", out).parquet(out)
    val byBatch = routed.groupBy("batch", "host").count().collect()
      .map(r => (r.getAs[Any]("batch").toString.toLong, r.getString(1)) -> r.getLong(2)).toMap
    assert(byBatch.keys.map(_._2).toSet == Set("hostA", "hostB"),
      s"each batch must carry its config snapshot's host: $byBatch")
    assert(byBatch.collect { case ((0, h), _) => h }.toSet == Set("hostA"))
    assert(byBatch.filter(_._1._1 > 0).keys.map(_._2).toSet == Set("hostB"))

    // the same edit under ONE running query: each micro-batch resolves its
    // sources through an enrich memo built from that batch's snapshot, so a
    // memo filled under the old config must not answer the next batch
    val liveIn = Scratch.dir("hotcfg-live-in").toString
    val liveOut = Scratch.dir("hotcfg-live-out").toString
    writeCfg("hostC")
    kvOnly(500, 0).write.mode("overwrite").parquet(liveIn)
    val q = graft.streaming.StreamingPipeline.ingestReloading(spark, liveIn, liveOut,
      Scratch.dir("hotcfg-live-ckpt").toString,
      () => ConfigJson.parseFile(cfgPath.toString).configs, saltBuckets = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    val landed = try {
      q.processAllAvailable()
      writeCfg("hostD")
      kvOnly(800, 500).write.mode("append").parquet(liveIn)
      q.processAllAvailable()
      spark.read.parquet(liveIn).count()
    } finally q.stop()
    val live = spark.read.option("basePath", liveOut).parquet(liveOut)
      .groupBy("batch", "host").count().collect()
      .map(r => (r.getAs[Any]("batch").toString.toLong, r.getString(1)) -> r.getLong(2)).toMap
    assert(live.values.sum == landed, s"every landed row routed once: $live")
    assert(live.collect { case ((0, h), _) => h }.toSet == Set("hostC"),
      s"batch 0 carries the first snapshot's host: $live")
    assert(live.keys.exists(_._1 > 0) &&
      live.filter(_._1._1 > 0).keys.map(_._2).toSet == Set("hostD"),
      s"batches after the edit carry the edited host: $live")
  }

  test("CLI batch route + query over a reference-format config") {
    // stage raw log files matching a config, run the Main body end-to-end
    val dir = Scratch.dir("cli-in").toString
    val out = Scratch.dir("cli-out").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "log-0.txt"),
      ("2021/01/20 19:37:00.000000 doing eventType=error userId=7\n" +
        "2021/01/20 19:38:00.000000 doing eventType=view userId=8\n").getBytes("UTF-8"))
    val cfgPath = Scratch.dir("cli-cfg").resolve("logsuck.json")
    java.nio.file.Files.write(cfgPath,
      """{ "host": {"name": "h1"}, "files": [ { "fileName": "log-*.txt" } ] }""".getBytes("UTF-8"))
    Main.run(spark, Map(
      "config" -> cfgPath.toString,
      "text" -> "true",
      "out" -> out,
      "query" -> "error"), s"$dir/log-*.txt")
    val routed = spark.read.parquet(out)
    assert(routed.count() == 2)
    import org.apache.spark.sql.functions.col
    assert(routed.filter(col("host") === "h1").count() == 2)
  }

  test("CLI --curate runs the funnel over a crawl parquet and writes survivors") {
    import org.apache.spark.sql.functions.col
    val crawlDir = Scratch.dir("curate-in").toString
    val out = Scratch.dir("curate-out").toString + "/ids"
    val crawl = graft.sources.DocsAdapter.funnelDocs(spark, "/root/testdata/sf0.001")
    crawl.write.mode("overwrite").parquet(crawlDir)
    Main.run(spark, Map("curate" -> "true", "out" -> out), crawlDir)
    val ids = spark.read.parquet(out)
    assert(ids.columns.toSeq == Seq("doc_id"))
    // the written survivors ARE the funnel's final stage, exactly
    val expect = graft.ml.Funnel.survivors(spark.read.parquet(crawlDir))
      .collect().map(_.get(0)).toSet
    val got = ids.collect().map(_.get(0)).toSet
    assert(got == expect && got.nonEmpty)
    // and the stage table's 4_lm_cutoff count agrees
    val stages = graft.ml.Funnel.curationFunnelOnePass(spark.read.parquet(crawlDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("4_lm_cutoff") == got.size)
  }

  test("multi-line stack traces reassemble into one event via a lookahead delimiter") {
    import org.apache.spark.sql.functions.col
    val dir = Scratch.dir("trace-in").toString
    val out = Scratch.dir("trace-out").toString + "/routed"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "app-0.log"),
      ("2024/01/01 00:00:01.000000 request ok userId=1\n" +
        "2024/01/01 00:00:02.000000 ERROR boom userId=2\n" +
        "java.lang.RuntimeException: boom\n" +
        "    at app.Main.run(Main.java:42)\n" +
        "2024/01/01 00:00:03.000000 request ok userId=3\n").getBytes("UTF-8"))
    // a new event starts only where a newline is FOLLOWED BY a timestamp —
    // continuation lines (the trace) stay inside the ERROR event
    val cfgPath = Scratch.dir("trace-cfg")
      .resolve("logsuck.json")
    java.nio.file.Files.write(cfgPath,
      """{ "files": [ { "fileName": "app-*.log", "fileTypes": ["app"] } ],
        |  "fileTypes": [ { "name": "app",
        |    "parser": { "type": "Regex", "regexConfig": {
        |      "eventDelimiter": "\\n(?=\\d{4}/)" } } } ] }"""
        .stripMargin.getBytes("UTF-8"))
    Main.run(spark, Map(
      "config" -> cfgPath.toString, "text" -> "true", "out" -> out),
      s"$dir/app-*.log")
    val routed = graft.plans.LogPipeline.openSinks(spark, out)
    val raws = routed.select(col("raw")).collect().map(_.getString(0))
    assert(raws.length == 3, s"expected 3 reassembled events, got ${raws.toSeq}")
    val err = raws.filter(_.contains("ERROR boom"))
    assert(err.length == 1 && err.head.contains("RuntimeException") &&
      err.head.contains("at app.Main.run"),
      s"trace lines must ride the ERROR event: ${err.toSeq}")
    // and the reassembled event is searchable as one unit
    val eng = new graft.compile.QueryEngine(
      routed.withColumn("raw", graft.functions.F.tokens_to_text(col("tokens"))),
      graft.config.ConfigJson.parseFile(cfgPath.toString).configs)
    val hits = eng.run("runtimeexception userId=2").df.count()
    assert(hits == 1L, "fragment + field predicate must hit the merged event")
  }

  test("--prepare CLI: BPE-encode + pack conserve tokens under the cap") {
    import org.apache.spark.sql.functions.col
    val in = Scratch.dir("prep-in").toString
    val out = Scratch.dir("prep-out").toString + "/packed"
    graft.sources.DocsAdapter.docs(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").write.mode("overwrite").parquet(in)
    Main.run(spark, Map("prepare" -> "true", "out" -> out,
      "bpe-merges" -> "50", "pack-cap" -> "64"), in)
    val packed = spark.read.parquet(out)
    assert(packed.columns.toSet == Set("window_id", "tokens", "n_tok", "n_docs"))
    // token conservation: every encoded token lands in exactly one window
    val merges = graft.ml.Bpe.trainOn(spark.read.parquet(in), 50)
    val want = graft.ml.Bpe.encode(spark, spark.read.parquet(in), merges)
      .agg(org.apache.spark.sql.functions.sum("n_tok")).head().getLong(0)
    val got = packed.agg(org.apache.spark.sql.functions.sum("n_tok")).head().getLong(0)
    assert(got == want, s"packed tokens $got != encoded tokens $want")
    // cap respected, and every window except possibly the last is full
    val sizes = packed.orderBy("window_id").collect()
      .map(r => r.getAs[Number]("n_tok").longValue())
    assert(sizes.forall(_ <= 64))
    assert(sizes.dropRight(1).forall(_ == 64L), "stream packing leaves no gaps")
  }

  test("--profile CLI prints the field-discovery table for raw log input") {
    val dir = Scratch.dir("profile-in").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "log-0.txt"),
      ("2024/01/01 00:00:00.000000 hello a=1 b=foo\n" +
        "2024/01/01 00:00:01.000000 hello a=2 b=foo\n").getBytes("UTF-8"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, Map("text" -> "true", "profile" -> "true"),
        s"$dir/log-*.txt")
    }
    val lines = buf.toString("UTF-8").linesIterator.map(_.trim).toSeq
    assert(lines.contains("source=log-0.txt field=a n=2 ndv=2 numeric=2"),
      s"missing numeric field row in:\n${lines.mkString("\n")}")
    assert(lines.contains("source=log-0.txt field=b n=2 ndv=1 numeric=0"),
      s"missing text field row in:\n${lines.mkString("\n")}")
    assert(lines.exists(_.startsWith("source=log-0.txt field=_time n=2")),
      "extraction's _time alias must appear in the profile")
  }
}
