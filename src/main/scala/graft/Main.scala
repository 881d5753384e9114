package graft

import org.apache.spark.sql.SparkSession

import graft.compile.QueryEngine
import graft.config.ConfigJson
import graft.plans.LogPipeline
import graft.sources.TextIngest

/** CLI entry point — the spark-submit face of the engine, playing the role
  * of the reference's `logsuck [flags] files...` binary (cmd/logsuck):
  *
  *   spark-submit --class graft.Main graft.jar \
  *     [--config logsuck.json]                \  reference-format config
  *     --input <sequences parquet dir | raw log glob> \
  *     [--text]                               \  input is raw log files
  *     [--out <dir>]                          \  routed fan-out output
  *     [--stream --checkpoint <dir>]          \  streaming ingest (file source)
  *     [--query "<search string>"]            \  run a search, print results
  *     [--profile]                            \  field-discovery profile
  *     [--prepare --out <dir>]                \  BPE+pack a training set
  *     [--serve <port>]                       \  REST API over the corpus
  *     [--artifact-dir <dir>]                 \  train-once artifact store
  *
  * Batch: parse -> enrich -> route write -> per-sink summary on stdout.
  * With --query (and no --out): query the input directly. With both: route
  * first, then query the routed sinks.
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case flag @ ("--text" | "--stream" | "--curate" | "--profile" | "--prepare") =>
          m += flag.drop(2) -> "true"; i += 1
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          m += flag.drop(2) -> args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    m.result()
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val input = opts.getOrElse("input",
      throw new IllegalArgumentException("--input is required"))

    val spark = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, opts, input)
    finally if (sys.env.contains("GRAFT_KEEP_SESSION")) () else spark.stop()
  }

  /** Testable body (session injected). */
  def run(spark: SparkSession, opts: Map[String, String], input: String): Unit = {
    // --artifact-dir: where train-once artifacts (graft.util.Artifacts)
    // live — next to the data in a real deployment
    opts.get("artifact-dir").foreach(d => graft.util.Artifacts.artifactBaseDirOverride = Some(d))
    val parsedCfg = opts.get("config").map(ConfigJson.parseFile)
    val configs = parsedCfg.map(_.configs).getOrElse(graft.data.SequenceGen.configs)

    def sequences =
      if (opts.contains("text"))
        // per-fileType eventDelimiter from the config drives the split
        // (reference JsonConverter.go:50-55); no config -> newline
        TextIngest.readLogFiles(spark, input,
          parsedCfg.map(_.eventDelimiters).getOrElse(Seq("*" -> "\n")))
          .select("doc_id", "tokens", "n_tok", "source")
      else spark.read.parquet(input)

    // --curate: run the composed curation funnel over a (doc_id, url,
    // html) crawl parquet at --input; prints the per-stage survivor table
    // (one-pass observed form) and, with --out, writes the surviving
    // doc_ids for the downstream tokenize/pack/shard steps.
    if (opts.contains("curate")) {
      val crawl = spark.read.parquet(input)
      val cutoff = opts.get("lm-cutoff").map(_.toDouble)
        .getOrElse(graft.ml.Funnel.DefaultLmCutoff)
      val stages = graft.ml.Funnel.curationFunnelOnePass(crawl, cutoff)
      stages.orderBy("stage").collect().foreach(r =>
        println(s"  stage=${r.getString(0)} n_docs=${r.getLong(1)} sig=${r.get(2)}"))
      opts.get("out").foreach { out =>
        graft.ml.Funnel.survivors(crawl, cutoff)
          .write.mode("overwrite").parquet(out)
        println(s"survivor doc_ids -> $out")
      }
      return
    }

    // --prepare: the "make me a training set" tail of the pipeline over a
    // (doc_id, text) parquet at --input: train a BPE tokenizer on the
    // corpus, encode every doc (map-only), pack the token ids into
    // fixed-cap windows (two-phase prefix sum — no global sort), write the
    // packed windows to --out, and print the fill summary.
    if (opts.contains("prepare")) {
      import org.apache.spark.sql.functions.{count => cnt, lit, sum}
      val docs = spark.read.parquet(input)
      val nMerges = opts.get("bpe-merges").map(_.toInt).getOrElse(200)
      val cap = opts.get("pack-cap").map(_.toInt).getOrElse(512)
      val out = opts.getOrElse("out",
        throw new IllegalArgumentException("--prepare requires --out"))
      val merges = graft.ml.Bpe.trainOn(docs, nMerges)
      val encoded = graft.ml.Bpe.encode(spark, docs, merges)
      graft.ml.Packing.pack(encoded, cap, tokensCol = "ids")
        .write.mode("overwrite").parquet(out)
      val st = spark.read.parquet(out).agg(cnt(lit(1)), sum("n_tok")).head()
      val windows = st.getLong(0)
      // sum over zero windows is NULL — an empty corpus still prints a sane
      // summary instead of dying after the (empty) output was written
      val tokens = if (st.isNullAt(1)) 0L else st.getLong(1)
      val fill = if (windows == 0) 0.0 else tokens.toDouble / (windows * cap)
      println(s"prepared windows=$windows cap=$cap tokens=$tokens " +
        f"fill=$fill%.3f merges=${merges.size} -> $out")
      return
    }

    if (opts.contains("stream")) {
      val out = opts.getOrElse("out",
        throw new IllegalArgumentException("--stream requires --out"))
      val ckpt = opts.getOrElse("checkpoint",
        throw new IllegalArgumentException("--stream requires --checkpoint"))
      // hot reload: the config FILE is re-read at every micro-batch
      // boundary, so editing it while the stream runs takes effect on the
      // next batch (reference FileWatcher behavior); without --config the
      // built-in defaults are plan-time constants. A torn/mid-edit file
      // must not kill the stream: parse failures keep the LAST GOOD
      // snapshot and the batch proceeds under it.
      val provider: () => Seq[graft.model.SourceConfig] = opts.get("config") match {
        case Some(path) =>
          @volatile var lastGood = configs // initial parse already succeeded
          () => {
            try lastGood = ConfigJson.parseFile(path).configs
            catch { case e: Exception =>
              System.err.println(s"[graft] config reload failed (${e.getMessage}); keeping last good")
            }
            lastGood
          }
        case None => () => configs
      }
      val q = graft.streaming.StreamingPipeline.ingestReloading(
        spark, input, out, ckpt, provider)
      q.awaitTermination()
      println(s"streamed into $out")
      return
    }

    val queried = opts.get("out") match {
      case Some(out) =>
        val enriched = LogPipeline.run(spark, sequences, configs)
        LogPipeline.routeWrite(enriched, out,
          spark.sparkContext.defaultParallelism)
        println(s"routed sinks -> $out")
        LogPipeline.sinkSummary(LogPipeline.openSinks(spark, out)
          .withColumn("sink", LogPipeline.sinkCol))
          .orderBy("sink").collect()
          .foreach(r => println(s"  sink=${r.get(0)} n=${r.get(1)} sig=${r.get(2)} tokens=${r.get(3)}"))
        LogPipeline.openSinks(spark, out)
      case None =>
        LogPipeline.run(spark, sequences, configs)
          .withColumn("raw", graft.functions.F.tokens_to_text(
            org.apache.spark.sql.functions.col("tokens")))
    }

    // --profile: schema-on-read field discovery over the (routed or direct)
    // corpus — per (source, field) carry count, distinct values, and
    // numeric-shaped values (the admin view of what extraction found)
    if (opts.contains("profile")) {
      LogPipeline.fieldProfile(queried)
        .orderBy("source", "key").collect().foreach(r =>
          println(s"  source=${r.getString(0)} field=${r.getString(1)} " +
            s"n=${r.getLong(2)} ndv=${r.getLong(3)} numeric=${r.getLong(4)}"))
    }

    opts.get("query").foreach { q =>
      val engine = new QueryEngine(queried, configs)
      val frame = engine.run(q)
      val n = engine.matchedCount(frame)
      println(s"query: $q -> $n events")
      QueryEngine.newestFirst(frame).show(10, truncate = 120)
    }

    // --serve <port>: the reference's `api/v1` REST surface over this
    // corpus (internal/web/Web.go); blocks until the process is stopped.
    // Finished jobs age out after --job-ttl-ms (default 1h) so the
    // long-lived server never accumulates result caches unboundedly;
    // 0 disables expiry (manual releaseJob stays available).
    opts.get("serve").foreach { p =>
      val ttl = opts.get("job-ttl-ms").map(_.toLong).getOrElse(3600000L)
      val api = new graft.api.JobsApi(new QueryEngine(queried, configs),
        jobTtlMillis = if (ttl <= 0) None else Some(ttl))
      val http = new graft.api.HttpApi(api,
        opts.get("config").map(java.nio.file.Paths.get(_)))
      val port = http.start(p.toInt)
      println(s"serving http://127.0.0.1:$port/api/v1")
      Thread.currentThread().join()
    }
  }
}
