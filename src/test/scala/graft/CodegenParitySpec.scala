package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.model.SourceConfig
import graft.util.Scratch

/** Every graft expression evaluates to the same rows interpreted (`eval`)
  * and whole-stage compiled (the [[KernelCodegen]] bridge or the static
  * `ExprRuntime` calls), including the null cases the bridge decides.
  */
class CodegenParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rules = SourceRules(Seq(
    SourceConfig("*.json", "json", Nil, "ts", "2006-01-02T15:04:05Z07:00", "jhost", "svc"),
    SourceConfig("/var/log/*", "kv", SourceConfig.defaultExtractors, "_time",
      SourceConfig.defaultTimeLayout, "kvhost", "app")))
  private val centroids = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 1f))
  private val books = Array(
    Array(Array(0f, 0f), Array(1f, 1f)), Array(Array(1f, 0f), Array(0f, 1f)))

  private def e(name: String): Expression = Bridge.expression(col(name))

  /** (name, expression) for every expression in `graft.functions`. */
  private val table: Seq[(String, Expression)] = Seq(
    "TokensToText" -> TokensToText(e("tokens")),
    "TextToTokens" -> TextToTokens(e("raw")),
    "RegexExtractToMap" -> RegexExtractToMap(e("raw"), e("host"), e("source"),
      SourceConfig.defaultExtractors, "_time", inject = true),
    "RegexExtractToMap(no inject)" -> Bridge.expression(F.rex_extract(col("raw"), "(\\w+)=(\\w+)")),
    "JsonToFieldsMap" -> JsonToFieldsMap(e("json"), e("host"), e("source"), "ts", inject = true),
    "ExtractEvent(raw)" -> ExtractEvent(e("raw"), e("host"), e("source"), rules),
    "ExtractEvent(tokens)" -> ExtractEvent(e("tokens"), e("host"), e("source"), rules),
    "ExtractTimeValue" -> ExtractTimeValue(e("tokens"), e("source"), rules),
    "EventTime" -> EventTime(e("time_str"), e("source"), rules),
    "ResolveSource" -> ResolveSource(e("source"), rules),
    "MapUnion" -> MapUnion(e("m1"), e("m2")),
    "MapUnion(non-null right)" -> MapUnion(e("m1"),
      Bridge.expression(coalesce(col("m2"), typedLit(Map.empty[String, String])))),
    "MinHashSig" -> MinHashSig(e("hs"), Seq(3L, 5L), Seq(7L, 11L), 2147483647L),
    "SimHashSig" -> SimHashSig(e("hs"), 64),
    "LshSig" -> LshSig(e("va"), 16),
    "Md5Hash64" -> Md5Hash64(e("raw")),
    "Md5Hash64(non-null)" -> Md5Hash64(Bridge.expression(coalesce(col("raw"), lit("")))),
    "VecNormalize" -> VecNormalize(e("va")),
    "CosineSim" -> CosineSim(e("va"), e("vb")),
    "ShingleJoin" -> ShingleJoin(e("words"), 2),
    "ShingleHash" -> ShingleHash(e("words"), 2, 1000L),
    "WinnowFps" -> WinnowFps(e("words"), 2, 3),
    "WordHash" -> WordHash(e("words")),
    "IvfCellExpr" -> IvfCellExpr(e("va"), centroids),
    "IvfProbesExpr" -> IvfProbesExpr(e("va"), centroids, 2),
    "IvfResidualExpr" -> IvfResidualExpr(e("vq"), e("cell"), centroids),
    "PqLutExpr" -> PqLutExpr(e("vq"), books),
    "PqCodesExpr" -> PqCodesExpr(e("vq"), books),
    "NormalizeText" -> NormalizeText(e("raw")))

  private lazy val input: String = {
    val kv = "2021/01/20 19:37:00.123456 user=Bob a=1 b=2"
    val rows = Seq(
      (1, kv, "h1", "/var/log/app.log", """{"ts": "2024-01-02T03:04:05Z", "n": 87}""",
        "2021/01/20 19:37:00.123456", Map("a" -> "1"), Map("a" -> "2", "b" -> "3"),
        Seq(5L, 7L, 11L), Seq(1f, 2f, 3f, 4f), Seq(4f, 3f, 2f, 1f), Seq(0.5f, 1f, 0f, 2f),
        Seq("the", "cat", "sat", "on", "the", "mat"), 2),
      // null raw, host, source, tokens, time: extraction nulls or passes null
      (2, null, null, null, null, null, null, Map("x" -> "1"),
        Seq.empty[Long], null, Seq(1f, 1f), null, Seq.empty[String], 0),
      // host/source null with a present raw; mismatched cosine lengths
      (3, "{\"ts\": \"2024-01-02T03:04:05Z\", \"_time\": 1}", null, null, "[1, 2]",
        "not a time", Map("k" -> "v"), null, null, Seq(1f, 2f, 3f), Seq(1f, 2f, 3f, 4f),
        Seq(0f, 0f, 0f, 0f), Seq("one"), 1),
      // both maps null; a json source; zero vectors
      (4, """{"ts": "2024-01-02T03:04:05Z", "k": true}""", "h4", "events.json",
        """{"n": null}""", "2024-01-02T03:04:05Z", null, null, Seq(1L),
        Seq(0f, 0f, 0f, 0f), Seq(0f, 0f, 0f, 0f), Seq(1f, 1f, 1f, 1f), null, 2),
      // a source no glob matches falls back to the default rule
      (5, kv.toUpperCase, "h5", "other/src", "not json", "2021/01/20 19:37:00.123456",
        Map.empty[String, String], Map("a" -> "9"), Seq(2L, 2L), Seq(1f), null,
        Seq(2f, 2f, 2f, 2f), Seq("a", "b", "c", "d"), 0))
    val dir = Scratch.dir("codegen-parity").resolve("in").toString
    rows.toDF("id", "raw", "host", "source", "json", "time_str", "m1", "m2", "hs", "va", "vb",
        "vq", "words", "cell")
      .withColumn("tokens", F.text_to_tokens(col("raw")))
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def run(codegen: Boolean): (Array[Row], Boolean) = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.read.parquet(input).select(col("id") +: table.map {
        case (name, x) => Bridge.column(x).as(name) }: _*)
      val compiled = df.queryExecution.executedPlan.collectFirst {
        case w: WholeStageCodegenExec => w }.isDefined
      (df.collect().sortBy(_.getInt(0)), compiled)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every graft expression: interpreted eval == whole-stage codegen, null cases included") {
    val (interpreted, wscgOff) = run(codegen = false)
    val (compiled, wscgOn) = run(codegen = true)
    assert(!wscgOff && wscgOn, "one run per face")
    assert(interpreted.length == 5 && compiled.length == 5)
    for (((name, _), c) <- table.zipWithIndex.map { case (t, i) => (t, i + 1) }) {
      val a = interpreted.map(_.get(c)).toSeq
      val b = compiled.map(_.get(c)).toSeq
      assert(Row.fromSeq(a) == Row.fromSeq(b), s"$name: interpreted $a vs compiled $b")
    }
    // the null cases are really exercised
    def at(name: String, id: Int): Any =
      interpreted(id - 1).get(table.indexWhere(_._1 == name) + 1)
    assert(at("MapUnion", 2) == Map("x" -> "1"))
    assert(at("MapUnion", 3) == Map("k" -> "v"))
    assert(at("MapUnion", 4) == null)
    assert(at("CosineSim", 2) == null && at("CosineSim", 3) == null)
    assert(at("MinHashSig", 2) == null)
    assert(at("ExtractEvent(raw)", 2) == null && at("ExtractTimeValue", 2) == null)
    assert(at("EventTime", 2) == null)
    assert(at("ResolveSource", 2) != null)
    assert(at("RegexExtractToMap", 3) != null)
  }
}
