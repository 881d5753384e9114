package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.QueryEngine
import graft.data.SequenceGen
import graft.plans.{LogPipeline, RouteJob}
import graft.sources.EventsAdapter
import graft.util.Scratch

/** Physical-plan invariants — the scale properties the 100 TB deployment
  * depends on. These assert the *plan*, not the result: a regression that
  * silently de-optimizes (lost pushdown, broadcast flipped to shuffle join,
  * extraction moved under the filter) fails here even though results stay
  * correct.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("time bound reaches the parquet scan (predicate pushdown)") {
    val e = EventsAdapter.engine(spark, dir)
    val f = e.run("error", Some(Timestamp.valueOf("2024-01-02 00:00:00")), None)
    val plan = f.df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"ts bound must be pushed to parquet:\n$plan")
  }

  test("fragment filter evaluates below the extraction projection") {
    val e = EventsAdapter.engine(spark, dir)
    val plan = e.run("error").df.queryExecution.executedPlan.toString
    // the RLIKE filter must sit deeper in the tree than the extractevent
    // projection — extraction only runs on rows that survive the fragments
    val rlikePos = plan.indexOf("RLIKE")
    val extractPos = plan.indexOf("extractevent")
    assert(rlikePos > extractPos && extractPos >= 0,
      s"filter should be below (printed after) the extraction project:\n$plan")
  }

  test("column pruning: scan reads only referenced columns") {
    val e = EventsAdapter.engine(spark, dir)
    // count of a fragment search needs ts? no — only raw inputs
    val plan = e.run("error").df.select(col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("props"), "unused column 'props' must be pruned")
    assert(plan.contains("ReadSchema"), plan)
  }

  test("kv field predicates gain a raw-substring prefilter ahead of extraction") {
    val e = EventsAdapter.engine(spark, dir)
    val plan = e.run("userid=13").df.queryExecution.executedPlan.toString
    // all-kv configs: Contains(lower(raw), "userid=13") short-circuits the
    // per-row ExtractEvent for non-candidate rows
    assert(plan.contains("Contains(lower("), s"kv prefilter missing:\n$plan")
    // mixed configs (json/access present): prefilter must NOT be applied
    val mixed = new graft.compile.QueryEngine(
      EventsAdapter.events(spark, dir), EventsAdapter.mixedConfigs)
    val mplan = mixed.run("userid=13").df.queryExecution.executedPlan.toString
    assert(!mplan.contains("Contains(lower("),
      s"prefilter is unsound for non-kv configs:\n$mplan")
  }

  test("LogPipeline.run adds no join and no exchange") {
    // enrich is a memoized per-row expression: a side plan (distinct +
    // join + broadcast) would add a join here and jobs to every route
    val seqs = SequenceGen.sequences(spark, 1000, 2)
    val plan = LogPipeline.run(spark, seqs, SequenceGen.configs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"enrich must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"enrich must not shuffle or broadcast:\n$plan")
  }

  test("routed-sink query prunes sink partitions") {
    val in = Scratch.dir("plan-in").toString
    SequenceGen.sequences(spark, 800, 2).write.mode("overwrite").parquet(in)
    val out = Scratch.dir("plan-out").toString
    new RouteJob(spark, out, batches = 2).run(in, SequenceGen.configs)
    val sinks = LogPipeline.openSinks(spark, out)
    val plan = sinks.filter(col("sink") === "log-0_txt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(sink"),
      s"sink filter must prune partitions:\n$plan")
  }

  test("parse stage is one whole-stage-codegen span (no mid-parse exchange)") {
    val seqs = SequenceGen.sequences(spark, 1000, 2)
    val parsed = LogPipeline.enrichStatic(LogPipeline.parse(seqs), SequenceGen.configs)
    val plan = parsed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"static parse+enrich must not shuffle:\n$plan")
    assert(plan.startsWith("*"), s"parse stage must be codegen'd:\n$plan")
  }

  test("ANN brute force broadcasts the query side") {
    val plan = graft.ml.Similarity.bruteForceTopK(
      graft.sources.DocsAdapter.embeddings(spark, dir), 5, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$plan")
  }

  test("packing attaches block bases via broadcast join, not per-block literals") {
    val seqs = SequenceGen.sequences(spark, 2000, 2)
    val plan = graft.ml.Packing.pack(seqs, 256, blockSize = 4L)
      .queryExecution.executedPlan.toString
    // phase-1 bases must arrive by broadcast equi-join; a literal CASE WHEN
    // chain (one branch per block, `CASE WHEN (_block = <k>) THEN <base>`)
    // is unplannable at 10^7 blocks. The corpus-rendering CASE WHENs from
    // SequenceGen are fine — only block-keyed literal dispatch is banned.
    assert(plan.contains("BroadcastHashJoin"), s"bases must broadcast-join:\n$plan")
    assert(!plan.contains("CASE WHEN (_block"), s"no per-block literal chain:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no non-equi join in packing:\n$plan")
  }

  test("source mix joins the corpus against broadcast probabilities") {
    // the only nested-loop in the plan may be the 1-row scalar n_min
    // broadcast; the corpus-side probability join must be a broadcast
    // equi-join (per-source probs are dim-sized), never a shuffle of the
    // big side beyond its single aggregation pass
    val plan = SparkEntry.queries("q_source_mix")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probs must broadcast-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no big-side shuffle join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("DSIR plans a broadcast score join and a top-k, never a full sort") {
    val df = SparkEntry.queries("q_dsir")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // bin scores are bucket-cardinality — the corpus-side join broadcasts
    assert(plan.contains("BroadcastHashJoin"), s"bin scores must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no big-side shuffle join:\n$plan")
    // the k-selection is TakeOrdered (global top-k), not Sort+Limit
    assert(plan.contains("TakeOrderedAndProject"), s"selection must be top-k:\n$plan")
    // the (doc, bin) aggregation exchange feeds the model fit, its total
    // AND the scoring pass — AQE must reuse it at runtime, so the
    // normalize+explode corpus pipeline executes once, not three times
    df.collect(): Unit
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), s"AQE must finalize:\n$finalPlan")
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
      s"feat exchange must be reused:\n$finalPlan")
  }

  test("no shipped dedup/ANN query plans a cartesian or big-big nested-loop join") {
    // q_ann_topk is the documented exact BASELINE: its BroadcastNestedLoopJoin
    // carries a bounded query frame (nQueries rows) — linear scan, fine at
    // scale. Every other pair/dedup operator must bucket (LSH bands, prefix
    // filter, simhash bytes) — an all-pairs plan is the 100-TB failure mode.
    val spark0 = spark
    val checks = Seq("q_dedup_ngram", "q_dedup_minhash", "q_dedup_embedding",
      "q_ann_lsh", "q_ann_ivf", "q_ann_ivfpq", "q_simhash_pairs", "q_packing",
      "q_contamination", "q_dedup_chunks", "q_semantic_dedup", "q_winnow_pairs")
    checks.foreach { name =>
      val plan = SparkEntry.queries(name)(spark0, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plans a nested loop:\n$plan")
    }
  }

  test("URL dedup is map-only canonicalization plus ONE shuffle on the canonical key") {
    val plan = SparkEntry.queries("q_url_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"exactly one canonical-key exchange expected:\n$plan")
    assert(!plan.contains("Join"), s"no join anywhere in URL dedup:\n$plan")
  }

  test("curation funnel is ONE lazy chain: zero jobs before the single action, stages shrink") {
    // constructing the whole five-stage plan must launch NO Spark jobs —
    // any intermediate action (collect/count between stages) would
    // materialize mid-funnel and break at 100 TB
    // source read first: parquet schema inference runs its own listing job,
    // which is scan setup, not a funnel-stage action
    val docs = graft.sources.DocsAdapter.funnelDocs(spark, dir)
    val (funnel, planEvents) = TestSpark.observe(graft.ml.Funnel.curationFunnel(docs))
    assert(planEvents.jobs.isEmpty,
      s"building the funnel plan must not run jobs, saw ${planEvents.jobs.size}")
    val stages = funnel.collect().map(r =>
      r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(stages.keySet == Set("0_input", "1_url_dedup", "2_quality",
      "3_chunk_dedup", "4_lm_cutoff"))
    // every stage cuts: url variants collapse, quality drops lorem/brace
    // pages, chunk dedup kills the re-hosted copies, the LM cut bites
    assert(stages("0_input") > stages("1_url_dedup"),
      s"URL dedup must collapse crawl variants: $stages")
    assert(stages("1_url_dedup") > stages("2_quality"),
      s"quality filters must drop some pages: $stages")
    assert(stages("2_quality") > stages("3_chunk_dedup"),
      s"chunk dedup must drop the re-hosted copies: $stages")
    assert(stages("3_chunk_dedup") > stages("4_lm_cutoff"),
      s"the LM cutoff must bite: $stages")
    assert(stages("4_lm_cutoff") > 0, s"the funnel must not drop everything: $stages")
  }

  test("one-pass funnel equals the union form (observed counters, no double execution)") {
    // the observed one-pass funnel must reproduce the declarative union
    // form's stage table EXACTLY — and the signatures self-detect diamond
    // re-execution (a re-run observed segment doubles its count and xors
    // its sig to 0), so equality here IS the single-execution proof
    val docs = graft.sources.DocsAdapter.funnelDocs(spark, dir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("stage"), r.getAs[Long]("n_docs"),
        Option(r.get(r.fieldIndex("sig"))))
    val union = graft.ml.Funnel.curationFunnel(docs).collect().map(key).toSet
    val onePass = graft.ml.Funnel.curationFunnelOnePass(docs).collect().map(key).toSet
    assert(onePass == union)
  }

  test("route write projection prunes the fields map (ts comes from time-only extraction)") {
    val in = Scratch.dir("plan-route-in").toString
    SequenceGen.sequences(spark, 100, 2).write.mode("overwrite").parquet(in)
    val enriched = LogPipeline.run(spark, spark.read.parquet(in), SequenceGen.configs)
    val persisted = enriched.select(col("doc_id"), col("tokens"), col("n_tok"),
      col("source"), col("host"), col("ts"), col("offset"), col("sink"))
    val plan = persisted.queryExecution.executedPlan.toString
    // ExtractEvent builds the full per-row fields map; the write path must
    // derive ts via ExtractTimeValue only, letting Catalyst prune the map
    assert(!plan.toLowerCase.contains("extractevent"),
      s"fields-map build must be pruned out of the write projection:\n$plan")
    assert(plan.toLowerCase.contains("extracttimevalue"),
      s"ts must come from the time-only extraction:\n$plan")
    // sink sanitization runs once per distinct source in the enrich memo,
    // never per row
    assert(!plan.contains("regexp_replace"),
      s"per-row regexp_replace in the write plan (sink must come from the memo):\n$plan")
  }

  test("bucketed store: groupBy and self-join on the bucket key plan with ZERO exchanges") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val d = Scratch.dir("bucket-plan").toString
    graft.plans.BucketedStore.writeBucketed(events, "events_bucketed_plan",
      s"$d/tbl", buckets = 4)
    // the repeated-analytics query: agg on the bucket key — the bucketed
    // scan's HashPartitioning(user_id) satisfies the agg's distribution,
    // so the whole job is scan -> agg with no shuffle at any data size
    val stats = graft.plans.BucketedStore.userStats(spark, "events_bucketed_plan")
    val rows = stats.collect()
    val plan = stats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed per-user stats must not shuffle:\n$plan")
    // values equal the direct aggregation of the raw frame (ts is
    // TIMESTAMP_NTZ -> rows carry LocalDateTime, so compare generically)
    val direct = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.get(2), r.get(3))).toSet
      == direct)
    // co-located self-join: both sides carry the same bucketing, so the
    // join needs no hash exchange either (sorts are per-partition work)
    val t = spark.table("events_bucketed_plan")
    val j = t.select(col("user_id"), col("ts"))
      .join(t.groupBy("user_id").agg(max(col("ts")).as("latest")), "user_id")
      .filter(col("ts") === col("latest"))
    assert(j.count() >= direct.size, "at least one latest event per user")
    val jPlan = j.queryExecution.executedPlan.toString
    assert(!jPlan.contains("Exchange hashpartitioning"),
      s"co-located self-join must not hash-shuffle either side:\n$jPlan")
    spark.sql("DROP TABLE IF EXISTS events_bucketed_plan")
    Scratch.deleteRecursively(new java.io.File(d))
  }

  test("as-of enrich: latest-at-or-before semantics, one keyed exchange, no range join") {
    import spark.implicits._
    val t = (s: String) => java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    val left = Seq(
      ("e1", "k1", t("2024-01-01 05:00:00")),
      ("e2", "k1", t("2024-01-01 04:00:00")), // exactly AT a version ts
      ("e3", "k1", t("2023-12-31 23:00:00")), // before any version
      ("e4", "k2", t("2024-01-01 05:00:00"))) // other key: its own history
      .toDF("event_id", "k", "ts")
    val right = Seq(
      ("k1", t("2024-01-01 00:00:00"), "v1", 1L),
      ("k1", t("2024-01-01 04:00:00"), "v2", 2L),
      ("k1", t("2024-01-01 06:00:00"), "v3", 3L),
      ("k2", t("2024-01-01 01:00:00"), "w1", 9L))
      .toDF("k", "ts", "cfg", "n")
    val df = graft.plans.AsOfJoin.enrich(left, right, "k", "ts", Seq("cfg", "n"))
    val got = df.collect().map(r => r.getString(0) -> ((r.getString(3), r.get(4)))).toMap
    assert(got("e1") == (("v2", 2L))) // latest <= 05:00 is the 04:00 version
    assert(got("e2") == (("v2", 2L))) // a version taking effect AT t applies
    assert(got("e3") == ((null, null))) // no prior version -> left-join nulls
    assert(got("e4") == (("w1", 9L))) // histories never cross keys
    // plan: ONE hash exchange on the key (the union sides coalesce into the
    // same window shuffle) and no range/nested-loop join anywhere — read
    // off an unexecuted twin frame (the collected one prints the AQE
    // initial plan too, double-counting the exchange)
    val plan = graft.plans.AsOfJoin.enrich(left, right, "k", "ts", Seq("cfg", "n"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"as-of must never plan a range/theta join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"tag-and-union must cost exactly one keyed exchange:\n$plan")
  }

  test("percentiles: type-1 ranks on a hand distribution; sort is over cells, not rows") {
    import spark.implicits._
    // 100 rows of value=i per group g1 (p50 = ceil(0.5*100)=rank 50 -> 50)
    // plus a skewed g2 where one hot value holds the median
    val rows = (1 to 100).map(i => ("g1", i.toDouble)) ++
      (1 to 10).map(_ => ("g2", 7.0)) ++ Seq(("g2", 1.0), ("g2", 99.0))
    val df = rows.toDF("g", "value")
    val got = graft.plans.Percentiles.byGroup(df, "g", "value", Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got("g1") == ((100L, 50.0, 90.0, 99.0)))
    // ranks 6 and 11 of 12 both land inside the hot 7.0 run (cum 11);
    // rank ceil(.99*12)=12 reaches the tail
    assert(got("g2") == ((12L, 7.0, 7.0, 99.0)))
    // the row stream crosses ONE exchange (the histogram agg); the
    // cumulative walk re-partitions CELLS on the group key only
    val plan = graft.plans.Percentiles
      .byGroup(df, "g", "value", Seq(0.5)).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"histogram agg + cell-keyed window = two exchanges, rows cross once:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort of the row stream:\n$plan")
  }

  test("anomaly flags: hand-built median/MAD, strict boundary, cells-only apparatus") {
    import spark.implicits._
    // type A: hourly counts [1,1,1,1,10] -> med 1, devs [0,0,0,0,9], MAD 0
    //   -> only the burst hour trips dev > 3*0 (strict >: the 0-dev hours
    //      must NOT flag on a zero MAD)
    // type B: counts [2,4,6,8,100] -> med 6 (rank 3 of 5), devs
    //   [4,2,0,2,94] -> MAD 2 -> threshold 6: only 94 flags (4 does not)
    def hours(tpe: String, counts: Seq[Int]): Seq[(String, Timestamp)] =
      counts.zipWithIndex.flatMap { case (c, h) =>
        Seq.fill(c)(tpe -> Timestamp.valueOf(f"2026-01-01 $h%02d:30:00"))
      }
    val events = (hours("A", Seq(1, 1, 1, 1, 10)) ++
      hours("B", Seq(2, 4, 6, 8, 100))).toDF("event_type", "ts")
    val got = graft.plans.Anomaly.bucketCountAnomalies(events).collect()
      .map(r => (r.getString(0), r.getString(1).substring(11, 13)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    assert(got(("A", "04")) == ((10L, 1L, 9L, 0L, true)))
    (0 to 3).foreach(h => assert(got(("A", f"$h%02d")) == ((1L, 1L, 0L, 0L, false)),
      s"zero-dev hour $h must not flag on zero MAD (strict >)"))
    assert(got(("B", "04")) == ((100L, 6L, 94L, 2L, true)))
    assert(got(("B", "03")) == ((8L, 6L, 2L, 2L, false)))
    assert(got(("B", "00")) == ((2L, 6L, 4L, 2L, false)), "dev 4 <= 3*MAD 6")
    // scale shape: raw event columns cross only the first combine exchange
    // as (window, type) partials; median/MAD sides join back via broadcast
    val q = SparkEntry.queries("q_anomaly")(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"cell-scale percentile sides must broadcast:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("props#") && !l.contains("value#")),
      s"an exchange carries raw event payload columns:\n${exchanges.mkString("\n")}")
    assert(!plan.contains("rangepartitioning"), s"no global sort:\n$plan")
  }

  test("BM25 broadcasts df/totals and plans the cut as top-k, never a full sort") {
    val df = SparkEntry.queries("q_bm25")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // df table (|terms| rows) and the 1-row totals ride broadcasts
    assert(plan.contains("BroadcastHashJoin"), s"df join must broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"totals must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"k-cut must be top-k:\n$plan")
  }

  test("log templates: wildcard rule, reconstruction, corpus never shuffles to assign") {
    import spark.implicits._
    val lines = Seq(
      ("1", "app.log", "start job 17 on hostA"),
      ("2", "app.log", "start job 23 on hostB"),
      ("3", "app.log", "start job 17 on hostA"), // dup line: distinct, not occ, drives the rule
      ("4", "app.log", "done"),                  // different len -> own group
      ("5", "web.log", "GET /a 200"),
      ("6", "web.log", "GET /b 404")
    ).toDF("doc_id", "source", "raw")
    val tpl = graft.plans.LogTemplates.templatesFlat(lines).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getString(2), r.getString(3), r.getLong(4)))).toMap
    assert(tpl(("app.log", 5)) == (("start job <*> on <*>", "2,4", 3L)))
    assert(tpl(("app.log", 1)) == (("done", "", 1L)))
    assert(tpl(("web.log", 3)) == (("GET <*> <*>", "1,2", 2L)))
    // template + params reconstruct every line exactly
    val back = graft.plans.LogTemplates.assign(lines).collect().map { r =>
      val params = r.getString(2).split(" ", -1).filter(_.nonEmpty).iterator
      r.getString(0) -> r.getString(1).split(" ", -1)
        .map(t => if (t == "<*>") params.next() else t).mkString(" ")
    }.toMap
    val raws = lines.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    raws.foreach { case (id, raw) =>
      assert(back(id) == raw, s"doc $id must reconstruct") }
    // scale shape: the dictionary joins back via broadcast and no exchange
    // carries the per-line token array (the corpus is assigned map-only)
    val plan = graft.plans.LogTemplates.assign(lines)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"template dictionary must broadcast:\n$plan")
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(!_.contains("ws#")),
      s"an exchange carries the line token arrays:\n${exchanges.mkString("\n")}")
  }

  test("interval join: [start,end) boundaries, multi-day + overlapping windows, no range join") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      ("e1", "A", t("2026-01-01 10:00:00")), // inside w1
      ("e2", "A", t("2026-01-01 09:00:00")), // == w1 start: included
      ("e3", "A", t("2026-01-01 12:00:00")), // == w1 end: EXCLUDED (but inside w2)
      ("e4", "A", t("2026-01-02 03:00:00")), // day 2 of multi-day w2
      ("e5", "B", t("2026-01-01 10:00:00")), // right time, wrong key
      ("e6", "A", t("2026-01-01 11:30:00"))  // inside w1 AND w2 (overlap)
    ).toDF("doc_id", "event_type", "ts")
    val windows = Seq(
      ("w1", "A", t("2026-01-01 09:00:00"), t("2026-01-01 12:00:00")),
      ("w2", "A", t("2026-01-01 11:00:00"), t("2026-01-02 08:00:00")),
      ("w3", "B", t("2026-01-05 00:00:00"), t("2026-01-05 01:00:00"))
    ).toDF("window_id", "event_type", "start_ts", "end_ts")
    val got = graft.plans.IntervalJoin.eventsPerWindow(events, windows)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("w1" -> 3L, "w2" -> 3L), s"got $got")
    val plan = graft.plans.IntervalJoin.eventsPerWindow(events, windows)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"containment must never plan a theta join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"day-exploded windows must broadcast:\n$plan")
  }

  test("cohort retention: first-seen week anchors, within-week activity deduplicates") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // u1 first seen wk of Jan 5 (Mon), active again wk+2 twice (counts once)
    // u2 same cohort, active only in week 0; u3 cohort wk of Jan 19
    val events = Seq(
      (1L, t("2026-01-07 10:00:00")), (1L, t("2026-01-21 10:00:00")),
      (1L, t("2026-01-23 10:00:00")), (2L, t("2026-01-05 00:00:00")),
      (3L, t("2026-01-19 12:00:00"))
    ).toDF("user_id", "ts")
    val got = graft.plans.EventAnalytics.cohortRetention(events).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2026-01-05", 0L) -> 2L, ("2026-01-05", 2L) -> 1L,
      ("2026-01-19", 0L) -> 1L), s"got $got")
  }

  test("rollup: one-pass subtotals with ALL labels") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      ("click", t("2026-01-01 10:00:00"), 1L),
      ("click", t("2026-01-01 11:00:00"), 1L), // same user, same day
      ("click", t("2026-01-02 10:00:00"), 2L),
      ("error", t("2026-01-01 10:00:00"), 3L)
    ).toDF("event_type", "ts", "user_id")
    val got = graft.plans.EventAnalytics.rollupCounts(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(("click", "2026-01-01")) == ((2L, 1L)))
    assert(got(("click", "ALL")) == ((3L, 2L)))
    assert(got(("error", "ALL")) == ((1L, 1L)))
    assert(got(("ALL", "ALL")) == ((4L, 3L)))
    assert(!got.contains(("ALL", "2026-01-01")),
      "rollup (not cube): no day-only subtotals")
    // one pass: a single scan of the input feeds the expand + one exchange
    val plan = graft.plans.EventAnalytics.rollupCounts(events)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"rollup must expand grouping sets:\n$plan")
  }

  test("transitions: per-user adjacency, event_id tie-break, per-from normalization") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // u1: view -> click -> view ; u2 has a ts TIE where event_id must
    // decide the order (20 before 21: click -> error, NOT error -> click);
    // u3 contributes a single event -> no transition at all
    val events = Seq(
      (10L, t("2026-01-01 10:00:00"), 1L, "view"),
      (11L, t("2026-01-01 10:01:00"), 1L, "click"),
      (12L, t("2026-01-01 10:02:00"), 1L, "view"),
      (20L, t("2026-01-02 09:00:00"), 2L, "click"),
      (21L, t("2026-01-02 09:00:00"), 2L, "error"),
      (30L, t("2026-01-03 09:00:00"), 3L, "signup")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val frame = graft.plans.EventAnalytics.transitions(events)
    val got = frame.collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      ("view", "click") -> ((1L, 1.0)),
      ("click", "view") -> ((1L, 0.5)),
      ("click", "error") -> ((1L, 0.5))), s"got $got")
    // scale shape: the events cross exactly TWO exchanges (user window +
    // pair agg); the third is the normalization window over the tiny
    // |types|^2 aggregated frame, never over events (assert on the
    // unexecuted plan — AQE's final plan string double-counts)
    val twin = graft.plans.EventAnalytics.transitions(events)
    val nExchanges = "Exchange hashpartitioning".r
      .findAllIn(twin.queryExecution.executedPlan.toString).length
    assert(nExchanges <= 3, s"expected <=3 exchanges, got $nExchanges")
  }

  test("session paths: gap splits sequences, paths never cross a session boundary") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // u1: [view, click, purchase] then a 1-hour gap then [view, click]:
    // exactly ONE trigram (inside session 1) — the gap-straddling windows
    // (click,purchase,view) and (purchase,view,click) must not count
    val events = Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "view"),
      (2L, t("2026-01-01 10:05:00"), 1L, "click"),
      (3L, t("2026-01-01 10:10:00"), 1L, "purchase"),
      (4L, t("2026-01-01 11:30:00"), 1L, "view"),
      (5L, t("2026-01-01 11:31:00"), 1L, "click"),
      // u2 repeats view>click>purchase so the top-1 is unambiguous
      (6L, t("2026-01-02 09:00:00"), 2L, "view"),
      (7L, t("2026-01-02 09:01:00"), 2L, "click"),
      (8L, t("2026-01-02 09:02:00"), 2L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.plans.EventAnalytics.sessionPaths(events, gapSeconds = 1800)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("view>click>purchase" -> 2L), s"got $got")
    // plan: one user-keyed window exchange + one path-agg exchange; the
    // k-cut is a TakeOrdered, never a global range sort. Pin on the
    // parquet-backed query — a tiny LocalRelation's maxRows <= k makes
    // EliminateLimits drop the limit and the pin would see a bare Sort.
    val twin = SparkEntry.queries("q_session_paths")(spark, dir)
    val plan = twin.queryExecution.executedPlan.toString
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchanges <= 2, s"expected <=2 exchanges, got $nExchanges:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"k-cut must be TakeOrdered:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"no global sort:\n$plan")
  }

  test("transitions + session paths: closed-form counts, tied k-cut order, ~n shuffle records") {
    // user u = id div eper, i = id mod eper; types cycle t0→…→t4 per user
    // (type t<(u+i) mod 5>), 5-event bursts 60 s apart, bursts 3600 s apart
    val (users, eper) = (50L, 100L)
    val n = users * eper
    val events = spark.range(n).select(
      col("id").as("event_id"),
      expr(s"id div $eper").as("user_id"),
      expr(s"timestampadd(SECOND, ((id % $eper) div 5) * 3600 + (id % 5) * 60, " +
        "TIMESTAMP_NTZ '2024-01-01 00:00:00')").as("ts"),
      concat(lit("t"), pmod(expr(s"id div $eper") + pmod(col("id"), lit(5L)),
        lit(5L))).as("event_type"))
    // each from-type has ONE successor, so every p is exactly 1.0; summed
    // over the uniform user residues each cyclic pair occurs (eper-1)·users/5
    val (tr, trEvents) = TestSpark.observe(
      graft.plans.EventAnalytics.transitions(events).collect())
    assert(tr.length == 5, s"${tr.length} transition rows != 5")
    tr.foreach { r =>
      val from = r.getString(0).stripPrefix("t").toInt
      assert(r.getString(1) == s"t${(from + 1) % 5}", s"non-cyclic pair: $r")
      assert(r.getLong(2) == (eper - 1) * users / 5, s"count off: $r")
      assert(r.getDouble(3) == 1.0, s"p != 1.0: $r")
    }
    // one user-keyed exchange (n records) + type cells; the lower bound
    // proves the listener saw the exchange at all
    assert(trEvents.shuffleRecordsWritten >= n &&
      trEvents.shuffleRecordsWritten <= n + n / 10,
      s"transitions shuffled ${trEvents.shuffleRecordsWritten} records (bound ${n + n / 10})")
    // the 3360 s inter-burst gap splits every burst into its own session:
    // 3 trigrams per burst, and all five cyclic paths TIE at
    // 3/5 · users · eper/5, pinning the (n DESC, path ASC) k-cut order
    val (paths, spEvents) = TestSpark.observe(
      graft.plans.EventAnalytics.sessionPaths(events, gapSeconds = 1800).collect())
    val wantPer = 3L * users / 5 * (eper / 5)
    val wantOrder = (0 until 5).map(k => s"t$k>t${(k + 1) % 5}>t${(k + 2) % 5}").sorted
    assert(paths.map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      wantOrder.map(_ -> wantPer), s"paths: ${paths.toSeq}")
    assert(spEvents.shuffleRecordsWritten >= n &&
      spEvents.shuffleRecordsWritten <= n + n / 10,
      s"sessionPaths shuffled ${spEvents.shuffleRecordsWritten} records (bound ${n + n / 10})")
  }

  test("step funnel: strict ordering, ties excluded, out-of-order steps don't count") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      // u1 completes all three in order
      (1L, "view", t("2026-01-01 10:00:00")),
      (1L, "click", t("2026-01-01 11:00:00")),
      (1L, "purchase", t("2026-01-01 12:00:00")),
      // u2's only click precedes the view -> stops at step 1
      (2L, "click", t("2026-01-01 09:00:00")),
      (2L, "view", t("2026-01-01 10:00:00")),
      // u3: click at EXACTLY the view time -> strict > excludes it
      (3L, "view", t("2026-01-01 10:00:00")),
      (3L, "click", t("2026-01-01 10:00:00")),
      // u4 purchases without ever viewing -> no step at all
      (4L, "purchase", t("2026-01-01 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val got = graft.plans.EventAnalytics.stepFunnel(events).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got == Map(1 -> 3L, 2 -> 1L, 3 -> 1L), s"got $got")
  }

  test("template drift: only post-cut structure alerts") {
    import spark.implicits._
    val oldL = Seq(("1", "a.log", "req user 1"), ("2", "a.log", "req user 2"))
      .toDF("doc_id", "source", "raw")
    val newL = Seq(
      ("3", "a.log", "req user 3"),          // same template -> no alert
      ("6", "a.log", "req user 6"),          // (two lines keep pos 2 wild)
      ("4", "a.log", "req user 4 retry"),    // widened -> alerts
      ("5", "a.log", "req user 5 retry")
    ).toDF("doc_id", "source", "raw")
    val got = graft.plans.LogTemplates.drift(oldL, newL).collect()
      .map(r => (r.getString(2), r.getLong(4)))
    assert(got.toSeq == Seq(("req user <*> retry", 2L)), s"got ${got.toSeq}")
  }

  test("rolling actives: trailing-window membership, within-window dedup, no self-join") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (1L, t("2026-01-01 10:00:00")), (1L, t("2026-01-01 23:00:00")),
      (2L, t("2026-01-05 10:00:00")),
      (1L, t("2026-01-09 10:00:00"))
    ).toDF("user_id", "ts")
    val got = graft.plans.EventAnalytics.rollingActiveUsers(events)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Jan 1 window sees only u1 (twice -> once); Jan 5-7 see u1+u2;
    // Jan 8 drops u1's Jan-1 activity; Jan 9 picks up u1 again
    assert(got("2026-01-01") == 1L && got("2026-01-05") == 2L &&
      got("2026-01-07") == 2L && got("2026-01-08") == 1L &&
      got("2026-01-09") == 2L && got("2026-01-15") == 1L, s"got $got")
    assert(!got.contains("2026-01-16"), "window ends stop N-1 days past the last event")
    val plan = graft.plans.EventAnalytics.rollingActiveUsers(events)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"sliding actives must not self-join or window:\n$plan")
  }

  test("range-join rule: rewrites the no-key containment join to a day-keyed hash join") {
    import spark.implicits._
    GraftExtensions.register(spark)
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      ("e1", t("2026-01-01 10:00:00")),
      ("e2", t("2026-01-01 09:00:00")), // == start: included
      ("e3", t("2026-01-03 08:00:00")), // == end: excluded
      ("e4", t("2026-01-02 03:00:00"))  // middle day of the 3-day window
    ).toDF("doc_id", "ts")
    val windows = Seq(
      ("w1", t("2026-01-01 09:00:00"), t("2026-01-03 08:00:00")),
      ("w2", t("2026-01-02 00:00:00"), t("2026-01-02 06:00:00"))
    ).toDF("window_id", "start_ts", "end_ts")
    val joined = events.join(windows,
      events("ts") >= windows("start_ts") && events("ts") < windows("end_ts"))
    val got = joined.groupBy("window_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("w1" -> 3L, "w2" -> 1L), s"got $got")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule must replace the nested-loop plan:\n$plan")
    assert(plan.contains("graft_probe_day") && plan.contains("BroadcastHashJoin"),
      s"rule must inject the day equi key:\n$plan")
    // flipped sides (windows as the left relation): same rewrite, same rows
    val flipped = windows.join(events,
      events("ts") >= windows("start_ts") && events("ts") < windows("end_ts"))
    val gotF = flipped.groupBy("window_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotF == got, s"flipped sides must agree: $gotF")
    assert(!flipped.queryExecution.executedPlan.toString.contains("NestedLoopJoin"))
    // negative: a cross-side equality means Spark already hash-joins on it
    // — the rule must keep its hands off
    val ev2 = events.withColumn("k", lit("a"))
    val w2 = windows.withColumn("k2", lit("a"))
    val keyed = ev2.join(w2, ev2("k") === w2("k2") &&
      ev2("ts") >= w2("start_ts") && ev2("ts") < w2("end_ts"))
    assert(!keyed.queryExecution.executedPlan.toString.contains("graft_probe_day"),
      "rule fired on a join that already has an equi key")
  }

  test("decontam scrub broadcasts the bench gram set; corpus text never shuffles") {
    val df = SparkEntry.queries("q_decontam_scrub")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench gram match must broadcast:\n$plan")
    // the only hash exchanges carry hit positions / span structs — never the
    // ws word array (the corpus text column)
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(!_.contains("ws#")),
      s"an exchange carries the corpus word arrays:\n${exchanges.mkString("\n")}")
  }
}
