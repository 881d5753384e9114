package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Artifacts

/** Deduplication operators for training-data pipelines over the `documents`
  * table: exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine near-dup.
  *
  * Every primitive here has a DuckDB twin generated from the SAME constants
  * (see [[sql]]), so the driver's oracle verifies the full operator, not
  * just row counts. The shared 64-bit hash is the md5-prefix integer —
  * identical in both engines, unlike engine-native hash functions.
  */
object TextDedup {

  // ---------------------------------------------------------------- shared

  /** Normalize for dedup: lowercase, strip non-alnum, collapse whitespace.
    * One compiled pass (graft.functions.NormalizeText) — the two-regex
    * composed form was the dominant per-row cost of every text operator;
    * MlSpec property-tests the expression equal to the regex chain.
    */
  def normalizeCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NormalizeText(
        // keep lower()'s to-string coercion contract (redundant casts on
        // string columns are elided by Catalyst)
        org.apache.spark.sql.graftbridge.Bridge.expression(text.cast("string"))))

  def normalizeSql(text: String): String =
    s"trim(regexp_replace(regexp_replace(lower($text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Cross-engine 64-bit hash: first 15 hex chars of md5 (60 bits, fits a
    * signed long in both engines). One-pass expression straight off the
    * digest bytes (graft.functions.Md5Hash64).
    */
  def hash64Col(s: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.Md5Hash64(
        org.apache.spark.sql.graftbridge.Bridge.expression(s)))

  def hash64Sql(s: String): String =
    s"('0x' || substr(md5($s), 1, 15))::BIGINT"

  /** k-word shingles over the normalized text (distinct set). Documents
    * shorter than k words contribute the whole text as one shingle.
    */
  val SHINGLE_K = 3

  def shinglesCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ShingleJoin(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          split(normalizeCol(text), " ")), SHINGLE_K))

  def shinglesSql(text: String): String = {
    val words = s"string_split(${normalizeSql(text)}, ' ')"
    s"""list_distinct(CASE WHEN len($words) >= $SHINGLE_K
       | THEN list_transform(range(len($words) - ${SHINGLE_K - 1}), i -> array_to_string($words[i + 1 : i + $SHINGLE_K], ' '))
       | ELSE [${normalizeSql(text)}] END)""".stripMargin.replace("\n", " ")
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep-first by fingerprint of normalized text (the analog
    * of the reference's UNIQUE-key ingest dedup, SqliteEventRepository.go:56,
    * applied to document payloads). Returns (doc_id, fingerprint, is_dup).
    */
  def exact(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = md5(normalizeCol(col("text")))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), fp.as("fingerprint"))
      .withColumn("is_dup", row_number().over(w) > 1)
  }

  def exactSql(docsRel: String): String =
    s"""SELECT doc_id, fingerprint,
       | (row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) > 1) AS is_dup
       | FROM (SELECT doc_id, md5(${normalizeSql("text")}) AS fingerprint FROM $docsRel)""".stripMargin.replace("\n", " ")

  // --------------------------------------------------------- chunk dedup

  /** C4/RefinedWeb-style CHUNK-level dedup: web corpora repeat spans
    * (boilerplate lines, templated paragraphs) inside otherwise-distinct
    * documents, so cleaning pipelines drop repeated spans corpus-wide
    * rather than whole documents (Raffel et al., JMLR'20 §2.2 discard
    * repeated three-sentence spans; the line-level analog appears in
    * Gopher/RefinedWeb). The corpus here is single-line word soup, so the
    * span unit is a fixed window of `chunkWords` normalized words.
    *
    * Keep-first: the globally-first occurrence (min (doc_id, idx)) of each
    * distinct chunk survives; all later occurrences are dropped. Returns
    * (doc_id, n_chunks, n_kept, text) with `text` rebuilt from the
    * surviving chunks in document order (normalized casing/spacing — the
    * standard contract for a cleaning stage).
    *
    * Scale shape: chunking is a pure projection (rows x words/chunkWords
    * explosion, no shuffle); keep-first is ONE shuffle keyed on the chunk
    * fingerprint (row_number window — the same shape as exact dedup, whose
    * key domain is documents instead of chunks); the rebuild is one
    * groupBy(doc_id). Never all-pairs, nothing driver-side.
    */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 20): DataFrame =
    docs.withColumn("ws", chunkWordsCol)
      .select(col("doc_id"), chunkCountCol(chunkWords).as("n_chunks"))
      .join(chunkDedupKept(docs, chunkWords).drop("n_chunks"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))

  /** [[chunkDedup]] without the docs that keep no chunk: `n_chunks` rides
    * the posexplode, the keep-first window picks each chunk's survivor, and
    * the rebuild groups by `doc_id` — no join back to the docs. A caller
    * that drops docs below a kept share (the curation funnel) gets the same
    * survivors, since a doc that keeps no chunk has `n_kept = 0`.
    */
  def chunkDedupKept(docs: DataFrame, chunkWords: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nCh = chunkCountCol(chunkWords)
    val chunkArr = transform(sequence(lit(0L), nCh - 1),
      i => concat_ws(" ", slice(col("ws"), (i * chunkWords + 1).cast("int"), lit(chunkWords))))
    val chunks = docs.withColumn("ws", chunkWordsCol)
      .select(col("doc_id"), nCh.as("n_chunks"), posexplode(chunkArr).as(Seq("idx", "chunk")))
    val w = Window.partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("idx"))
    chunks.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("doc_id").agg(
        first(col("n_chunks")).as("n_chunks"), count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk"))).as("text"))
  }

  private def chunkWordsCol: Column = split(normalizeCol(col("text")), " ")
  private def chunkCountCol(chunkWords: Int): Column =
    ceil(size(col("ws")).cast("double") / chunkWords).cast("long")

  /** DuckDB twin of [[chunkDedup]]: same normalization, chunk windows,
    * keep-first window, and ordered rebuild.
    */
  def chunkDedupSql(docsRel: String, chunkWords: Int = 20): String =
    s"""WITH wsrc AS (SELECT doc_id, string_split(${normalizeSql("text")}, ' ') AS ws FROM $docsRel),
       |base AS (SELECT doc_id, CAST(ceil(len(ws) / CAST($chunkWords AS DOUBLE)) AS BIGINT) AS n_chunks, ws FROM wsrc),
       |idxd AS (SELECT doc_id, unnest(range(n_chunks)) AS idx, ws FROM base),
       |ch AS (SELECT doc_id, idx, array_to_string(ws[idx * $chunkWords + 1 : idx * $chunkWords + $chunkWords], ' ') AS chunk FROM idxd),
       |kept AS (SELECT doc_id, idx, chunk FROM (
       |  SELECT doc_id, idx, chunk,
       |    row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn FROM ch)
       |  WHERE rn = 1),
       |reb AS (SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY idx) AS text
       |  FROM kept GROUP BY doc_id)
       |SELECT b.doc_id, b.n_chunks, COALESCE(r.n_kept, 0) AS n_kept, COALESCE(r.text, '') AS text
       |FROM (SELECT doc_id, n_chunks FROM base) b LEFT JOIN reb r ON b.doc_id = r.doc_id""".stripMargin.replace("\n", " ")

  // ------------------------------------------------- duplicate substrings

  /** Exact duplicate-substring spans (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22 — the ExactSubstr
    * dedup): every maximal run of >= `L` consecutive normalized words
    * whose L-grams all occur more than once in the corpus (across
    * documents or repeated within one) is reported as a half-open token
    * span `(doc_id, span_start, span_end)`.
    *
    * The reference algorithm builds a single-node suffix array; the
    * Spark-native re-expression is sliding L-gram fingerprints:
    * positioned grams are one array projection + posexplode (O(n_tok)
    * rows, no shuffle), the duplicated-gram set is ONE shuffle on the
    * gram hash (count > 1), hits come back via an equi-join (AQE
    * broadcasts the dup set when it is small), and overlapping/adjacent
    * hits merge per document with a gaps-and-islands window (lag +
    * running flag sum — one doc-keyed shuffle). A hit at p covers
    * [p, p+L); the next hit p' extends it iff p' <= p + L, so merged
    * islands are exactly the maximal duplicated runs.
    */
  def dupSpans(docs: DataFrame, L: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs
      .select(col("doc_id"), split(normalizeCol(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= L)
    val gramArr = transform(sequence(lit(0), size(col("ws")) - L),
      i => hash64Col(concat_ws(" ", slice(col("ws"), i + 1, lit(L)))))
    val grams = words.select(col("doc_id"), posexplode(gramArr).as(Seq("pos", "gh")))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("n")).filter(col("n") > 1)
    val hits = grams.join(dup, Seq("gh")).select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("newi",
        when(col("pos") > lag(col("pos"), 1, -L).over(byDoc) + L, 1).otherwise(0))
      .withColumn("island", sum(col("newi")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + L).cast("long").as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** DuckDB twin of [[dupSpans]]: same grams, duplicate set, and island
    * merge.
    */
  def dupSpansSql(docsRel: String, L: Int = 8): String =
    s"""WITH wsrc AS (SELECT doc_id, string_split(${normalizeSql("text")}, ' ') AS ws FROM $docsRel),
       |pos_t AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - $L)) AS pos
       |  FROM wsrc WHERE len(ws) >= $L),
       |grams AS (SELECT doc_id, pos,
       |    ${hash64Sql(s"array_to_string(ws[pos + 1 : pos + $L], ' ')")} AS gh FROM pos_t),
       |dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1),
       |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
       |isl AS (SELECT doc_id, pos,
       |    CASE WHEN pos > lag(pos, 1, -$L) OVER (PARTITION BY doc_id ORDER BY pos) + $L
       |      THEN 1 ELSE 0 END AS newi FROM hits),
       |isl2 AS (SELECT doc_id, pos,
       |    sum(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + $L AS BIGINT) AS span_end
       |FROM isl2 GROUP BY doc_id, island""".stripMargin.replace("\n", " ")

  /** Cut every duplicated run found by [[dupSpans]] out of the corpus — the
    * "drop the duplicated bytes" action of the ExactSubstr pipeline (Lee et
    * al. ACL'22 §4.1; the released tool removes each occurrence of a
    * duplicated range, so back-to-back copies collapse to nothing rather
    * than to one canonical copy). Spans aggregate per doc (one doc-keyed
    * shuffle of the TINY span set), rejoin to the corpus on doc_id, and the
    * rebuild is a map-side indexed array filter — the corpus text itself
    * never shuffles, and docs without spans pass through the left join
    * untouched. Spans are token-addressed over the normalized stream, so
    * the rebuild is exact. Returns (doc_id, n_words, n_dropped, text).
    */
  def scrubDupSpans(docs: DataFrame, L: Int = 8): DataFrame = {
    val spans = dupSpans(docs, L)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs
      .select(col("doc_id"), split(normalizeCol(col("text")), " ").as("ws"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"),
        when(col("spans").isNull, col("ws"))
          .otherwise(filter(col("ws"), (_, i) =>
            !exists(col("spans"), sp =>
              i >= sp.getField("span_start") && i < sp.getField("span_end"))))
          .as("kept"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("n_dropped"),
        concat_ws(" ", col("kept")).as("text"))
  }

  /** DuckDB twin of [[scrubDupSpans]]: the [[dupSpansSql]] spans as a
    * nested CTE, positional tokens, NOT EXISTS span cover, ordered rebuild.
    */
  def scrubDupSpansSql(docsRel: String, L: Int = 8): String =
    s"""WITH spans AS (${dupSpansSql(docsRel, L)}),
       |swsrc AS (SELECT doc_id, string_split(${normalizeSql("text")}, ' ') AS ws FROM $docsRel),
       |stok AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1)) AS i FROM swsrc),
       |skept AS (SELECT t.doc_id, t.i, t.ws[t.i + 1] AS w FROM stok t
       |  WHERE NOT EXISTS (SELECT 1 FROM spans s
       |    WHERE s.doc_id = t.doc_id AND t.i >= s.span_start AND t.i < s.span_end)),
       |sreb AS (SELECT doc_id, count(*) AS n_kept,
       |  string_agg(w, ' ' ORDER BY i) AS text FROM skept GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
       |  CAST(len(w.ws) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped,
       |  COALESCE(r.text, '') AS text
       |FROM swsrc w LEFT JOIN sreb r ON w.doc_id = r.doc_id""".stripMargin.replace("\n", " ")

  // --------------------------------------------- incremental ingest dedup

  /** Dedup a NEW batch against an already-ingested HISTORY corpus without
    * shuffling the batch: a Bloom filter over history's content hashes (one
    * tree-aggregated pass; ~1.2 bytes/doc at 1% fpp, so even a billion-doc
    * history broadcasts in ~1 GB) ships to the executors, and every doc the
    * filter rejects is PROVABLY new — it passes through map-only, which at
    * 100 TB is the overwhelming bulk of the batch. Only the bloom-positive
    * sliver (true duplicates + the fpp share) enters the exact anti-join
    * that rescues false positives, so the result is EXACT, not
    * probabilistic: the bloom only decides which rows pay for the join.
    * The join's history side is a single hash-column projection (AQE
    * broadcasts it when small). The mightContain probe is a plain Scala
    * UDF — non-codegen but a cheap map-only gate, and the alternative
    * (anti-joining the full batch) shuffles everything.
    */
  def incrementalDedup(incoming: DataFrame, history: DataFrame,
      expectedHistoryDocs: Long = 1L << 20, fpp: Double = 0.01,
      prebuilt: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame = {
    val hist = history.select(hash64Col(normalizeCol(col("text"))).as("h"))
    val bloom = prebuilt.getOrElse(
      hist.stat.bloomFilter("h", math.max(expectedHistoryDocs, 1L), fpp))
    val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
    val mightDup = udf((h: java.lang.Long) => h != null && bc.value.mightContainLong(h))
    val hashed = incoming.withColumn("_h", hash64Col(normalizeCol(col("text"))))
    val fresh = hashed.filter(!mightDup(col("_h")))
    val rescued = hashed.filter(mightDup(col("_h")))
      .join(hist, col("_h") === col("h"), "left_anti")
    fresh.unionByName(rescued).drop("_h")
  }

  /** Build the history bloom alone — the train-once artifact for
    * [[incrementalDedup]], same lifecycle as the IVF quantizer: built once
    * per history generation, loaded by every subsequent ingest batch
    * (rebuilding it per batch would re-scan the full history every time).
    */
  def buildHistoryBloom(history: DataFrame, expectedHistoryDocs: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    history.select(hash64Col(normalizeCol(col("text"))).as("h"))
      .stat.bloomFilter("h", math.max(expectedHistoryDocs, 1L), fpp)

  /** A [[buildHistoryBloom]] artifact's format: BloomFilter's own binary
    * serialization ([[graft.util.Artifacts]]).
    */
  val bloomCodec: Artifacts.Codec[org.apache.spark.util.sketch.BloomFilter] =
    Artifacts.Codec(
      bloom => {
        val out = new java.io.ByteArrayOutputStream()
        bloom.writeTo(out)
        out.toByteArray
      },
      org.apache.spark.util.sketch.BloomFilter.readFrom(_))

  /** DuckDB twin of [[incrementalDedup]]: the bloom is invisible to the
    * result by construction, so the twin is the plain exact anti-join.
    */
  def incrementalDedupSql(incomingRel: String, historyRel: String): String =
    s"""SELECT i.* FROM $incomingRel i WHERE NOT EXISTS (
       |SELECT 1 FROM $historyRel h
       |WHERE ${hash64Sql(normalizeSql("h.text"))} = ${hash64Sql(normalizeSql("i.text"))})""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------- jaccard

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    * family; Vernica et al., "Efficient parallel set-similarity joins using
    * MapReduce", SIGMOD'10) — lossless, never all-pairs:
    *
    *   1. global shingle frequencies (one agg over exploded shingles);
    *   2. order each doc's shingles rare-first; keep the first
    *      n - ceil(t*n) + 1 (the PREFIX — any pair with Jaccard >= t must
    *      share a prefix token, since J >= t implies overlap >= ceil(t*max)
    *      and both prefixes reach past the last possible shared run);
    *   3. equi-join on prefix tokens -> candidates (rare-first ordering
    *      makes hot tokens fall outside most prefixes, bounding bucket
    *      sizes);
    *   4. verify candidates with the exact Jaccard.
    *
    * Completeness holds for ANY total token order, so the result is the
    * exact pair set — the DuckDB oracle recomputes it as a plain quadratic
    * join (fine at oracle scale) and must match row-for-row.
    * Returns (doc_a, doc_b, jac) with jac >= threshold, across all sources.
    */
  /** Candidate pairs from the rare-first prefix filter (lossless — stage 3
    * of [[ngramJaccardPairs]]'s plan). `lengthFilter` stacks PPJoin's length
    * bound on top: J >= t forces min(|a|,|b|) >= t * max(|a|,|b|), so pairs
    * whose sizes are too lopsided are pruned BEFORE the expensive verify
    * join (also lossless; the epsilon keeps an fp overestimate of t*n from
    * excluding an exact boundary pair). Exposed for pruning assertions.
    */
  private[graft] def ngramCandidates(docs: DataFrame, threshold: Double,
      lengthFilter: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col("doc_id"), shinglesCol(col("text")).as("sh"))
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    val freq = ex.groupBy("s").agg(count(lit(1)).as("f"))
    // rare-first total order (f, s); shingles are distinct within a doc so
    // the order is strict
    val w = Window.partitionBy("doc_id").orderBy(col("f"), col("s"))
    val prefix = ex.join(freq, Seq("s"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("doc_id"), col("n"), col("s"))
    val joined = prefix.as("x").join(prefix.as("y"), Seq("s"))
      .filter(col("x.doc_id") < col("y.doc_id"))
    val bounded = if (lengthFilter)
      joined.filter(
        col("x.n").cast("double") >= lit(threshold) * col("y.n") - lit(1e-9) &&
        col("y.n").cast("double") >= lit(threshold) * col("x.n") - lit(1e-9))
    else joined
    bounded
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = docs.select(col("doc_id"), shinglesCol(col("text")).as("sh"))
    val cand = ngramCandidates(docs, threshold)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      // unrounded filter, rounded display — see minhashLshPairs
      .withColumn("_jac", col("inter").cast("double") / col("uni"))
      .filter(col("_jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("_jac"), 4).as("jac"))
  }

  /** Oracle twin of [[ngramJaccardPairs]]: the algorithm is exact, so the
    * independent recomputation is the straight quadratic join (viable at
    * oracle scale only — the Spark side must never plan this shape).
    */
  def ngramJaccardPairsSql(docsRel: String, threshold: Double): String =
    s"""WITH sh AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM $docsRel)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $threshold""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------- minhash

  /** MinHash parameters: NUM_HASHES permutations in BANDS bands of ROWS
    * rows. a/b constants derived from one LCG so both engines share them.
    */
  val NUM_HASHES = 16
  val BANDS = 8 // r=2 rows/band: detection prob at jaccard 0.5 is ~0.90,
  val ROWS = NUM_HASHES / BANDS // at 0.77 ~0.999 — candidates are re-verified anyway
  val MOD = 4294967291L // largest prime < 2^32
  val COEF_A: Seq[Long] = (0 until NUM_HASHES).map(i => (1103515245L * (i + 1) + 12345L) % MOD | 1L)
  val COEF_B: Seq[Long] = (0 until NUM_HASHES).map(i => (134775813L * (i + 1) + 1L) % MOD)

  /** MinHash signature from an already-materialized shingle-hash array
    * column — one pass over the hashes for all NUM_HASHES permutations
    * (graft.functions.MinHashSig; the composed transform+array_min form
    * traversed the array 16x and generated seconds of Janino codegen).
    */
  def minhashFromHashes(xs: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(xs), COEF_A, COEF_B, MOD))

  /** 31-bit shingle hashes (31 bits so a*x+b stays inside int64 — DuckDB
    * BIGINT arithmetic is checked, so wraparound must be avoided). One
    * compiled pass words -> distinct shingles -> md5-prefix hashes.
    */
  def shingleHashesCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.ShingleHash(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          split(normalizeCol(text), " ")), SHINGLE_K, 2147483647L))

  /** docs + `mh` minhash signature column, staged so shingling/hashing runs
    * once per row.
    */
  def withMinhash(docs: DataFrame): DataFrame =
    docs.withColumn("_xs", shingleHashesCol(col("text")))
      .withColumn("mh", minhashFromHashes(col("_xs")))
      .drop("_xs")

  def minhashSqlExpr(text: String): String = {
    // hash64 is a 60-bit non-negative value, so % == pmod in both engines
    val xs = s"list_transform(${shinglesSql(text)}, s -> ${hash64Sql("s")} % 2147483647)"
    val hs = (0 until NUM_HASHES).map { i =>
      s"list_min(list_transform(xs, x -> (x * ${COEF_A(i)} + ${COEF_B(i)}) % $MOD))"
    }
    s"(SELECT [${hs.mkString(", ")}] FROM (SELECT $xs AS xs))"
  }

  /** LSH band rows (doc_id, band, sig) — the index shape a persisted
    * near-dup index stores one row of per (doc, band).
    */
  def bandSigs(docs: DataFrame): DataFrame =
    withMinhash(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("mh"),
        explode(array((0 until BANDS).map { b =>
          struct(lit(b).as("band"),
            concat_ws("-", (0 until ROWS).map(r =>
              element_at(col("mh"), b * ROWS + r + 1)): _*).as("sig"))
        }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.sig"))

  /** LSH candidate pairs verified by true Jaccard:
    * shingle -> minhash -> band signature -> bucket join -> verify.
    * This is the 10^12-scale dedup path: cost is (rows x bands) shuffle +
    * per-bucket joins, never a global cross join.
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val bands = bandSigs(docs)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verify candidates with the exact Jaccard (joins back to shingles)
    val withSh = docs.select(col("doc_id"), shinglesCol(col("text")).as("sh"))
    cand
      .join(withSh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(withSh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      // filter on the UNROUNDED ratio (as the SQL twin does), round only
      // for display — a 4-dp round could pull a just-below-threshold pair
      // over the line on one engine only
      .withColumn("_jac", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("_jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("_jac"), 4).as("jac"))
  }

  def minhashLshPairsSql(docsRel: String, threshold: Double): String = {
    val bandRows = (0 until BANDS).map { b =>
      val sig = (0 until ROWS).map(r => s"CAST(mh[${b * ROWS + r + 1}] AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH sigs AS (SELECT doc_id, ${minhashSqlExpr("text")} AS mh FROM $docsRel),
       |bands AS ($bandRows),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sh AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM $docsRel)
       |SELECT c.doc_a, c.doc_b,
       |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
       |FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $threshold""".stripMargin.replace("\n", " ")
  }

  /** Near-duplicate CLUSTERS over the verified MinHash+LSH pair graph:
    * smallest-doc_id label propagation to a fixpoint (the GraphX-style
    * connected-components loop as plain DataFrame joins). Returns
    * (doc_id, cluster_id, is_canonical) where cluster_id = min doc_id of
    * the component and the canonical doc is the keep-one-per-cluster
    * survivor.
    *
    * Scale shape: each iteration is one equi-join shuffle on doc_id; the
    * iteration count is the component DIAMETER, and dup components are
    * near-cliques from banding (2-3 hops in practice). Labels are
    * persisted per iteration so lineage stays flat; at 10^12 rows swap
    * persist for checkpoint. The driver-side loop carries only the
    * converged? count — never data.
    */
  def nearDupClusters(docs: DataFrame, threshold: Double,
      maxIters: Int = 20, smallGraphEdges: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.DataFrame
    val spark = docs.sparkSession
    val pairs = minhashLshPairs(docs, threshold)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .persist()
    val nEdges = pairs.count()

    // size switch, same philosophy as a broadcast-join threshold: the PAIR
    // graph is tiny relative to the corpus (only near-dups appear in it),
    // so up to `smallGraphEdges` edges a driver union-find + broadcast map
    // replaces the whole iterative fixpoint with one map-side join. Beyond
    // it, distributed label propagation takes over.
    val result = if (nEdges <= smallGraphEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val comp = parent.keys.map(k => k -> find(k)).toSeq
      if (comp.isEmpty)
        docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
      else {
        import spark.implicits._
        val compDf = comp.toDF("doc_id", "_comp")
        docs.select(col("doc_id"))
          .join(org.apache.spark.sql.functions.broadcast(compDf), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_comp"), col("doc_id")).as("cluster_id"))
      }
    } else {
      val edges = pairs
        .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .distinct()
        .persist()
      var labels: DataFrame = docs.select(col("doc_id"), col("doc_id").as("cluster_id")).persist()
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val neighborMin = edges
          .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("nl")), Seq("doc_b"))
          .groupBy(col("doc_a").as("doc_id"))
          .agg(min("nl").as("nmin"))
        val updated = labels
          .join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
          .persist()
        val changed = updated
          .join(labels.withColumnRenamed("cluster_id", "old"), Seq("doc_id"))
          .filter(col("cluster_id") =!= col("old")).count()
        labels.unpersist()
        labels = updated
        converged = changed == 0
        i += 1
      }
      edges.unpersist()
      // partially-converged labels would silently split clusters (templated
      // near-dup chains can exceed any fixed diameter bound) — refuse to
      // return them; the caller can retry with a larger maxIters. Drop the
      // cached blocks first so the advertised retry doesn't inherit a leak.
      if (!converged) {
        labels.unpersist()
        pairs.unpersist()
        throw new IllegalStateException(
          s"nearDupClusters did not converge within $maxIters label-propagation " +
            "iterations (component diameter exceeds maxIters); rerun with a larger maxIters")
      }
      labels
    }
    pairs.unpersist()
    result.withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** DuckDB twin of [[nearDupClusters]]: transitive closure by recursive
    * CTE over the same bidirectional pair graph; min reachable label =
    * component id.
    */
  def nearDupClustersSql(docsRel: String, threshold: Double): String =
    s"""WITH RECURSIVE pairsq AS (SELECT doc_a, doc_b FROM (${minhashLshPairsSql(docsRel, threshold)})),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairsq
       |  UNION SELECT doc_b, doc_a FROM pairsq),
       |reach(node, label) AS (
       |  SELECT doc_id, doc_id FROM $docsRel
       |  UNION
       |  SELECT e.b, r.label FROM reach r JOIN edges e ON r.node = e.a)
       |SELECT node AS doc_id, min(label) AS cluster_id,
       |  (node = min(label)) AS is_canonical
       |FROM reach GROUP BY node""".stripMargin.replace("\n", " ")

  /** Keep-best dedup: the actual ACTION a curation pipeline takes on the
    * near-dup clusters — per cluster, keep the highest-quality member
    * (ties break to the smallest doc_id). Emits one row per cluster
    * (singletons included: every kept doc is a row) with the survivor and
    * the cluster size, i.e. the post-dedup corpus manifest.
    *
    * Scale shape: the cluster labels join the quality scores on doc_id
    * (both sides doc-keyed — one co-partitioned shuffle join, never
    * broadcast-sized assumptions about the corpus), then ONE cluster-keyed
    * aggregate picks the argmax via max(struct(quality, -doc_id)) — a
    * map-side-combining agg, not a per-cluster window sort, so a
    * pathological mega-cluster costs one combiner cell, not a task-local
    * sort of its members.
    */
  def clusterRepresentatives(docs: DataFrame, threshold: Double): DataFrame = {
    val labels = nearDupClusters(docs, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val quality = graft.ml.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    labels.join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nd"))).as("_m"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("_m.nd")).as("rep_doc"), col("_m.q").as("rep_quality"))
  }

  /** DuckDB twin of [[clusterRepresentatives]]: the definitional form — a
    * per-cluster rank over (quality DESC, doc_id ASC) — against the same
    * cluster + quality twins, so the green row proves the argmax-by-agg
    * plan equals the sort-based definition.
    */
  def clusterRepresentativesSql(docsRel: String, threshold: Double): String =
    s"""SELECT cluster_id, cluster_size, doc_id AS rep_doc,
       |  quality AS rep_quality
       |FROM (SELECT c.cluster_id, c.doc_id, q.quality,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY q.quality DESC, c.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
       |  FROM (${nearDupClustersSql(docsRel, threshold)}) c
       |  JOIN (${graft.ml.TextAnalysis.qualityScoreSql(docsRel)}) q
       |    ON c.doc_id = q.doc_id)
       |WHERE rn = 1""".stripMargin.replace("\n", " ")

  /** Incremental NEAR-dup check of a new batch against the existing corpus
    * — the daily-crawl question "which of today's pages near-duplicate
    * something we already hold", answered WITHOUT recomparing the corpus
    * to itself (the near-dup analog of [[incrementalDedup]]'s exact path).
    * Emits (new_doc, dup_of, jac) for every batch doc sharing an LSH band
    * with a history doc, verified by true Jaccard >= threshold.
    *
    * Scale shape: the history side is its persisted BAND INDEX
    * (`prebuiltIndex` — built once per corpus like the bloom/IVF/BPE
    * artifacts; recomputed from text only as the small-scale fallback), so
    * a batch costs batch-bands × one bucket join against the index, never
    * a corpus re-shingle. Verification re-reads history text for the
    * CANDIDATE SLIVER ONLY: a left-semi join on the candidate ids prunes
    * the history scan before shingling (at 10^12 rows that semi-join is a
    * broadcast of the tiny candidate id set pushed into the scan).
    */
  def incrementalNearDups(batch: DataFrame, history: DataFrame,
      threshold: Double, prebuiltIndex: Option[DataFrame] = None): DataFrame = {
    val histBands = prebuiltIndex.getOrElse(bandSigs(history))
    // pinned: `cand` feeds BOTH the candIds broadcast and the verify joins
    // below — unpinned, the batch-bands x index bucket join (the most
    // expensive stage of the incremental path) evaluated twice. The pair
    // set is batch-scale by contract, so materializing it is cheap.
    val cand = bandSigs(batch).as("x")
      .join(histBands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("dup_of"))
      .distinct()
      .localCheckpoint(true)
    val shB = batch.select(col("doc_id").as("new_doc"),
      shinglesCol(col("text")).as("sh_a"))
    // explicit broadcast: the candidate id set is batch-scale by contract
    // (batch ≪ corpus); without the hint the static planner SMJs the semi
    // join and the WHOLE history shuffles before AQE can demote it
    val candIds = broadcast(cand.select(col("dup_of").as("doc_id")).distinct())
    val shH = history.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("dup_of"), shinglesCol(col("text")).as("sh_b"))
    cand.join(shB, Seq("new_doc")).join(shH, Seq("dup_of"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      // unrounded filter, rounded display — see minhashLshPairs
      .withColumn("_jac", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("_jac") >= threshold)
      .select(col("new_doc"), col("dup_of"), round(col("_jac"), 4).as("jac"))
  }

  /** DuckDB twin of [[incrementalNearDups]] (same bands, same verify; the
    * index-vs-recompute distinction is plan-side only — the index holds
    * exactly `bandSigs(history)`).
    */
  def incrementalNearDupsSql(batchRel: String, historyRel: String,
      threshold: Double): String = {
    def bandRows(sigsRel: String) = (0 until BANDS).map { b =>
      val sig = (0 until ROWS).map(r => s"CAST(mh[${b * ROWS + r + 1}] AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM $sigsRel"
    }.mkString(" UNION ALL ")
    s"""WITH sigs_b AS (SELECT doc_id, ${minhashSqlExpr("text")} AS mh FROM $batchRel),
       |sigs_h AS (SELECT doc_id, ${minhashSqlExpr("text")} AS mh FROM $historyRel),
       |bands_b AS (${bandRows("sigs_b")}),
       |bands_h AS (${bandRows("sigs_h")}),
       |cand AS (SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS dup_of
       |  FROM bands_b x JOIN bands_h y ON x.band = y.band AND x.sig = y.sig),
       |sh_b AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM $batchRel),
       |sh_h AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM $historyRel)
       |SELECT c.new_doc, c.dup_of,
       |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
       |FROM cand c JOIN sh_b a ON a.doc_id = c.new_doc
       |  JOIN sh_h b ON b.doc_id = c.dup_of
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= $threshold""".stripMargin.replace("\n", " ")
  }

  /** Per-source duplication inflation — the "which crawl is mostly copies"
    * panel that decides where exact dedup pays: docs vs distinct exact-hash
    * texts per source, inflation = docs/unique (4-dp). Integer counts +
    * one BIGINT/BIGINT→double divide, so both engines agree bit-for-bit.
    *
    * Scale shape: one cell-cardinality aggregate — the per-doc hash
    * collapses map-side to distinct (source, hash) cells before the only
    * exchange (two-phase distinct), so the wire carries unique texts, not
    * documents. No joins, no windows.
    */
  def dupInflation(docs: DataFrame): DataFrame =
    docs.select(col("source"), hash64Col(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"))
      .withColumn("inflation", round(col("n_docs") / col("n_unique"), 4))

  /** DuckDB twin of [[dupInflation]]. */
  def dupInflationSql(docsRel: String): String =
    s"""SELECT source, count(*) AS n_docs,
       |  count(DISTINCT ${hash64Sql("text")}) AS n_unique,
       |  round(count(*) / count(DISTINCT ${hash64Sql("text")}), 4) AS inflation
       |FROM $docsRel GROUP BY source""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------- simhash

  /** 32-bit SimHash over the distinct word set: bit j set iff more word
    * hashes have bit j set than clear. Near-dup docs land at small Hamming
    * distance. Generated identically for both engines bit by bit.
    */
  val SIMHASH_BITS = 32

  /** SimHash from a materialized word-hash array column — one pass for all
    * 32 bit-majority votes (graft.functions.SimHashSig; the composed form
    * ran 32 filter+size traversals per row).
    */
  def simhashFromHashes(hs: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.SimHashSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(hs), SIMHASH_BITS))

  def wordHashesCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WordHash(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          split(normalizeCol(text), " "))))

  /** docs + `simhash` column, staged. */
  def withSimhash(docs: DataFrame): DataFrame =
    docs.withColumn("_hs", wordHashesCol(col("text")))
      .withColumn("simhash", simhashFromHashes(col("_hs")))
      .drop("_hs")

  def simhashSqlExpr(text: String): String = {
    val terms = (0 until SIMHASH_BITS).map { j =>
      s"(CASE WHEN len(list_filter(hs, h -> (h >> $j) & 1 = 1)) * 2 > len(hs) THEN ${1L << j} ELSE 0 END)"
    }
    val hs = s"list_transform(list_distinct(string_split(${normalizeSql(text)}, ' ')), w -> ${hash64Sql("w")})"
    s"(SELECT ${terms.mkString(" + ")} FROM (SELECT $hs AS hs))"
  }

  /** Hamming distance between two simhash values (Spark side). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via byte-banding (4 bands of 8 bits): candidates
    * share at least one band, verified by Hamming distance <= maxDist.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    val sigs = withSimhash(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("simhash").as("sh"))
    val bands = sigs.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sh"), b * 8).bitwiseAND(lit(0xffL)).as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("sh"), col("bs.band"), col("bs.sig"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming(col("x.sh"), col("y.sh")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** DuckDB twin of [[simhashPairs]]: same byte-banding and Hamming verify. */
  def simhashPairsSql(docsRel: String, maxDist: Int): String =
    s"""WITH sigs AS (SELECT doc_id, ${simhashSqlExpr("text")} AS sh FROM $docsRel),
       |bands AS (SELECT doc_id, sh, t.b AS band, (sh >> (t.b * 8)) & 255 AS sig
       |  FROM sigs, range(4) t(b)),
       |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.sh, y.sh)) AS dist
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= $maxDist""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------- winnowing

  /** Window size for [[winnow]]: every shared run of at least
    * `WINNOW_W + SHINGLE_K - 1` words is GUARANTEED to share a fingerprint
    * (the winnowing guarantee, Schleimer et al. SIGMOD'03 §4).
    */
  val WINNOW_W = 4

  /** Per-document winnowing fingerprint SET as an array column: the distinct
    * minima of every [[WINNOW_W]]-window over the ORDERED k-word shingle
    * hash sequence (positions intact, repeats kept — unlike [[shinglesCol]]'s
    * distinct set; documents shorter than k words hash their whole normalized
    * text as the one shingle). MOSS local fingerprinting: selecting window
    * minima instead of `hash % p == 0` sampling guarantees every
    * sufficiently long shared run is DETECTED, not just likely-detected.
    *
    * One compiled O(n) pass (graft.functions.WinnowFps, monotonic-deque
    * window minima) — the composed `transform(sequence)+array_min(slice)`
    * form re-derived the shingle+md5 array once per window (~45x per doc)
    * and measured 1.3k docs/s at the 1M-doc probe; MlSpec pins the compiled
    * pass equal to the brute-force form.
    */
  def winnowFpsCol(text: Column, w: Int = WINNOW_W): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WinnowFps(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          split(normalizeCol(text), " ")), SHINGLE_K, w))

  /** Winnowing document fingerprints, oracle-comparable scalars per doc:
    * fingerprint count, order-free XOR signature, and the minimum
    * fingerprint (simultaneously the doc's global min shingle hash — a
    * 1-perm MinHash the caller can band on). Two near-identical documents
    * share most fingerprints, so candidate generation can bucket-join on
    * exploded fps; this projection keeps the oracle row per-doc.
    *
    * Scale shape: ENTIRELY row-local — normalize, shingle, hash, window-min
    * and distinct are array expressions inside one projection; the plan has
    * ZERO exchanges (MlSpec pins it). At 100 TB this stage is pure
    * map-side scan throughput; only downstream candidate joins shuffle, and
    * they shuffle fingerprints, never text.
    */
  def winnow(docs: DataFrame, w: Int = WINNOW_W): DataFrame =
    docs.select(col("doc_id"),
      winnowFpsCol(col("text"), w).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fps"),
        aggregate(col("fps"), lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("fp_sig"),
        array_min(col("fps")).as("fp_min"))

  /** Shared CTE chain producing (doc_id, fps) in DuckDB — the twin of
    * [[winnowFpsCol]], reused by [[winnowSql]] and [[winnowPairsSql]].
    */
  private def winnowFpsCtesSql(docsRel: String, w: Int): String = {
    val norm = normalizeSql("text")
    s"""d AS (SELECT doc_id, string_split($norm, ' ') AS ws, $norm AS norm FROM $docsRel),
       |sh AS (SELECT doc_id, CASE WHEN len(ws) >= $SHINGLE_K
       |    THEN list_transform(range(len(ws) - ${SHINGLE_K - 1}), i -> array_to_string(ws[i + 1 : i + $SHINGLE_K], ' '))
       |    ELSE [norm] END AS s FROM d),
       |h AS (SELECT doc_id, list_transform(s, x -> ${hash64Sql("x")}) AS hs FROM sh),
       |f AS (SELECT doc_id, list_distinct(list_transform(
       |    range(greatest(len(hs) - ${w - 1}, 1)), j -> list_min(hs[j + 1 : j + $w]))) AS fps FROM h)""".stripMargin
  }

  /** DuckDB twin of [[winnow]] — same shingles, same window minima, scalars
    * aggregated from the unnested fingerprint set (bit_xor/min/count are
    * order-free, so list order never matters).
    */
  def winnowSql(docsRel: String, w: Int = WINNOW_W): String =
    s"""WITH ${winnowFpsCtesSql(docsRel, w)}
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
       |  CAST(bit_xor(fp) AS BIGINT) AS fp_sig, CAST(min(fp) AS BIGINT) AS fp_min
       |FROM (SELECT doc_id, unnest(fps) AS fp FROM f) GROUP BY doc_id""".stripMargin.replace("\n", " ")

  /** MOSS detection join: candidate pairs ranked by SHARED winnowing
    * fingerprints (the per-doc fps are distinct, so `n_shared` is the exact
    * intersection size). The winnowing guarantee lifts to pairs: documents
    * sharing `minShared` sufficiently long runs are always found — unlike
    * MinHash banding, whose recall is probabilistic.
    *
    * Scale shape: ONE fingerprint-keyed exchange — the hot-fingerprint cap
    * (`maxDf`: a fingerprint appearing in more docs is boilerplate, and its
    * pair contribution is quadratic in df) is a window count INSIDE that
    * exchange, and the self-join reuses the same partitioning (AQE
    * ReusedQueryStage, PlanSpec-pinned), so text never shuffles and only
    * (doc_id, fp) pairs cross the wire; the pair aggregate then carries
    * candidate pairs only. At 10^12 docs the cap is the load-bearing guard:
    * one universal boilerplate fingerprint would otherwise emit 10^24 join
    * rows.
    */
  def winnowPairs(docs: DataFrame, minShared: Int = 2, maxDf: Long = 1000L,
      w: Int = WINNOW_W): DataFrame = {
    val fps = docs.select(col("doc_id"),
      explode(winnowFpsCol(col("text"), w)).as("fp"))
    val rare = fps.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("df") <= maxDf).drop("df")
    rare.as("x").join(rare.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-source duplication forensics: for every source pair, how many
    * DISTINCT winnowing fingerprints they share — the corpus-level view of
    * [[winnowPairs]] (how much of source B is already in source A decides
    * mixing weights and dedup order; the winnowing guarantee makes a zero
    * row mean NO shared run of ≥ w+k−1 words anywhere between the two).
    *
    * Scale shape: text reduces to (source, fp) pairs row-locally, ONE
    * distinct exchange collapses them (map-side combined), and the self
    * join fans out per fp by at most the SOURCE count, never doc count —
    * no hot-fp cap needed because distinctness bounds the fan. The pair
    * aggregate is sources² cells.
    */
  def sourceOverlap(docs: DataFrame, w: Int = WINNOW_W): DataFrame = {
    val sf = docs.select(col("source"),
      explode(winnowFpsCol(col("text"), w)).as("fp")).distinct()
    sf.as("x").join(sf.as("y"),
        col("x.fp") === col("y.fp") && col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** DuckDB twin of [[sourceOverlap]] — fps re-join their doc's source,
    * then the same distinct + pair count.
    */
  def sourceOverlapSql(docsRel: String, w: Int = WINNOW_W): String =
    s"""WITH ${winnowFpsCtesSql(docsRel, w)},
       |sfp AS (SELECT DISTINCT d2.source, u.fp
       |  FROM (SELECT doc_id, unnest(fps) AS fp FROM f) u
       |  JOIN (SELECT doc_id, source FROM $docsRel) d2 ON u.doc_id = d2.doc_id)
       |SELECT x.source AS source_a, y.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_shared_fps
       |FROM sfp x JOIN sfp y ON x.fp = y.fp AND x.source < y.source
       |GROUP BY 1, 2""".stripMargin.replace("\n", " ")

  /** DuckDB twin of [[winnowPairs]] — same fps, same window-count cap, same
    * intersection counting.
    */
  def winnowPairsSql(docsRel: String, minShared: Int = 2, maxDf: Long = 1000L,
      w: Int = WINNOW_W): String =
    s"""WITH ${winnowFpsCtesSql(docsRel, w)},
       |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
       |r AS (SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM e)
       |  WHERE df <= $maxDf)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM r x JOIN r y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin.replace("\n", " ")
}
