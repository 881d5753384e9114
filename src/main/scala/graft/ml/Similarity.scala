package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Artifacts

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label): brute-force cosine top-k as the exact baseline and
  * a random-hyperplane LSH bucketing as the 10^12-scale path.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in double
    * with sequential order (matches DuckDB's list_cosine_similarity).
    * One-pass compiled expression (graft.functions.CosineSim) — the
    * aggregate/zip_with form evaluated its lambdas interpreted per element,
    * dominating every scored ANN join.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.CosineSim(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** Brute-force top-k neighbors for the query vectors (vec_id < nQueries).
    * Broadcast the tiny query side; rank by rounded cosine then vec_id so
    * ordering is reproducible across engines.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("embedding"), col("qv")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
  }

  def bruteForceTopKSql(embRel: String, nQueries: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM $embRel WHERE vec_id < $nQueries),
       |scored AS (SELECT q.qid, e.vec_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) AS sim
       |  FROM $embRel e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |ranked AS (SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, sim FROM ranked WHERE rank <= $k""".stripMargin.replace("\n", " ")

  /** EXACT all-pairs cosine near-dup — TEST-ONLY oracle baseline. The
    * `id_a < id_b` join is a BroadcastNestedLoopJoin/cartesian: O(n^2),
    * unplannable at table scale. Shipped dedup goes through
    * [[embeddingDedup]]/[[lshNearDupPairs]]; this form exists to assert
    * LSH recall in MlSpec.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  def cosineNearDupPairsSql(embRel: String, threshold: Double): String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
       |FROM $embRel a JOIN $embRel b ON a.vec_id < b.vec_id
       |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= $threshold""".stripMargin.replace("\n", " ")

  /** Random-hyperplane LSH signature (`nBits` sign bits). Hyperplane h_j[d]
    * is a deterministic +/-1 from a bit-mix of (j, d) — no stored model, so
    * executors recompute it for free and the signature is reproducible.
    * Near vectors collide in at least one band with high probability.
    *
    * The mix must be nonlinear mod 2: parity of `a*j + b*d` with odd a, b is
    * just parity of j+d, which collapses all hyperplanes to two distinct
    * ones (and LSH buckets to <=4 values — a near cross join at scale). An
    * xor-shift + Lehmer step decorrelates the sign bits; all intermediates
    * stay < 2^53 so the same arithmetic is exact in any engine's int64.
    * One-pass expression (graft.functions.LshSig); SQL twin below.
    */
  def lshSignature(v: Column, nBits: Int = 16): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.LshSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(v), nBits))

  /** DuckDB twin of [[lshSignature]] over a DOUBLE[] expression. The sign of
    * the per-plane dot product is fp-order-sensitive only when the dot is
    * ~0 relative to the vector norm — not the case for the unit-ish
    * synthetic embeddings — and both engines fold the products in index
    * order.
    */
  def lshSignatureSql(vec: String, nBits: Int = 16): String = {
    def hyper(j: Int): String = {
      val a = s"(${j.toLong * 1315423911L} + (d + 1) * 2654435761)"
      val b = s"(xor($a, $a >> 13) % 2147483647)"
      s"(CASE WHEN ($b * 48271) % 2147483647 % 2 = 0 THEN 1.0 ELSE -1.0 END)"
    }
    val bits = (0 until nBits).map { j =>
      s"(CASE WHEN list_sum(list_transform(range(len(v)), d -> v[d + 1] * ${hyper(j)})) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    s"(SELECT ${bits.mkString(" + ")} FROM (SELECT CAST($vec AS DOUBLE[]) AS v))"
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path beside LSH.
  // Index build: one k-means (Lloyd) iteration over a deterministic sample
  // seeds C centroids; every vector is then assigned to its nearest centroid
  // by a pure map expression (centroids inlined as literals — the "model" is
  // a dim-table-sized artifact, exactly like a broadcast dimension). At
  // query time only the nProbe nearest cells are scanned, so per-query cost
  // is |probed cells|, not |table|; the big side never cross-joins.
  // ------------------------------------------------------------------

  /** Nearest-centroid cell id for a vector column: argmax cosine over the
    * inlined centroid literals (ties -> lowest cid). Pure projection — the
    * 10^12-row assignment pass is map-only, no shuffle. The similarity is
    * rounded to 9 dp before the argmax so the assignment is reproducible
    * across engines (raw doubles differ in the last bits between fp fold
    * orders; 9 dp absorbs that while real ties stay astronomically rare).
    */
  def ivfCell(v: Column, centroids: Array[Array[Float]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.IvfCellExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(v), centroids))

  /** Top-`nProbe` cells for a query vector, nearest-first (ties -> lowest
    * cid), same 9-dp rounding rule as [[ivfCell]].
    */
  def ivfProbes(v: Column, centroids: Array[Array[Float]], nProbe: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.IvfProbesExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(v), centroids, nProbe))

  /** Coarse quantizer: C centroids = one Lloyd iteration over a deterministic
    * sample (`vec_id % sampleMod == 0`), seeded by the C lowest vec_ids.
    * Cells that lose all sample members keep their seed. Driver-side result
    * is C x dim floats (tiny); at 100 TB the sample keeps this one cheap
    * aggregation pass bounded.
    */
  /** Job-description tag on every quantizer-build Spark job — lets callers
    * (and MlSpec) assert that serving a query launched NO build work.
    */
  val IVF_BUILD_TAG = "graft-ivf-build"

  def ivfCentroids(emb: DataFrame, nCells: Int, sampleMod: Int = 1): Array[Array[Float]] = {
    val sc = emb.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(IVF_BUILD_TAG)
    try {
      val sample =
        if (sampleMod > 1) emb.filter(pmod(col("vec_id"), lit(sampleMod)) === 0) else emb
      val seeds: Array[Array[Float]] = sample.orderBy("vec_id").limit(nCells)
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      // one Lloyd step: assign sample to seed cells (map-only), then per-cell
      // per-dim mean — a (cell, dim)-keyed partial-agg shuffle of tiny width
      val means = sample.withColumn("cell", ivfCell(col("embedding"), seeds))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("cell", "d").agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        }
      seeds.indices.map(i => means.getOrElse(i, seeds(i))).toArray
    } finally sc.setJobDescription(prevDesc)
  }

  /** The quantizer's artifact format ([[graft.util.Artifacts]]): one
    * centroid per line, comma-separated floats (Float.toString round-trips
    * exactly). Built ONCE per corpus generation, loaded by every query
    * like a broadcast dim.
    */
  val centroidsCodec: Artifacts.Codec[Array[Array[Float]]] = Artifacts.Codec.text(
    _.map(_.mkString(",")).mkString("\n"),
    _.split("\n").filter(_.nonEmpty).map(_.split(",").map(_.toFloat)))

  /** IVF top-k: exact cosine rank within the nProbe probed cells per query.
    * The probe fan-out (queries x nProbe) stays on the tiny broadcast side;
    * the indexed table joins on its map-derived `cell` key.
    *
    * `centroids` supplies a prebuilt quantizer ([[ivfCentroids]] /
    * [[centroidsCodec]]) — the build-once serving path: no build jobs run
    * when it is given. Omitting it rebuilds per call (one-off/ad-hoc use).
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, sampleMod: Int = 1,
      centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroids.getOrElse(ivfCentroids(emb, nCells, sampleMod))
    val indexed = emb.withColumn("cell", ivfCell(col("embedding"), cents))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("cell", explode(ivfProbes(col("qv"), cents, nProbe)))
    val scored = indexed.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("embedding"), col("qv")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
  }

  private def nearestSql(vec: String, rel: String, n: Int): String =
    s"""(SELECT list(cid ORDER BY s DESC, cid ASC)[1 : $n] FROM
       | (SELECT cid, round(list_cosine_similarity(CAST($vec AS DOUBLE[]), CAST(c AS DOUBLE[])), 9) AS s FROM $rel))""".stripMargin

  /** Shared CTE prefix replicating the IVF index build (seed choice, one
    * Lloyd step with argmax at 9 dp and float-truncated means, final cell
    * assignment) — ends with `indexed(vec_id, embedding, cell)`.
    */
  private def ivfIndexCtes(embRel: String, nCells: Int): String =
    s"""WITH emb AS (SELECT vec_id, embedding FROM $embRel),
       |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c
       |  FROM (SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT $nCells)),
       |assign AS (SELECT e.vec_id, e.embedding,
       |    ${nearestSql("e.embedding", "seeds", 1)}[1] AS cell FROM emb e),
       |means AS (SELECT cell, d, CAST(avg(x) AS REAL) AS m
       |  FROM (SELECT cell, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS d
       |        FROM assign) GROUP BY cell, d),
       |cents AS (SELECT s.cid,
       |    COALESCE((SELECT list(m.m ORDER BY m.d) FROM means m WHERE m.cell = s.cid), s.c) AS c
       |  FROM seeds s),
       |indexed AS (SELECT e.vec_id, e.embedding,
       |    ${nearestSql("e.embedding", "cents", 1)}[1] AS cell FROM emb e)""".stripMargin

  /** DuckDB twin of [[ivfTopK]] (sampleMod=1): replicates the seed choice,
    * the one Lloyd step (argmax at 9 dp, per-dim mean truncated to float —
    * matching Spark's Array[Float] centroid materialization), the probed
    * cells, and the final 6-dp rank.
    */
  def ivfTopKSql(embRel: String, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4): String =
    s"""${ivfIndexCtes(embRel, nCells)},
       |probes AS (SELECT q.vec_id AS qid, q.embedding AS qv, unnest(
       |    ${nearestSql("q.embedding", "cents", nProbe)}) AS cell
       |  FROM emb q WHERE q.vec_id < $nQueries),
       |scored AS (SELECT p.qid, i.vec_id,
       |    round(list_cosine_similarity(CAST(i.embedding AS DOUBLE[]), CAST(p.qv AS DOUBLE[])), 6) AS sim
       |  FROM indexed i JOIN probes p ON i.cell = p.cell WHERE i.vec_id <> p.qid),
       |ranked AS (SELECT qid, vec_id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM scored)
       |SELECT qid, rank, vec_id, sim FROM ranked WHERE rank <= $k""".stripMargin.replace("\n", " ")

  /** Embedding-space clustering for curation: every vector assigned to its
    * nearest coarse centroid — the IVF quantizer doubling as a one-step
    * k-means partitioning of the corpus (topic/domain bucketing, per-bucket
    * sampling). Map-only over the table once the (tiny, build-once)
    * quantizer exists; at 100 TB this is the same serving path as
    * [[ivfTopK]]'s assignment pass.
    */
  def embeddingClusters(emb: DataFrame, nCells: Int = 16, sampleMod: Int = 1,
      centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(emb, nCells, sampleMod))
    emb.select(col("vec_id"),
      ivfCell(col("embedding"), cents).cast("long").as("cell"))
  }

  /** DuckDB twin of [[embeddingClusters]] (sampleMod=1). */
  def embeddingClustersSql(embRel: String, nCells: Int = 16): String =
    s"""${ivfIndexCtes(embRel, nCells)}
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM indexed""".stripMargin.replace("\n", " ")

  /** Unit-normalized vector (array<double>), norm accumulated in double;
    * zero vectors normalize to zeros. Compiled one-pass expression.
    */
  def vecNormalizeCol(v: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.VecNormalize(
        org.apache.spark.sql.graftbridge.Bridge.expression(v)))

  /** Per-group embedding DIVERSITY: the mean pairwise cosine similarity
    * of each label's vectors — the redundancy monitor a curation pipeline
    * watches across dedup/mixing stages (a group whose mean pairwise
    * similarity creeps up is collapsing onto duplicates or templates).
    *
    * The DEFINING computation is quadratic (all pairs within a group —
    * the DuckDB twin states exactly that), but over UNIT vectors the
    * pair sum collapses to a closed form:
    *
    *   Σ_{i≠j} u_i·u_j  =  ‖Σ_i u_i‖² − Σ_i ‖u_i‖²  =  ‖Σ_i u_i‖² − n
    *
    * so the whole operator is LINEAR: one posexplode over the normalized
    * components, one (label, dim) partial-aggregated sum — the only
    * corpus-scale exchange, collapsing to groups × dim rows map-side —
    * and a groups-sized final fold. No join, no pair enumeration; the
    * 10^12-row shape is a scan. Groups of one vector are omitted
    * (diversity is undefined; emitting a sentinel would poison averages).
    *
    * Output: (label, n_vectors, mean_pairwise_cos) — rounded to 4 dp,
    * where fp-error between the closed form and the pair sum is ~1e-12.
    * Assumes a fixed embedding dimension across the table (every ANN
    * operator here shares that contract): n_vectors is read off the
    * per-dim counts, which only agree when no vector is ragged.
    */
  def diversityByGroup(emb: DataFrame): DataFrame = {
    // zero vectors are excluded UP FRONT in both engines: cosine against a
    // zero vector is undefined (the quadratic twin would produce NaN), and
    // letting a normalized-to-zeros row ride the closed form would bias
    // the mean by z/(n(n-1)) — neither is the defined statistic
    val comps = emb
      .filter(exists(col("embedding"), x => x =!= lit(0.0f)))
      .select(col("label"),
        posexplode(vecNormalizeCol(col("embedding"))).as(Seq("dim", "u")))
    val dimSums = comps.groupBy("label", "dim")
      .agg(sum(col("u")).as("s"), count(lit(1)).as("cnt"))
    dimSums.groupBy("label")
      .agg(max(col("cnt")).as("n_vectors"), // every dim counts every vector
        sum(col("s") * col("s")).as("ss"))
      .filter(col("n_vectors") > 1)
      .select(col("label"), col("n_vectors"),
        round((col("ss") - col("n_vectors")) /
          (col("n_vectors") * (col("n_vectors") - 1)), 4).as("mean_pairwise_cos"))
  }

  /** DuckDB twin of [[diversityByGroup]] — states the quadratic
    * DEFINITION (mean list_cosine_similarity over all i<j pairs within
    * the label), which the Spark side must reproduce through the linear
    * ‖Σu‖² identity. The oracle equality IS the proof of the identity's
    * implementation.
    */
  def diversityByGroupSql(embRel: String): String =
    s"""WITH dvv AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM $embRel
       |  WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
       |dvn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors FROM dvv GROUP BY label),
       |dvp AS (SELECT a.label, list_cosine_similarity(a.e, b.e) AS cs
       |  FROM dvv a JOIN dvv b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT n.label, n.n_vectors, round(avg(p.cs), 4) AS mean_pairwise_cos
       |FROM dvn n JOIN dvp p ON n.label = p.label
       |WHERE n.n_vectors > 1
       |GROUP BY n.label, n.n_vectors""".stripMargin.replace("\n", " ")

  /** SEMANTIC dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the build-once coarse
    * quantizer, then drop every vector that has a higher-priority
    * (lower-id) near-duplicate WITHIN ITS CLUSTER at >= `threshold`
    * cosine. The quadratic dedup becomes per-cell equi-joins: assignment
    * is map-only, the pair join shuffles once on `cell` and each task only
    * compares within one cell's population — at 100 TB the cell count
    * scales with the corpus so no task ever sees the whole table. Returns
    * the surviving (vec_id, cell).
    *
    * `centroids` takes the per-corpus build-once artifact (same lifecycle
    * as [[ivfTopK]]'s quantizer); omitting it rebuilds per call.
    */
  def semanticDedup(emb: DataFrame, threshold: Double, nCells: Int = 16,
      centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(emb, nCells))
    val assigned = emb.select(col("vec_id"), col("embedding"),
      ivfCell(col("embedding"), cents).cast("long").as("cell"))
    // one anti-join IS the keep rule: r survives iff no lower-id cell-mate
    // clears the threshold. Both sides share the single cell-keyed
    // exchange; the drop-set + extra anti-join form paid a third full
    // assignment scan of the corpus just to subtract ids.
    assigned.as("r").join(assigned.as("l"),
        col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id") &&
          round(cosine(col("l.embedding"), col("r.embedding")), 6) >= threshold,
        "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** DuckDB twin of [[semanticDedup]]: the quantizer build is replicated
    * from `baseRel` (exactly what the shipped artifact was trained on) and
    * the cluster assignment + within-cell keep-first run over `augRel`.
    */
  def semanticDedupSql(baseRel: String, augRel: String, threshold: Double,
      nCells: Int = 16): String =
    s"""${ivfIndexCtes(baseRel, nCells)},
       |aug AS (SELECT vec_id, embedding FROM $augRel),
       |ai AS (SELECT a.vec_id, a.embedding,
       |    CAST(${nearestSql("a.embedding", "cents", 1)}[1] AS BIGINT) AS cell FROM aug a),
       |dropped AS (SELECT DISTINCT r.vec_id FROM ai l JOIN ai r
       |  ON l.cell = r.cell AND l.vec_id < r.vec_id
       |  WHERE round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])), 6) >= $threshold)
       |SELECT vec_id, cell FROM ai WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin.replace("\n", " ")

  /** DuckDB twin of [[lshNearDupPairs]]: same signature bit-mix, banding,
    * candidate join, and 6-dp cosine verification.
    */
  def lshNearDupPairsSql(embRel: String, threshold: Double,
      nBits: Int = 16, bands: Int = 4): String = {
    val rows = nBits / bands
    s"""WITH sigs AS (SELECT vec_id, embedding, ${lshSignatureSql("embedding", nBits)} AS sig FROM $embRel),
       |banded AS (SELECT vec_id, embedding, t.b AS band, (sig >> (t.b * $rows)) & ${(1L << rows) - 1} AS bs
       |  FROM sigs, range($bands) t(b)),
       |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b, l.embedding AS e_a, r.embedding AS e_b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.bs = r.bs AND l.vec_id < r.vec_id)
       |SELECT id_a, id_b,
       |  round(list_cosine_similarity(CAST(e_a AS DOUBLE[]), CAST(e_b AS DOUBLE[])), 6) AS sim
       |FROM cand
       |WHERE round(list_cosine_similarity(CAST(e_a AS DOUBLE[]), CAST(e_b AS DOUBLE[])), 6) >= $threshold""".stripMargin.replace("\n", " ")
  }

  /** Embedding near-dup DEDUP: keep-first survivor list. A vector survives
    * unless an LSH-verified near-duplicate with a smaller vec_id exists —
    * the greedy keep-first rule over [[lshNearDupPairs]] candidates
    * (rows x bands shuffle + bucket joins + left-anti, never all-pairs).
    * Returns the surviving (vec_id) set.
    */
  def embeddingDedup(emb: DataFrame, threshold: Double,
      nBits: Int = 16, bands: Int = 4): DataFrame =
    emb.join(
      lshNearDupPairs(emb, threshold, nBits, bands)
        .select(col("id_b").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
      .select(col("vec_id"))

  /** DuckDB twin of [[embeddingDedup]] (same LSH candidates + keep-first). */
  def embeddingDedupSql(embRel: String, threshold: Double,
      nBits: Int = 16, bands: Int = 4): String =
    s"""SELECT vec_id FROM $embRel WHERE vec_id NOT IN
       |(SELECT id_b FROM (${lshNearDupPairsSql(embRel, threshold, nBits, bands)}))""".stripMargin.replace("\n", " ")

  /** ANN via LSH: exact cosine only within same-signature-band buckets.
    * Scale path: shuffle cost is rows x bands, never a cross join.
    */
  def lshNearDupPairs(emb: DataFrame, threshold: Double,
      nBits: Int = 16, bands: Int = 4): DataFrame = {
    val rows = nBits / bands
    val sigs = emb.select(col("vec_id"), col("embedding"),
      lshSignature(col("embedding"), nBits).as("sig"))
    val banded = sigs.select(col("vec_id"), col("embedding"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * rows).bitwiseAND(lit((1L << rows) - 1)).as("bs"))): _*)).as("x"))
      .select(col("vec_id"), col("embedding"), col("x.band"), col("x.bs"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bs") === col("r.bs") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        col("l.embedding").as("e_a"), col("r.embedding").as("e_b"))
      .distinct()
      .withColumn("sim", round(cosine(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  // ------------------------------------------------------------------
  // PQ (product quantization) ANN — the compressed-domain scale path
  // (Jégou et al., "Product quantization for nearest neighbor search",
  // TPAMI'11). The vector splits into `m` subspaces; each subspace gets a
  // tiny codebook (same one-Lloyd-step build as the IVF quantizer), and a
  // vector is stored as m small code ids — here 64 floats (256 B) become
  // 8 codes (8 B), a 32x compression, which is what makes a 10^12-row
  // table scannable: the ANN scan reads codes, never raw vectors. Query
  // scoring is ADC (asymmetric distance computation): the query computes
  // one m x k lookup table of exact subspace distances ON THE TINY
  // BROADCAST SIDE, and every stored vector's approximate distance is m
  // array lookups + adds — no per-pair vector math at all.
  // ------------------------------------------------------------------

  /** Job-description tag on codebook-build jobs (mirrors IVF_BUILD_TAG). */
  val PQ_BUILD_TAG = "graft-pq-build"

  /** Compiled ADC lookup table (m x kCodes exact subspace distances) for a
    * query vector. Distances fold in ascending-dim order — the order the
    * SQL twin's left-associated adds use. (The composed-column forms of
    * this and [[pqCodesCol]] were ~1k-3k expression nodes per projection:
    * multi-MB task binaries, and past whole-stage codegen's method limit.)
    */
  private def pqLutCol(qv: Column, books: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqLutExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(qv), books))

  /** Compiled PQ encode: per-subspace first-index argmin codeword over the
    * 9-dp rounded distance (ties -> lowest id, like [[ivfCell]]).
    */
  def pqCodesCol(v: Column, books: Array[Array[Array[Float]]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqCodesExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(v), books))

  /** Per-subspace codebooks: seeds = the `kCodes` lowest vec_ids' subvectors,
    * then ONE Lloyd step for all m subspaces in a single pass (posexplode
    * the whole vector once; (subspace, code, dim)-keyed tiny agg). Driver
    * result is m x kCodes x (dim/m) floats — a build-once artifact with the
    * IVF-quantizer lifecycle.
    */
  def pqCodebooks(emb: DataFrame, m: Int = 8, kCodes: Int = 16,
      sampleMod: Int = 1): Array[Array[Array[Float]]] = {
    val sc = emb.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(PQ_BUILD_TAG)
    try {
      val sample =
        if (sampleMod > 1) emb.filter(pmod(col("vec_id"), lit(sampleMod)) === 0) else emb
      val seedRows = sample.orderBy("vec_id").limit(kCodes)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val dim = seedRows.head.length
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val sub = dim / m
      val seeds = (0 until m).map(mi => seedRows.map(_.slice(mi * sub, mi * sub + sub)))
      val mi = (col("d") / sub).cast("int")
      val means = sample
        .select(pqCodesCol(col("embedding"), seeds.toArray).as("codes"),
          posexplode(col("embedding")).as(Seq("d", "x")))
        .select(mi.as("mi"), element_at(col("codes"), mi + 1).as("code"),
          pmod(col("d"), lit(sub)).as("sd"), col("x"))
        .groupBy("mi", "code", "sd").agg(avg(col("x")).as("mn"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat)
        }
      (0 until m).map(i => seeds(i).indices.map(c =>
        means.getOrElse((i, c), seeds(i)(c))).toArray).toArray
    } finally sc.setJobDescription(prevDesc)
  }

  /** Map-only PQ encoding: (vec_id, codes: array<int>) — the compressed
    * table a 100-TB ANN serving layer scans instead of raw vectors.
    */
  def pqEncode(emb: DataFrame, books: Array[Array[Array[Float]]]): DataFrame =
    emb.select(col("vec_id"), pqCodesCol(col("embedding"), books).as("codes"))

  /** PQ-ADC top-k: the query side (tiny, broadcast) carries its m x kCodes
    * exact-subspace-distance lookup table; the stored side carries only
    * codes, so each candidate costs m array lookups. Approximate distance
    * ranks ascending (9-dp rounded, ties -> lowest vec_id). `codebooks`
    * supplies the build-once artifact; omitting it rebuilds per call.
    */
  def pqTopK(emb: DataFrame, nQueries: Int, k: Int, m: Int = 8,
      kCodes: Int = 16, sampleMod: Int = 1,
      codebooks: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val books = codebooks.getOrElse(pqCodebooks(emb, m, kCodes, sampleMod))
    val coded = pqEncode(emb, books)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("lut", pqLutCol(col("qv"), books))
      .select(col("qid"), col("lut"))
    val adist = round(books.indices.map(mi =>
        element_at(element_at(col("lut"), mi + 1),
          element_at(col("codes"), mi + 1) + 1))
      .reduce(_ + _), 9)
    val scored = coded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adist", adist)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("adist"))
  }

  /** The codebooks' artifact format: `mi;cid;f,f,...` lines, like
    * [[centroidsCodec]].
    */
  val pqBooksCodec: Artifacts.Codec[Array[Array[Array[Float]]]] = Artifacts.Codec.text(
    books => books.indices.flatMap(mi => books(mi).indices.map(c =>
      s"$mi;$c;${books(mi)(c).mkString(",")}")).mkString("\n"),
    _.split("\n").filter(_.nonEmpty)
      .map { line =>
        val Array(mi, c, fs0) = line.split(";", 3)
        (mi.toInt, c.toInt, fs0.split(",").map(_.toFloat))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray)

  // Shared SQL-twin builders for the PQ family: the build CTEs, encode
  // columns, and ADC terms are identical whether the vectors are raw
  // ([[pqTopKSql]]) or coarse residuals ([[ivfPqTopKSql]]) — only the
  // source relation (`vec_id`, `v DOUBLE[]`) differs.

  private def pqDistSql(sub: Int, vExpr: String, off: Int, cExpr: String): String =
    (0 until sub).map { d =>
      val t = s"($vExpr[${off + d + 1}] - $cExpr[${d + 1}])"
      s"($t * $t)"
    }.mkString(" + ")

  private def pqArgminSql(sub: Int, vExpr: String, off: Int, rel: String): String =
    s"(SELECT list(cid ORDER BY round(${pqDistSql(sub, vExpr, off, "cc")}, 9) ASC, cid ASC)[1] " +
      s"FROM (SELECT cid, CAST(c AS DOUBLE[]) AS cc FROM $rel))"

  /** seeds/assign/means/cents CTEs per subspace, reading `src(vec_id, v)`. */
  private def pqBuildCtesSql(src: String, dim: Int, m: Int, kCodes: Int): String = {
    val sub = dim / m
    (0 until m).flatMap { mi =>
      val off = mi * sub
      Seq(
        s"""seeds$mi AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           | v[${off + 1} : ${off + sub}] AS c
           | FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $kCodes))""",
        s"""assign$mi AS (SELECT e.vec_id, e.v, ${pqArgminSql(sub, "e.v", off, s"seeds$mi")} AS code
           | FROM $src e)""",
        s"""means$mi AS (SELECT code, d, CAST(avg(x) AS REAL) AS mn
           | FROM (SELECT code, unnest(v[${off + 1} : ${off + sub}]) AS x,
           |   generate_subscripts(v[${off + 1} : ${off + sub}], 1) AS d FROM assign$mi)
           | GROUP BY code, d)""",
        s"""cents$mi AS (SELECT s.cid,
           | COALESCE((SELECT list(mm.mn ORDER BY mm.d) FROM means$mi mm WHERE mm.code = s.cid), s.c) AS c
           | FROM seeds$mi s)""")
    }.mkString(", ")
  }

  private def pqEncColsSql(dim: Int, m: Int): String =
    (0 until m).map(mi =>
      s"${pqArgminSql(dim / m, "e.v", mi * (dim / m), s"cents$mi")} AS k$mi").mkString(", ")

  private def pqAdcTermsSql(qExpr: String, dim: Int, m: Int): String =
    (0 until m).map { mi =>
      s"""(SELECT ${pqDistSql(dim / m, qExpr, mi * (dim / m), "cc")}
         | FROM (SELECT CAST(c AS DOUBLE[]) AS cc FROM cents$mi WHERE cid = e.k$mi))"""
    }.mkString(" + ")

  /** DuckDB twin of [[pqTopK]] (sampleMod=1): replicates the per-subspace
    * seed choice, the shared one-Lloyd-step (argmin at 9 dp,
    * float-truncated means), the encoding, and the ADC ranking — same
    * per-subspace left-associated fp adds, same final 9-dp round.
    */
  def pqTopKSql(embRel: String, nQueries: Int, k: Int, dim: Int = 64,
      m: Int = 8, kCodes: Int = 16): String =
    s"""WITH embd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embRel),
       |${pqBuildCtesSql("embd", dim, m, kCodes)},
       |enc AS (SELECT e.vec_id, ${pqEncColsSql(dim, m)} FROM embd e),
       |q AS (SELECT vec_id AS qid, v AS qv FROM embd WHERE vec_id < $nQueries),
       |scored AS (SELECT p.qid, e.vec_id, round(${pqAdcTermsSql("p.qv", dim, m)}, 9) AS adist
       |  FROM enc e CROSS JOIN q p WHERE e.vec_id <> p.qid),
       |ranked AS (SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id) AS rank FROM scored)
       |SELECT qid, rank, vec_id, adist FROM ranked WHERE rank <= $k""".stripMargin.replace("\n", " ")

  // ------------------------------------------------------------------
  // IVF-PQ (IVFADC) — the two quantizers composed, Jégou TPAMI'11 §V:
  // the coarse (IVF) quantizer prunes each query to nProbe cells, and
  // within them the scan is compressed-domain PQ over the RESIDUAL
  // (v − coarse centroid) — residual energy is much smaller than vector
  // energy, so the same m×kCodes code budget quantizes far finer. This is
  // THE 10^12-row serving shape: per query, |probed cells| candidates
  // (not |table|), each costing m array lookups (not a 64-float scan).
  // Both models are build-once artifacts (centroids + residual codebooks).
  // ------------------------------------------------------------------

  /** Float residual of `v` against the coarse centroid selected by
    * `cellCol`: exact double subtraction per dim, truncated to float —
    * reproducible in the SQL twin as `CAST(v[d] - c[d] AS REAL)`.
    */
  private def residualCol(v: Column, cellCol: Column,
      cents: Array[Array[Float]]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.IvfResidualExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(v),
        org.apache.spark.sql.graftbridge.Bridge.expression(cellCol),
        cents))

  /** (vec_id, cell, embedding := residual) — the training input for the
    * residual codebooks and the encode source. Map-only: cell assignment is
    * the compiled [[ivfCell]] expression, the residual a per-dim projection.
    */
  def ivfPqResiduals(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        ivfCell(col("embedding"), cents).as("cell"))
      .select(col("vec_id"), col("cell"),
        residualCol(col("embedding"), col("cell"), cents).as("embedding"))

  /** Residual codebooks for IVF-PQ: [[pqCodebooks]] trained on
    * [[ivfPqResiduals]] (build-once artifact, same [[pqBooksCodec]] format).
    */
  def ivfPqCodebooks(emb: DataFrame, cents: Array[Array[Float]],
      m: Int = 8, kCodes: Int = 16, sampleMod: Int = 1): Array[Array[Array[Float]]] =
    pqCodebooks(ivfPqResiduals(emb, cents), m, kCodes, sampleMod)

  /** IVFADC encode: (vec_id, cell, m residual codes) — one map-only pass.
    * This is the stored table of a 100-TB ANN serving layer; write it
    * `partitionBy("cell")` and [[ivfPqSearch]]'s probe filter prunes the
    * scan to the probed partitions.
    */
  def ivfPqEncode(emb: DataFrame, cents: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): DataFrame =
    ivfPqResiduals(emb, cents).select(col("vec_id"), col("cell"),
      pqCodesCol(col("embedding"), books).as("codes"))

  /** IVFADC search over a pre-encoded table. Query side (tiny): per probed
    * cell, the query's residual against that cell's centroid yields an
    * m×kCodes exact-distance LUT; each candidate then costs m lookups.
    * The probed-cell id set (nQueries × nProbe, known before any scan) is
    * ALSO pushed as a partition-prunable `cell IN (...)` filter on the
    * stored side, so a cell-partitioned store reads only probed partitions
    * — the candidate restriction happens at the SCAN, not just the join.
    * Ranks ascending by 9-dp ADC distance, ties → lowest vec_id.
    */
  def ivfPqSearch(coded: DataFrame, queryVecs: DataFrame, k: Int, nProbe: Int,
      cents: Array[Array[Float]], books: Array[Array[Array[Float]]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = queryVecs
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("cell", explode(ivfProbes(col("qe"), cents, nProbe)))
    val qres = probed.select(col("qid"), col("cell"),
      residualCol(col("qe"), col("cell"), cents).as("qv"))
    val queries = qres.select(col("qid"), col("cell"),
      pqLutCol(col("qv"), books).as("lut"))
    val probedCells = queries.select("cell").distinct()
      .collect().map(_.getInt(0).asInstanceOf[Any])
    val adist = round(books.indices.map(mi =>
        element_at(element_at(col("lut"), mi + 1),
          element_at(col("codes"), mi + 1) + 1))
      .reduce(_ + _), 9)
    val scored = coded.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adist", adist)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("adist"))
  }

  /** IVFADC top-k in one call: [[ivfPqEncode]] + [[ivfPqSearch]] with the
    * first `nQueries` vectors as queries. `centroids`/`codebooks` supply
    * the build-once artifacts; omitting them rebuilds per call.
    */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int, nCells: Int = 16,
      nProbe: Int = 4, m: Int = 8, kCodes: Int = 16, sampleMod: Int = 1,
      centroids: Option[Array[Array[Float]]] = None,
      codebooks: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(emb, nCells, sampleMod))
    val books = codebooks.getOrElse(ivfPqCodebooks(emb, cents, m, kCodes, sampleMod))
    ivfPqSearch(ivfPqEncode(emb, cents, books),
      emb.filter(col("vec_id") < nQueries), k, nProbe, cents, books)
  }

  /** DuckDB twin of [[ivfPqTopK]] (sampleMod=1): the IVF index build CTEs
    * ([[ivfIndexCtes]] — proven by `q_ann_ivf`), residuals as
    * `CAST(v[d]-c[d] AS REAL)` re-widened to double, then the shared PQ
    * build/encode/ADC CTEs over the residual relation, with the candidate
    * join restricted to probed cells exactly like the Spark plan.
    */
  def ivfPqTopKSql(embRel: String, nQueries: Int, k: Int, dim: Int = 64,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, kCodes: Int = 16): String = {
    def resArr(v: String, c: String): String =
      "[" + (1 to dim).map(d => s"CAST($v[$d] - $c[$d] AS REAL)").mkString(", ") + "]"
    s"""${ivfIndexCtes(embRel, nCells)},
       |rv AS (SELECT x.vec_id, x.cell, CAST(${resArr("x.v", "x.c")} AS DOUBLE[]) AS v
       |  FROM (SELECT i.vec_id, i.cell, CAST(i.embedding AS DOUBLE[]) AS v, CAST(ct.c AS DOUBLE[]) AS c
       |        FROM indexed i JOIN cents ct ON ct.cid = i.cell) x),
       |${pqBuildCtesSql("rv", dim, m, kCodes)},
       |enc AS (SELECT e.vec_id, e.cell, ${pqEncColsSql(dim, m)} FROM rv e),
       |probes AS (SELECT q.vec_id AS qid, q.embedding AS qe, unnest(
       |    ${nearestSql("q.embedding", "cents", nProbe)}) AS cell
       |  FROM emb q WHERE q.vec_id < $nQueries),
       |qrv AS (SELECT x.qid, x.cell, CAST(${resArr("x.v", "x.c")} AS DOUBLE[]) AS qv
       |  FROM (SELECT p.qid, p.cell, CAST(p.qe AS DOUBLE[]) AS v, CAST(ct.c AS DOUBLE[]) AS c
       |        FROM probes p JOIN cents ct ON ct.cid = p.cell) x),
       |scored AS (SELECT p.qid, e.vec_id, round(${pqAdcTermsSql("p.qv", dim, m)}, 9) AS adist
       |  FROM enc e JOIN qrv p ON e.cell = p.cell WHERE e.vec_id <> p.qid),
       |ranked AS (SELECT qid, vec_id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id) AS rank FROM scored)
       |SELECT qid, rank, vec_id, adist FROM ranked WHERE rank <= $k""".stripMargin.replace("\n", " ")
  }
}
