package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass replacements for the dedup/ANN signature columns.
  *
  * The composed built-in forms (16 `transform`+`array_min` branches for
  * MinHash, 32 `filter`+`size` branches for SimHash, per-centroid
  * `aggregate`/`zip_with` cosines for IVF/LSH) are semantically right but
  * traverse the input array once per branch and generate enormous Janino
  * methods (seconds of driver-side codegen per query). Each expression here
  * does one pass in plain loops and produces bit-identical results — the
  * DuckDB oracle twins are unchanged.
  */

/** MinHash signature over a non-null array<long> of element hashes:
  * out[i] = min over x of (x*a(i) + b(i)) % mod. All inputs are < 2^31 and
  * coefficients < 2^32, so the products stay inside int64 exactly like the
  * SQL twin's checked BIGINT arithmetic.
  */
case class MinHashSig(child: Expression, coefA: Seq[Long], coefB: Seq[Long], mod: Long)
  extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  def doSig(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // empty input -> null, matching the composed array_min(transform(...))
    // form (array_min of an empty array is null); a MaxValue-sentinel
    // signature would silently band empty docs together
    if (n == 0) return null

    val k = coefA.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (x * coefA(j) + coefB(j)) % mod
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any = doSig(v.asInstanceOf[ArrayData])
  override def kernel: String = "doSig"
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** SimHash over an array<long> of word hashes: bit j of the result is set
  * iff more elements have bit j set than clear (strict majority).
  */
case class SimHashSig(child: Expression, bits: Int) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType

  def doSig(arr: ArrayData): Long = {
    val n = arr.numElements()
    val cnt = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < bits) {
        cnt(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (cnt(j) * 2 > n) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def nullSafeEval(v: Any): Any = doSig(v.asInstanceOf[ArrayData])
  override def kernel: String = "doSig"
  override protected def withNewChildInternal(c: Expression): SimHashSig = copy(child = c)
}

/** Random-hyperplane LSH signature over array<float>: bit j = sign of
  * sum_d v[d] * h(j,d), h from the xor-shift + Lehmer mix (exact int64
  * arithmetic, same as the SQL twin), products folded in index order.
  */
case class LshSig(child: Expression, bits: Int) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType

  @inline private def hyper(j: Int, d: Int): Double = {
    val a = j.toLong * 1315423911L + (d.toLong + 1L) * 2654435761L
    val b = (a ^ (a >> 13)) % 2147483647L
    val c = (b * 48271L) % 2147483647L
    if (c % 2L == 0L) 1.0 else -1.0
  }

  def doSig(arr: ArrayData): Long = {
    val n = arr.numElements()
    var sig = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        dot += arr.getFloat(d).toDouble * hyper(j, d)
        d += 1
      }
      if (dot > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def nullSafeEval(v: Any): Any = doSig(v.asInstanceOf[ArrayData])
  override def kernel: String = "doSig"
  override protected def withNewChildInternal(c: Expression): LshSig = copy(child = c)
}

/** Shared IVF scoring: cosine of v against each centroid, rounded to 9 dp
  * with Spark round semantics (BigDecimal HALF_UP) so results stay
  * bit-identical to the composed `round(cosine(...), 9)` form and the
  * DuckDB twin. Folds products in index order (matches `aggregate`).
  */
object IvfScore {
  def scores(arr: ArrayData, centroids: Array[Array[Float]]): Array[Double] = {
    val n = arr.numElements()
    var na = 0.0
    var d = 0
    while (d < n) { val x = arr.getFloat(d).toDouble; na += x * x; d += 1 }
    val vnorm = math.sqrt(na)
    val out = new Array[Double](centroids.length)
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      var dot = 0.0
      var nb = 0.0
      var k = 0
      val m = math.min(n, c.length)
      while (k < m) {
        val x = arr.getFloat(k).toDouble
        val y = c(k).toDouble
        dot += x * y
        nb += y * y
        k += 1
      }
      // match aggregate-over-zip_with: zip stops at the shorter side, but
      // norms run over each full vector
      var k2 = m
      while (k2 < c.length) { val y = c(k2).toDouble; nb += y * y; k2 += 1 }
      val raw = dot / (vnorm * math.sqrt(nb))
      // BigDecimal.valueOf (canonical string form) — what Spark's Round uses;
      // new BigDecimal(double) would use the exact binary expansion and can
      // round differently at the scale boundary. NaN/Inf (zero-norm or empty
      // vectors) must pass through like round(cosine(...), 9) did —
      // BigDecimal.valueOf would throw on them
      out(i) = if (java.lang.Double.isFinite(raw))
        java.math.BigDecimal.valueOf(raw)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      else raw
      i += 1
    }
    out
  }
}

/** First 60 bits of md5 as a non-negative long — the cross-engine shared
  * hash (DuckDB twin: `('0x' || substr(md5(s),1,15))::BIGINT`). Computed
  * straight from the digest bytes; the composed `conv(substring(md5(s),...))`
  * form allocates a 32-char hex string + parses it per call.
  */
case class Md5Hash64(child: Expression) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = LongType

  @transient private lazy val localMd5 =
    ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

  def doHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = localMd5.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // first 15 hex chars = bytes 0..6 + the high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  override protected def nullSafeEval(v: Any): Any =
    doHash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override def kernel: String = "doHash"
  override protected def withNewChildInternal(c: Expression): Md5Hash64 = copy(child = c)
}

/** Unit-normalize an array<float> vector into array<double>: u = v/||v||,
  * accumulating the norm in double. A zero vector normalizes to all-zeros
  * rather than nulls; callers that need unit-norm semantics (the diversity
  * closed form assumes ||u|| = 1) must exclude zero vectors first —
  * [[graft.ml.Similarity.diversityByGroup]] filters them in both engines.
  * One pass; feeds aggregates that need Σu per dimension.
  */
case class VecNormalize(child: Expression) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def doNormalize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      ss += x * x
      i += 1
    }
    val inv = if (ss == 0.0) 0.0 else 1.0 / math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = a.getFloat(i).toDouble * inv
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any =
    doNormalize(v.asInstanceOf[ArrayData])

  override def kernel: String = "doNormalize"
  override protected def withNewChildInternal(c: Expression): VecNormalize = copy(child = c)
}

/** Cosine similarity of two float arrays in double precision, products and
  * squares folded in index order — bit-identical to the composed
  * `aggregate(zip_with(...))` form (which evaluated its lambdas interpreted
  * per element: the dominant cost of every scored ANN join). Null if the
  * lengths differ (the zip_with form nulls out there too).
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression with KernelCodegen {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  def doCosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    doCosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }

  override def kernel: String = "doCosine"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Shared helpers for the shingle expressions. */
private[functions] object ShingleRuntime {
  val localMd5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

  def md5Prefix64(s: String): Long = {
    val md = localMd5.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Distinct k-word shingles in first-occurrence order; a words array
    * shorter than k contributes the whole text (words re-joined) as one
    * shingle — matching `array_distinct(transform(sequence(...), slice+
    * array_join))` with the `when(n >= k)` fallback.
    */
  def shingles(words: ArrayData, k: Int): java.util.LinkedHashSet[String] = {
    val n = words.numElements()
    val out = new java.util.LinkedHashSet[String]()
    if (n >= k) {
      var i = 0
      while (i <= n - k) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words.getUTF8String(i + j).toString)
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    } else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(words.getUTF8String(i).toString)
        i += 1
      }
      out.add(sb.toString)
    }
    out
  }
}

/** Distinct k-word shingle strings from a words array (one compiled pass;
  * the transform/slice/array_join lambda chain runs interpreted per
  * element).
  */
case class ShingleJoin(child: Expression, k: Int) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def doShingles(words: ArrayData): ArrayData = {
    val set = ShingleRuntime.shingles(words, k)
    val out = new Array[Any](set.size())
    val it = set.iterator()
    var i = 0
    while (it.hasNext) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any = doShingles(v.asInstanceOf[ArrayData])
  override def kernel: String = "doShingles"
  override protected def withNewChildInternal(c: Expression): ShingleJoin = copy(child = c)
}

/** md5-prefix hashes of the distinct k-word shingles (optionally mod `mod`),
  * one compiled pass from the words array to array<long>.
  */
case class ShingleHash(child: Expression, k: Int, mod: Long)
  extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def doHashes(words: ArrayData): ArrayData = {
    val set = ShingleRuntime.shingles(words, k)
    val out = new Array[Long](set.size())
    val it = set.iterator()
    var i = 0
    while (it.hasNext) {
      val h = ShingleRuntime.md5Prefix64(it.next())
      out(i) = if (mod > 0) h % mod else h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any = doHashes(v.asInstanceOf[ArrayData])
  override def kernel: String = "doHashes"
  override protected def withNewChildInternal(c: Expression): ShingleHash = copy(child = c)
}

/** Winnowing fingerprints straight from the words array: ordered k-word
  * shingle md5-prefix hashes (positions intact, repeats KEPT — unlike
  * [[ShingleRuntime.shingles]]'s distinct set), then the distinct minima of
  * every `w`-window via a monotonic deque — one O(n) pass. The composed
  * form (`transform(sequence)` + `array_min(slice)` over the derived hash
  * array) re-evaluated the whole shingle+md5 pipeline once PER WINDOW
  * (~45x per 50-word doc) and measured 1.3k docs/s at 1M docs.
  */
case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def doFps(words: ArrayData): ArrayData = {
    val n = words.numElements()
    // decode every word ONCE up front — getUTF8String(i).toString inside
    // the shingle loop would re-decode each word up to k times per row
    val ws = new Array[String](n)
    var p = 0
    while (p < n) { ws(p) = words.getUTF8String(p).toString; p += 1 }
    val m = if (n >= k) n - k + 1 else 1
    val hs = new Array[Long](m)
    if (n >= k) {
      var i = 0
      while (i <= n - k) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(ws(i + j))
          j += 1
        }
        hs(i) = ShingleRuntime.md5Prefix64(sb.toString)
        i += 1
      }
    } else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(ws(i))
        i += 1
      }
      hs(0) = ShingleRuntime.md5Prefix64(sb.toString)
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m <= w) {
      var best = hs(0)
      var i = 1
      while (i < m) { if (hs(i) < best) best = hs(i); i += 1 }
      out.add(best)
    } else {
      // ascending monotonic deque of indices over [lo, hi); head = window min
      val dq = new Array[Int](m)
      var lo = 0
      var hi = 0
      var i = 0
      while (i < m) {
        while (hi > lo && hs(dq(hi - 1)) >= hs(i)) hi -= 1
        dq(hi) = i
        hi += 1
        if (dq(lo) <= i - w) lo += 1
        if (i >= w - 1) out.add(hs(dq(lo)))
        i += 1
      }
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def nullSafeEval(v: Any): Any = doFps(v.asInstanceOf[ArrayData])
  override def kernel: String = "doFps"
  override protected def withNewChildInternal(c: Expression): WinnowFps = copy(child = c)
}

/** md5-prefix hashes of the distinct words (SimHash input), one pass. */
case class WordHash(child: Expression) extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def doHashes(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) { seen.add(words.getUTF8String(i).toString); i += 1 }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = ShingleRuntime.md5Prefix64(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any = doHashes(v.asInstanceOf[ArrayData])
  override def kernel: String = "doHashes"
  override protected def withNewChildInternal(c: Expression): WordHash = copy(child = c)
}

/** Nearest-centroid id (argmax rounded cosine, ties -> lowest cid). */
case class IvfCellExpr(child: Expression, centroids: Array[Array[Float]])
  extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = IntegerType

  def doCell(arr: ArrayData): Int = {
    val s = IvfScore.scores(arr, centroids)
    var best = 0
    var i = 1
    while (i < s.length) {
      if (s(i) > s(best)) best = i
      i += 1
    }
    best
  }

  override protected def nullSafeEval(v: Any): Any = doCell(v.asInstanceOf[ArrayData])
  override def kernel: String = "doCell"
  override protected def withNewChildInternal(c: Expression): IvfCellExpr = copy(child = c)
}

/** Top-`nProbe` nearest centroid ids, best first (ties -> lowest cid). */
case class IvfProbesExpr(child: Expression, centroids: Array[Array[Float]], nProbe: Int)
  extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def doProbes(arr: ArrayData): ArrayData = {
    val s = IvfScore.scores(arr, centroids)
    val idx = s.indices.sortBy(i => (-s(i), i)).take(nProbe)
    new GenericArrayData(idx.map(Int.box).toArray[Any])
  }

  override protected def nullSafeEval(v: Any): Any = doProbes(v.asInstanceOf[ArrayData])
  override def kernel: String = "doProbes"
  override protected def withNewChildInternal(c: Expression): IvfProbesExpr = copy(child = c)
}

/** Float residual of the vector against `centroids(cell)`: exact double
  * subtraction per dim, truncated to float — the IVFADC encode/query input
  * (SQL twin: `CAST(v[d] - c[d] AS REAL)`). Carries the centroid matrix as
  * plain expression data like [[IvfCellExpr]]; the unrolled literal-tree
  * form embedded the matrix once PER DIM and serialized ~10 MB task
  * binaries.
  */
case class IvfResidualExpr(left: Expression, right: Expression,
    centroids: Array[Array[Float]]) extends BinaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  def doResidual(arr: ArrayData, cell: Int): ArrayData = {
    val c = centroids(cell)
    val out = new Array[Any](c.length)
    var d = 0
    while (d < c.length) {
      out(d) = Float.box((arr.getFloat(d).toDouble - c(d).toDouble).toFloat)
      d += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any, cell: Any): Any =
    doResidual(v.asInstanceOf[ArrayData], cell.asInstanceOf[Int])
  override def kernel: String = "doResidual"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IvfResidualExpr =
    copy(left = l, right = r)
}

/** ADC lookup table for a query vector: per subspace `mi`, the exact
  * squared L2 distance from the query's subvector to every codeword —
  * `m x kCodes` unrounded doubles, summed in ascending-dim order (the same
  * left-associated fold as the unrolled `pqSubDist` column form and the
  * SQL twin). As a composed column this was ~1024 expressions in one
  * projection and broke whole-stage codegen's method limit.
  */
case class PqLutExpr(child: Expression, books: Array[Array[Array[Float]]])
  extends UnaryExpression with KernelCodegen {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  def doLut(arr: ArrayData): ArrayData = {
    val m = books.length
    val sub = books(0)(0).length
    val outer = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      val row = new Array[Any](books(mi).length)
      var c = 0
      while (c < books(mi).length) {
        val w = books(mi)(c)
        var s = 0.0
        var d = 0
        while (d < sub) {
          val x = arr.getFloat(off + d).toDouble - w(d).toDouble
          s += x * x
          d += 1
        }
        row(c) = Double.box(s)
        c += 1
      }
      outer(mi) = new GenericArrayData(row)
      mi += 1
    }
    new GenericArrayData(outer)
  }

  override protected def nullSafeEval(v: Any): Any = doLut(v.asInstanceOf[ArrayData])
  override def kernel: String = "doLut"
  override protected def withNewChildInternal(c: Expression): PqLutExpr = copy(child = c)
}

/** PQ encode: per subspace, the first-index argmin codeword over the 9-dp
  * rounded squared L2 distance (ties → lowest code id, matching the SQL
  * twin's `ORDER BY round(...) ASC, cid ASC`). The rounding replicates
  * Spark's `round(x, 9)` exactly (BigDecimal.valueOf + HALF_UP — the same
  * path `Round` takes for doubles), and distances fold in ascending-dim
  * order like [[PqLutExpr]]. This is the 10^12-row hot pass — one tight
  * loop instead of ~3k unrolled expression nodes (which serialized multi-MB
  * task binaries and strained the codegen method limit).
  */
case class PqCodesExpr(child: Expression, books: Array[Array[Array[Float]]])
  extends UnaryExpression with KernelCodegen {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def doCodes(arr: ArrayData): ArrayData = {
    val m = books.length
    val sub = books(0)(0).length
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      val book = books(mi)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val w = book(c)
        var s = 0.0
        var d = 0
        while (d < sub) {
          val x = arr.getFloat(off + d).toDouble - w(d).toDouble
          s += x * x
          d += 1
        }
        val r = java.math.BigDecimal.valueOf(s)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
        if (r < bestD) { bestD = r; best = c }
        c += 1
      }
      out(mi) = Int.box(best)
      mi += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any = doCodes(v.asInstanceOf[ArrayData])
  override def kernel: String = "doCodes"
  override protected def withNewChildInternal(c: Expression): PqCodesExpr = copy(child = c)
}

/** One-pass dedup-normalization: the compiled twin of
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))`
  * — every text operator (shingles, chunk dedup, LM score, fingerprints,
  * quality, lang-ID) funnels through this, and the two regex passes were
  * the dominant per-row cost of the whole family (measured on the 1M-doc
  * probe). Exactness: lowercasing delegates to UTF8String.toLowerCase (the
  * same call `lower()` makes), and afterwards every byte outside
  * [a-z0-9] — including each byte of a multi-byte code point — is a space
  * candidate; collapsing makes the candidate count per run irrelevant, so
  * byte-wise filtering equals the regex's per-code-point replacement.
  * Property-tested equal to the composed form in MlSpec.
  */
case class NormalizeText(child: Expression) extends UnaryExpression with KernelCodegen {
  // expects a string child — TextDedup.normalizeCol casts its input like
  // lower() used to implicit-cast (AbstractDataType is private[sql], so
  // the coercion lives at the Column wrapper instead of inputTypes)
  override def dataType: DataType = StringType

  def doNormalize(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val lowered = s.toLowerCase
    val bytes = lowered.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    var pendingSpace = false
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = b
        o += 1
      } else {
        pendingSpace = true // space, punctuation, or any non-ASCII byte
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out, 0, o)
  }

  override protected def nullSafeEval(v: Any): Any =
    doNormalize(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override def kernel: String = "doNormalize"
  override protected def withNewChildInternal(c: Expression): NormalizeText = copy(child = c)
}
