package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions (WITH doGenCode — not CodegenFallback) for
 * the vector hot path. The Column-function equivalents built from
 * `zip_with`/`aggregate` higher-order functions evaluate their lambda
 * bodies interpreted per ELEMENT (~µs each) — a 64-dim dot product that
 * should be ~64 fused multiply-adds becomes ~128 boxed lambda calls.
 * Over the pairwise similarity joins (corpus × queries, upper-triangle
 * near-dup scans) that is the difference between seconds and minutes.
 *
 * `vec_dot` sums in ascending index order — the same sequential fold as
 * the HOF formulation and as a single-threaded oracle engine, so results
 * are bit-identical at either granularity.
 *
 * The LSH hyperplanes are derived from md5 (`plane[j][i] = +1 iff the
 * first hex digit of md5("j:i") < '8'`) rather than a JVM PRNG, so any
 * engine with an md5() function can reproduce the exact bucketing — the
 * DuckDB oracle recomputes the full ANN pipeline from SQL.
 */
object VectorExprs {

  /** Sequential-order dot product over two double arrays. Mismatched
    * lengths throw (like DuckDB's list_dot_product) — silent truncation
    * would diverge from the oracle instead of failing loudly. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"vec_dot: length mismatch (${a.numElements()} vs ${b.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** md5-derived ±1 hyperplane matrix (nBits × dim), engine-reproducible. */
  def planes(nBits: Int, dim: Int): Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(nBits, dim) { (j, i) =>
      md.reset()
      val d = md.digest(s"$j:$i".getBytes(StandardCharsets.UTF_8))
      // first hex digit = high nibble of byte 0; '0'..'7' → +1
      if (((d(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
  }

  private val planeCache = TrieMap.empty[(Int, Int), Array[Array[Double]]]
  def planesCached(nBits: Int, dim: Int): Array[Array[Double]] =
    planeCache.getOrElseUpdate((nBits, dim), planes(nBits, dim))

  /**
   * LSH band bucket keys for a vector, one long per band: band b packs
   * its nBits/bands sign bits (bit j = [⟨plane_j, v⟩ > 0]) big-endian
   * onto the seed b — `acc = b; acc = acc*2 + bit` — so buckets of
   * different bands are disjoint join keys.
   */
  def signBandBuckets(v: ArrayData, nBits: Int, dim: Int,
      bands: Int): ArrayData = {
    val ps = planesCached(nBits, dim)
    val r = nBits / bands
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"sign_band_buckets: vector length $n != declared dim $dim " +
        "(a truncated projection would silently diverge from the oracle)")
    val out = new Array[Any](bands)
    var band = 0
    while (band < bands) {
      var acc = band.toLong
      var t = 0
      while (t < r) {
        val p = ps(band * r + t)
        var s = 0.0
        var i = 0
        while (i < n) { s += p(i) * v.getDouble(i); i += 1 }
        acc = acc * 2 + (if (s > 0) 1L else 0L)
        t += 1
      }
      out(band) = acc
      band += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Top-`n` nearest centroids by cosine — the IVF assign/probe step as a
   * PURE MAP (the formulation it replaces was `crossJoin(broadcast(cents))`
   * + a `row_number()` window partitioned by vector id: every corpus
   * vector duplicated once per centroid through a full n×k-row
   * shuffle+sort that carried the dim-double payload — the §8 "heavy
   * rows moved to make a per-row decision" anti-pattern; at 10⁹ vectors
   * × 3·10⁴ centroids that exchange is 3·10¹³ vector-carrying rows).
   *
   * Bit-identical to the window by construction: the per-candidate score
   * is the same `s = Σ v_i·c_i` ascending-index fold as `vec_dot`
   * followed by the same `dot / (norm · centNorm)` double ops, candidates
   * are compared with `java.lang.Double.compare` (Spark's double sort
   * order — NaN greatest, -0.0 < 0.0, exactly what `ORDER BY sim DESC`
   * used), and ties keep the lower centroid INDEX — callers pass
   * centroids sorted by centroid id, so lower index = lower id, the
   * window's tiebreak. Returns the 0-based indexes of the top `n`
   * centroids in rank order; empty centroid set returns an empty array
   * (callers `explode`, so rows drop exactly like the old join against
   * an empty side).
   */
  def ivfNearest(v: ArrayData, norm: Double, flatCents: Array[Double],
      centNorms: Array[Double], n: Int): ArrayData = {
    val k = centNorms.length
    if (k == 0) return new GenericArrayData(new Array[Any](0))
    val dim = flatCents.length / k
    if (flatCents.length != k * dim || v.numElements() != dim)
      throw new IllegalArgumentException(
        s"ivf_nearest: vector length ${v.numElements()} vs centroid dim " +
          s"$dim (k=$k, flat=${flatCents.length}) — a truncated vector " +
          "would silently mis-assign")
    val vec = v.toDoubleArray()
    val sims = new Array[Double](k)
    var e = 0
    while (e < k) {
      var s = 0.0
      val base = e * dim
      var i = 0
      while (i < dim) { s += vec(i) * flatCents(base + i); i += 1 }
      sims(e) = s / (norm * centNorms(e))
      e += 1
    }
    val nn = math.min(n, k)
    val out = new Array[Any](nn)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < nn) {
      var best = -1
      var j = 0
      while (j < k) {
        if (!taken(j) && (best < 0 ||
            java.lang.Double.compare(sims(j), sims(best)) > 0)) best = j
        j += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Struct schema returned by `vec_quantize`: per-vector scale, the
    * quantized codes, and the mean squared reconstruction error — all
    * from one pass over the vector. */
  val vecQuantizeType: StructType = StructType(Seq(
    StructField("q_scale", DoubleType, nullable = false),
    StructField("qvec", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("mse", DoubleType, nullable = false)))

  /**
   * Symmetric per-vector int quantization (the scalar-quantization
   * storage/ANN format): scale = max|x_i| / levels, code_i =
   * clamp(floor(x_i/scale + 0.5), -levels, levels), plus the exact mean
   * squared dequantization error Σ(x_i − code_i·scale)²/n in ascending
   * index order. The floor(+0.5) rounding and the e·e squaring are
   * chosen over library round()/pow() so any engine replays the codes
   * and the error bit-for-bit. A zero vector quantizes to all-zero
   * codes with zero error (no 0/0).
   */
  def quantizeInt8(v: ArrayData, levels: Int): InternalRow = {
    val n = v.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / levels
    val codes = new Array[Any](n)
    var err = 0.0
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val q = if (scale > 0) {
        val f = math.floor(x / scale + 0.5)
        if (f < -levels) -levels else if (f > levels) levels else f.toInt
      } else 0
      codes(i) = q
      val e = x - q * scale
      err += e * e
      i += 1
    }
    new GenericInternalRow(Array[Any](scale, new GenericArrayData(codes),
      if (n > 0) err / n else 0.0))
  }

  /** Fixed-point scale for PQ code assignment: distances are computed
    * over `floor(x·10⁴ + 0.5)` int64 values, so the argmin is EXACT
    * integer arithmetic — associative, reorder-proof, identically
    * replayable by any engine (the same trick as `quantizeInt8`'s
    * floor(+0.5)). 64-dim unit-scale embeddings scale to |v| ≤ ~10⁵;
    * squared diffs ≤ ~4·10¹⁰ and subspace sums ≤ ~3·10¹² stay far
    * inside both the int64 range and double's 2⁵³ exact-integer window
    * (DuckDB's list arithmetic folds in doubles). */
  private val PqScale = 10000.0

  def pqScaled(x: Double): Long =
    math.floor(x * PqScale + 0.5).toLong

  /**
   * Product-quantization code assignment (the IVF-PQ encode step):
   * split `res` (a residual vector, length m·dsub) into `m` subvectors
   * and pick, per subspace j, the codebook entry with the smallest
   * L2 distance in the scaled-integer space. `cb` is the flat INT64
   * codebook, layout `[(j·ksub + e)·dsub + t]` — subspace-major, entry
   * index second — holding `pqScaled` values; ties break to the lowest
   * entry index (strict `<`), which the integer distances make
   * engine-independent. Returns the m entry indices (0-based).
   */
  def pqEncode(res: ArrayData, cb: ArrayData, m: Int, ksub: Int): ArrayData = {
    val n = res.numElements()
    if (m <= 0 || n % m != 0) throw new IllegalArgumentException(
      s"pq_encode: vector length $n not divisible by m=$m")
    val dsub = n / m
    if (cb.numElements() != ksub * n) throw new IllegalArgumentException(
      s"pq_encode: codebook length ${cb.numElements()} != ksub·len " +
        s"(${ksub}·$n) — a mis-laid-out codebook would silently mis-encode")
    val scaled = new Array[Long](n)
    var i = 0
    while (i < n) { scaled(i) = pqScaled(res.getDouble(i)); i += 1 }
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestDist = Long.MaxValue
      var e = 0
      while (e < ksub) {
        val base = (j * ksub + e) * dsub
        var dist = 0L
        var t = 0
        while (t < dsub) {
          val d = scaled(j * dsub + t) - cb.getLong(base + t)
          dist += d * d
          t += 1
        }
        if (dist < bestDist) { bestDist = dist; best = e }
        e += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  /**
   * Product-quantization reconstruction (the IVF-PQ decode step, run
   * INSIDE the candidate scan): approx vector = coarse centroid +
   * concatenated codebook entries. `cb` is the flat DOUBLE codebook in
   * the same `[(j·ksub + e)·dsub + t]` layout as `pq_encode`'s integer
   * twin but holding the EXACT original values — assignment is
   * fixed-point, reconstruction full precision. One fused pass, no
   * explode/regroup: the at-rest candidate row is (cent_id, m codes,
   * norm) ≈ m+12 bytes instead of 8·dim, and the floats only ever
   * exist streaming through this expression.
   */
  def pqDecode(codes: ArrayData, cent: ArrayData, cb: ArrayData,
      ksub: Int): ArrayData = {
    val m = codes.numElements()
    val n = cent.numElements()
    if (m <= 0 || n % m != 0) throw new IllegalArgumentException(
      s"pq_decode: centroid length $n not divisible by m=$m")
    if (cb.numElements() != ksub * n) throw new IllegalArgumentException(
      s"pq_decode: codebook length ${cb.numElements()} != ksub·len " +
        s"(${ksub}·$n)")
    val dsub = n / m
    val out = new Array[Any](n)
    var j = 0
    while (j < m) {
      val e = codes.getInt(j)
      if (e < 0 || e >= ksub) throw new IllegalArgumentException(
        s"pq_decode: code $e out of range [0, $ksub)")
      val base = (j * ksub + e) * dsub
      var t = 0
      while (t < dsub) {
        out(j * dsub + t) = cent.getDouble(j * dsub + t) +
          cb.getDouble(base + t)
        t += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Asymmetric PQ score (the IVF-PQ search step, Jégou et al. 2011): the
   * dot of query `q` with the vector that `codes` decode to against
   * centroid `centIdx` of the frozen k×dim matrix `flatCents`, computed
   * straight from the codes. Each element is the same `centroid + codebook entry`
   * double `pq_decode` stores, folded into the same ascending-index sum
   * as `vec_dot`, so the result equals
   * `vec_dot(pq_decode(codes, cent, cb, ksub), q)` bit for bit — but no
   * decoded array is built. `cb` is the flat double codebook of
   * `pq_decode`, so dim = |cb| / ksub. Malformed inputs throw where
   * `pq_decode` or `vec_dot` would, plus a centroid matrix whose rows
   * are not dim wide and a centroid index outside the matrix.
   */
  def pqScore(codes: ArrayData, centIdx: Int, q: ArrayData,
      flatCents: Array[Double], cb: Array[Double], ksub: Int): Double = {
    val m = codes.numElements()
    val n = if (ksub > 0) cb.length / ksub else 0
    if (m <= 0 || n % m != 0 || ksub * n != cb.length)
      throw new IllegalArgumentException(
        s"pq_score: codebook length ${cb.length} is not ksub·dim for " +
          s"ksub=$ksub and m=$m codes")
    if (q.numElements() != n) throw new IllegalArgumentException(
      s"pq_score: length mismatch ($n vs ${q.numElements()})")
    if (n > 0 && flatCents.length % n != 0) throw new IllegalArgumentException(
      s"pq_score: centroid matrix length ${flatCents.length} is not a " +
        s"multiple of dim $n")
    if (centIdx < 0 || (centIdx + 1) * n > flatCents.length)
      throw new IllegalArgumentException(
        s"pq_score: centroid index $centIdx outside the " +
          s"${flatCents.length}-value centroid matrix (dim $n)")
    val dsub = n / m
    val cent = centIdx * n
    var s = 0.0
    var j = 0
    while (j < m) {
      val e = codes.getInt(j)
      if (e < 0 || e >= ksub) throw new IllegalArgumentException(
        s"pq_score: code $e out of range [0, $ksub)")
      val base = (j * ksub + e) * dsub
      val i0 = j * dsub
      var t = 0
      while (t < dsub) {
        s += (flatCents(cent + i0 + t) + cb(base + t)) * q.getDouble(i0 + t)
        t += 1
      }
      j += 1
    }
    s
  }

  case class PqEncode(left: Expression, right: Expression, m: Int,
      ksub: Int) extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(LongType))
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode"
    override def nullSafeEval(a: Any, b: Any): Any =
      pqEncode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m, ksub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.VectorExprs.pqEncode($a, $b, $m, $ksub)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqEncode =
      copy(left = newLeft, right = newRight)
  }

  case class PqDecode(first: Expression, second: Expression,
      third: Expression, ksub: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(IntegerType), ArrayType(DoubleType),
        ArrayType(DoubleType))
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "pq_decode"
    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      pqDecode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        c.asInstanceOf[ArrayData], ksub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c) =>
        s"graft.functions.VectorExprs.pqDecode($a, $b, $c, $ksub)")
    override protected def withNewChildrenInternal(newFirst: Expression,
        newSecond: Expression, newThird: Expression): PqDecode =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** `pq_score(codes, cent_idx, q)` with the centroid matrix and the
    * double codebook FROZEN into the expression like `ivf_nearest`'s
    * centroids: codegen reads the primitive double[] references. The
    * SQL function takes the centroids as rows (`cents`, one
    * array<double> per centroid) and checks their width once. */
  case class PqScore(first: Expression, second: Expression,
      third: Expression, flatCents: Array[Double], cb: Array[Double],
      ksub: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
      with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(IntegerType), IntegerType, ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "pq_score"
    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      pqScore(a.asInstanceOf[ArrayData], b.asInstanceOf[Int],
        c.asInstanceOf[ArrayData], flatCents, cb, ksub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cents = ctx.addReferenceObj("pqCents", flatCents, "double[]")
      val book = ctx.addReferenceObj("pqBook", cb, "double[]")
      defineCodeGen(ctx, ev, (a, b, c) =>
        s"graft.functions.VectorExprs.pqScore($a, $b, $c, $cents, $book, $ksub)")
    }
    override protected def withNewChildrenInternal(newFirst: Expression,
        newSecond: Expression, newThird: Expression): PqScore =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"
    override def nullSafeEval(a: Any, b: Any): Any =
      dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.VectorExprs.dot($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): VecDot =
      copy(left = newLeft, right = newRight)
  }

  /** `ivf_nearest(vec, norm)` against a centroid table FROZEN into the
    * expression (flat k×dim matrix + per-centroid norms — metadata-sized
    * by the stride-sampling construction, the same bounded-driver-state
    * idiom as the PQ codebook). The arrays ride `references` via
    * `addReferenceObj`, so codegen touches primitive double[] directly —
    * no per-row boxing, no per-row literal conversion. */
  case class IvfNearestN(left: Expression, right: Expression,
      flatCents: Array[Double], centNorms: Array[Double], n: Int)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), DoubleType)
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "ivf_nearest"
    override def nullSafeEval(a: Any, b: Any): Any =
      ivfNearest(a.asInstanceOf[ArrayData], b.asInstanceOf[Double],
        flatCents, centNorms, n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cents = ctx.addReferenceObj("ivfCents", flatCents, "double[]")
      val norms = ctx.addReferenceObj("ivfNorms", centNorms, "double[]")
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorExprs.ivfNearest($a, $b, $cents, $norms, $n)")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): IvfNearestN =
      copy(left = newLeft, right = newRight)
  }

  case class VecQuantize(child: Expression, levels: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(levels >= 1 && levels <= 127,
      s"vec_quantize levels must be in [1, 127], got $levels")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = vecQuantizeType
    override def prettyName: String = "vec_quantize"
    override def nullSafeEval(v: Any): Any =
      quantizeInt8(v.asInstanceOf[ArrayData], levels)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExprs.quantizeInt8($c, $levels)")
    override protected def withNewChildInternal(
        newChild: Expression): VecQuantize =
      copy(child = newChild)
  }

  case class SignBandBucketsExpr(child: Expression, nBits: Int, dim: Int,
      bands: Int) extends UnaryExpression with ExpectsInputTypes {
    require(nBits % bands == 0, "bands must divide nBits")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "sign_band_buckets"
    override def nullSafeEval(v: Any): Any =
      signBandBuckets(v.asInstanceOf[ArrayData], nBits, dim, bands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorExprs.signBandBuckets($c, $nBits, $dim, $bands)")
    override protected def withNewChildInternal(
        newChild: Expression): SignBandBucketsExpr =
      copy(child = newChild)
  }

  /** Shared by the function registries here and in TextExprs. */
  private[functions] def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  /** A frozen matrix or codebook arrives as a foldable array literal
    * (typedLit) and is unwrapped ONCE, at function resolution, into a
    * primitive array. */
  private def doubleArrayLit(e: Expression, what: String): Array[Double] =
    e match {
      case Literal(ad: ArrayData, ArrayType(DoubleType, _)) =>
        ad.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"$what must be an array<double> literal, got $other")
    }

  /** `pq_score`'s centroid matrix: an array<array<double>> literal, one
    * row per centroid, flattened once. Every row must be `dim` wide —
    * the width `pq_decode` checks on each centroid it decodes against —
    * since the flat matrix alone cannot tell a misaligned row. */
  private def centroidRows(e: Expression, dim: Int): Array[Double] =
    e match {
      case Literal(ad: ArrayData, ArrayType(ArrayType(DoubleType, _), _)) =>
        val rows = (0 until ad.numElements()).map { i =>
          if (ad.isNullAt(i)) throw new IllegalArgumentException(
            s"pq_score: centroid row $i is null")
          ad.getArray(i).toDoubleArray()
        }
        rows.find(_.length != dim).foreach(r =>
          throw new IllegalArgumentException(
            s"pq_score: a ${r.length}-wide centroid row for a codebook " +
              s"of dim $dim"))
        Array.concat(rows: _*)
      case other => throw new IllegalArgumentException(
        s"pq_score cents must be an array<array<double>> literal, got $other")
    }

  /** The vector-function registry entries, shared by per-session
    * `register` and the `GraftExtensions` session-builder injection. */
  val injections: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_dot(a, b)")
        VecDot(children(0), children(1))
      }),
    (FunctionIdentifier("sign_band_buckets"),
      new ExpressionInfo(classOf[SignBandBucketsExpr].getName, "sign_band_buckets"),
      (children: Seq[Expression]) => {
        require(children.size == 4, "sign_band_buckets(vec, nBits, dim, bands)")
        SignBandBucketsExpr(children.head,
          intLit(children(1), "nBits"), intLit(children(2), "dim"),
          intLit(children(3), "bands"))
      }),
    (FunctionIdentifier("vec_quantize"),
      new ExpressionInfo(classOf[VecQuantize].getName, "vec_quantize"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_quantize(vec, levels)")
        VecQuantize(children.head, intLit(children(1), "vec_quantize levels"))
      }),
    (FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => {
        require(children.size == 4, "pq_encode(res, cb_int, m, ksub)")
        PqEncode(children(0), children(1),
          intLit(children(2), "pq_encode m"),
          intLit(children(3), "pq_encode ksub"))
      }),
    (FunctionIdentifier("pq_decode"),
      new ExpressionInfo(classOf[PqDecode].getName, "pq_decode"),
      (children: Seq[Expression]) => {
        require(children.size == 4, "pq_decode(codes, cent, cb, ksub)")
        PqDecode(children(0), children(1), children(2),
          intLit(children(3), "pq_decode ksub"))
      }),
    (FunctionIdentifier("pq_score"),
      new ExpressionInfo(classOf[PqScore].getName, "pq_score"),
      (children: Seq[Expression]) => {
        require(children.size == 6,
          "pq_score(codes, cent_idx, q, cents, cb_flat, ksub)")
        val cb = doubleArrayLit(children(4), "pq_score cb_flat")
        val ksub = intLit(children(5), "pq_score ksub")
        PqScore(children(0), children(1), children(2),
          centroidRows(children(3), if (ksub > 0) cb.length / ksub else 0),
          cb, ksub)
      }),
    (FunctionIdentifier("ivf_nearest"),
      new ExpressionInfo(classOf[IvfNearestN].getName, "ivf_nearest"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "ivf_nearest(vec, norm, cents_flat, cent_norms, n)")
        IvfNearestN(children(0), children(1),
          doubleArrayLit(children(2), "ivf_nearest cents_flat"),
          doubleArrayLit(children(3), "ivf_nearest cent_norms"),
          intLit(children(4), "ivf_nearest n"))
      }))

  /** Register `vec_dot(a, b)` and `sign_band_buckets(vec, nBits, dim,
    * bands)` on a session (idempotent; same rationale as
    * `TextExprs.register`). */
  def register(spark: SparkSession): Unit =
    injections.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
