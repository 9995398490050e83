package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions (WITH doGenCode — not CodegenFallback) for
 * the text-normalization hot path. The Column-function equivalents
 * (`TextNorm.tokens/shingles`) are built from higher-order functions,
 * whose lambda bodies are evaluated interpreted per element; these
 * expressions run the whole tokenize→shingle pass as one JIT-compiled
 * call per row inside whole-stage codegen.
 *
 * Semantics are BIT-IDENTICAL to the Column versions (spec-asserted on
 * the corpus): lowercase → split on runs of non-letter/digit →
 * non-empty tokens; shingles = distinct space-joined k-windows
 * (first-occurrence order), whole-text shingle for docs shorter than k.
 */
object TextExprs {

  /** Small per-language stopword profiles for the language-ID heuristic
    * (canonical copy — `TextOps.langProfiles` aliases this).
    * Order = deterministic tie-break priority. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "une", "est", "dans", "pour"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "他", "有", "这", "个"))

  private val profileSets: Array[java.util.HashSet[String]] =
    langProfiles.map { case (_, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }.toArray

  /** Shared scalar kernel: normalized tokens of a UTF8 string. */
  def tokenize(text: UTF8String): Array[String] =
    text.toLowerCase.toString
      .split("[^\\p{L}\\p{N}]+")
      .filter(_.nonEmpty)

  def normTokens(text: UTF8String): ArrayData =
    new GenericArrayData(
      tokenize(text).map(t => UTF8String.fromString(t): Any))

  def tokenShingles(text: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(text)
    val n = math.max(toks.length - (k - 1), 1)
    // distinct, preserving first-occurrence order (== array_distinct)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) {
      val end = math.min(i + k, toks.length)
      seen.add(toks.slice(i, end).mkString(" "))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Struct schema returned by `token_stats`: token-derived scalars plus
    * one hit count per language profile, all from ONE tokenize pass. */
  val tokenStatsType: StructType = StructType(
    Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("sum_token_len", LongType, nullable = false)) ++
    langProfiles.map { case (lang, _) =>
      StructField(s"h_$lang", IntegerType, nullable = false) })

  /**
   * One-pass token statistics: token count, distinct-token count, summed
   * token length (code points — same unit as Spark's `length()`), and
   * per-profile stopword hit counts (non-distinct, like
   * `size(filter(toks, isin(words)))`). The Column formulation of these
   * needs 6+ interpreted higher-order-function passes per row; this is
   * one JIT-compiled call.
   */
  def tokenStats(text: UTF8String): InternalRow = {
    val toks = tokenize(text)
    val distinct = new java.util.HashSet[String]()
    var sumLen = 0L
    val hits = new Array[Int](profileSets.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      distinct.add(t)
      sumLen += t.codePointCount(0, t.length)
      var p = 0
      while (p < profileSets.length) {
        if (profileSets(p).contains(t)) hits(p) += 1
        p += 1
      }
      i += 1
    }
    val out = new Array[Any](3 + hits.length)
    out(0) = toks.length
    out(1) = distinct.size
    out(2) = sumLen
    var j = 0
    while (j < hits.length) { out(3 + j) = hits(j); j += 1 }
    new GenericInternalRow(out)
  }

  case class NormTokens(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "norm_tokens"
    override def nullSafeEval(input: Any): Any =
      normTokens(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.normTokens($c)")
    override protected def withNewChildInternal(newChild: Expression): NormTokens =
      copy(child = newChild)
  }

  case class TokenShingles(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(k >= 1, "shingle size must be >= 1")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "token_shingles"
    override def nullSafeEval(input: Any): Any =
      tokenShingles(input.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.tokenShingles($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): TokenShingles =
      copy(child = newChild)
  }

  /**
   * One-pass winnowing fingerprint (semantics identical to the Column
   * formulation in `TextOps.fingerprint`, spec-asserted): positional
   * k-shingles → first 8 hex chars of md5 → min over every w-window →
   * distinct → lexicographic sort. The HOF version evaluates an
   * interpreted md5+slice lambda per shingle per row (~37 s on the
   * sf0.1 corpus); this is one JIT-compiled call (~0.3 s).
   */
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def winnowFingerprint(text: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = tokenize(text)
    val nSh = math.max(toks.length - (k - 1), 1)
    // per-row getInstance would pay a synchronized JCA provider lookup
    // in the hot path; MessageDigest is not thread-safe, so thread-local
    val md = md5Local.get()
    val hashes = new Array[String](nSh)
    var i = 0
    while (i < nSh) {
      val end = math.min(i + k, toks.length)
      val sb = new java.lang.StringBuilder
      var t = i
      while (t < end) {
        if (t > i) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars = first 4 digest bytes
      val hex = new Array[Char](8)
      var b = 0
      while (b < 4) {
        hex(2 * b) = Character.forDigit((d(b) >> 4) & 0xf, 16)
        hex(2 * b + 1) = Character.forDigit(d(b) & 0xf, 16)
        b += 1
      }
      hashes(i) = new String(hex)
      i += 1
    }
    val nW = math.max(nSh - (w - 1), 1)
    val mins = new java.util.TreeSet[String]()
    var j = 0
    while (j < nW) {
      var m = hashes(j)
      var t = j + 1
      val end = math.min(j + w, nSh)
      while (t < end) { if (hashes(t).compareTo(m) < 0) m = hashes(t); t += 1 }
      mins.add(m)
      j += 1
    }
    val out = new Array[Any](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  case class WinnowFingerprint(child: Expression, k: Int, w: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(k >= 1 && w >= 1, "shingle size and window must be >= 1")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "winnow_fingerprint"
    override def nullSafeEval(input: Any): Any =
      winnowFingerprint(input.asInstanceOf[UTF8String], k, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextExprs.winnowFingerprint($c, $k, $w)")
    override protected def withNewChildInternal(
        newChild: Expression): WinnowFingerprint =
      copy(child = newChild)
  }

  /** The universal-mixing constants of `minhash_sig`, generated exactly
    * as the old explode formulation did (one Random(0x5eed) stream, the
    * whole `a` array then the whole `b` array) so signatures stay
    * bit-identical; memoized per numHashes since the stream position —
    * and therefore `b` — depends on it. */
  private val mhConsts =
    scala.collection.concurrent.TrieMap.empty[Int, (Array[Long], Array[Long])]
  private def minhashConsts(numHashes: Int): (Array[Long], Array[Long]) =
    mhConsts.getOrElseUpdate(numHashes, {
      val rnd = new scala.util.Random(0x5eed)
      val a = Array.fill(numHashes)((rnd.nextInt(Int.MaxValue - 1) + 1).toLong)
      val b = Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong)
      (a, b)
    })

  /**
   * Fused MinHash signature over a shingle array — the per-document
   * formulation of the explode + numHashes min-aggregate plan it
   * replaces (bit-identical by construction: the same
   * `xxhash64(shingle) & 2^31−1` through Spark's own XxHash64Function
   * with the SQL function's seed 42, the same `(h·a_i + b_i) mod
   * 4294967291` long arithmetic, the same min). The explode plan
   * materialized one row per shingle and pushed each through the hash
   * aggregate's probe + numHashes projected expressions; this keeps the
   * numHashes running minimums in a primitive array across one pass
   * over the shingles — no explode, no aggregate, no shuffle. An empty
   * shingle set returns NULL (the explode dropped such docs; callers
   * filter), matching the old output row set exactly.
   */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val (a, b) = minhashConsts(numHashes)
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(shingles.getUTF8String(i), StringType, 42L) & 2147483647L
      var j = 0
      while (j < numHashes) {
        val v = (h * a(j) + b(j)) % 4294967291L
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](numHashes)
    var o = 0
    while (o < numHashes) { out(o) = mins(o); o += 1 }
    new GenericArrayData(out)
  }

  /**
   * Fused 64-bit SimHash over a token array — replaces the explode + 64
   * sum-aggregate plan (bit-identical: same per-occurrence ±1 integer
   * sums over bit i of `xxhash64(token)` seed 42, bit set iff sum > 0).
   * An empty token array yields the all-zeros signature inline — the
   * explode plan needed a whole restore JOIN to put those docs back.
   */
  def simhashSig(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(tokens.getUTF8String(i), StringType, 42L)
      var bit = 0
      while (bit < 64) {
        counts(bit) += (if (((h >> bit) & 1L) == 1L) 1 else -1)
        bit += 1
      }
      i += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  case class MinhashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(numHashes >= 1, "numHashes must be >= 1")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_sig"
    override def nullSafeEval(input: Any): Any =
      minhashSig(input.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // minhashSig returns null for an empty shingle array, so the
      // default defineCodeGen (which assumes non-null results from
      // non-null inputs) would NPE downstream; emit an explicit
      // null-check wrapper instead.
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = graft.functions.TextExprs.minhashSig($c, $numHashes);
           |${ev.isNull} = (${ev.value} == null);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(newChild: Expression): MinhashSig =
      copy(child = newChild)
  }

  case class SimhashSig(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_sig"
    override def nullSafeEval(input: Any): Any =
      simhashSig(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.simhashSig($c)")
    override protected def withNewChildInternal(newChild: Expression): SimhashSig =
      copy(child = newChild)
  }

  /**
   * The LSH band buckets of a MinHash signature: element b is
   * `xxhash64(concat_ws(',', slice(sig, b·r + 1, r)), b)` with
   * r = |sig| div bands — bit-identical to that SQL formulation (the
   * same decimal text, the same XxHash64Function over the string with
   * seed 42 and then over the int b), which evaluates an interpreted
   * lambda per band; this is one loop per signature.
   */
  def minhashBands(sig: ArrayData, bands: Int): ArrayData = {
    val r = sig.numElements() / bands
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var j = 0
      while (j < r) {
        if (j > 0) sb.append(',')
        sb.append(sig.getLong(b * r + j))
        j += 1
      }
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(sb.toString), StringType, 42L)
      out(b) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(b, IntegerType, h)
      b += 1
    }
    new GenericArrayData(out)
  }

  case class MinhashBands(child: Expression, bands: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(bands >= 1, "bands must be >= 1")
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_bands"
    override def nullSafeEval(input: Any): Any =
      minhashBands(input.asInstanceOf[ArrayData], bands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.minhashBands($c, $bands)")
    override protected def withNewChildInternal(newChild: Expression): MinhashBands =
      copy(child = newChild)
  }

  /**
   * Every (a, b) with a < b of the non-null `ids` of one LSH band bucket
   * — the pair expansion of a bucket self-join on the bucket key with an
   * `id_a < id_b` filter, as one loop over the sorted ids instead of a
   * join. `<` is the id type's interpreted ordering, the order `<` and
   * `min` use. Equal ids pair with nothing (the self-join's filter drops
   * them); a repeated id pairs once per copy, as the join did, and
   * callers deduplicate. Pairs come out in ascending (a, b) order.
   */
  def bucketPairs(ids: ArrayData, dt: DataType): ArrayData = {
    val n = ids.numElements()
    val xs = new Array[AnyRef](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!ids.isNullAt(i)) {
        xs(m) = InternalRow.copyValue(ids.get(i, dt)).asInstanceOf[AnyRef]
        m += 1
      }
      i += 1
    }
    val ord = TypeUtils.getInterpretedOrdering(dt).asInstanceOf[Ordering[AnyRef]]
    java.util.Arrays.sort(xs, 0, m, ord)
    // ends(i): first index after i's run of equal ids — xs(i) pairs with
    // every id from there on
    val ends = new Array[Int](m)
    var total = 0L
    i = 0
    while (i < m) {
      var e = i + 1
      while (e < m && ord.compare(xs(e), xs(i)) == 0) e += 1
      var k = i
      while (k < e) { ends(k) = e; total += m - e; k += 1 }
      i = e
    }
    require(total <= Int.MaxValue, s"bucket of $m ids expands to $total pairs")
    val out = new Array[Any](total.toInt)
    var o = 0
    i = 0
    while (i < m) {
      var k = ends(i)
      while (k < m) {
        out(o) = new GenericInternalRow(Array[Any](xs(i), xs(k)))
        o += 1
        k += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  case class BucketPairs(child: Expression) extends UnaryExpression {
    private def elementType: DataType =
      child.dataType.asInstanceOf[ArrayType].elementType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(et, _) => TypeUtils.checkForOrderingExpr(et, prettyName)
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs an array of ids, got ${other.catalogString}")
    }
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("id_a", elementType), StructField("id_b", elementType))),
      containsNull = false)
    override def prettyName: String = "bucket_pairs"
    override def nullSafeEval(input: Any): Any =
      bucketPairs(input.asInstanceOf[ArrayData], elementType)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val dt = ctx.addReferenceObj("elementType", elementType)
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.bucketPairs($c, $dt)")
    }
    override protected def withNewChildInternal(newChild: Expression): BucketPairs =
      copy(child = newChild)
  }

  case class TokenStats(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = tokenStatsType
    override def prettyName: String = "token_stats"
    override def nullSafeEval(input: Any): Any =
      tokenStats(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.tokenStats($c)")
    override protected def withNewChildInternal(newChild: Expression): TokenStats =
      copy(child = newChild)
  }

  /**
   * NFKC Unicode normalization (UAX #15 compatibility decomposition +
   * canonical composition, via the JDK's `java.text.Normalizer`) — the
   * kernel real crawled corpora need AHEAD of tokenization: fullwidth
   * ＡＢＣ→ABC, ligature ﬁ→fi, circled ①→1, halfwidth katakana
   * composition, superscript ²→2, so one logical word stops splitting
   * into several vocabulary entries. Deterministic (the JDK tables
   * implement the frozen Unicode normalization stability policy) and
   * idempotent. The `isNormalized` fast path makes the common
   * already-ASCII row allocation-free, so the kernel is safe to leave
   * permanently in a 100 TB ingest path.
   */
  def nfkc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s,
        java.text.Normalizer.Form.NFKC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
  }

  case class NfkcNormalize(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "nfkc"
    override def nullSafeEval(input: Any): Any =
      nfkc(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.nfkc($c)")
    override protected def withNewChildInternal(
        newChild: Expression): NfkcNormalize =
      copy(child = newChild)
  }

  /** The text-function registry entries, shared by per-session
    * `register` and the `GraftExtensions` session-builder injection. */
  val injections: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("norm_tokens"),
      new ExpressionInfo(classOf[NormTokens].getName, "norm_tokens"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "norm_tokens(text)")
        NormTokens(children.head)
      }),
    (FunctionIdentifier("token_shingles"),
      new ExpressionInfo(classOf[TokenShingles].getName, "token_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "token_shingles(text, k)")
        TokenShingles(children.head,
          VectorExprs.intLit(children(1), "token_shingles k"))
      }),
    (FunctionIdentifier("token_stats"),
      new ExpressionInfo(classOf[TokenStats].getName, "token_stats"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "token_stats(text)")
        TokenStats(children.head)
      }),
    (FunctionIdentifier("winnow_fingerprint"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName, "winnow_fingerprint"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "winnow_fingerprint(text, k, w)")
        WinnowFingerprint(children.head,
          VectorExprs.intLit(children(1), "winnow_fingerprint k"),
          VectorExprs.intLit(children(2), "winnow_fingerprint w"))
      }),
    (FunctionIdentifier("nfkc"),
      new ExpressionInfo(classOf[NfkcNormalize].getName, "nfkc"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "nfkc(text)")
        NfkcNormalize(children.head)
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "minhash_sig(shingles, numHashes)")
        MinhashSig(children.head,
          VectorExprs.intLit(children(1), "minhash_sig numHashes"))
      }),
    (FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinhashBands].getName, "minhash_bands"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "minhash_bands(sig, bands)")
        MinhashBands(children.head,
          VectorExprs.intLit(children(1), "minhash_bands bands"))
      }),
    (FunctionIdentifier("bucket_pairs"),
      new ExpressionInfo(classOf[BucketPairs].getName, "bucket_pairs"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "bucket_pairs(ids)")
        BucketPairs(children.head)
      }),
    (FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimhashSig].getName, "simhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "simhash_sig(tokens)")
        SimhashSig(children.head)
      }))

  /**
   * Register the text functions on a session (idempotent).
   * Registration-on-session keeps the library usable on sessions the
   * caller did not build — the driver contract hands us an
   * already-constructed SparkSession; sessions built by the caller can
   * instead set `spark.sql.extensions=graft.functions.GraftExtensions`.
   */
  def register(spark: SparkSession): Unit =
    injections.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
