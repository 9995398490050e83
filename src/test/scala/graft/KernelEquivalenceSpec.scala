package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Round-20 optimization pins: each fused codegen kernel that replaced a
 * shuffle/aggregate formulation is asserted BIT-IDENTICAL to the exact
 * plan shape it replaced, reconstructed inline here — including the
 * edge cases the old plans produced as side effects of their shape
 * (explode dropping empty docs, window NaN ordering, argmax ties).
 */
class KernelEquivalenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------------------------------------------- minhash_sig —

  test("minhash_sig == explode + min-aggregate formulation (both sizes)") {
    graft.functions.TextExprs.register(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document with other words inside it"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "short"), // fewer tokens than shingleK -> degenerate shingle
      (5L, ""), // empty text (token_shingles still emits its degenerate
      // whole-text shingle, so the row survives BOTH formulations)
      (6L, "a b c a b c a b c repeated trigram shingles collapse")
    ).toDF("id", "text")
    for (numHashes <- Seq(64, 128)) {
      val sets = docs.select(col("id"),
        expr("token_shingles(text, 3)").as("__shingles"))
      // the exact formulation sigsFromShingles used before round 20
      val rnd = new scala.util.Random(0x5eed)
      val a = Array.fill(numHashes)((rnd.nextInt(Int.MaxValue - 1) + 1).toLong)
      val b = Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong)
      val posted = sets
        .select(col("id"), explode(col("__shingles")).as("__s"))
        .withColumn("__h", expr("xxhash64(__s) & 2147483647"))
      val mins = (0 until numHashes).map(i =>
        min((col("__h") * a(i) + b(i)) % 4294967291L).as(s"__m$i"))
      val legacy = posted.groupBy(col("id")).agg(mins.head, mins.tail: _*)
        .withColumn("__sig",
          array((0 until numHashes).map(i => col(s"__m$i")): _*))
        .select(col("id"), col("__sig"))
        .orderBy("id").as[(Long, Seq[Long])].collect().toSeq
      val fused = sets
        .select(col("id"),
          call_function("minhash_sig", col("__shingles"), lit(numHashes))
            .as("__sig"))
        .where(col("__sig").isNotNull)
        .orderBy("id").as[(Long, Seq[Long])].collect().toSeq
      assert(fused == legacy, s"numHashes=$numHashes")
    }
    // an EMPTY shingle array must yield NULL (the explode formulation
    // dropped such rows; callers filter on isNotNull)
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("__shingles")
      .select(call_function("minhash_sig", col("__shingles"), lit(64))
        .as("__sig"))
      .collect()
    assert(empty.head.isNullAt(0))
  }

  // ---------------------------------------------------- simhash_sig —

  test("simhash_sig == explode + 64 sum-aggregates + restore join") {
    graft.functions.TextExprs.register(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dot"),
      (3L, "completely unrelated words live in this one"),
      (4L, "...!!!"), // token-less: all-zeros signature via restore join
      (5L, "repeat repeat repeat repeat") // occurrence weighting matters
    ).toDF("id", "text")
    val posted = docs.select(col("id"),
        explode(expr("norm_tokens(text)")).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val sums = (0 until 64).map(i =>
      sum(when(expr(s"((__h >> $i) & 1) = 1"), 1).otherwise(-1)).as(s"__b$i"))
    val agged = posted.groupBy(col("id")).agg(sums.head, sums.tail: _*)
      .withColumn("__simhash",
        (0 until 64).map(i => when(col(s"__b$i") > 0, lit(1L << i))
          .otherwise(lit(0L)): Column).reduce(_.bitwiseOR(_)))
      .select(col("id"), col("__simhash"))
    val legacy = docs.select(col("id")).join(agged, Seq("id"), "left")
      .withColumn("__simhash", coalesce(col("__simhash"), lit(0L)))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val fused = graft.ext.Dedup.simhashSignatures(docs, "id", "text")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(fused == legacy)
    assert(fused.find(_._1 == 4L).exists(_._2 == 0L))
  }

  // ------------------------------------------ LSH bucket_pairs path —

  /** The band-bucket array of `__sig` (Dedup.bucketArrayExpr). */
  private def bucketExpr(bands: Int): String =
    s"transform(sequence(0, ${bands - 1}), " +
      s"b -> xxhash64(concat_ws(',', slice(__sig, b * (size(__sig) div $bands) + 1, size(__sig) div $bands)), b))"

  /** The candidate generation `lshCandidatePairs`/`lshCandidateEdges`
    * ran before the `bucket_pairs` path: band buckets sized and min'd by
    * a window, sub-cap buckets pair-expanded by a bucket self-join, hot
    * buckets starred from their min id (edges) or dropped (pairs). */
  private def legacyCandidates(sigs: DataFrame, id: String, bands: Int,
      cap: Option[Long], stars: Boolean): DataFrame = {
    val w = Window.partitionBy(col("__band"), col("__bucket"))
    val banded = sigs.select(col(id), posexplode(expr(bucketExpr(bands))))
      .toDF(id, "__band", "__bucket")
      .withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__bmin", min(col(id)).over(w))
    val small = cap.fold(banded)(c => banded.where(col("__bsz") <= c))
    val a = small.select(col(id).as("id_a"), col("__band"), col("__bucket"))
    val b = small.select(col(id).as("id_b"), col("__band"), col("__bucket"))
    val pairs = a.join(b, Seq("__band", "__bucket"))
      .where(col("id_a") < col("id_b")).select("id_a", "id_b")
    if (!stars) pairs.distinct()
    else pairs.unionByName(banded.where(col("__bsz") > cap.get)
        .select(col("__bmin").as("id_a"), col(id).as("id_b"))
        .where(col("id_a") < col("id_b")))
      .distinct()
  }

  /** The near-dup joins before the `bucket_pairs` path: legacy
    * candidates, then exact-Jaccard verification. */
  private def legacyNearDups(df: DataFrame, id: String, numHashes: Int,
      bands: Int, cap: Option[Long], stars: Boolean): DataFrame = {
    val sets = df.select(col(id), expr("token_shingles(text, 3)").as("__sh"))
    val sigs = sets.select(col(id),
        call_function("minhash_sig", col("__sh"), lit(numHashes)).as("__sig"))
      .where(col("__sig").isNotNull)
    legacyCandidates(sigs, id, bands, cap, stars)
      .join(sets.select(col(id).as("id_a"), col("__sh").as("__sa")), "id_a")
      .join(sets.select(col(id).as("id_b"), col("__sh").as("__sb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          size(array_union(col("__sa"), col("__sb"))))
      .where(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  private def sorted(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq

  /** `clusters` seeded clusters of `size` near-duplicate docs (one
    * random 20-word text per cluster, 0–2 words replaced per member),
    * with `id` cast to `idType`. A small vocabulary makes unrelated docs
    * collide in some bands too. */
  private def seededDocs(seed: Long, clusters: Int, size: Int,
      idType: String): DataFrame = {
    val r = new scala.util.Random(seed)
    def word() = s"w${r.nextInt(300)}"
    (0 until clusters).flatMap { c =>
      val base = Vector.fill(20)(word())
      (0 until size).map { m =>
        val edits = r.nextInt(3)
        val text = (0 until edits).foldLeft(base)((t, _) =>
          t.updated(r.nextInt(20), word()))
        ((c * size + m).toLong, text.mkString(" "))
      }
    }.toDF("id", "text").withColumn("id", col("id").cast(idType))
  }

  private def sigsOf(df: DataFrame, numHashes: Int): DataFrame =
    df.select(col("id"), call_function("minhash_sig",
        expr("token_shingles(text, 3)"), lit(numHashes)).as("__sig"))
      .where(col("__sig").isNotNull)

  test("minhash_bands == transform + xxhash64(concat_ws(slice)) formulation") {
    graft.functions.TextExprs.register(spark)
    val docs = seededDocs(9, 10, 3, "bigint")
    // divisible, non-divisible (trailing perms unused) and more bands
    // than perms (empty slices)
    for ((numHashes, bands) <- Seq((64, 16), (128, 32), (20, 6), (4, 8))) {
      val sigs = sigsOf(docs, numHashes)
      val legacy = sigs.select(col("id"), expr(bucketExpr(bands)).as("b"))
        .orderBy("id").as[(Long, Seq[Long])].collect().toSeq
      val fused = sigs.select(col("id"),
          call_function("minhash_bands", col("__sig"), lit(bands)).as("b"))
        .orderBy("id").as[(Long, Seq[Long])].collect().toSeq
      assert(fused == legacy, s"numHashes=$numHashes bands=$bands")
    }
  }

  test("bucket_pairs kernel: empty, single-id, exactly-cap, NULL and repeated ids") {
    graft.functions.TextExprs.register(spark)
    def pairs(ids: Seq[java.lang.Long]) =
      Seq(Tuple1(ids)).toDF("ids")
        .select(inline(call_function("bucket_pairs", col("ids"))))
        .as[(Long, Long)].collect().toSeq
    assert(pairs(Nil).isEmpty)
    assert(pairs(Seq(7L)).isEmpty)
    assert(pairs(Seq(null, null)).isEmpty)
    // NULLs pair with nothing, equal ids pair with nothing, a repeated
    // id pairs once per copy (the self-join's multiplicity); ascending
    assert(pairs(Seq(3L, null, 1L, 3L, 2L)) ==
      Seq((1L, 2L), (1L, 3L), (1L, 3L), (2L, 3L), (2L, 3L)))
    // a bucket of exactly the default cap: every a < b once
    val cap = graft.ext.Dedup.DefaultMaxLshBucket.toInt
    val ids = scala.util.Random.shuffle((1 to cap).map(i => i.toLong * 7))
    val got = pairs(ids.map(Long.box))
    val want = for (a <- ids.sorted; b <- ids.sorted if a < b) yield (a, b)
    assert(got == want && got.length == cap * (cap - 1) / 2)
    // string ids order as Spark orders strings ("10" < "9")
    val str = Seq(Tuple1(Seq("9", "10", "b"))).toDF("ids")
      .select(inline(call_function("bucket_pairs", col("ids"))))
      .as[(String, String)].collect().toSeq
    assert(str == Seq(("10", "9"), ("10", "b"), ("9", "b")))
  }

  test("LSH candidates and near-dup joins == window + bucket self-join formulation") {
    import graft.ext.Dedup
    graft.functions.TextExprs.register(spark)
    // seeded corpora: few permutations and many bands make buckets
    // collide across clusters, so expansions are not just singletons
    for (seed <- Seq(1L, 2L, 3L); idType <- Seq("int", "bigint", "string")) {
      val d = seededDocs(seed, 40, 4, idType)
      val sigs = sigsOf(d, 16)
      val tag = s"seed $seed, $idType ids"
      assert(sorted(Dedup.lshCandidatePairs(sigs, "id", 8)) ==
        sorted(legacyCandidates(sigs, "id", 8, Some(1000L), stars = false)), tag)
      assert(sorted(Dedup.lshCandidatePairs(sigs, "id", 8, None)) ==
        sorted(legacyCandidates(sigs, "id", 8, None, stars = false)), tag)
      assert(sorted(Dedup.lshCandidateEdges(sigs, "id", 8)) ==
        sorted(legacyCandidates(sigs, "id", 8, Some(1000L), stars = true)), tag)
      val nd = sorted(Dedup.minhashNearDups(d, "id", "text", 16, 8))
      assert(nd.nonEmpty, tag)
      assert(nd == sorted(legacyNearDups(d, "id", 16, 8, Some(1000L),
        stars = false)), tag)
      assert(sorted(Dedup.minhashNearDupEdges(d, "id", "text", 16, 8)) ==
        sorted(legacyNearDups(d, "id", 16, 8, Some(1000L), stars = true)), tag)
    }
  }

  test("LSH hot buckets == window + bucket self-join formulation, NULL ids counted by the cap") {
    import graft.ext.Dedup
    graft.functions.TextExprs.register(spark)
    // 30 byte-identical docs make every band bucket hot at a cap of 10;
    // the seeded clusters stay sub-cap alongside them
    val boiler = "the same boilerplate footer text repeated on every page"
    for (idType <- Seq("int", "bigint", "string")) {
      val d = seededDocs(5, 20, 4, idType).unionByName(
        (1000 until 1030).map(i => (i.toLong, boiler)).toDF("id", "text")
          .withColumn("id", col("id").cast(idType)))
      val sigs = sigsOf(d, 16)
      for (cap <- Seq(10L, 30L, 29L)) {
        val tag = s"$idType ids, cap $cap"
        val pairs = sorted(Dedup.lshCandidatePairs(sigs, "id", 8, Some(cap)))
        assert(pairs == sorted(legacyCandidates(sigs, "id", 8, Some(cap),
          stars = false)), tag)
        val edges = sorted(Dedup.lshCandidateEdges(sigs, "id", 8, cap))
        assert(edges == sorted(legacyCandidates(sigs, "id", 8, Some(cap),
          stars = true)), tag)
        // a bucket of exactly the cap expands, one more row stars
        val boilerPairs = pairs.count(_.get(0).toString.toLong >= 1000)
        assert(boilerPairs == (if (cap >= 30) 435 else 0), tag)
        assert(sorted(Dedup.minhashNearDups(d, "id", "text", 16, 8,
            maxBucketSize = Some(cap))) ==
          sorted(legacyNearDups(d, "id", 16, 8, Some(cap), stars = false)), tag)
        assert(sorted(Dedup.minhashNearDupEdges(d, "id", "text", 16, 8,
            maxBucketSize = cap)) ==
          sorted(legacyNearDups(d, "id", 16, 8, Some(cap), stars = true)), tag)
      }
    }
    // 3 docs with ids and 1 NULL-id copy of the same text share every
    // bucket: at a cap of 3 only the NULL row pushes them over it, so
    // the pairs API drops them and the edges API stars them from id 1
    val withNull = Seq[(Option[Long], String)]((Some(1L), boiler),
      (Some(2L), boiler), (Some(3L), boiler), (None, boiler)).toDF("id", "text")
    val ns = sigsOf(withNull, 16)
    val pairs = sorted(Dedup.lshCandidatePairs(ns, "id", 8, Some(3L)))
    assert(pairs.isEmpty)
    assert(pairs == sorted(legacyCandidates(ns, "id", 8, Some(3L), stars = false)))
    val edges = sorted(Dedup.lshCandidateEdges(ns, "id", 8, 3L))
    assert(edges.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L), (1L, 3L)))
    assert(edges == sorted(legacyCandidates(ns, "id", 8, Some(3L), stars = true)))
    // without the NULL row the same bucket is sub-cap and fully expands
    val noNull = sigsOf(withNull.where(col("id").isNotNull), 16)
    assert(sorted(Dedup.lshCandidatePairs(noNull, "id", 8, Some(3L)))
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // ---------------------------------------------------- ivf_nearest —

  test("ivf_nearest == crossJoin + row_number window (assign and probe)") {
    graft.functions.VectorExprs.register(spark)
    val dim = 8
    // deterministic vectors; centroid 20 duplicates centroid 10 so the
    // argmax TIES exactly and must resolve to the lower centroid id
    def vec(seed: Long): Seq[Double] =
      (0 until dim).map(i => ((seed * 31 + i * 7) % 13).toDouble - 6.0)
    val corpus = ((0L until 40L).map(i => (i, vec(i))) :+
        (99L, vec(10L))) // exact duplicate of centroid-id 10's vector
      .toDF("vec_id", "embedding")
    val cents = Seq((10L, vec(10L)), (20L, vec(10L)), (30L, vec(30L)))
      .toDF("vec_id", "embedding")
    def prep(df: DataFrame, idAs: String, vecAs: String,
        normAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
          col("embedding").cast("array<double>").as(vecAs))
        .withColumn(normAs,
          sqrt(call_function("vec_dot", col(vecAs), col(vecAs))))
    val c = prep(corpus, "neighbor_id", "__cv", "__cn")
    val ce = prep(cents, "__cent_id", "__ev", "__en")
    def dotc(a: Column, b: Column) = call_function("vec_dot", a, b)
    for (n <- Seq(1, 2)) {
      val w = Window.partitionBy("neighbor_id")
        .orderBy(col("__csim").desc, col("__cent_id"))
      val legacy = c.crossJoin(broadcast(ce))
        .withColumn("__csim",
          dotc(col("__cv"), col("__ev")) / (col("__cn") * col("__en")))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= n)
        .select(col("neighbor_id"), col("__cent_id"))
        .orderBy("neighbor_id", "__cent_id")
        .as[(Long, Long)].collect().toSeq
      val cl = ce.orderBy("__cent_id")
        .select("__cent_id", "__ev", "__en").collect()
      val flat = cl.flatMap(_.getSeq[Double](1))
      val norms = cl.map(_.getDouble(2))
      val ids = cl.map(_.getLong(0))
      val fused = c.withColumn("__idx",
          explode(call_function("ivf_nearest", col("__cv"), col("__cn"),
            typedLit(flat), typedLit(norms), lit(n))))
        .select(col("neighbor_id"),
          element_at(typedLit(ids), col("__idx") + 1).as("__cent_id"))
        .orderBy("neighbor_id", "__cent_id")
        .as[(Long, Long)].collect().toSeq
      assert(fused == legacy, s"n=$n")
      // the planted exact tie resolved to the LOWER centroid id
      if (n == 1)
        assert(fused.filter(_._1 == 99L).map(_._2) == Seq(10L))
    }
  }

  // ------------------------------------------- recorded `_schema` —

  test("swapTableWith records _schema: read == written across swaps") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_swapschema_").toString + "/t"
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    graft.ops.Exchange.swapTableWith(a, dir, Map("_m" -> "1"))
    val readA = graft.ops.Exchange.table(spark, dir)
    assert(readA.schema == spark.read.parquet(dir).schema)
    assert(readA.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (2L, "y")))
    // a swap that CHANGES the schema swaps the recorded schema with it
    val b = Seq((3L, 2.5d, "z")).toDF("id", "d", "s")
    graft.ops.Exchange.swapTableWith(b, dir, Map.empty)
    val readB = graft.ops.Exchange.table(spark, dir)
    assert(readB.schema == spark.read.parquet(dir).schema)
    assert(readB.as[(Long, Double, String)].collect().toSeq ==
      Seq((3L, 2.5d, "z")))
    // crash inside the NEXT swap window: the live dir moved aside, the
    // staged generation never renamed in. recoverSwap restores B's data
    // together with B's schema (the `_schema` moved with it)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(p, new org.apache.hadoop.fs.Path(
      p.getParent, "." + p.getName + ".old"))
    assert(graft.ops.Exchange.recoverSwap(spark, dir))
    val recovered = graft.ops.Exchange.table(spark, dir)
    assert(recovered.schema == readB.schema)
    assert(recovered.as[(Long, Double, String)].collect().toSeq ==
      Seq((3L, 2.5d, "z")))
  }

  test("_schema records char/varchar as string, every field nullable") {
    import org.apache.spark.sql.types._
    val written = StructType(Seq(
      StructField("c", CharType(3), nullable = false),
      StructField("v", ArrayType(VarcharType(5), containsNull = false)),
      StructField("m", MapType(StringType, LongType,
        valueContainsNull = false), nullable = false)))
    assert(graft.ops.Versioned.readBackShape(written) == StructType(Seq(
      StructField("c", StringType),
      StructField("v", ArrayType(StringType)),
      StructField("m", MapType(StringType, LongType)))))
  }

  test("Exchange.promote records _schema: partition type kept") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_promschema_").toString + "/t"
    val d1 = Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
      .toDF("id", "date").withColumn("date", col("date").cast("date"))
    graft.ops.Exchange.promote(d1, dir, "date")
    assert(graft.ops.Exchange.table(spark, dir).schema ==
      spark.read.parquet(dir).schema)
    // a partial promote (one new partition, the old ones untouched)
    // keeps the recorded schema and reads every partition
    val d2 = Seq((3L, "2024-01-03")).toDF("id", "date")
      .withColumn("date", col("date").cast("date"))
    graft.ops.Exchange.promote(d2, dir, "date")
    val read = graft.ops.Exchange.table(spark, dir)
    assert(read.schema == spark.read.parquet(dir).schema)
    assert(read.orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L))
    // digit-only STRING partition values stay STRING — the writer's
    // type, where dir-name inference would have guessed INT
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_promschema2_").toString + "/t"
    graft.ops.Exchange.promote(
      Seq((1L, "3"), (2L, "07")).toDF("id", "pt"), dir2, "pt")
    val read2 = graft.ops.Exchange.table(spark, dir2)
    assert(read2.schema("pt").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(read2.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "3"), (2L, "07")))
  }

  test("raw append into a swapped dir stays readable (admitBatch path)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_appendschema_").toString + "/t"
    graft.ops.Exchange.swapTable(Seq((1L, "a")).toDF("id", "s"), dir)
    Seq((2L, "b")).toDF("id", "s").write.mode("append").parquet(dir)
    assert(graft.ops.Exchange.table(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("Exchange.table on a missing path throws AnalysisException") {
    // admitBatch's swap-recovery branch keys off exactly this exception
    val missing = java.nio.file.Files
      .createTempDirectory("graft_missing_").toString + "/absent"
    intercept[org.apache.spark.sql.AnalysisException](
      graft.ops.Exchange.table(spark, missing))
  }
}
