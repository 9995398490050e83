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
