package graft

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKAgg
import graft.ops.Profile

/** Typed Aggregator and approximate-profile behavior. */
class AggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val topk5 = udaf(new TopKAgg(5),
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))

  test("TopKAgg equals the window top-k, ties broken by id, partitioning-independent") {
    // deterministic pseudo-random data with intentional score ties
    val rows = (1L to 500L).map { id =>
      (s"g${id % 3}", ((id * 37) % 11).toDouble, id)
    }
    val df = rows.toDF("grp", "score", "id").repartition(7) // force merges
    val got = df.groupBy("grp")
      .agg(topk5(col("score"), col("id")).as("ids"))
      .select(col("grp"), posexplode(col("ids")).as(Seq("pos", "id")))
      .select(col("grp"), (col("pos") + 1).as("rank"), col("id"))
    val w = Window.partitionBy("grp")
      .orderBy(col("score").desc, col("id"))
    val expected = df
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select(col("grp"), col("rank").cast("long"), col("id"))
    assert(got.orderBy("grp", "rank").collect().toSeq ==
      expected.orderBy("grp", "rank").collect().toSeq)
  }

  test("TopKAgg with k larger than the group returns every row, sorted") {
    val df = Seq(("g", 2.0, 1L), ("g", 9.0, 2L), ("g", 5.0, 3L))
      .toDF("grp", "score", "id")
    val ids = df.groupBy("grp")
      .agg(topk5(col("score"), col("id")).as("ids"))
      .select("ids").as[Seq[Long]].head()
    assert(ids == Seq(2L, 3L, 1L))
  }

  test("Clustering.kmeans: hand-computed two-round Lloyd on separable points") {
    import graft.ext.Clustering
    // two tight groups; stride-2 init seeds centroids from ids 0 (at 0.0)
    // and 2 (at 10.0); round 1 assigns {0,1} / {2,3}; the update moves
    // centroids to the group means; round 2 keeps the same assignment
    val pts = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0)),
      (2L, Array(10.0, 0.0)), (3L, Array(11.0, 0.0)))
      .toDF("vec_id", "embedding")
    val out = Clustering.kmeans(pts, "vec_id", "embedding",
        centroidStride = 2, iters = 2)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)))
  }

  test("Clustering.kmeans: distance ties break to the lower centroid id, updates shift cells") {
    import graft.ext.Clustering
    // stride 2 seeds THREE centroids: ids 0 (0.0), 2 (6.0), 4 (7.0).
    // Round 1: p5=3.0 is equidistant from seeds 0.0 and 6.0 (d²=9) →
    // lower centroid id wins → cluster 0; p3=4.0 → cluster 2 (d²=4).
    // Update: c0 → mean(0,1,3)=4/3, c2 → mean(6,4)=5, c4 → 7.
    // Round 2: p2=6.0 is now equidistant from c2=5 and c4=7 (d²=1) →
    // stays cluster 2 by the same tie rule; no other point moves.
    val pts = Seq(
      (0L, Array(0.0)), (1L, Array(1.0)), (2L, Array(6.0)),
      (3L, Array(4.0)), (4L, Array(7.0)), (5L, Array(3.0)))
      .toDF("vec_id", "embedding")
    val expected = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L),
      (4L, 4L), (5L, 0L))
    val r1 = Clustering.kmeans(pts, "vec_id", "embedding", 2, iters = 1)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    val r2 = Clustering.kmeans(pts, "vec_id", "embedding", 2, iters = 2)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(r1 == expected)
    assert(r2 == expected)
  }

  test("Exchange.compact: one partition's files collapse, content and other partitions untouched") {
    import graft.ops.Exchange
    val root = java.nio.file.Files.createTempDirectory("graft_compact_")
      .resolve("t").toString
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    // simulate incremental promotes: many small files in each partition
    (1 to 4).foreach { i =>
      Seq((d1, i.toLong, s"a$i"), (d2, i.toLong + 100, s"b$i"))
        .toDF("date", "v", "tag").repartition(3)
        .write.mode("append").partitionBy("date").parquet(root)
    }
    def files(day: String) =
      new java.io.File(s"$root/date=$day").listFiles()
        .count(_.getName.endsWith(".parquet"))
    val before = Exchange.table(spark, root).orderBy("v", "tag").collect().toSeq
    assert(files("2024-01-01") >= 4)             // one file per append
    Exchange.compact(spark, root, "date", d1)
    assert(files("2024-01-01") == 1)             // tiny data → one file
    assert(files("2024-01-02") >= 4)             // other partition untouched
    val after = Exchange.table(spark, root).orderBy("v", "tag").collect().toSeq
    assert(after.map(_.toString) == before.map(_.toString))
  }

  test("Exchange.promoteAtomic: swaps only staged partitions, leaves no debris") {
    import graft.ops.Exchange
    val root = java.nio.file.Files.createTempDirectory("graft_atomic_")
      .resolve("t").toString
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    Exchange.promoteAtomic(
      Seq((d1, 1L, "a"), (d2, 2L, "b")).toDF("date", "v", "tag"), root)
    // re-promote ONLY d1: d2 must be untouched, d1 fully replaced
    Exchange.promoteAtomic(Seq((d1, 10L, "A")).toDF("date", "v", "tag"), root)
    val rows = Exchange.table(spark, root)
      .select("date", "v", "tag").orderBy("v")
      .as[(java.sql.Date, Long, String)].collect().toSeq
    assert(rows == Seq((d2, 2L, "b"), (d1, 10L, "A")))
    // the commit must clean up after itself: no staging sibling, no
    // .old backups inside the table
    val parent = new java.io.File(root).getParentFile
    assert(parent.listFiles().forall(!_.getName.contains("__staging")))
    assert(new java.io.File(root).listFiles()
      .forall(f => !f.getName.endsWith(".old")))
  }

  test("Profile.quantilesApprox: within rank tolerance of exact quantiles") {
    import graft.ops.Profile
    val df = TestData.lineitem(spark)
    val probs = Seq(0.25, 0.5, 0.75)
    val approx = Profile.quantilesApprox(df, Seq("l_extendedprice"), probs)
      .collect().head
    // exact reference values via the exact percentile aggregate
    val exact = df.selectExpr(
      "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D)) AS q")
      .collect().head.getSeq[Double](0)
    probs.indices.foreach { i =>
      val a = approx.getDouble(1 + i)
      val e = exact(i)
      assert(math.abs(a - e) / e < 0.05, s"p${probs(i)}: approx $a exact $e")
    }
  }

  test("Profile.numericApprox matches exact profile except HLL distinct within tolerance") {
    val df = TestData.lineitem(spark)
    val cols = Seq("l_quantity", "l_extendedprice")
    def keyed(rows: Array[Row]) =
      rows.map(r => r.getString(0) -> r).toMap
    val exact = keyed(Profile.numeric(df, cols).collect())
    val approx = keyed(Profile.numericApprox(df, cols, rsd = 0.02).collect())
    cols.foreach { c =>
      val e = exact(c); val a = approx(c)
      // everything but n_distinct is computed identically
      Seq(1, 2, 4, 5, 6).foreach(i => assert(a.get(i) == e.get(i), s"$c field $i"))
      val eDist = e.getLong(3).toDouble
      assert(math.abs(a.getLong(3) - eDist) <= math.max(eDist * 0.10, 2.0),
        s"$c approx distinct ${a.getLong(3)} vs exact $eDist")
    }
  }

  test("IncrementalAgg sketches: merge-of-partials == whole-input, exact at gate cardinality") {
    import graft.ops.IncrementalAgg
    // 3 partitions × 2 groups, per-group distinct user counts small
    // enough that the HLL stays in exact coupon mode
    val rows = (1L to 600L).map { i =>
      (s"p${i % 3}", s"g${i % 2}", s"user${i % 97}", i)
    }
    val df = rows.toDF("part", "grp", "user", "id").repartition(7)
    val state = IncrementalAgg.sketchState(df, "part", Seq("grp"), Seq("user"))
    // merge-of-partials ≡ whole-input: the per-group union of the 3
    // partition cells estimates exactly what one whole-input sketch does
    val merged = IncrementalAgg.distinctCounts(state, Seq("grp"), Seq("user"))
      .as[(String, Long)].collect().toMap
    val whole = df.groupBy("grp")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user"), lit(12)))
        .as("d"))
      .as[(String, Long)].collect().toMap
    assert(merged == whole)
    // exactness vs countDistinct at this cardinality
    val exact = df.groupBy("grp")
      .agg(countDistinct(col("user")).as("d"))
      .as[(String, Long)].collect().toMap
    assert(merged == exact)
  }

  test("IncrementalAgg.replaceCells equals re-sketch after partition replacement") {
    import graft.ops.IncrementalAgg
    val base = (1L to 600L).map { i =>
      (s"p${i % 3}", s"g${i % 2}", s"user${i % 97}")
    }.toDF("part", "grp", "user")
    val state = IncrementalAgg.sketchState(base, "part", Seq("grp"), Seq("user"))
    // replace partition p1 with a smaller, different user universe and
    // drop p2 entirely (old side present, no new rows)
    val oldChanged = base.where(col("part").isin("p1", "p2"))
    val newChanged = (1L to 50L).map(i => ("p1", s"g${i % 2}", s"fresh${i % 13}"))
      .toDF("part", "grp", "user")
    val maintained = IncrementalAgg.replaceCells(state, oldChanged,
      newChanged, "part")(
      IncrementalAgg.sketchState(_, "part", Seq("grp"), Seq("user")))
    val after = base.where(col("part") === "p0").unionByName(newChanged)
    val want = IncrementalAgg.distinctCounts(
      IncrementalAgg.sketchState(after, "part", Seq("grp"), Seq("user")),
      Seq("grp"), Seq("user")).as[(String, Long)].collect().toMap
    val got = IncrementalAgg.distinctCounts(maintained, Seq("grp"), Seq("user"))
      .as[(String, Long)].collect().toMap
    assert(got == want)
    // and both equal the exact recompute at this cardinality
    val exact = after.groupBy("grp").agg(countDistinct(col("user")).as("d"))
      .as[(String, Long)].collect().toMap
    assert(got == exact)
    // maintained state stays partition-grained: p2's cells are gone
    assert(maintained.where(col("part") === "p2").isEmpty)
  }

  test("IncrementalAgg min/max + top-k cells: maintained == recompute incl. dropped partition; per-key-agg pitfall dodged") {
    import graft.ops.IncrementalAgg
    val base = (1L to 600L).map { i =>
      (s"p${i % 3}", s"g${i % 2}", i, (i * 37 % 1000).toDouble)
    }.toDF("part", "grp", "id", "v")
    // replace p1 (new values, some holding new extremes), DROP p2
    val oldChanged = base.where(col("part").isin("p1", "p2"))
    val newChanged = (1L to 40L).map(i =>
      ("p1", s"g${i % 2}", 10000L + i, 2000.0 + i))
      .toDF("part", "grp", "id", "v")
    val after = base.where(col("part") === "p0").unionByName(newChanged)

    // ---- min/max
    val mmState = IncrementalAgg.minMaxState(base, "part", Seq("grp"), Seq("v"))
    val mm = IncrementalAgg.minMaxValues(
      IncrementalAgg.replaceCells(mmState, oldChanged, newChanged, "part")(
        IncrementalAgg.minMaxState(_, "part", Seq("grp"), Seq("v"))),
      Seq("grp"), Seq("v"))
      .as[(String, Double, Double)].collect()
      .map { case (g, mn, mx) => g -> (mn, mx) }.toMap
    val mmWant = after.groupBy("grp").agg(min(col("v")), max(col("v")))
      .as[(String, Double, Double)].collect()
      .map { case (g, mn, mx) => g -> (mn, mx) }.toMap
    assert(mm == mmWant)
    // the new p1 rows hold the global max — a subtract-style rule
    // could never have produced this; the cell rule must
    assert(mmWant.values.forall(_._2 >= 2000.0))

    // ---- top-k rows
    val k = 4
    val tkState = IncrementalAgg.topKState(base, "part", Seq("grp"),
      "v", "id", k)
    // cells are bounded: at most k rows per (part, grp)
    val cellMax = tkState.groupBy("part", "grp").count()
      .agg(max(col("count"))).as[Long].head()
    assert(cellMax <= k)
    val tkMaintained = IncrementalAgg.replaceCells(tkState, oldChanged,
      newChanged, "part")(
      IncrementalAgg.topKState(_, "part", Seq("grp"), "v", "id", k))
    val got = IncrementalAgg.topKValues(tkMaintained, Seq("grp"), "v", "id", k)
      .select(col("grp"), col("rank"), col("id"), col("v"))
      .as[(String, Int, Long, Double)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v").desc, col("id").asc)
    val want = after.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("grp"), col("rank"), col("id"), col("v"))
      .as[(String, Int, Long, Double)].collect().toSet
    assert(got == want)
    // dropped partition p2 contributes no cells after maintenance
    assert(tkMaintained.where(col("part") === "p2").isEmpty)

    // ---- the documented pitfall, demonstrated: per-key SUM top-1 from
    // per-cell top-1-by-sum is WRONG (key "b" is 2nd in every cell but
    // global 1st); the sound path (full `maintain` + rank at read) is
    // right.
    val skew = Seq(
      ("p0", "a", 10.0), ("p0", "b", 9.0), ("p0", "c", 1.0),
      ("p1", "c", 10.0), ("p1", "b", 9.0), ("p1", "a", 1.0),
      ("p2", "a", 0.5), ("p2", "b", 9.0), ("p2", "c", 0.5)
    ).toDF("part", "key", "v")
    val naive = skew.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("part"))
          .orderBy(col("v").desc, col("key").asc)))
      .where(col("rn") === 1)
      .groupBy("key").agg(sum(col("v")).as("s"))
      .orderBy(col("s").desc).select("key").as[String].head()
    val sound = skew.groupBy("key").agg(sum(col("v")).as("s"))
      .orderBy(col("s").desc).select("key").as[String].head()
    assert(sound == "b" && naive != "b")
  }

  test("IncrementalAgg.maintainJoin equals recompute when both sides change; unchanged side is a no-op") {
    import graft.ops.IncrementalAgg
    // fact partitioned by part, dim by bucket; groups span both sides
    val fact = (1L to 400L).map { i =>
      (s"p${i % 4}", i % 23, s"m${i % 3}", BigDecimal(i * 7 % 100))
    }.toDF("part", "k", "m", "v").withColumn("v", col("v").cast("decimal(18,2)"))
    val dim = (0L to 22L).map(k => (s"b${k % 2}", k, s"seg${k % 5}"))
      .toDF("bucket", "k", "seg")
    val keys = Seq("k"); val groups = Seq("m", "seg"); val sums = Seq("v")
    val state = IncrementalAgg.joinAggregate(fact, dim, keys, groups, sums)
    // fact change: replace p1 (rescaled), drop p3 entirely
    val oldF = fact.where(col("part").isin("p1", "p3"))
    val newF = fact.where(col("part") === "p1")
      .withColumn("v", (col("v") * 3).cast("decimal(18,2)"))
    val factAfter = fact.where(col("part").isin("p0", "p2")).unionByName(newF)
    // dim change: bucket b1 rewritten — odd keys move segment, even
    // keys ride along unchanged (they must cancel in the delta)
    val oldD = dim.where(col("bucket") === "b1")
    val newD = oldD.withColumn("seg",
      when(col("k") % 2 === 1, lit("segX")).otherwise(col("seg")))
    val dimAfter = dim.where(col("bucket") === "b0").unionByName(newD)
    val maintained = IncrementalAgg.maintainJoin(state,
      oldFact = fact, oldFactChanged = oldF, newFactChanged = newF,
      newDim = dimAfter, oldDimChanged = oldD, newDimChanged = newD,
      keys, groups, sums)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("m"), col("seg"), col("n_rows"),
          col("sum_v").cast("double").as("s"))
        .as[(String, String, Long, Double)].collect().sorted.toSeq
    assert(canon(maintained) ==
      canon(IncrementalAgg.joinAggregate(factAfter, dimAfter, keys, groups, sums)))
    // a no-op dim window degenerates to the single-relation rule
    val empty = dim.where(lit(false))
    val factOnly = IncrementalAgg.maintainJoin(state,
      oldFact = fact, oldFactChanged = oldF, newFactChanged = newF,
      newDim = dim, oldDimChanged = empty, newDimChanged = empty,
      keys, groups, sums)
    assert(canon(factOnly) ==
      canon(IncrementalAgg.joinAggregate(factAfter, dim, keys, groups, sums)))
  }

  test("IncrementalAgg quantiles: α-bounded vs exact, merge ≡ whole-input, zero/negative contract") {
    import graft.ops.IncrementalAgg
    val alpha = 0.01
    // 3 partitions × 2 groups over a 4-decade value range, plus zeros
    val rows = (1L to 3000L).map { i =>
      val v = if (i % 100 == 0) 0d else math.exp((i % 907).toDouble / 100)
      (s"p${i % 3}", s"g${i % 2}", v)
    }
    val df = rows.toDF("part", "grp", "v").repartition(7)
    val state = IncrementalAgg.quantileState(df, "part", Seq("grp"), "v", alpha)
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    // merge-of-partials ≡ whole-input: bucket rows merge by addition,
    // so reading the 3-partition state equals re-sketching in one cell
    val merged = IncrementalAgg.quantileValues(state, Seq("grp"), qs, alpha)
      .select("grp", "q", "bucket", "est")
      .as[(String, Double, Int, Double)].collect().toSet
    val whole = IncrementalAgg.quantileValues(
        IncrementalAgg.quantileState(
          df.withColumn("part", lit("all")), "part", Seq("grp"), "v", alpha),
        Seq("grp"), qs, alpha)
      .select("grp", "q", "bucket", "est")
      .as[(String, Double, Int, Double)].collect().toSet
    assert(merged == whole)
    // α relative-error bound vs the EXACT ORDER STATISTIC at the
    // sketch's own rank rule ⌊q·(N−1)⌋+1 — the DDSketch guarantee is
    // against the rank-matched element, not the interpolated
    // percentile (which sits between elements and can add up to a
    // bucket-width of extra distance on sparse data)
    val byGroup = rows.groupBy(_._2)
      .map { case (g, rs) => g -> rs.map(_._3).sorted.toIndexedSeq }
    for ((grp, q, _, est) <- merged) {
      val sortedVs = byGroup(grp)
      val ex = sortedVs(math.floor(q * (sortedVs.size - 1)).toInt)
      if (ex == 0d) assert(est == 0d, s"$grp q=$q: zero percentile")
      else assert(math.abs(est - ex) <= alpha * ex * 1.0001,
        s"$grp q=$q: est $est vs exact $ex exceeds α=$alpha")
    }
    // maintenance ≡ re-sketch after a partition replacement
    val oldChanged = df.where(col("part") === "p1")
    val newChanged = oldChanged.withColumn("v", col("v") * 3)
    val maintained = IncrementalAgg.replaceCells(state, oldChanged,
      newChanged, "part")(
      IncrementalAgg.quantileState(_, "part", Seq("grp"), "v", alpha))
    val after = df.where(col("part") =!= "p1").unionByName(newChanged)
    val want = IncrementalAgg.quantileState(after, "part", Seq("grp"), "v", alpha)
      .as[(String, String, Int, Long)].collect().toSet
    assert(maintained.as[(String, String, Int, Long)].collect().toSet == want)
    // negative values are rejected, not silently mis-bucketed
    val e = intercept[Exception] {
      Seq(("p0", "g0", -1d)).toDF("part", "grp", "v")
        .transform(IncrementalAgg.quantileState(_, "part", Seq("grp"), "v"))
        .collect()
    }
    assert(e.getMessage != null)
  }
}

/** Tiny shared loader for specs that want real testdata shapes. */
object TestData {
  def lineitem(spark: org.apache.spark.sql.SparkSession) =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
}
