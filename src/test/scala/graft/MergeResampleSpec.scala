package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Merge, Resample}
import graft.plans.ApproxRouting

/** Hand-computed expectations for the round-3 operators: MERGE/upsert
  * semantics and time-series resampling (forward-fill, RANGE-frame
  * trailing windows, linear interpolation). */
class MergeResampleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("Merge.upsert: source wins on match, unmatched rows survive both sides") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "tag", "v")
    val source = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("id", "tag", "v")
    val out = Merge.upsert(target, source, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "B", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("Merge.upsert: duplicate source keys resolve by sourceOrder") {
    val target = Seq((1L, 0L, "old")).toDF("id", "ver", "tag")
    val source = Seq((1L, 5L, "v5"), (1L, 9L, "v9")).toDF("id", "ver", "tag")
    // keep the LATEST source row per key: order by descending version via
    // a computed column is not supported in orderCols, so negate upstream
    val latestFirst = source.withColumn("__neg_ver", -col("ver"))
    val out = Merge.upsert(target.withColumn("__neg_ver", -col("ver")),
        latestFirst, Seq("id"), sourceOrder = Seq("__neg_ver"))
      .drop("__neg_ver")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 9L, "v9")))
  }

  test("Merge.merge: column-level update, insert, and conditional delete") {
    val target = Seq((1L, "a", 10.0, "keep"), (2L, "b", 20.0, "keep"),
      (3L, "c", 30.0, "drop")).toDF("id", "tag", "v", "note")
    val source = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("id", "tag", "v")
    // update only v on match → tag keeps the target value; target-only
    // rows with note == "drop" are deleted (NOT MATCHED BY SOURCE DELETE)
    val out = Merge.merge(target, source, Seq("id"), updates = Seq("v"),
        deleteWhen = Some(col("t.note") === "drop"))
      .orderBy("id").as[(Long, String, Double, String)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0, "keep"), (2L, "b", 99.0, "keep"),
      (4L, "d", 40.0, null)))
  }

  test("Merge.merge: NULL deleteWhen condition keeps the row (3VL)") {
    // SQL MERGE deletes only when the condition IS TRUE: a target-only
    // row whose tested column is NULL must survive, not be silently
    // dropped by a NULL WHERE.
    val target = Seq((1L, Some("drop"), 10.0), (2L, None, 20.0),
      (3L, Some("keep"), 30.0)).toDF("id", "note", "v")
    val source = Seq((9L, "s", 90.0)).toDF("id", "note", "v")
    val out = Merge.merge(target, source, Seq("id"),
        deleteWhen = Some(col("t.note") === "drop"))
      .orderBy("id").as[(Long, Option[String], Double)].collect().toSeq
    assert(out == Seq((2L, None, 20.0), (3L, Some("keep"), 30.0),
      (9L, Some("s"), 90.0)))
  }

  test("Merge.merge: NULL-on-both-sides key is MATCHED (null-safe join ⇒ update applies)") {
    // The <=> join condition matches null keys; presence must be derived
    // from literal flags, not key nullness, or this row is neither
    // matched nor in-target — skipping its update and exposing it to
    // deleteWhen.
    val target = Seq((Option.empty[Long], "old", 1.0),
      (Some(7L), "t7", 7.0)).toDF("id", "tag", "v")
    val source = Seq((Option.empty[Long], "new", 2.0)).toDF("id", "tag", "v")
    val out = Merge.merge(target, source, Seq("id"),
        deleteWhen = Some(lit(true)))
      .orderBy("v").as[(Option[Long], String, Double)].collect().toSeq
    // null-key row updated in place; the unmatched target row (7) is
    // deleted by the always-true NOT MATCHED BY SOURCE condition
    assert(out == Seq((None, "new", 2.0)))
  }

  test("Merge.merge: a user column named like an internal flag survives untouched") {
    // withColumn silently REPLACES same-named columns: before the fresh-
    // name guard, a user's __t_present column was overwritten with the
    // internal lit(true) flag and emitted corrupted (true instead of its
    // real NULL) — silently, since classification still worked.
    val target = Seq((1L, Option.empty[Boolean], 10.0))
      .toDF("id", "__t_present", "v")
    val source = Seq((2L, 99.0)).toDF("id", "v")
    val out = Merge.merge(target, source, Seq("id"))
      .orderBy("id").as[(Long, Option[Boolean], Double)].collect().toSeq
    assert(out == Seq((1L, None, 10.0), (2L, None, 99.0)))
  }

  test("Resample.dailyFfill: dense spine, forward-filled gaps, observed flag") {
    val obs = Seq(("k", d("2024-01-01"), 1.0), ("k", d("2024-01-04"), 4.0),
      ("j", d("2024-02-10"), 7.0)).toDF("key", "date", "v")
    val out = Resample.dailyFfill(obs, Seq("key"), "date", Seq("v"))
      .orderBy("key", "date")
      .as[(String, java.sql.Date, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      ("j", d("2024-02-10"), 7.0, true),
      ("k", d("2024-01-01"), 1.0, true),
      ("k", d("2024-01-02"), 1.0, false),
      ("k", d("2024-01-03"), 1.0, false),
      ("k", d("2024-01-04"), 4.0, true)))
  }

  test("Resample.dailyFfill: observed NULL is kept AND becomes the fill source") {
    // day1=1.0, day3=observed NULL, day5=5.0 → day2 fills 1.0; day3 keeps
    // its real NULL (not overwritten by day1); day4 fills NULL (the most
    // recent OBSERVED row, not the most recent non-null value).
    val obs = Seq(("k", d("2024-01-01"), Some(1.0)),
      ("k", d("2024-01-03"), Option.empty[Double]),
      ("k", d("2024-01-05"), Some(5.0))).toDF("key", "date", "v")
    val out = Resample.dailyFfill(obs, Seq("key"), "date", Seq("v"))
      .orderBy("date")
      .as[(String, java.sql.Date, Option[Double], Boolean)].collect().toSeq
    assert(out == Seq(
      ("k", d("2024-01-01"), Some(1.0), true),
      ("k", d("2024-01-02"), Some(1.0), false),
      ("k", d("2024-01-03"), None, true),
      ("k", d("2024-01-04"), None, false),
      ("k", d("2024-01-05"), Some(5.0), true)))
  }

  test("Resample.trailingRange: calendar-interval frame differs from ROWS on gaps") {
    // rows at day 1, 2, 9: the day-9 row's trailing-7-day window must
    // see ONLY itself (a 3-ROW frame would see all three)
    val obs = Seq(("k", d("2024-01-01"), 10.0), ("k", d("2024-01-02"), 20.0),
      ("k", d("2024-01-09"), 90.0)).toDF("key", "date", "v")
    val out = Resample.trailingRange(obs, Seq("key"), "date", "v", days = 7)
      .select("date", "n_in_range", "avg_in_range", "max_in_range")
      .orderBy("date")
      .as[(java.sql.Date, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      (d("2024-01-01"), 1L, 10.0, 10.0),
      (d("2024-01-02"), 2L, 15.0, 20.0),
      (d("2024-01-09"), 1L, 90.0, 90.0)))
  }

  test("Resample.dailyInterpolate: gaps take the straight line; ffill after last obs") {
    val obs = Seq(("k", d("2024-01-01"), 10.0), ("k", d("2024-01-04"), 40.0))
      .toDF("key", "date", "v")
    val out = Resample.dailyInterpolate(obs, Seq("key"), "date", "v")
      .select("date", "v").orderBy("date")
      .as[(java.sql.Date, Double)].collect().toSeq
    assert(out == Seq((d("2024-01-01"), 10.0), (d("2024-01-02"), 20.0),
      (d("2024-01-03"), 30.0), (d("2024-01-04"), 40.0)))
  }

  test("Resample.dailyInterpolate: observed NULL is kept; gaps interpolate across it") {
    // day1=10, day3=observed NULL, day5=50: the NULL row keeps its real
    // NULL, and days 2/4 interpolate on the day1→day5 NON-NULL segment
    // (20, 40) — an observed NULL must contribute neither anchor date
    // nor anchor value, or the slope across it is distorted.
    val obs = Seq(("k", d("2024-01-01"), Some(10.0)),
      ("k", d("2024-01-03"), Option.empty[Double]),
      ("k", d("2024-01-05"), Some(50.0))).toDF("key", "date", "v")
    val out = Resample.dailyInterpolate(obs, Seq("key"), "date", "v")
      .select("date", "v").orderBy("date")
      .as[(java.sql.Date, Option[Double])].collect().toSeq
    assert(out == Seq(
      (d("2024-01-01"), Some(10.0)),
      (d("2024-01-02"), Some(20.0)),
      (d("2024-01-03"), None),
      (d("2024-01-04"), Some(40.0)),
      (d("2024-01-05"), Some(50.0))))
  }

  test("Resample.dailyInterpolate: gaps after the last non-null obs forward-fill") {
    // day1=10, day3=observed NULL: day2 has no non-null next anchor →
    // forward-fills 10; the trailing observed NULL still keeps its NULL.
    val obs = Seq(("k", d("2024-01-01"), Some(10.0)),
      ("k", d("2024-01-03"), Option.empty[Double])).toDF("key", "date", "v")
    val out = Resample.dailyInterpolate(obs, Seq("key"), "date", "v")
      .select("date", "v").orderBy("date")
      .as[(java.sql.Date, Option[Double])].collect().toSeq
    assert(out == Seq(
      (d("2024-01-01"), Some(10.0)),
      (d("2024-01-02"), Some(10.0)),
      (d("2024-01-03"), None)))
  }

  test("Graft.registerFunctions makes every SQL kernel resolvable on a foreign session") {
    Graft.registerFunctions(spark)
    val n = spark.sql(
      "SELECT size(norm_tokens('a b')) + size(token_shingles('a b c', 2)) " +
        "+ token_stats('x y').n_tokens + size(winnow_fingerprint('a b c', 2, 4)) " +
        "+ CAST(vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS INT) " +
        "+ size(sign_band_buckets(array(1.0D, 2.0D), 4, 2, 2))")
      .head().getInt(0)
    // 2 + 2 + 2 + 1 + 11 + 2
    assert(n == 20)
  }

  /** A fresh session built with `GraftExtensions`. getOrCreate returns
    * the existing default session (extensions are only applied when a
    * session is CONSTRUCTED), so detach the default first — the new
    * session still reuses the running SparkContext — and restore it
    * after. */
  private def extensionSession(): SparkSession = {
    spark // force the shared session to exist before detaching it
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("GraftExtensions: a builder-injected session resolves every native kernel") {
    val s2 = extensionSession()
    import s2.implicits._
    val row = Seq("The quick brown fox").toDF("text")
      .selectExpr("size(norm_tokens(text)) AS n",
        "size(token_shingles(text, 2)) AS s",
        "token_stats(text).n_tokens AS ts",
        "size(winnow_fingerprint(text, 2, 4)) AS w")
      .as[(Int, Int, Int, Int)].head()
    assert(row == ((4, 3, 4, 1)))
    val vec = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .selectExpr("vec_dot(a, b) AS d",
        "size(sign_band_buckets(a, 4, 2, 2)) AS nb")
      .as[(Double, Int)].head()
    assert(vec == ((11.0, 2)))

    // ApproxRouting: with the accuracy key set, an exact percentile
    // aggregate is routed to the bounded-state approx_percentile sketch
    // by the injected optimizer rule — no query rewrite; key unset (the
    // default) leaves the exact aggregate untouched.
    val data = (1 to 1001).map(_.toDouble).toDF("x")
    def medianPlan(): (String, Double) = {
      val df = data.selectExpr("percentile(x, 0.5D) AS p50")
      (df.queryExecution.optimizedPlan.toString, df.as[Double].head())
    }
    val (exactPlan, exactVal) = medianPlan()
    assert(exactPlan.contains("percentile") &&
      !exactPlan.contains("percentile_approx"))
    assert(exactVal == 501.0)
    s2.conf.set(ApproxRouting.PercentileAccuracyKey, "10000")
    try {
      val (approxPlan, approxVal) = medianPlan()
      assert(approxPlan.contains("percentile_approx"),
        s"rule did not fire:\n$approxPlan")
      assert(math.abs(approxVal - 501.0) <= 1.0, s"approx p50 $approxVal")
    } finally s2.conf.unset(ApproxRouting.PercentileAccuracyKey)

    // both ANSI ordered-set forms route too: percentile_cont lowers to
    // the exact Percentile aggregate before the optimizer (first case
    // catches it); percentile_disc keeps its own aggregate and has its
    // own case
    data.createOrReplaceTempView("qr_data")
    s2.conf.set(ApproxRouting.PercentileAccuracyKey, "10000")
    try {
      val p = s2.sql(
        """SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS c,
          |       percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS d
          |FROM qr_data""".stripMargin)
      val plan = p.queryExecution.optimizedPlan.toString
      assert(plan.contains("percentile_approx") &&
        !plan.contains("percentile_disc"), s"plan:\n$plan")
      val (c, d) = p.as[(Double, Double)].head()
      assert(math.abs(c - 501.0) <= 1.0 && math.abs(d - 501.0) <= 1.0)
    } finally s2.conf.unset(ApproxRouting.PercentileAccuracyKey)

    // Graft.session (the library/pipeline entrypoint) defaults the
    // routing ON — a naive pipeline caller gets the bounded-state
    // sketch, and only sessions built elsewhere (Verify/Bench oracle
    // harnesses) keep exact percentile semantics
    // clear BOTH registries first or getOrCreate returns the
    // thread-active spec session instead of building a fresh one
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s3 =
      try Graft.session("graft-routing-default", "local[2]")
      finally {
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
      }
    assert(s3.conf.get(ApproxRouting.PercentileAccuracyKey) == "10000")
    val routed = {
      import s3.implicits._
      (1 to 1001).map(_.toDouble).toDF("x")
        .selectExpr("percentile(x, 0.5D) AS p50")
    }
    assert(routed.queryExecution.optimizedPlan.toString
      .contains("percentile_approx"),
      s"Graft.session did not route:\n${routed.queryExecution.optimizedPlan}")
  }

  test("ApproxRouting: an extension session's DataFrame API routes DESC, non-DOUBLE, FILTERed and windowed percentiles") {
    val s2 = extensionSession()
    import s2.implicits._
    val data = (1 to 1001).map(i => (i.toDouble, i)).toDF("x", "i")
    s2.conf.set(ApproxRouting.PercentileAccuracyKey, "10000")
    try {
      val df = data.agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x DESC)").as("d50"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x DESC)").as("d25"),
        expr("percentile(i, 0.5)").as("pi"),
        expr("percentile(x, 0.5) FILTER (WHERE x <= 501)").as("pf"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("percentile_disc(") && !plan.contains("percentile("),
        s"an exact percentile survived:\n$plan")
      // the INT column's sketch result is cast back to percentile's DOUBLE
      assert(df.schema("pi").dataType == org.apache.spark.sql.types.DoubleType)
      val r = df.head()
      // DESC mirrors: 0.25 from the top is the ascending 0.75 rank
      assert(math.abs(r.getDouble(0) - 501.0) <= 1.0, s"d50 ${r.getDouble(0)}")
      assert(math.abs(r.getDouble(1) - 751.0) <= 1.0, s"d25 ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 501.0) <= 1.0, s"pi ${r.getDouble(2)}")
      assert(math.abs(r.getDouble(3) - 251.0) <= 1.0, s"pf ${r.getDouble(3)}")
      // in a window the type-restoring cast wraps the window expression
      val w = data.select(expr("percentile(i, 0.5) OVER ()").as("wp"))
      assert(!w.queryExecution.optimizedPlan.toString.contains("percentile("))
      assert(w.schema("wp").dataType == org.apache.spark.sql.types.DoubleType)
      assert(math.abs(w.head().getDouble(0) - 501.0) <= 1.0)
    } finally s2.conf.unset(ApproxRouting.PercentileAccuracyKey)
  }

  test("ApproxRouting: the door on a raw session and spark.sql on an extension session route alike") {
    val s2 = extensionSession()
    val rows = (1 to 2000).map(i => (i % 3, i.toDouble, i % 250))
    val q = """SELECT g,
      percentile_cont(0.25) WITHIN GROUP (ORDER BY x) AS c,
      percentile_disc(0.25) WITHIN GROUP (ORDER BY x DESC) AS d,
      percentile(i, 0.5) AS p,
      percentile(x, 0.5) FILTER (WHERE x > 100) AS f,
      count(DISTINCT i) AS n
      FROM approx_hooks_src GROUP BY g ORDER BY g"""
    def answer(s: SparkSession, run: String => DataFrame) = {
      s.createDataFrame(rows).toDF("g", "x", "i")
        .createOrReplaceTempView("approx_hooks_src")
      s.conf.set(ApproxRouting.PercentileAccuracyKey, "10000")
      s.conf.set(ApproxRouting.DistinctRsdKey, "0.05")
      try {
        val df = run(q)
        val plan = df.queryExecution.optimizedPlan.toString
        assert(plan.contains("percentile_approx") &&
          plan.contains("approx_count_distinct") &&
          !plan.contains("percentile("), s"not routed:\n$plan")
        (df.schema, df.collect().toSeq)
      } finally {
        s.conf.unset(ApproxRouting.PercentileAccuracyKey)
        s.conf.unset(ApproxRouting.DistinctRsdKey)
      }
    }
    val door = new graft.ops.SqlLifecycle(spark,
      java.nio.file.Files.createTempDirectory("graft_approxhooks_").toString)
    // raw session: only the door hook routes
    val viaDoor = answer(spark, door.query)
    // extension session: only the optimizer hook routes
    val viaOptimizer = answer(s2, s2.sql)
    assert(viaDoor == viaOptimizer)
  }
}
