package graft

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas
import graft.ops.{Ingest, Quality, Rolling}

/** Shared local session for specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bars(rows: (String, String, Double, Double, Double, Double, Long)*) =
    rows.toSeq.toDF("ticker", "d", "open", "high", "low", "close", "volume")
      .withColumn("date", to_date($"d")).drop("d")

  // Reference window semantics (dags/dag.py:385-437): frame of ≤7 observed
  // rows, arrays oldest→newest, sample stddev with NULL→0 for 1-row frames.
  test("Rolling.metrics: frame order, bounded arrays, stddev coalesce") {
    val in = bars(
      ("A", "2024-01-01", 1, 1, 1, 10, 100),
      ("A", "2024-01-02", 1, 1, 1, 20, 200),
      ("A", "2024-01-03", 1, 1, 1, 30, 300),
      ("B", "2024-01-01", 1, 1, 1, 5, 50))
    val out = Rolling.metrics(in, Seq("ticker"), "date",
      Seq("close", "volume"), "volume", "close")
    val a3 = out.where($"ticker" === "A" && $"date" === "2024-01-03")
      .select("last_7_days_close", "last_7_days_volume",
        "avg_7_day_volume", "volatility_7_day").head()
    assert(a3.getSeq[Double](0) == Seq(10.0, 20.0, 30.0)) // oldest→newest
    assert(a3.getSeq[Long](1) == Seq(100L, 200L, 300L))
    assert(a3.getDouble(2) == 200.0)
    assert(math.abs(a3.getDouble(3) - 10.0) < 1e-9) // stddev_samp(10,20,30)
    val b1 = out.where($"ticker" === "B").select("volatility_7_day").head()
    assert(b1.getDouble(0) == 0.0) // 1-row frame: NULL stddev → 0
  }

  test("Rolling.metrics: frame capped at 7 rows") {
    val in = bars((1 to 10).map(i =>
      ("A", f"2024-01-$i%02d", 1.0, 1.0, 1.0, i.toDouble, i.toLong)): _*)
    val out = Rolling.metrics(in, Seq("ticker"), "date", Seq("close"), "volume", "close")
    val last = out.where($"date" === "2024-01-10").select("last_7_days_close").head()
    assert(last.getSeq[Double](0) == (4 to 10).map(_.toDouble))
  }

  // Reference per-run shape: 8-calendar-day inclusive pre-filter, only ds
  // rows kept (dags/dag.py:399-400,436) — gaps (weekends) simply absent.
  test("Rolling.forDay: trailing 8-day range, ds-only output") {
    val in = bars(
      ("A", "2024-01-01", 1, 1, 1, 1, 1), // outside 8-day range of Jan 10
      ("A", "2024-01-03", 1, 1, 1, 2, 1), // = ds-7 → inside (inclusive)
      ("A", "2024-01-05", 1, 1, 1, 3, 1),
      ("A", "2024-01-10", 1, 1, 1, 4, 1))
    val out = Rolling.forDay(in, LocalDate.parse("2024-01-10"), Seq("ticker"),
      "date", Seq("close"), "volume", "close")
    val rows = out.collect()
    assert(rows.length == 1 && rows(0).getAs[Date]("date") == Date.valueOf("2024-01-10"))
    assert(out.select("last_7_days_close").head().getSeq[Double](0) == Seq(2.0, 3.0, 4.0))
  }

  test("Ingest.dailyBars: open/close by id order, volume = count") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "c", 10.0),
      (2L, "2024-01-01 11:00:00", 7L, "c", 30.0),
      (3L, "2024-01-01 12:00:00", 7L, "c", 20.0)
    ).toDF("event_id", "t", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp($"t"))
    val b = Ingest.dailyBars(ev, Seq("user_id", "event_type"), "ts", "value", "event_id")
      .select("open", "high", "low", "close", "volume").head()
    assert(b.getDouble(0) == 10.0 && b.getDouble(1) == 30.0 &&
      b.getDouble(2) == 10.0 && b.getDouble(3) == 20.0 && b.getLong(4) == 3L)
  }

  test("Ingest.resampleBars: weekly open/close from the earliest/latest daily bar, extrema and volume aggregate") {
    // 2024-01-01 is a Monday: days 1-3 are one ISO week, day 8 the next
    val daily = Seq(
      ("2024-01-01", 10.0, 15.0, 9.0, 12.0, 3L),
      ("2024-01-02", 12.5, 20.0, 11.0, 18.0, 2L),
      ("2024-01-03", 18.5, 19.0, 8.0, 9.5, 4L),
      ("2024-01-08", 9.0, 9.0, 9.0, 9.0, 1L)
    ).toDF("d", "open", "high", "low", "close", "volume")
      .withColumn("date", to_date($"d"))
      .withColumn("user_id", lit(7L)).withColumn("event_type", lit("c"))
    val w = Ingest.resampleBars(daily, Seq("user_id", "event_type"),
        "date", date_trunc("week", $"date").cast("date"), "week")
      .orderBy("week")
      .select("week", "open", "high", "low", "close", "volume").collect()
    assert(w.length == 2)
    assert(w(0).getDate(0).toString == "2024-01-01" &&
      w(0).getDouble(1) == 10.0 && w(0).getDouble(2) == 20.0 &&
      w(0).getDouble(3) == 8.0 && w(0).getDouble(4) == 9.5 &&
      w(0).getLong(5) == 9L)
    assert(w(1).getDate(0).toString == "2024-01-08" &&
      w(1).getDouble(1) == 9.0 && w(1).getLong(5) == 1L)
  }

  test("Ingest.firstPerDay keeps exactly one row per key-day") {
    val ev = Seq(
      (2L, "2024-01-01 10:00:00", 7L, "c", 1.0),
      (1L, "2024-01-01 10:00:00", 7L, "c", 2.0), // ts tie → event_id breaks
      (3L, "2024-01-02 09:00:00", 7L, "c", 3.0)
    ).toDF("event_id", "t", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp($"t"))
    val out = Ingest.firstPerDay(ev, Seq("user_id", "event_type"), "ts", Seq("ts", "event_id"))
    assert(out.count() == 2)
    assert(out.where($"date" === "2024-01-01").select("event_id").head().getLong(0) == 1L)
  }

  // Reference DQ semantics (dags/dag.py:202-277): 6 checks, PASS on
  // actual == expected, advisory report shape.
  test("Quality.stockChecks: one failing row per violation class") {
    val ds = LocalDate.parse("2024-01-10")
    val d = "2024-01-10"
    val staged = Seq(
      ("AAPL", d, Some(1.0), Some(2.0), Some(0.5), Some(1.5), 10L),
      ("AMZN", d, None, Some(2.0), Some(0.5), Some(1.5), 10L),      // null open
      ("NFLX", d, Some(1.0), Some(0.4), Some(0.5), Some(0.45), 10L), // high<low
      ("GOOGL", d, Some(1.0), Some(2.0), Some(0.5), Some(1.5), 0L),  // volume<=0
      ("META", "2024-01-09", Some(1.0), Some(2.0), Some(0.5), Some(1.5), 10L), // off-date
      ("BOGUS", d, Some(1.0), Some(2.0), Some(0.5), Some(1.5), 10L)  // not whitelisted
    ).toDF("ticker", "dt", "open", "high", "low", "close", "volume")
      .withColumn("date", to_date($"dt")).drop("dt")
    val rep = Quality.report(staged, Quality.stockChecks(ds, Schemas.TickerWhitelist))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(rep("Missing stocks check") == ((6L, "FAIL"))) // 6 distinct ≠ 5
    assert(rep("Null values check") == ((1L, "FAIL")))
    assert(rep("Invalid OHLC relationship check") == ((1L, "FAIL")))
    assert(rep("Invalid volume check") == ((1L, "FAIL")))
    assert(rep("Date consistency check") == ((1L, "FAIL")))
    assert(rep("Invalid ticker check") == ((1L, "FAIL")))
  }

  test("BloomPrune.semiJoin equals the plain semi-join; the bloom prunes") {
    import graft.ops.BloomPrune
    val small = Seq(1L, 5L, 9L, 13L).toDF("k")
    val big = (1 to 1000).map(i => (i.toLong % 50, i.toLong))
      .toDF("k2", "row_id")
    val plain = big.join(small, $"k2" === $"k", "left_semi").orderBy("row_id")
    val got = BloomPrune.semiJoin(big, small, "k2", "k").orderBy("row_id")
    assert(got.collect().toSeq == plain.collect().toSeq)
    // no false negatives (every true match survives the pruned scan);
    // real pruning (the scan drops the bulk of the non-matching rows —
    // deterministic for a fixed key set, fpp bounds it statistically)
    val pruned = BloomPrune.prunedScan(big, "k2",
      BloomPrune.keyBloom(small, "k")).count()
    assert(pruned >= plain.count() && pruned < big.count() / 2)
  }

  test("ZOrder.zkey: hand-computed interleave, quadrant locality, range guard") {
    import graft.ops.ZOrder
    // n=2, bits=2: out bit0 = x bit0, bit1 = y bit0, bit2 = x bit1,
    // bit3 = y bit1. (x=2, y=1) -> 0b0110 = 6.
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (2L, 1L), (3L, 3L))
      .toDF("x", "y")
    val z = pts.select($"x", $"y",
        ZOrder.zkey(Seq($"x", $"y"), 2).as("z"))
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(z((0L, 0L)) == 0L && z((1L, 0L)) == 1L && z((0L, 1L)) == 2L)
    assert(z((2L, 1L)) == 6L && z((3L, 3L)) == 15L)
    // quadrant locality: the top n bits of z are the columns' top bits,
    // so sorting by z keeps each quadrant contiguous
    val all = (for (x <- 0L until 4L; y <- 0L until 4L) yield (x, y))
      .toDF("x", "y")
    val byZ = all.select(($"x" / 2).cast("long").as("qx"),
        ($"y" / 2).cast("long").as("qy"),
        ZOrder.zkey(Seq($"x", $"y"), 2).as("z"))
      .orderBy("z").select("qx", "qy").as[(Long, Long)].collect().toSeq
    assert(byZ.grouped(4).map(_.distinct.size).toSeq == Seq(1, 1, 1, 1))
    // out-of-range raises instead of silently scattering the layout
    val err = intercept[Exception] {
      Seq(4L).toDF("x").select(ZOrder.zkey(Seq($"x"), 2)).collect()
    }
    assert(err.getMessage.contains("zkey"))
  }

  test("optimizeZOrder: file skipping becomes selective on every z-dimension") {
    import graft.ops.{VersionedPartitioned => VP}
    val root = java.nio.file.Files
      .createTempDirectory("graft_zopt_").resolve("t").toString
    // 64x64 grid written x-major: every 256-row file spans y fully, so
    // y-range stats pruning skips NOTHING before the rewrite
    val df = (0 until 4096).map(i => (i.toLong, (i / 64).toLong, (i % 64).toLong))
      .toDF("id", "x", "y").withColumn("p", lit("all"))
    VP.promote(df, root, "p", cluster = false,
      statsCols = Seq("x", "y"), maxRecordsPerFile = 256L)
    val total = VP.prunedFiles(spark, root, "y", 0L, 63L).size
    assert(VP.prunedFiles(spark, root, "y", 10L, 13L).size == total)
    VP.optimizeZOrder(spark, root, Seq(col("x"), col("y")), bits = 6,
      statsCols = Seq("x", "y"), maxRecordsPerFile = 256L)
    val after = VP.prunedFiles(spark, root, "y", 0L, 63L).size
    val afterY = VP.prunedFiles(spark, root, "y", 10L, 13L).size
    val afterX = VP.prunedFiles(spark, root, "x", 10L, 13L).size
    // z-contiguous files are quadrant blocks: a 4-wide band intersects
    // one 16-row block stripe = 1/4 of the files, on EITHER dimension
    assert(afterY < after / 2, s"y pruning kept $afterY of $after files")
    assert(afterX < after / 2, s"x pruning kept $afterX of $after files")
    // the rewrite is content-preserving
    assert(VP.read(spark, root).select("id").as[Long].collect().sorted
      .toSeq == (0L until 4096L))
  }

  test("optimizeZOrderWhere rewrites only the kept partitions") {
    import graft.ops.{VersionedPartitioned => VP}
    val root = java.nio.file.Files
      .createTempDirectory("graft_zoptw_").resolve("t").toString
    val df = (0 until 512).map(i =>
        (i.toLong, (i % 16).toLong, (i / 16).toLong, if (i < 256) "a" else "b"))
      .toDF("id", "x", "y", "p")
    VP.promote(df, root, "p", statsCols = Seq("x", "y"),
      maxRecordsPerFile = 64L)
    val v1 = VP.currentVersion(spark, root).get
    val m1 = VP.history(spark, root).maxBy(_._1)._2.entries
    VP.optimizeZOrderWhere(spark, root, Seq(col("x"), col("y")), bits = 5,
      statsCols = Seq("x", "y"), keep = _ == "a", maxRecordsPerFile = 64L)
    val m2 = VP.history(spark, root).maxBy(_._1)._2.entries
    // partition b's snapshot assignment is untouched; a's moved
    assert(m2("p=b") == m1("p=b") && m2("p=a") != m1("p=a"))
    // content preserved, old version still readable
    assert(VP.read(spark, root).count() == 512L)
    assert(VP.readAt(spark, root, v1).count() == 512L)
  }

  test("Fuzzy.selfJoin: blocked pairs match brute force within the block") {
    import graft.ops.Fuzzy
    val names = Seq("red widget", "rad widget", "red gadget", "blue bolt",
      "blue belt", "green gear", "red widgets", "totally different")
      .toDF("name")
    val got = Fuzzy.selfJoin(names, "name", maxDist = 2)
      .as[(String, String, Int)].collect().toSet
    // brute force over pairs sharing first or last token
    def keys(s: String) = { val t = s.split(" "); Set(t.head, t.last) }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
      d(a.length)(b.length)
    }
    val all = names.as[String].collect().toSeq
    val brute = (for {
      x <- all; y <- all if x < y
      if keys(x).intersect(keys(y)).nonEmpty && lev(x, y) <= 2
    } yield (x, y, lev(x, y))).toSet
    assert(got == brute && got.nonEmpty)
    assert(got.contains(("rad widget", "red widget", 1)))
  }

  test("Cooccur.pairs: support counts, dup rows collapse, size guard") {
    import graft.ops.Cooccur
    // baskets: (1: a,b,c), (2: a,b), (3: a,b — with a duplicated row),
    // (4: a,c), (5: giant basket that must be excluded)
    val rows = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "a"), (3L, "b"), (4L, "a"), (4L, "c")) ++
      (1 to 50).map(i => (5L, s"x$i"))
    val df = rows.toDF("basket", "item")
    val got = Cooccur.pairs(df, "basket", "item", minSupport = 2L,
        maxBasketSize = 10L)
      .orderBy("item_a", "item_b")
      .as[(String, String, Long)].collect().toSeq
    // (a,b) in baskets 1,2,3 (dup row counted once); (a,c) in 1,4
    assert(got == Seq(("a", "b", 3L), ("a", "c", 2L)))
    val over = Cooccur.oversizedBaskets(df, "basket", "item", 10L)
      .as[(Long, Long)].collect().toSeq
    assert(over == Seq((5L, 50L)))
  }

  test("Diff.snapshotDiff: insert/delete/update classification, NULL semantics") {
    import graft.ops.Diff
    val old_ = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None),
      (4L, Some(40.0)), (5L, Some(50.0)))
      .toDF("k", "v")
    val new_ = Seq((1L, Some(10.0)), (2L, Some(21.0)), (3L, None),
      (5L, None), (6L, Some(60.0)))
      .toDF("k", "v")
    val got = Diff.snapshotDiff(old_, new_, Seq("k"))
      .orderBy("k").as[(Long, String)].collect().toSeq
    // 1 unchanged (dropped), 2 updated, 3 NULL→NULL unchanged (dropped),
    // 4 deleted, 5 value→NULL update, 6 inserted
    assert(got == Seq((2L, "update"), (4L, "delete"), (5L, "update"),
      (6L, "insert")))
    val all = Diff.snapshotDiff(old_, new_, Seq("k"), keepUnchanged = true)
    assert(all.count() == 6 &&
      all.where($"change_type" === "unchanged").count() == 2)
    // mismatched schemas fail loudly, not silently mis-classify
    intercept[IllegalArgumentException] {
      Diff.snapshotDiff(old_, new_.withColumnRenamed("v", "w"), Seq("k"))
    }
  }

  test("Diff.snapshotDiff: a NULL in a key column matches the same NULL key") {
    import graft.ops.Diff
    val old_ = Seq((1L, None, 1L), (1L, Some("A"), 2L), (2L, None, 4L),
      (3L, None, 6L)).toDF("p", "k", "v")
    val new_ = Seq((1L, None, 1L), (1L, Some("A"), 2L), (1L, Some("B"), 3L),
      (2L, None, 5L)).toDF("p", "k", "v")
    // (1, NULL) unchanged, (2, NULL) updated, (3, NULL) deleted
    val got = Diff.snapshotDiff(old_, new_, Seq("p", "k"))
      .orderBy("p", "k").as[(Long, Option[String], String)].collect().toSeq
    assert(got == Seq((1L, Some("B"), "insert"), (2L, None, "update"),
      (3L, None, "delete")))
    val all = Diff.snapshotDiff(old_, new_, Seq("p", "k"), keepUnchanged = true)
    assert(all.count() == 5 && all.where($"change_type" === "unchanged").count() == 2)
  }

  test("Profile.histogram: bucket math, clamping, null drop, sparse output") {
    import graft.ops.Profile
    val df = Seq(Some(-5.0), Some(0.0), Some(9.99), Some(10.0), Some(35.0),
      Some(100.0), None).toDF("x")
    val got = Profile.histogram(df, "x", lo = 0.0, hi = 40.0, nBuckets = 4)
      .orderBy("bucket")
      .as[(Long, Double, Double, Long)].collect().toSeq
    // -5 clamps into bucket 0; 100 clamps into bucket 3; 10.0 is the
    // half-open boundary (bucket 1); 35 → bucket 3; NULL dropped;
    // bucket 2 is empty → absent
    assert(got == Seq((0L, 0.0, 10.0, 3L), (1L, 10.0, 20.0, 1L),
      (3L, 30.0, 40.0, 2L)))
  }

  test("Retention.rollingActiveUsers: trailing distinct, observed days only") {
    import graft.ops.Retention
    // A active on day 1 and day 9; B on day 2; C on day 2 twice (dup
    // events collapse). Observed days: 1, 2, 9.
    val in = Seq((1L, "2024-01-01"), (1L, "2024-01-09"), (2L, "2024-01-02"),
      (3L, "2024-01-02"), (3L, "2024-01-02"))
      .toDF("user_id", "d").withColumn("ts", to_timestamp($"d"))
    val got = Retention.rollingActiveUsers(in, "user_id", "ts", window = 7)
      .orderBy("report_day")
      .as[(java.sql.Date, Long)].collect()
      .map(t => t._1.toString -> t._2).toSeq
    // day 1: {A}; day 2: {A, B, C}; day 9: {A} (days 3-8 unobserved →
    // absent; A's day-1 activity expired from day 9's trailing window
    // but day-9 activity counts)
    assert(got == Seq("2024-01-01" -> 1L, "2024-01-02" -> 3L,
      "2024-01-09" -> 1L))
  }

  test("Rolling.ewmaHalfLife: hand-computed weights, frame bound, key isolation") {
    import graft.ops.Rolling
    val in = Seq(("a", "2024-01-01", 1.0), ("a", "2024-01-02", 2.0),
      ("a", "2024-01-03", 4.0), ("b", "2024-01-01", 100.0))
      .toDF("k", "d", "close").withColumn("d", to_date($"d"))
    val got = Rolling.ewmaHalfLife(in, Seq("k"), "d", "close", window = 7)
      .select("k", "d", "ewma").as[(String, java.sql.Date, Double)]
      .collect().map(t => (t._1, t._2.toString) -> t._3).toMap
    // day1: 1; day2: (1*1 + 2*2)/3; day3: (1*1 + 2*2 + 4*4)/7 = 3
    assert(got(("a", "2024-01-01")) == 1.0)
    assert(math.abs(got(("a", "2024-01-02")) - 5.0 / 3) < 1e-12)
    assert(got(("a", "2024-01-03")) == 3.0)
    assert(got(("b", "2024-01-01")) == 100.0)
    // the frame is bounded: with window=2 only the last two rows weigh
    val w2 = Rolling.ewmaHalfLife(in.where($"k" === "a"), Seq("k"), "d",
        "close", window = 2)
      .select("d", "ewma").as[(java.sql.Date, Double)].collect()
      .map(t => t._1.toString -> t._2).toMap
    assert(w2("2024-01-03") == (2.0 * 1 + 4.0 * 2) / 3)
  }

  test("Outliers.zscore: flags the planted spike, exact edge behavior") {
    import graft.ops.Outliers
    // 20 tens + one 1000: the spike's z ≈ 4.36, the tens sit at ≈ -0.22
    val g = (1 to 20).map(i => (i.toLong, "g", 10.0)) :+ (21L, "g", 1000.0)
    // zero-variance and singleton groups must flag nothing
    val z = Seq((31L, "z", 5.0), (32L, "z", 5.0), (41L, "solo", 99.0))
    val df = (g ++ z).toDF("id", "grp", "v")
    val got = Outliers.zscore(df, "grp", "v", scale = 2, threshold = 3)
      .select("id", "z").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(21L))
    assert(math.abs(got.head._2 - 4.3644) < 1e-3)
    // agreement with the naive double gate on real data (no row of the
    // testdata sits within an ulp of the boundary)
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "event_type", "value")
    val exact = Outliers.zscore(e, "event_type", "value")
      .select("event_id").as[Long].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val naive = e.withColumn("m", avg($"value").over(w))
      .withColumn("sd", stddev_samp($"value").over(w))
      .where(abs($"value" - $"m") / $"sd" > 3)
      .select("event_id").as[Long].collect().toSet
    assert(exact == naive && exact.nonEmpty)
  }

  test("Outliers.zscore raises on DECIMAL(38,0) overflow risk instead of NULLing") {
    import graft.ops.Outliers
    // max(4,t²)·m²·n³ with t=10^6, m≈10^12 (scale=6), n=5 → ~1.25e38 > 9e37
    val df = (1 to 5).map(i => (i.toLong, "g", 999999.0)).toDF("id", "grp", "v")
    val ex = intercept[Exception] {
      Outliers.zscore(df, "grp", "v", scale = 6, threshold = 1000000).collect()
    }
    assert(ex.getMessage.contains("overflow risk") ||
      Option(ex.getCause).exists(_.getMessage.contains("overflow risk")))
    // the same data inside the envelope runs clean (zero variance → no rows)
    assert(Outliers.zscore(df, "grp", "v", scale = 6, threshold = 3)
      .collect().isEmpty)
  }

  test("Quality.report passes on clean data and enforce throws on dirty") {
    val ds = LocalDate.parse("2024-01-10")
    val clean = Seq("AAPL", "AMZN", "NFLX", "GOOGL", "META").map(t =>
      (t, "2024-01-10", Some(1.0), Some(2.0), Some(0.5), Some(1.5), 10L))
      .toDF("ticker", "dt", "open", "high", "low", "close", "volume")
      .withColumn("date", to_date($"dt")).drop("dt")
    val rep = Quality.report(clean, Quality.stockChecks(ds, Schemas.TickerWhitelist))
    assert(rep.where($"status" === "FAIL").count() == 0)
    val dirty = clean.withColumn("volume", lit(-1L))
    intercept[IllegalStateException] {
      Quality.enforce(dirty, Quality.stockChecks(ds, Schemas.TickerWhitelist))
    }
  }

  test("Graph.pageRank: fixed-point ranks match the hand recurrence; sinks keep teleport; mass sane") {
    import spark.implicits._
    import graft.ops.Graph
    val S = Graph.Scale
    // star: 1→2, 1→3, 2→1, 3→1  (symmetric star, center 1)
    val star = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(star, "src", "dst", iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // hand recurrence, same integer ops: center gets S/1 from each leaf,
    // leaves get (S div 2) from the center
    assert(r(1L) == 15 * S / 100 + 85 * (S + S) / 100)
    assert(r(2L) == 15 * S / 100 + 85 * (S / 2) / 100)
    assert(r(2L) == r(3L))

    // pure sink: 1→2 only — node 2 contributes nothing but must stay
    // alive at teleport + damped in-mass; node 1 (no in-links) falls to
    // exactly the teleport term in round 1 and stays there
    val chain = Seq((1L, 2L)).toDF("src", "dst")
    val r2 = Graph.pageRank(chain, "src", "dst", iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val teleport = 15 * S / 100
    assert(r2(1L) == teleport)
    assert(r2(2L) == teleport + 85 * teleport / 100)

    // determinism: two runs bit-identical (the whole point of the
    // fixed-point formulation)
    val a = Graph.pageRank(star, "src", "dst", iters = 3).collect().toSeq
    val b = Graph.pageRank(star, "src", "dst", iters = 3).collect().toSeq
    assert(a.map(_.toString).sorted == b.map(_.toString).sorted)
  }

  test("Graph.triangles: per-node counts on known graphs; plan is hash joins only") {
    import spark.implicits._
    import graft.ops.Graph
    // K4: every node is in C(3,2) = 3 triangles
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b))
      .toDF("item_a", "item_b")
    val t4 = Graph.triangles(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle + pendant: pendant node has 0 but still appears
    val tp = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("item_a", "item_b")
    val m = Graph.triangles(tp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // scale pin: the wedge close is equi-join only — no nested loop
    val plan = Graph.triangles(k4).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("Views.register exposes every table to raw spark.sql, pruned like the DataFrame path") {
    val dir = "/root/testdata/sf0.001"
    graft.sources.Views.register(spark, dir)
    // every table answers a SQL count and matches its DataFrame load
    graft.sources.Tables.tableNames.foreach { t =>
      val sqlN = spark.sql(s"SELECT count(*) FROM $t").head.getLong(0)
      assert(sqlN == graft.sources.Tables.load(spark, dir, t).count(), t)
    }
    // reference-named alias (dag.py addresses production_stock_data)
    graft.sources.Views.registerAs(spark, dir, "events", "production_stock_data")
    assert(spark.sql("SELECT count(*) FROM production_stock_data").head.getLong(0) > 0)
    // the view is metadata-only: a filtered 2-column SQL query still
    // reaches the parquet scan with pushdown + pruning
    val plan = spark.sql(
      "SELECT user_id, value FROM events WHERE user_id = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"), plan)
    assert(plan.contains("ReadSchema: struct<user_id:bigint,value:double>"), plan)
  }
}
