package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, PipelineConfig}

/**
 * End-to-end daily runs over a synthetic bar feed with weekend gaps and a
 * backfill re-run — the reference DAG's semantics (SURVEY §2.13):
 * idempotent per-date exchange, advisory DQ, rolling 7-day cumulative.
 */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tickers = Seq("AAPL", "AMZN", "NFLX", "GOOGL", "META")
  // Mon Jan 1 2024 .. Fri Jan 12 2024, weekends absent (Jan 6,7 skipped)
  private val tradingDays = (1 to 12).map(d => LocalDate.of(2024, 1, d))
    .filterNot(d => d.getDayOfWeek.getValue >= 6)

  /** Deterministic synthetic feed: price varies by (ticker, day). */
  private def feed(ds: LocalDate): DataFrame = {
    val rows = tickers.zipWithIndex.map { case (t, i) =>
      val base = 100.0 + 10 * i + ds.getDayOfMonth
      (t, java.sql.Date.valueOf(ds), base - 1, base + 2, base - 3, base,
        1000L + i, base + 0.5, ds.toEpochDay * 86400000L, 10 + i)
    }
    rows.toDF("ticker", "date", "open", "high", "low", "close",
      "volume", "vwap", "event_ts", "transactions")
  }

  test("multi-day run with gaps, then backfill re-run, is idempotent") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val cfg = PipelineConfig(s"$root/prod", s"$root/cum")
    val pipe = new Pipeline(spark, cfg)

    tradingDays.foreach(ds => pipe.runDay(ds, feed))
    val prod1 = pipe.production.orderBy("ticker", "date")
      .drop("insertion_timestamp").collect().toSeq
    val cum1 = pipe.cumulative.orderBy("ticker", "date")
      .drop("updated_at").collect().toSeq

    assert(prod1.size == tickers.size * tradingDays.size)
    assert(cum1.size == tickers.size * tradingDays.size)

    // canonical DECIMAL schemas are enforced on the write path (readback
    // reorders the partition column and relaxes nullability — compare
    // name→type pairs)
    def types(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toSet
    assert(types(pipe.production.schema) == types(graft.model.Schemas.stockBar))
    assert(types(pipe.cumulative.schema) == types(graft.model.Schemas.cumulative))

    // last trading day (Jan 12): trailing 8 calendar days = Jan 5..12 →
    // observed rows Jan 5, 8..12 = 6 (weekend gap), frame holds 6
    val last = pipe.cumulative
      .where($"ticker" === "AAPL" && $"date" === "2024-01-12")
      .select("last_7_days_close", "avg_7_day_volume", "volatility_7_day").head()
    val closes = last.getSeq[java.math.BigDecimal](0).map(_.doubleValue)
    assert(closes.size == 6)
    assert(closes == Seq(5, 8, 9, 10, 11, 12).map(d => 100.0 + d)) // oldest→newest
    // first day: 1-row frame → volatility coalesced to 0
    val first = pipe.cumulative
      .where($"ticker" === "AAPL" && $"date" === "2024-01-01")
      .select("volatility_7_day").head()
    assert(first.getDecimal(0).doubleValue == 0.0)

    // vwap/transactions ride the pipeline end-to-end with DECIMAL/INT types
    val vt = pipe.production
      .where($"ticker" === "META" && $"date" === "2024-01-12")
      .select("vwap", "transactions").head()
    assert(vt.getDecimal(0).doubleValue == 100.0 + 40 + 12 + 0.5)
    assert(vt.getInt(1) == 14)

    // backfill: re-run a middle day — outputs must be unchanged
    pipe.runDay(LocalDate.of(2024, 1, 8), feed)
    val prod2 = pipe.production.orderBy("ticker", "date")
      .drop("insertion_timestamp").collect().toSeq
    val cum2 = pipe.cumulative.orderBy("ticker", "date")
      .drop("updated_at").collect().toSeq
    assert(prod2 == prod1)
    assert(cum2 == cum1)
  }

  test("versionedFacts mode: same results as plain mode; a reader concurrent with a backfill sees all-old or all-new") {
    val root = Files.createTempDirectory("graft_pipe_ver").toString
    val days = tradingDays.take(4)

    val plain = new Pipeline(spark,
      PipelineConfig(s"$root/p_prod", s"$root/p_cum"))
    val versioned = new Pipeline(spark,
      PipelineConfig(s"$root/v_prod", s"$root/v_cum", versionedFacts = true))
    days.foreach { ds =>
      plain.runDay(ds, feed); versioned.runDay(ds, feed)
    }

    // byte-identical fact tables across the two promote mechanisms
    // (timestamps stamped per run differ, and plain-mode readback
    // reorders the partition column last — compare name-sorted cells)
    def rows(f: DataFrame, ts: String) = {
      val cols = f.drop(ts).columns.sorted
      f.drop(ts).select(cols.map(col): _*)
        .orderBy("ticker", "date").collect().toSeq
    }
    assert(rows(versioned.production, "insertion_timestamp") ==
      rows(plain.production, "insertion_timestamp"))
    assert(rows(versioned.cumulative, "updated_at") ==
      rows(plain.cumulative, "updated_at"))

    // snapshot isolation through a backfill: a reader resolved BEFORE
    // the re-run keeps the old state; promoteAtomic/Exchange.promote
    // cannot give this (their partition dirs mutate in place)
    val pinnedPre = versioned.production
    versioned.runDay(days(1), feed)
    assert(rows(pinnedPre, "insertion_timestamp") ==
      rows(plain.production, "insertion_timestamp"),
      "pre-backfill reader must still see the complete old state")
    assert(rows(versioned.production, "insertion_timestamp") ==
      rows(plain.production, "insertion_timestamp"),
      "post-backfill reader sees the (idempotent) new state")
  }

  test("wapFacts mode: same results as plain mode, versions advance per day, no branch pointers left behind") {
    val root = Files.createTempDirectory("graft_pipe_wap").toString
    val days = tradingDays.take(3)
    val plain = new Pipeline(spark,
      PipelineConfig(s"$root/p_prod", s"$root/p_cum"))
    val wap = new Pipeline(spark,
      PipelineConfig(s"$root/w_prod", s"$root/w_cum",
        versionedFacts = true, wapFacts = true))
    days.foreach { ds => plain.runDay(ds, feed); wap.runDay(ds, feed) }
    def rows(f: DataFrame, ts: String) = {
      val cols = f.drop(ts).columns.sorted
      f.drop(ts).select(cols.map(col): _*)
        .orderBy("ticker", "date").collect().toSeq
    }
    assert(rows(wap.production, "insertion_timestamp") ==
      rows(plain.production, "insertion_timestamp"))
    assert(rows(wap.cumulative, "updated_at") ==
      rows(plain.cumulative, "updated_at"))
    // each day published exactly one main version per fact table
    assert(graft.ops.VersionedPartitioned
      .currentVersion(spark, s"$root/w_prod").contains(3L))
    // WAP hygiene: every audit branch was dropped at publish
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("w_prod", "w_cum").foreach { t =>
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$t"))
        .exists(_.getPath.getName.startsWith("_branch-")),
        s"$t must hold no branch pointers after publish")
    }
    // wapFacts without versionedFacts is rejected up front
    val badCfg = new Pipeline(spark,
      PipelineConfig(s"$root/x_prod", s"$root/x_cum", wapFacts = true))
    intercept[IllegalArgumentException] {
      badCfg.runDay(days.head, feed)
    }
  }

  test("Schemas.evolve: add-column default, whole-table backfill, fail-fast extras") {
    import graft.model.Schemas
    import graft.ops.Exchange
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_evolve_").resolve("t").toString
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val v1 = StructType(Seq(StructField("date", DateType),
      StructField("v", LongType)))
    val v2 = v1.add(StructField("src", StringType))
    Exchange.promote(
      Schemas.conform(Seq((d1, 1L)).toDF("date", "v"), v1), root)
    // migration: backfill existing partitions with the default, then
    // promote new data that already carries the column
    Exchange.promoteAtomic(
      Schemas.evolve(Exchange.table(spark, root), v2,
        Map("src" -> lit("legacy"))), root)
    Exchange.promote(
      Schemas.evolve(Seq((d2, 2L, "feed")).toDF("date", "v", "src"), v2), root)
    val rows = Exchange.table(spark, root)
      .select("date", "v", "src").orderBy("v")
      .as[(java.sql.Date, Long, String)].collect().toSeq
    assert(rows == Seq((d1, 1L, "legacy"), (d2, 2L, "feed")))
    // extra columns and defaults for undeclared columns still fail fast
    intercept[IllegalArgumentException] {
      Schemas.evolve(Seq((d1, 1L, "x")).toDF("date", "v", "rogue"), v2)
    }
    intercept[IllegalArgumentException] {
      Schemas.evolve(Seq((d1, 1L)).toDF("date", "v"), v2,
        Map("rogue" -> lit("x")))
    }
  }

  test("duplicate source bars are deduped to one per ticker-day") {
    val root = Files.createTempDirectory("graft_pipe2").toString
    val pipe = new Pipeline(spark, PipelineConfig(s"$root/prod", s"$root/cum"))
    val ds = LocalDate.of(2024, 2, 5)
    val res = pipe.runDay(ds, d => feed(d).unionAll(feed(d))) // doubled feed
    assert(res.staged == tickers.size)
    assert(pipe.production.count() == tickers.size)
  }

  test("versioned DQ-report audit: one snapshot per run, backfill appends, time travel") {
    import graft.ops.Versioned
    val root = Files.createTempDirectory("graft_pipe_dq").toString
    val cfg = PipelineConfig(s"$root/prod", s"$root/cum",
      dqReportPath = Some(s"$root/dq"))
    val pipe = new Pipeline(spark, cfg)
    val d1 = tradingDays(0)
    val d2 = tradingDays(1)

    pipe.runDay(d1, feed)
    pipe.runDay(d2, feed)
    pipe.runDay(d1, feed) // backfill re-run: new evidence, old retained
    val h = Versioned.fullHistory(spark, s"$root/dq")
    assert(h.map(_._3) ==
      Seq(Some(s"ds=$d1"), Some(s"ds=$d2"), Some(s"ds=$d1")))

    // latest = the backfill's report for d1; version 1 = the original
    // run's report for the same day — both ≤6-row check frames
    val latest = Versioned.read(spark, s"$root/dq")
    assert(latest.select("ds").distinct().collect()
      .map(_.getDate(0).toLocalDate).toSeq == Seq(d1))
    val v1 = Versioned.readAt(spark, s"$root/dq", 1L)
    assert(v1.count() == latest.count() &&
      v1.columns.toSeq == latest.columns.toSeq)
    assert(Versioned.readAt(spark, s"$root/dq", 2L)
      .select("ds").distinct().collect()
      .map(_.getDate(0).toLocalDate).toSeq == Seq(d2))
  }

  test("SqlLifecycle: reference statement texts drive the table lifecycle") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqllife_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA IF NOT EXISTS jakebuto")
    life.execute("""
      CREATE TABLE IF NOT EXISTS jakebuto.prices
      (ticker STRING, date DATE, close DECIMAL(10, 2))
      USING ICEBERG PARTITIONED BY (date)
      COMMENT 'Production table'""")
    // IF NOT EXISTS: second create is a no-op, not an error
    life.execute("""CREATE TABLE IF NOT EXISTS jakebuto.prices
      (ticker STRING, date DATE, close DECIMAL(10, 2))
      USING ICEBERG PARTITIONED BY (date)""")
    // row INSERT ... VALUES (the reference's staging load shape),
    // implicit double → DECIMAL cast-on-INSERT
    life.execute("""INSERT INTO jakebuto.prices (ticker, date, close)
      VALUES ('AAPL', DATE '2024-01-01', 101.5),
             ('AMZN', DATE '2024-01-01', 99.25),
             ('AAPL', DATE '2024-01-02', 102.75)""")
    assert(life.table("jakebuto.prices").count() == 3)
    // phantom column (reference bug §2.14/1) fails fast, never silent
    val e = intercept[IllegalArgumentException](
      life.execute("""INSERT INTO jakebuto.prices (ticker, date, close, timestamp)
        VALUES ('NFLX', DATE '2024-01-01', 1.0, 5)"""))
    assert(e.getMessage.contains("phantom"))
    // DELETE day + INSERT SELECT: the reference's idempotent promote
    // pair — re-running it cannot duplicate the partition
    life.execute("""CREATE OR REPLACE TABLE jakebuto.prices_stg
      (ticker STRING, date DATE, close DECIMAL(10, 2)) USING ICEBERG""")
    life.execute("""INSERT INTO jakebuto.prices_stg
      VALUES ('AAPL', DATE '2024-01-01', 200.0), ('META', DATE '2024-01-01', 300.0)""")
    for (_ <- 1 to 2) {
      life.execute("DELETE FROM jakebuto.prices WHERE date = DATE '2024-01-01'")
      life.execute("""INSERT INTO jakebuto.prices
        SELECT * FROM jakebuto.prices_stg WHERE date = DATE('2024-01-01')""")
    }
    val got = life.query(
      """SELECT ticker, CAST(close AS DOUBLE) AS close FROM jakebuto.prices
        |WHERE date = DATE '2024-01-01' ORDER BY ticker""".stripMargin)
      .as[(String, Double)].collect().toSeq
    assert(got == Seq(("AAPL", 200.0), ("META", 300.0)))
    // untouched partition survives the day-targeted delete
    assert(life.query(
      "SELECT count(*) FROM jakebuto.prices WHERE date = DATE '2024-01-02'")
      .head.getLong(0) == 1L)
    // DROP removes table and catalog entry
    life.execute("DROP TABLE IF EXISTS jakebuto.prices_stg")
    assert(life.tables() == Seq("jakebuto.prices"))
    intercept[IllegalArgumentException](life.table("jakebuto.prices_stg"))
    // unpartitioned tables take the general row-delete path (the
    // partition-targeted fast path only claims the partition column)
    life.execute("""CREATE OR REPLACE TABLE jakebuto.unpart
      (k STRING, date DATE) USING ICEBERG""")
    life.execute("""INSERT INTO jakebuto.unpart
      VALUES ('a', DATE '2024-01-01'), ('b', DATE '2024-01-02')""")
    life.execute("DELETE FROM jakebuto.unpart WHERE date = DATE '2024-01-01'")
    assert(life.table("jakebuto.unpart").collect().map(_.getString(0)).toSeq
      == Seq("b"))
  }

  test("SqlLifecycle executeScript: a semicolon-separated task body routes in order") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlscript_").toString
    val life = new SqlLifecycle(spark, root)
    // one Airflow-task-shaped script: DDL + loads + a tail SELECT.
    // The ';' inside a VALUES string literal and inside the subquery
    // parens must NOT split; comment-only fragments are skipped.
    val out = life.executeScript("""
      -- daily task
      CREATE SCHEMA s;
      CREATE TABLE s.t (k BIGINT, v STRING) USING ICEBERG PARTITIONED BY (k);
      INSERT INTO s.t VALUES (1, 'a;b'), (2, 'c');
      INSERT INTO s.t SELECT * FROM (SELECT 3, 'd;e');
      SELECT k, v FROM s.t WHERE k >= 1 ORDER BY k;
    """)
    assert(out.isDefined)
    assert(out.get.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a;b"), (2L, "c"), (3L, "d;e")))
    // a script ending in DML returns no frame
    assert(life.executeScript(
      "INSERT INTO s.t VALUES (4, 'x'); -- done").isEmpty)
    assert(life.table("s.t").count() == 4)
  }

  test("SqlLifecycle scanners are comment-aware (quotes/semicolons in comments)") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlcomments_").toString
    val life = new SqlLifecycle(spark, root)
    // a ';' and an apostrophe inside comments must not split or flip
    // string state; the second statement must still route
    val out = life.executeScript("""
      CREATE SCHEMA c; -- schema; don't split on the comment's ; or '
      CREATE TABLE c.t (k BIGINT, v STRING) USING ICEBERG
        PARTITIONED BY (k); /* block; comment with an apostrophe: ' */
      INSERT INTO c.t VALUES (1, 'x');
      SELECT k, v FROM c.t; -- tail select
    """)
    assert(out.get.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
    // `--` INSIDE a string literal is data, not a comment (the old
    // line-oriented strip truncated the literal and broke the quote)
    assert(life.query("SELECT 'a--b' AS v").as[String].head() == "a--b")
    // a WITH-led query whose comment holds an apostrophe routes as a
    // query (the CTE hoist walk must not crash on it)
    assert(life.execute("""
      WITH x AS (SELECT 1 AS n) -- don't crash
      SELECT n FROM x""").get.as[Int].head() == 1)
    // metadata suffix on a created-but-never-written table is a loud,
    // named error, not an unresolved-view crash
    life.execute("CREATE TABLE c.empty (k BIGINT, d STRING) " +
      "USING ICEBERG PARTITIONED BY (d)")
    val e = intercept[IllegalArgumentException](
      life.query("SELECT * FROM c.empty.refs"))
    assert(e.getMessage.contains("c.empty") &&
      e.getMessage.contains("no committed snapshots"))
  }

  test("COPY INTO: ledger idempotence on staging tables, loud errors") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlcopy_stg_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA c")
    life.execute("CREATE TABLE c.s (k BIGINT, v STRING) USING ICEBERG")
    val incoming = s"$root/in"
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(incoming)
    assert(life.execute(s"COPY INTO c.s FROM '$incoming'")
      .get.head.getLong(2) == 1L)
    // completed-run idempotence on the unpartitioned path too
    assert(life.execute(s"COPY INTO c.s FROM '$incoming'")
      .get.head.getLong(1) == 0L)
    // a late file loads incrementally; earlier files stay single-loaded
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(incoming)
    life.execute(s"COPY INTO c.s FROM '$incoming'")
    assert(life.table("c.s").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // loud failures: unknown table, missing source path, and a
    // non-PARQUET FILEFORMAT named explicitly (not an unroutable error)
    intercept[IllegalArgumentException](
      life.execute(s"COPY INTO c.nope FROM '$incoming'"))
    intercept[IllegalArgumentException](
      life.execute(s"COPY INTO c.s FROM '$root/absent'"))
    val badFmt = intercept[IllegalArgumentException](
      life.execute(s"COPY INTO c.s FROM '$incoming' FILEFORMAT = CSV"))
    assert(badFmt.getMessage.contains("c.s") &&
      badFmt.getMessage.contains("CSV"))
    // the PARQUET spelling still routes (and stays idempotent)
    assert(life.execute(s"COPY INTO c.s FROM '$incoming' FILEFORMAT = PARQUET")
      .get.head.getLong(1) == 0L)
  }

  test("SQL door: CACHE TABLE pins the snapshot, invalidates on write") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlcachespec_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA m")
    life.execute("CREATE TABLE m.t (d STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO m.t VALUES ('d1', 1), ('d2', 2)")
    life.execute("CACHE TABLE m.t")
    val cachedQ = life.query("SELECT sum(v) AS s FROM m.t")
    assert(cachedQ.head().getLong(0) == 3L)
    assert(cachedQ.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"), "cached read must hit the pin")
    // a write bumps the version: the stale pin drops and the next
    // routed read sees the new row (and is no longer in-memory)
    life.execute("INSERT INTO m.t VALUES ('d3', 4)")
    val fresh = life.query("SELECT sum(v) AS s FROM m.t")
    assert(fresh.head().getLong(0) == 7L)
    assert(!fresh.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"))
    // re-pin picks up the new head; UNCACHE releases it
    life.execute("CACHE TABLE m.t")
    assert(life.query("SELECT sum(v) AS s FROM m.t")
      .queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    life.execute("UNCACHE TABLE m.t")
    assert(!life.query("SELECT sum(v) AS s FROM m.t")
      .queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    // REFRESH eagerly re-pins a cached table at the current head (the
    // stale pin would drop lazily anyway); uncached tables no-op
    life.execute("CACHE TABLE m.t")
    life.execute("INSERT INTO m.t VALUES ('d4', 1)")
    life.execute("REFRESH TABLE m.t")
    val refreshed = life.query("SELECT sum(v) AS s FROM m.t")
    assert(refreshed.head().getLong(0) == 8L)
    assert(refreshed.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"), "REFRESH must re-pin at the new head")
    life.execute("UNCACHE TABLE m.t")
    life.execute("REFRESH TABLE m.t") // uncached: no-op
    intercept[IllegalArgumentException](
      life.execute("REFRESH TABLE m.nope"))
    // LAZY defers materialization but still pins + serves in-memory
    life.execute("CACHE LAZY TABLE m.t")
    val lazyQ = life.query("SELECT sum(v) AS s FROM m.t")
    assert(lazyQ.head().getLong(0) == 8L)
    assert(lazyQ.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"))
    life.execute("UNCACHE TABLE m.t")
    // loud error on a staging (unversioned) table; IF EXISTS no-ops
    life.execute("CREATE TABLE m.stg (v BIGINT) USING ICEBERG")
    intercept[IllegalArgumentException](life.execute("CACHE TABLE m.stg"))
    life.execute("UNCACHE TABLE IF EXISTS m.never_cached")
  }

  test("Txn: pair commit, reader isolation, crash recovery") {
    import graft.ops.{Txn, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_txnspec_").toString
    val (fact, cum) = (s"$root/fact", s"$root/cum")
    def rows(d: String, vs: Seq[Long]) =
      vs.map(v => (d, v)).toDF("date", "v")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("date").agg(count(lit(1)).as("n"))
    val day1 = rows("2024-03-01", Seq(1L, 2L, 3L))
    Txn.commit(Seq(Txn.Write(day1, fact, "date"),
      Txn.Write(agg(day1), cum, "date")))
    val Seq(f1, c1) = Txn.readAll(spark, Seq(fact, cum))
    assert(f1.count() == 3 && c1.count() == 1)
    // crash window simulated: the fact half of a transaction lands,
    // the cumulative half never does
    VersionedPartitioned.promote(rows("2024-03-02", Seq(4L, 5L)), fact,
      "date", tag = Some("txn:deadbeef:1of2"))
    // a reader between crash and recovery NEVER sees the partial pair
    val Seq(f2, c2) = Txn.readAll(spark, Seq(fact, cum))
    assert(f2.count() == 3 && c2.count() == 1,
      "readAll must pin to the last COMPLETE transaction")
    // recovery rolls the orphaned half back (restore-forward commit)
    assert(Txn.recover(spark, Seq(fact, cum)) == Seq(fact))
    assert(VersionedPartitioned.read(spark, fact).count() == 3)
    // recovery is idempotent and a full retry lands both halves
    assert(Txn.recover(spark, Seq(fact, cum)).isEmpty)
    val day2 = rows("2024-03-02", Seq(4L, 5L))
    Txn.commit(Seq(Txn.Write(day2, fact, "date"),
      Txn.Write(agg(day1.union(day2)), cum, "date")))
    val Seq(f3, c3) = Txn.readAll(spark, Seq(fact, cum))
    assert(f3.count() == 5 && c3.count() == 2)
    // bootstrap crash: a table whose FIRST commit is the orphaned half
    // recovers to empty
    val solo = s"$root/solo"
    VersionedPartitioned.promote(rows("2024-03-01", Seq(9L)), solo,
      "date", tag = Some("txn:cafe:1of2"))
    assert(Txn.recover(spark, Seq(solo)) == Seq(solo))
    assert(VersionedPartitioned.partitions(spark, solo).isEmpty)
  }

  test("SQL door: approx-percentile routing — sketch plan, rank bound, off-switch exact") {
    import graft.ops.SqlLifecycle
    import graft.plans.ApproxRouting
    val root = Files.createTempDirectory("graft_approxpct_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA m")
    life.execute(
      "CREATE TABLE m.v (g STRING, x DOUBLE) USING ICEBERG PARTITIONED BY (g)")
    (1 to 2000).map(i => (if (i % 2 == 0) "a" else "b", i.toDouble))
      .toDF("g", "x").createOrReplaceTempView("approxpct_spec_src")
    life.execute("INSERT INTO m.v SELECT g, x FROM approxpct_spec_src")
    def hasApprox(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.optimizedPlan.toString
      p.contains("approx_percentile") || p.contains("percentile_approx")
    }
    val q = """SELECT g,
      percentile_cont(0.25) WITHIN GROUP (ORDER BY x) AS p25,
      percentile_disc(0.5) WITHIN GROUP (ORDER BY x DESC) AS p50d,
      percentile(x, 0.75) AS p75
      FROM m.v GROUP BY g ORDER BY g"""
    // OFF (default): exact ordered-set plan, interpolated CONT value.
    // Group a = evens 2..2000 (n=1000): cont(0.25) interpolates
    // between sorted[249]=500 and sorted[250]=502 → 501.5
    val exact = life.query(q)
    assert(!hasApprox(exact))
    assert(exact.collect()(0).getDouble(1) == 501.5)
    // ON at accuracy ≥ n (rank error < 1 row): the plan swaps to the
    // sketch and CONT returns an OBSERVED value — the documented
    // semantics delta — at the exact rank's neighbors
    spark.conf.set(ApproxRouting.PercentileAccuracyKey, "10000")
    try {
      val routed = life.query(q)
      assert(hasApprox(routed), "route must swap in the sketch")
      val r = routed.collect()(0)
      assert(r.getDouble(1) == 500.0 || r.getDouble(1) == 502.0,
        s"cont must route to an observed value: ${r.getDouble(1)}")
      // a DESC ordered-set aggregate routes as the mirrored 1−p
      assert(r.getDouble(2) == 1000.0 || r.getDouble(2) == 1002.0,
        s"desc disc mirrored: ${r.getDouble(2)}")
      // the percentile() function form routes too
      assert(math.abs(r.getDouble(3) - 1501.0) <= 2.0,
        s"function form: ${r.getDouble(3)}")
    } finally spark.conf.unset(ApproxRouting.PercentileAccuracyKey)
    // what the sketch cannot preserve stays EXACT under the route:
    // frequency-weighted percentile(x, p, f)
    spark.conf.set(ApproxRouting.PercentileAccuracyKey, "100")
    try {
      val fw = life.query(
        "SELECT g, percentile(x, 0.5, 2) AS p FROM m.v GROUP BY g ORDER BY g")
      assert(!hasApprox(fw),
        "frequency-weighted percentile must not route to the sketch")
    } finally spark.conf.unset(ApproxRouting.PercentileAccuracyKey)
  }

  test("SQL door: approx-distinct routing — HLL plan, error bound, preserved semantics") {
    import graft.ops.SqlLifecycle
    import graft.plans.ApproxRouting
    val root = Files.createTempDirectory("graft_approxdst_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA d")
    life.execute(
      "CREATE TABLE d.v (g STRING, x BIGINT, y BIGINT) USING ICEBERG PARTITIONED BY (g)")
    (1 to 4000).map(i =>
        (if (i % 2 == 0) "a" else "b", (i % 500).toLong, (i % 7).toLong))
      .toDF("g", "x", "y").createOrReplaceTempView("approxdst_spec_src")
    life.execute("INSERT INTO d.v SELECT g, x, y FROM approxdst_spec_src")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    def nShuffles(df: org.apache.spark.sql.DataFrame) =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val q = "SELECT g, count(*) AS n, count(DISTINCT x) AS d " +
      "FROM d.v GROUP BY g ORDER BY g"
    // OFF (default): exact — the distinct aggregate keeps its extra
    // value-keyed shuffle
    val exact = life.query(q)
    assert(!planOf(exact).contains("approx_count_distinct"))
    // each parity group holds exactly 250 of the 500 residues
    assert(exact.collect().forall(r => r.getLong(2) == 250L))
    spark.conf.set(ApproxRouting.DistinctRsdKey, "0.05")
    try {
      // ON: the sketch replaces the distinct — strictly fewer shuffles
      // than the exact plan, plain count(*) untouched, estimate within 3σ
      val routed = life.query(q)
      val p = planOf(routed)
      assert(p.contains("approx_count_distinct"), "route must swap in HLL++")
      assert(nShuffles(routed) < nShuffles(exact),
        "the sketch must shed the distinct's value-keyed shuffle")
      for (r <- routed.collect()) {
        assert(r.getLong(1) == 2000L, "plain count must stay exact")
        assert(math.abs(r.getLong(2).toDouble / 250.0 - 1.0) <= 0.15,
          s"estimate ${r.getLong(2)} outside 3σ of 250")
      }
      // what the sketch cannot preserve stays EXACT under the route:
      // multi-argument COUNT(DISTINCT x, y) and sum(DISTINCT y)
      val mq = "SELECT g, count(DISTINCT x, y) AS d2, sum(DISTINCT y) AS sy " +
        "FROM d.v GROUP BY g ORDER BY g"
      val multi = life.query(mq)
      assert(!planOf(multi).contains("approx_count_distinct"))
      val m = multi.collect()
      assert(m.forall(_.getLong(2) == 21L)) // every residue mod 7 appears
      spark.conf.unset(ApproxRouting.DistinctRsdKey)
      val mExact = life.query(mq).collect()
      assert(m.map(_.toSeq).toSeq == mExact.map(_.toSeq).toSeq,
        "unroutable shapes must return the exact answers under the flag")
    } finally spark.conf.unset(ApproxRouting.DistinctRsdKey)
  }

  test("SQL door: a malformed or retired approx key fails the statement, naming the key") {
    import graft.ops.SqlLifecycle
    import graft.plans.ApproxRouting
    val life = new SqlLifecycle(spark,
      Files.createTempDirectory("graft_approxbad_").toString)
    (1 to 100).map(i => (i % 3, i.toLong)).toDF("g", "x")
      .createOrReplaceTempView("approxbad_src")
    val q = "SELECT g, count(DISTINCT x) AS d, percentile(x, 0.5) AS p " +
      "FROM approxbad_src GROUP BY g"
    def failure(key: String, value: String): String =
      try {
        spark.conf.set(key, value)
        intercept[IllegalArgumentException](life.query(q).collect()).getMessage
      } finally spark.conf.unset(key)
    // out of HLL++'s valid range, or not a number: loud, never exact
    val rsd = failure(ApproxRouting.DistinctRsdKey, "0.5")
    assert(rsd.contains(ApproxRouting.DistinctRsdKey) &&
      rsd.contains("(0, 0.37]"), rsd)
    val acc = failure(ApproxRouting.PercentileAccuracyKey, "abc")
    assert(acc.contains(ApproxRouting.PercentileAccuracyKey) &&
      acc.contains("positive integer"), acc)
    // a retired key names its replacement: a session that set
    // quantiles.approx=false to stay exact must not turn approximate
    for ((retired, now) <- Seq(
        "spark.graft.quantiles.approx" -> ApproxRouting.PercentileAccuracyKey,
        "spark.graft.sql.approxDistinct.rsd" -> ApproxRouting.DistinctRsdKey)) {
      val msg = failure(retired, "false")
      assert(msg.contains(retired) && msg.contains(now), msg)
    }
    // with the keys unset the statement runs exact
    assert(life.query(q).count() == 3)
  }

  test("Txn: a position buried under acknowledged history acknowledges the id") {
    import graft.ops.{Txn, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_txnburied_").toString
    val fact = s"$root/fact"
    def rows(d: String, vs: Seq[Long]) =
      vs.map(v => (d, v)).toDF("date", "v")
    VersionedPartitioned.promote(rows("2024-03-01", Seq(1L)), fact, "date",
      tag = Some("txn:feed:2of3"))
    // an untagged write lands on top (recover-before-write violated, or
    // the covering positions were vacuumed on another table): the
    // position below it is acknowledged history now
    VersionedPartitioned.promote(rows("2024-03-02", Seq(2L)), fact, "date")
    VersionedPartitioned.promote(rows("2024-03-03", Seq(3L)), fact, "date",
      tag = Some("txn:feed:1of3"))
    // the id can never complete within this log, but one of its
    // positions is already buried under the untagged commit — readAll
    // must read at head instead of actively skipping committed data,
    // and recover must leave the head alone
    val Seq(f) = Txn.readAll(spark, Seq(fact))
    assert(f.count() == 3, "buried-position id must read at head")
    assert(Txn.recover(spark, Seq(fact)).isEmpty)
    assert(VersionedPartitioned.read(spark, fact).count() == 3)
    // control: the same head tag with NO buried position is exactly the
    // crash shape — walked past by readers and rolled back by recover
    val solo = s"$root/solo"
    VersionedPartitioned.promote(rows("2024-03-01", Seq(1L)), solo, "date")
    VersionedPartitioned.promote(rows("2024-03-02", Seq(2L)), solo, "date",
      tag = Some("txn:dead:1of3"))
    val Seq(s1) = Txn.readAll(spark, Seq(solo))
    assert(s1.count() == 1, "head-run-only id stays incomplete")
    assert(Txn.recover(spark, Seq(solo)) == Seq(solo))
    assert(VersionedPartitioned.read(spark, solo).count() == 1)
  }

  test("Txn.readAll/recover cost O(tail) commit reads, not O(#versions)") {
    import graft.ops.{Txn, Versioned, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_txnscale_").toString
    val (fact, cum) = (s"$root/fact", s"$root/cum")
    def rows(d: String, vs: Seq[Long]) =
      vs.map(v => (d, v)).toDF("date", "v")
    Txn.commit(Seq(
      Txn.Write(rows("2024-03-01", Seq(1L, 2L)), fact, "date"),
      Txn.Write(rows("2024-03-01", Seq(2L)), cum, "date")))
    // a year of "streaming" activity: untagged data-less commits bury
    // the transaction deep in both logs — a snapshot-consistent read
    // must NOT pay an O(#versions) metadata scan to learn that no
    // transaction is in flight
    (1 to 200).foreach { _ =>
      VersionedPartitioned.emptyCommit(spark, fact, "date", None)
      VersionedPartitioned.emptyCommit(spark, cum, "date", None)
      ()
    }
    val before = Versioned.commitFileReads.get()
    val Seq(f, c) = Txn.readAll(spark, Seq(fact, cum))
    assert(f.count() == 2 && c.count() == 1)
    val reads = Versioned.commitFileReads.get() - before
    assert(reads <= 8,
      s"readAll on untagged heads must cost O(1) commit reads per " +
        s"root; took $reads on a 200-commit log")
    // idle recover: the head-tag guard alone — no history scan
    val before2 = Versioned.commitFileReads.get()
    assert(Txn.recover(spark, Seq(fact, cum)).isEmpty)
    val reads2 = Versioned.commitFileReads.get() - before2
    assert(reads2 <= 4,
      s"idle recover must cost one head read per root; took $reads2")
    // a COMPLETE transaction back at the heads: decided within the
    // head runs — still no full-history walk
    Txn.commit(Seq(
      Txn.Write(rows("2024-03-02", Seq(3L)), fact, "date"),
      Txn.Write(rows("2024-03-02", Seq(1L)), cum, "date")))
    val before3 = Versioned.commitFileReads.get()
    val Seq(f2, c2) = Txn.readAll(spark, Seq(fact, cum))
    assert(f2.count() == 3 && c2.count() == 2)
    val reads3 = Versioned.commitFileReads.get() - before3
    assert(reads3 <= 10,
      s"complete-txn heads must decide within the head runs; took $reads3")
  }

  test("SQL door: metadata tables expose the crash-free-recover view around transactions") {
    import graft.ops.{SqlLifecycle, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_sqltxnmeta_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA tx")
    life.execute("CREATE TABLE tx.t (d STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO tx.t VALUES ('2024-03-01', 1)")
    def partsOf(l: SqlLifecycle) = l.query(
      "SELECT d, n_rows FROM tx.t.partitions ORDER BY d").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // mid-BEGIN: buffered writes are invisible to every metadata table
    // (the same snapshot isolation data reads get)
    life.execute("BEGIN")
    life.execute("INSERT INTO tx.t VALUES ('2024-03-02', 2)")
    assert(partsOf(life) == Seq(("2024-03-01", 1L)),
      "mid-txn partitions must show the pre-txn state")
    assert(life.query("SELECT count(*) AS n FROM tx.t.history")
      .head.getLong(0) == 1L)
    life.execute("COMMIT")
    val committedParts = partsOf(life)
    assert(committedParts ==
      Seq(("2024-03-01", 1L), ("2024-03-02", 1L)))

    // a transaction CRASHED by another writer: its tagged half lands
    // at t's head; a fresh door recovers on open, and every metadata
    // table answers the crash-free view
    VersionedPartitioned.promote(
      Seq(("2024-03-03", 9L)).toDF("d", "v"), s"$root/tx/t", "d",
      tag = Some("txn:dead2e7a:1of2"))
    val life2 = new SqlLifecycle(spark, root)
    assert(partsOf(life2) == committedParts,
      "partitions must expose the recovered view, not the partial txn")
    assert(life2.query(
      "SELECT CAST(sum(record_count) AS BIGINT) AS n FROM tx.t.files")
      .head.getLong(0) == 2L,
      "files must list no file of the rolled-back snapshot")
    // history keeps the audit trail — the aborted attempt AND its
    // restore-forward rollback — with is_current on the recovered head
    val hist = life2.query(
      "SELECT version, is_current FROM tx.t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(hist.size == 4 && hist.last._2 &&
      hist.count(_._2) == 1, s"history audit trail: $hist")
    assert(life2.query(
      "SELECT snapshot_id FROM tx.t.refs WHERE name = 'main'")
      .head.getLong(0) == hist.last._1,
      "refs' main must point at the recovered head")

    // the first-transaction hole class: a table whose ONLY commit is
    // the aborted half — after door-open recovery its metadata tables
    // answer the EMPTY recovered state, not the partial write
    life2.execute("CREATE TABLE tx.solo (d STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    VersionedPartitioned.promote(
      Seq(("2024-03-01", 7L)).toDF("d", "v"), s"$root/tx/solo", "d",
      tag = Some("txn:cafe2:1of2"))
    val life3 = new SqlLifecycle(spark, root)
    assert(life3.query("SELECT count(*) AS n FROM tx.solo.partitions")
      .head.getLong(0) == 0L)
    assert(life3.query("SELECT count(*) AS n FROM tx.solo.files")
      .head.getLong(0) == 0L)
    assert(life3.query("SELECT count(*) AS n FROM tx.solo")
      .head.getLong(0) == 0L)
  }

  test("SQL door: BEGIN…COMMIT is one transaction — isolation, rollback, crash recovery on open") {
    import graft.ops.{SqlLifecycle, Txn, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_sqltxn_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA tx")
    life.execute("CREATE TABLE tx.fact (d STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("CREATE TABLE tx.cum (d STRING, n BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    val (factRoot, cumRoot) = (s"$root/tx/fact", s"$root/tx/cum")

    // the reference pair as ONE transaction: the idempotent DELETE-day
    // no-ops (still takes a tagged position), the INSERT promotes, and
    // the cumulate reads the rows ITS OWN transaction just wrote
    life.execute("BEGIN")
    life.execute("DELETE FROM tx.fact WHERE d = '2024-03-01'")
    life.execute("INSERT INTO tx.fact VALUES ('2024-03-01',1),('2024-03-01',2)")
    life.execute("INSERT OVERWRITE tx.cum " +
      "SELECT d, count(*) AS n FROM tx.fact GROUP BY d")
    life.execute("COMMIT")
    val Seq(f1, c1) = Txn.readAll(spark, Seq(factRoot, cumRoot))
    assert(f1.count() == 2 &&
      c1.selectExpr("CAST(d AS STRING) AS d", "n").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("2024-03-01", 2L)))

    // snapshot isolation: a query issued MID-transaction sees the
    // pre-transaction state; ROLLBACK discards the buffer entirely
    life.execute("BEGIN")
    life.execute("INSERT INTO tx.fact VALUES ('2024-03-02',3)")
    assert(life.query("SELECT count(*) AS n FROM tx.fact")
      .head.getLong(0) == 2, "mid-txn reads must see the pre-txn state")
    life.execute("ROLLBACK")
    assert(life.query("SELECT count(*) AS n FROM tx.fact")
      .head.getLong(0) == 2)

    // only single-commit write verbs on versioned tables participate
    life.execute("BEGIN")
    val bad = intercept[IllegalArgumentException](life.execute(
      "CREATE TABLE tx.other (v BIGINT) USING ICEBERG"))
    assert(bad.getMessage.contains("transaction body"))
    life.execute("ROLLBACK")
    intercept[Exception](life.execute("ROLLBACK")) // without BEGIN: loud
    intercept[Exception](life.execute("COMMIT"))

    // statement 2's body fails AFTER statement 1 landed: COMMIT rolls
    // the landed prefix back BEFORE rethrowing — the SAME session's
    // next read sees the pre-transaction state. (recover only runs on
    // door open; without the in-commit rollback, a later write would
    // commit over the tagged head and make the partial transaction
    // permanent. The CRASH window — process death mid-replay — is the
    // raw-Txn spec above.)
    life.execute("BEGIN")
    life.execute("INSERT INTO tx.fact VALUES ('2024-03-02',3)")
    life.execute("INSERT INTO tx.cum SELECT d, v FROM tx.nonexistent")
    intercept[Exception](life.execute("COMMIT"))
    assert(life.query("SELECT count(*) AS n FROM tx.fact")
      .head.getLong(0) == 2,
      "a failed COMMIT must roll back its landed prefix in-session")
    val Seq(f2, _) = Txn.readAll(spark, Seq(factRoot, cumRoot))
    assert(f2.count() == 2)
    // a subsequent plain write lands on the ROLLED-BACK head — the
    // aborted prefix can no longer become permanent
    life.execute("INSERT INTO tx.fact VALUES ('2024-03-03',9)")
    assert(life.query("SELECT count(*) AS n FROM tx.fact")
      .head.getLong(0) == 3)
    life.execute("DELETE FROM tx.fact WHERE d = '2024-03-03'")
    val life2 = new SqlLifecycle(spark, root) // recover runs on open
    assert(life2.query("SELECT count(*) AS n FROM tx.fact")
      .head.getLong(0) == 2)
    // …and the retry lands cleanly
    life2.execute("BEGIN")
    life2.execute("DELETE FROM tx.fact WHERE d = '2024-03-02'")
    life2.execute("INSERT INTO tx.fact VALUES ('2024-03-02',3)")
    life2.execute("INSERT OVERWRITE tx.cum " +
      "SELECT d, count(*) AS n FROM tx.fact GROUP BY d")
    life2.execute("COMMIT")
    val Seq(f3, c3) = Txn.readAll(spark, Seq(factRoot, cumRoot))
    assert(f3.count() == 3 && c3.count() == 2)
  }

  test("SQL door: MERGE INTO and UPDATE ride BEGIN…COMMIT") {
    import graft.ops.{SqlLifecycle, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_sqltxnmerge_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA tm")
    life.execute("CREATE TABLE tm.dim (r STRING, k BIGINT, name STRING) " +
      "USING ICEBERG PARTITIONED BY (r)")
    life.execute("CREATE TABLE tm.fact (d STRING, k BIGINT, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO tm.dim VALUES ('east',1,'old'),('west',2,'two')")
    Seq(("east", 1L, "ONE"), ("east", 3L, "three"))
      .toDF("r", "k", "name").createOrReplaceTempView("dim_updates")
    // the CDC shape: dimension MERGE + fact INSERT + fact UPDATE move
    // atomically — each is one tagged commit at its txn position
    life.execute("BEGIN")
    life.execute("MERGE INTO tm.dim AS t USING dim_updates AS s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    life.execute(
      "INSERT INTO tm.fact VALUES ('2024-01-01',1,10),('2024-01-01',3,30)")
    life.execute("UPDATE tm.fact SET v = v * 2 WHERE k = 3")
    life.execute("COMMIT")
    assert(life.query("SELECT k, name FROM tm.dim ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "ONE"), (2L, "two"), (3L, "three")))
    assert(life.query("SELECT k, v FROM tm.fact ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (3L, 60L)))
    assert(VersionedPartitioned.headTag(spark, s"$root/tm/fact")
      .exists(_.matches("txn:[0-9a-f-]+:3of3")),
      "the UPDATE must occupy the transaction's third position")
    // a failure mid-COMMIT rolls the landed MERGE back with the rest
    Seq(("west", 2L, "TWO")).toDF("r", "k", "name")
      .createOrReplaceTempView("dim_updates2")
    life.execute("BEGIN")
    life.execute("MERGE INTO tm.dim AS t USING dim_updates2 AS s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    life.execute("INSERT INTO tm.fact SELECT * FROM tm.nope")
    intercept[Exception](life.execute("COMMIT"))
    assert(life.query("SELECT name FROM tm.dim WHERE k = 2")
      .head.getString(0) == "two",
      "the dimension MERGE must roll back with the failed transaction")
    // schema evolution inside a transaction body is refused loudly
    // (it may add metadata-only column commits — not single-commit)
    life.execute("BEGIN")
    val evo = intercept[IllegalArgumentException](life.execute(
      "MERGE WITH SCHEMA EVOLUTION INTO tm.dim AS t USING dim_updates " +
        "AS s ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(evo.getMessage.contains("SCHEMA EVOLUTION"))
    life.execute("ROLLBACK")
  }

  test("executeScript: the promote+cumulate pair inside one BEGIN…COMMIT block") {
    import graft.ops.{SqlLifecycle, Txn}
    val root = Files.createTempDirectory("graft_sqltxnscript_").toString
    val life = new SqlLifecycle(spark, root)
    // one SCRIPT text, the reference-day shape wrapped in a
    // transaction: idempotent DELETE-day, promote, cumulate reading
    // the promote, tail SELECT returned — statements split on
    // top-level semicolons and routed in order
    val out = life.executeScript("""
      CREATE SCHEMA sp;
      CREATE TABLE sp.prod (d STRING, v BIGINT)
        USING ICEBERG PARTITIONED BY (d);
      CREATE TABLE sp.cum (d STRING, n BIGINT)
        USING ICEBERG PARTITIONED BY (d);
      BEGIN;
      DELETE FROM sp.prod WHERE d = '2024-01-01';
      INSERT INTO sp.prod VALUES ('2024-01-01', 1), ('2024-01-01', 2);
      INSERT OVERWRITE sp.cum
        SELECT d, count(*) AS n FROM sp.prod GROUP BY d;
      COMMIT;
      SELECT d, n FROM sp.cum
    """).get
    // the door returns the DECLARED type even where partition-value
    // inference would read the date-like STRING key back as DATE
    assert(out.schema("d").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("2024-01-01", 2L)))
    // both tables resolve to the same complete transaction
    val Seq(f, c) = Txn.readAll(spark,
      Seq(s"$root/sp/prod", s"$root/sp/cum"))
    assert(f.count() == 2 && c.count() == 1)
    // the backfill re-run is idempotent END TO END: the DELETE now
    // really retracts, the promote re-lands the same day, the
    // cumulate recomputes — same final state, one more transaction
    life.executeScript("""
      BEGIN;
      DELETE FROM sp.prod WHERE d = '2024-01-01';
      INSERT INTO sp.prod VALUES ('2024-01-01', 1), ('2024-01-01', 2);
      INSERT OVERWRITE sp.cum
        SELECT d, count(*) AS n FROM sp.prod GROUP BY d;
      COMMIT
    """)
    assert(life.query(
        "SELECT CAST(d AS STRING) AS d, n FROM sp.cum").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("2024-01-01", 2L)))
    assert(life.query("SELECT count(*) AS n FROM sp.prod")
      .head.getLong(0) == 2L)
  }

  test("SQL door: occurrence views are dropped after the statement") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqloccdrop_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA o")
    life.execute("CREATE TABLE o.f (date DATE, id BIGINT) " +
      "USING ICEBERG PARTITIONED BY (date)")
    life.execute("INSERT INTO o.f VALUES " + (1 to 5)
      .map(d => f"(DATE '2024-03-$d%02d', $d)").mkString(", "))
    val q = life.query(
      "SELECT a.id FROM o.f a JOIN o.f b ON a.id = b.id " +
        "WHERE a.date = DATE '2024-03-02'")
    assert(q.count() == 1)
    // the per-statement `o__f__s<N>_<k>` views must not outlive the
    // statement — a long-lived session's catalog stays bounded
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.matches("(?i)o__f__s\\d+_\\d+"))
    assert(leaked.isEmpty, s"leaked occurrence views: ${leaked.mkString(",")}")
  }

  test("SQL door: EXPLAIN surfaces the pruned plan text") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlexplain_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("CREATE TABLE s.e (date DATE, id BIGINT) " +
      "USING ICEBERG PARTITIONED BY (date)")
    life.execute("INSERT INTO s.e VALUES " + (1 to 10)
      .map(d => f"(DATE '2024-03-$d%02d', $d)").mkString(", "))
    // the explained plan is the PRUNED one: its scan names only the
    // kept partition dir — the O(day)-not-O(table) proof in SQL
    val plan = life.execute(
      "EXPLAIN SELECT * FROM s.e WHERE date = DATE '2024-03-05'")
      .get.head.getString(0)
    assert(plan.contains("date=2024-03-05") &&
      !plan.contains("date=2024-03-06"), plan)
    // mode argument routes; planning must not execute the query
    assert(life.execute("EXPLAIN EXTENDED SELECT count(*) AS n FROM s.e")
      .get.head.getString(0).contains("== Physical Plan =="))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target metadata-only") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlmev_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t (date STRING, k BIGINT, v STRING)
      USING ICEBERG PARTITIONED BY (date)""")
    life.execute(
      "INSERT INTO s.t VALUES ('d1', 1, 'a'), ('d1', 2, 'b'), ('d2', 3, 'c')")
    life.execute("""
      MERGE WITH SCHEMA EVOLUTION INTO s.t AS t
      USING (SELECT 'd1' AS date, CAST(2 AS BIGINT) AS k, 'B' AS v,
                    'new' AS w
             UNION ALL
             SELECT 'd2', CAST(4 AS BIGINT), 'd', 'new') AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val got = life.table("s.t")
      .select(col("k"), col("v"), coalesce(col("w"), lit("-")).as("w"))
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    // matched row takes the new column, untouched rows read the
    // metadata-only NULL default, the new row inserts whole
    assert(got == Seq((1L, "a", "-"), (2L, "B", "new"),
      (3L, "c", "-"), (4L, "d", "new")))
    // a source LACKING an existing target column is refused loudly
    val e = intercept[IllegalArgumentException](life.execute("""
      MERGE WITH SCHEMA EVOLUTION INTO s.t AS t
      USING (SELECT 'd1' AS date, CAST(9 AS BIGINT) AS k) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *"""))
    assert(e.getMessage.contains("every existing target column"))
  }

  test("create_changelog_view: mixed named/positional args slot correctly") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlclv_mixed_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t (date STRING, k BIGINT, v STRING)
      USING ICEBERG PARTITIONED BY (date)""")
    life.execute("INSERT INTO s.t VALUES ('d1', 1, 'a')") // v1
    life.execute("INSERT INTO s.t VALUES ('d2', 2, 'b')") // v2
    life.execute("INSERT INTO s.t VALUES ('d3', 3, 'c')") // v3
    // (table => named, 1, 2 positional): from=1, to=2 — the window is
    // (1, 2], i.e. ONLY the k=2 insert; a mis-slotted `to` would fall
    // back to the current version and leak k=3 in
    life.execute(
      "CALL system.create_changelog_view(table => 's.t', 1, 2)")
    assert(life.query("SELECT k FROM t_changes").as[Long].collect()
      .toSeq == Seq(2L))
  }

  test("SqlLifecycle row-level verbs: MERGE INTO, UPDATE, DELETE predicate") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlrow_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t
      (k STRING, date DATE, v DECIMAL(10, 2)) USING ICEBERG
      PARTITIONED BY (date)""")
    life.execute("""INSERT INTO s.t VALUES
      ('a', DATE '2024-01-01', 1.0), ('b', DATE '2024-01-01', 2.0),
      ('c', DATE '2024-01-02', 3.0)""")
    def rows() = life.table("s.t").orderBy("k")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getDecimal(2).doubleValue)).toSeq

    // full-row MERGE: b updated in place, d inserted into a NEW
    // partition, a/c untouched (their partitions outside the merge)
    life.execute("""
      MERGE INTO s.t AS t
      USING (SELECT 'b' AS k, DATE '2024-01-01' AS date, 20.0 AS v
             UNION ALL
             SELECT 'd', DATE '2024-01-03', 4.0) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(rows() == Seq(("a", "2024-01-01", 1.0), ("b", "2024-01-01", 20.0),
      ("c", "2024-01-02", 3.0), ("d", "2024-01-03", 4.0)))

    // column-level MERGE + BY SOURCE DELETE: only v updates (k/date
    // kept), rows absent from the source are pruned
    life.execute("""
      MERGE INTO s.t AS t
      USING (SELECT 'a' AS k, DATE '2024-01-01' AS date, 10.0 AS v
             UNION ALL SELECT 'c', DATE '2024-01-02', 30.0
             UNION ALL SELECT 'e', DATE '2024-01-02', 5.0) AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(rows() == Seq(("a", "2024-01-01", 10.0), ("c", "2024-01-02", 30.0),
      ("e", "2024-01-02", 5.0)))
    // b and d gone → the 01-03 partition emptied and left the manifest
    // in the same commit (no stale partition survives)
    assert(graft.ops.VersionedPartitioned
      .partitions(spark, s"$root/s/t").forall(!_.endsWith("2024-01-03")))

    // UPDATE with expression over the OLD row + WHERE
    life.execute("UPDATE s.t SET v = v * 2 WHERE k <> 'c'")
    assert(rows() == Seq(("a", "2024-01-01", 20.0), ("c", "2024-01-02", 30.0),
      ("e", "2024-01-02", 10.0)))

    // UPDATE that moves a row across partitions: the emptied source
    // partition is dropped, the landing partition (already live)
    // keeps its other rows
    life.execute("UPDATE s.t SET date = DATE '2024-01-02' WHERE k = 'a'")
    assert(rows() == Seq(("a", "2024-01-02", 20.0), ("c", "2024-01-02", 30.0),
      ("e", "2024-01-02", 10.0)))
    assert(graft.ops.VersionedPartitioned
      .partitions(spark, s"$root/s/t") == Seq("date=2024-01-02"))

    // general-predicate DELETE (not the partition column)
    life.execute("DELETE FROM s.t WHERE v > 15.0")
    assert(rows() == Seq(("e", "2024-01-02", 10.0)))
  }

  test("SqlLifecycle maintenance verbs: ALTER ADD COLUMN, INSERT OVERWRITE, TRUNCATE, OPTIMIZE, VACUUM") {
    import graft.ops.{SqlLifecycle, VersionedPartitioned => VP}
    val root = Files.createTempDirectory("graft_sqlmaint_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t
      (k BIGINT, date DATE, v DECIMAL(10, 2)) USING ICEBERG
      PARTITIONED BY (date)""")
    life.execute("""INSERT INTO s.t VALUES
      (1, DATE '2024-01-01', 5.0), (2, DATE '2024-01-01', 25.0),
      (3, DATE '2024-01-02', 50.0)""")
    val path = s"$root/s/t"

    // ALTER ADD COLUMN with a row-dependent default: metadata-only
    // (version advances by ONE commit, no partition rewritten), and
    // the column resolves in queries and later INSERTs
    val vBefore = VP.currentVersion(spark, path).get
    life.execute("""ALTER TABLE s.t ADD COLUMN band STRING
      DEFAULT (CASE WHEN v >= 20 THEN 'H' ELSE 'L' END)""")
    assert(VP.currentVersion(spark, path).get == vBefore + 1)
    assert(life.query(
      "SELECT k, band FROM s.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "L"), (2L, "H"), (3L, "H")))
    life.execute(
      "INSERT INTO s.t VALUES (4, DATE '2024-01-03', 9.0, 'X')")
    assert(life.query("SELECT band FROM s.t WHERE k = 4").head.getString(0)
      == "X")

    // INSERT OVERWRITE replaces exactly the partitions in the result
    life.execute("""INSERT OVERWRITE s.t
      SELECT 9 AS k, DATE '2024-01-01' AS date,
             CAST(1.0 AS DECIMAL(10,2)) AS v, 'Z' AS band""")
    val afterOw = life.query("SELECT k FROM s.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(afterOw == Seq(3L, 4L, 9L)) // 01-01 replaced, others kept

    // OPTIMIZE ZORDER BY rewrites layout, never content
    life.execute("OPTIMIZE s.t ZORDER BY (k, v)")
    assert(life.query("SELECT k FROM s.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 9L))

    // VACUUM drops pre-head history; the live read is unaffected
    life.execute("VACUUM s.t RETAIN 1 VERSIONS")
    assert(life.query("SELECT count(*) FROM s.t").head.getLong(0) == 3L)
    intercept[Exception](VP.readAt(spark, path, 1L).collect())

    // TRUNCATE empties in one metadata commit; reload works
    life.execute("TRUNCATE TABLE s.t")
    assert(life.query("SELECT count(*) FROM s.t").head.getLong(0) == 0L)
    life.execute(
      "INSERT INTO s.t VALUES (7, DATE '2024-02-01', 2.0, 'Y')")
    assert(life.query("SELECT k FROM s.t").head.getLong(0) == 7L)
  }

  test("SqlLifecycle catalog verbs: CTAS, views, SHOW TABLES, DESCRIBE") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlcat_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.base
      (k BIGINT, date DATE, v DECIMAL(10, 2)) USING ICEBERG
      PARTITIONED BY (date)""")
    life.execute("""INSERT INTO s.base VALUES
      (1, DATE '2024-01-01', 5.0), (2, DATE '2024-01-01', 25.0),
      (3, DATE '2024-01-02', 50.0)""")

    // CTAS, partitioned: schema inferred, rows land per partition
    life.execute("""CREATE TABLE s.big USING ICEBERG PARTITIONED BY (date)
      AS SELECT k, date, v FROM s.base WHERE v >= 20""")
    assert(life.table("s.big").orderBy("k").collect().map(_.getLong(0)).toSeq
      == Seq(2L, 3L))
    // CREATE OR REPLACE … AS SELECT FROM itself is safe (materialized
    // before the drop)
    life.execute("""CREATE OR REPLACE TABLE s.big USING ICEBERG
      PARTITIONED BY (date) AS SELECT * FROM s.big WHERE k = 3""")
    assert(life.table("s.big").collect().map(_.getLong(0)).toSeq == Seq(3L))

    // views: reference tables AND other views, any definition order
    life.execute(
      "CREATE VIEW s.v2 AS SELECT k * 10 AS k10 FROM s.v1")
    life.execute(
      "CREATE VIEW s.v1 AS SELECT k FROM s.base WHERE v < 30")
    assert(life.query("SELECT k10 FROM s.v2 ORDER BY k10")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
    life.execute("DROP VIEW s.v2")
    assert(life.views() == Seq("s.v1"))

    // SHOW TABLES lists tables and views; DESCRIBE shows the schema
    val shown = life.execute("SHOW TABLES").get
      .collect().map(_.getString(0)).toSeq
    assert(shown == Seq("s.base", "s.big", "s.v1 (view)"))
    val desc = life.execute("DESCRIBE s.base").get
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(desc == Seq(("k", ""), ("date", "partition key"), ("v", "")))
  }

  test("SqlLifecycle query door: lazy registration resolves only referenced tables; literals are never rewritten") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqllazy_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    for (t <- Seq("t1", "t2")) {
      life.execute(s"""CREATE TABLE s.$t
        (k BIGINT, date DATE, note STRING) USING ICEBERG
        PARTITIONED BY (date)""")
      life.execute(s"INSERT INTO s.$t VALUES (1, DATE '2024-01-01', 's.t1')")
    }
    // a view over t2, referenced nowhere in the t1-only statements below
    life.execute("CREATE VIEW s.v2 AS SELECT k FROM s.t2")
    // corrupt t2's commit file: ANY manifest resolution of t2 now throws,
    // so a t1-only query succeeding proves the router registered only the
    // tables the statement references (per-statement cost O(referenced),
    // not O(catalog))
    import scala.jdk.CollectionConverters._
    val t2dir = java.nio.file.Paths.get(root, "s", "t2")
    val commits = java.nio.file.Files.list(t2dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".commit")).toSeq
    assert(commits.nonEmpty)
    commits.foreach(c => java.nio.file.Files.write(c,
      "corrupt".getBytes("UTF-8")))
    // t1-only query: fine. The same text also proves string literals are
    // never name-rewritten ('s.t2' stays data; 's.t1' comes back verbatim)
    val row = life.query(
      "SELECT k, note, 's.t2 and s.t1' AS lit FROM s.t1 WHERE note = 's.t1'")
      .collect().toSeq
    assert(row.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      == Seq((1L, "s.t1", "s.t2 and s.t1")))
    // touching t2 (directly or through the view) DOES resolve it → throws
    intercept[Exception](life.query("SELECT * FROM s.t2").collect())
    intercept[Exception](life.query("SELECT * FROM s.v2").collect())
  }

  test("SqlLifecycle conditional MERGE: pre-update reads, failed condition keeps target row, conditional BY SOURCE delete, guards") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlcondmerge_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t
      (k BIGINT, date DATE, a BIGINT, b BIGINT, src STRING)
      USING ICEBERG PARTITIONED BY (date)""")
    life.execute("""INSERT INTO s.t VALUES
      (1, DATE '2024-01-01', 10, 20, 'base'),
      (2, DATE '2024-01-01', 30, 40, 'base'),
      (3, DATE '2024-01-02', 50, 60, 'base')""")
    Seq((1L, java.sql.Date.valueOf("2024-01-01"), 100L, 200L, "m"),
        (2L, java.sql.Date.valueOf("2024-01-01"), 1L, 2L, "m"),
        (9L, java.sql.Date.valueOf("2024-01-03"), 7L, 8L, "m"))
      .toDF("k", "date", "a", "b", "src").createOrReplaceTempView("merge_src")
    // k=1 matches AND passes cond (s.a > 50): swap semantics — both
    // assignments read the PRE-update target row (a' = t.b + s.a,
    // b' = t.a). k=2 matches but FAILS the condition: keeps ALL target
    // values. k=9 unmatched: inserted. k=3 untouched.
    life.execute("""
      MERGE INTO s.t AS t USING merge_src AS s
      ON t.k = s.k
      WHEN MATCHED AND s.a > 50
        THEN UPDATE SET a = t.b + s.a, b = t.a, src = s.src
      WHEN NOT MATCHED THEN INSERT *""")
    val got = life.table("s.t").orderBy("k")
      .select("k", "a", "b", "src").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq((1L, 120L, 10L, "m"), (2L, 30L, 40L, "base"),
      (3L, 50L, 60L, "base"), (9L, 7L, 8L, "m")))
    // conditional BY SOURCE delete: only target-only rows passing the
    // condition go (k=3 has b=60 → deleted; k=1,2 matched → stay)
    life.execute("""
      MERGE INTO s.t AS t USING merge_src AS s
      ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.b >= 50 THEN DELETE""")
    assert(life.table("s.t").orderBy("k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 9L))
    // conditional INSERT arm: only source-only rows passing the
    // condition insert (k=9 has a=7 < 100 → NOT inserted again after
    // we delete it; k=1,2 matched → untouched by the insert arm)
    life.execute("DELETE FROM s.t WHERE k = 9")
    life.execute("""
      MERGE INTO s.t AS t USING merge_src AS s
      ON t.k = s.k
      WHEN NOT MATCHED AND s.a >= 100 THEN INSERT *""")
    assert(life.table("s.t").orderBy("k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L))
    // guards: a second WHEN MATCHED clause and a partition-column
    // expression assignment both raise, never silently drop
    val e1 = intercept[IllegalArgumentException](life.execute("""
      MERGE INTO s.t AS t USING merge_src AS s ON t.k = s.k
      WHEN MATCHED AND s.a > 50 THEN UPDATE SET a = s.a
      WHEN MATCHED THEN UPDATE SET b = s.b
      WHEN NOT MATCHED THEN INSERT *"""))
    assert(e1.getMessage.contains("at most one WHEN MATCHED"))
    val e2 = intercept[IllegalArgumentException](life.execute("""
      MERGE INTO s.t AS t USING merge_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET date = DATE_ADD(s.date, 1)
      WHEN NOT MATCHED THEN INSERT *"""))
    assert(e2.getMessage.contains("partition"))
  }

  test("SqlLifecycle transform-partition DDL: days/bucket spec from raw text, routed INSERT/SELECT/UPDATE/DELETE/MERGE, key stays hidden") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlhidden_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA h")
    life.execute("""CREATE TABLE h.ev
      (id BIGINT, ts TIMESTAMP, uid BIGINT, v DOUBLE)
      USING ICEBERG PARTITIONED BY (days(ts), bucket(4, uid))""")
    // the stored partition column is the transform-encoded physical key
    val metaText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "h", "ev", "_graft_table.meta")), "UTF-8")
    assert(metaText.contains("hp__multi__days__ts__AND__bucket4__uid"),
      s"meta: $metaText")
    life.execute("""INSERT INTO h.ev VALUES
      (1, TIMESTAMP '2024-01-01 10:00:00', 7, 1.0),
      (2, TIMESTAMP '2024-01-01 11:00:00', 8, 2.0),
      (3, TIMESTAMP '2024-01-02 09:00:00', 7, 3.0)""")
    // SELECT through the query door: declared columns only, right rows
    val got = life.query("SELECT id, v FROM h.ev ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    assert(!life.table("h.ev").columns.exists(_.startsWith("hp__")))
    // physical layout: one dir per (day × uid-bucket) combination
    val parts = graft.ops.VersionedPartitioned.partitions(spark,
      java.nio.file.Paths.get(root, "h", "ev").toString)
    assert(parts.size == 3, s"parts: $parts") // (d1,b7)(d1,b8)(d2,b7)
    // UPDATE with a predicate on a SOURCE column routes partition-scoped
    life.execute("UPDATE h.ev SET v = v * 10 WHERE uid = 7")
    assert(life.query("SELECT CAST(sum(v) AS DOUBLE) s FROM h.ev")
      .collect().head.getDouble(0) == 42.0) // 10 + 2 + 30
    // UPDATE that MOVES a row across partitions (ts reassigned):
    // the landing partition is outside the matched set — must widen
    life.execute(
      "UPDATE h.ev SET ts = TIMESTAMP '2024-01-05 08:00:00' WHERE id = 2")
    assert(life.query(
      "SELECT count(*) c FROM h.ev WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'")
      .collect().head.getLong(0) == 1L)
    // DELETE by source-column predicate
    life.execute("DELETE FROM h.ev WHERE id = 3")
    assert(life.table("h.ev").count() == 2)
    // MERGE upserts through the hidden layout (key ≠ any partition source)
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, 100.0),
        (9L, java.sql.Timestamp.valueOf("2024-01-09 10:00:00"), 9L, 9.0))
      .toDF("id", "ts", "uid", "v").createOrReplaceTempView("hid_src")
    life.execute("""MERGE INTO h.ev AS t USING hid_src AS s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val after = life.query("SELECT id, v FROM h.ev ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == Seq((1L, 100.0), (2L, 2.0), (9L, 9.0)), s"got $after")
    // CTAS with a transform spec also routes
    life.execute("""CREATE TABLE h.ev2 USING ICEBERG
      PARTITIONED BY (months(ts)) AS SELECT * FROM h.ev""")
    assert(life.table("h.ev2").count() == 3)
    // guards: unknown transform and unknown source column raise
    intercept[IllegalArgumentException] { life.execute("""
      CREATE TABLE h.bad (a BIGINT, ts TIMESTAMP) USING ICEBERG
      PARTITIONED BY (years(ts))""") }
    intercept[IllegalArgumentException] { life.execute("""
      CREATE TABLE h.bad2 (a BIGINT, ts TIMESTAMP) USING ICEBERG
      PARTITIONED BY (days(nope))""") }
  }

  test("SqlLifecycle WAP branch routing: CREATE BRANCH, branch INSERT/OVERWRITE, branch SELECT, fast_forward, DROP BRANCH") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlwap_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA w")
    life.execute("""CREATE TABLE w.facts
      (k BIGINT, month STRING, total DECIMAL(18, 2))
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute("""INSERT INTO w.facts VALUES
      (1, '1995-01', 10.00), (2, '1995-02', 20.00), (3, '1995-03', 30.00)""")
    // fork the audit branch at main's current manifest (metadata-only)
    life.execute("ALTER TABLE w.facts CREATE BRANCH audit")
    // staged partition REPLACE on the branch: February repriced
    life.execute("""INSERT OVERWRITE w.facts.branch_audit
      VALUES (2, '1995-02', 22.00)""")
    // staged true INSERT on the branch: April appended, then a second
    // February row FOLDED into the branch's repriced partition
    life.execute("INSERT INTO w.facts.branch_audit VALUES (4, '1995-04', 40.00)")
    life.execute("INSERT INTO w.facts.branch_audit VALUES (5, '1995-02', 5.00)")
    def totals(sql: String): Map[String, Double] =
      life.query(sql).collect()
        .map(r => r.getString(0) -> r.getDecimal(1).doubleValue()).toMap
    // branch read through the query door: repriced + folded Feb, April
    val branch = totals("""SELECT month, sum(total) FROM w.facts.branch_audit
      GROUP BY month""")
    assert(branch == Map("1995-01" -> 10.0, "1995-02" -> 27.0,
      "1995-03" -> 30.0, "1995-04" -> 40.0), s"branch state: $branch")
    // main is untouched until publish
    val main0 = totals("SELECT month, sum(total) FROM w.facts GROUP BY month")
    assert(main0 == Map("1995-01" -> 10.0, "1995-02" -> 20.0,
      "1995-03" -> 30.0), s"main leaked staged writes: $main0")
    // audit passed → fast-forward main to the branch head (both arg forms)
    val ff = life.execute(
      "CALL catalog.system.fast_forward('w.facts', 'main', 'audit')").get
    assert(ff.select("published_branch").collect().head.getString(0) == "audit")
    val main1 = totals("SELECT month, sum(total) FROM w.facts GROUP BY month")
    assert(main1 == branch, s"publish must fast-forward main: $main1")
    // the branch pointer survives publish (re-audit loop) until dropped
    life.execute("INSERT INTO w.facts.branch_audit VALUES (6, '1995-05', 1.00)")
    life.execute("ALTER TABLE w.facts DROP BRANCH audit")
    // after the drop the suffix no longer resolves → loud failure
    intercept[Exception] {
      life.query("SELECT count(*) FROM w.facts.branch_audit").collect()
    }
    // guards: double CREATE raises; branch verbs on unknown tables raise
    life.execute("ALTER TABLE w.facts CREATE BRANCH b2")
    intercept[IllegalArgumentException] {
      life.execute("ALTER TABLE w.facts CREATE BRANCH b2")
    }
    intercept[IllegalArgumentException] {
      life.execute("ALTER TABLE w.nope CREATE BRANCH x")
    }
    // dropping a missing branch raises too (parity with Iceberg)
    intercept[IllegalArgumentException] {
      life.execute("ALTER TABLE w.facts DROP BRANCH never_created")
    }
    // the `refs` metadata table lists main + live branches (audit was
    // dropped above, b2 survives)
    assert(life.query("SELECT name, type FROM w.facts.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("b2", "BRANCH"), ("main", "BRANCH")))
  }

  test("SqlLifecycle MERGE with swapped/colliding aliases: source aliased 't' must not capture target references") {
    // regression: sequential alias rewriting (target pass then source
    // pass) let USING ... AS t re-capture the just-produced internal
    // 't.' references, resolving target columns against the source
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlalias_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t
      (k BIGINT, date DATE, a BIGINT, src STRING)
      USING ICEBERG PARTITIONED BY (date)""")
    life.execute("""INSERT INTO s.t VALUES
      (1, DATE '2024-01-01', 10, 'base'),
      (2, DATE '2024-01-02', 30, 'base')""")
    Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1000L, "m"),
        (9L, java.sql.Date.valueOf("2024-01-03"), 7L, "m"))
      .toDF("k", "date", "a", "src").createOrReplaceTempView("alias_src")
    // target aliased 'x', source aliased 't' (the collision): the
    // matched row's new a must read TARGET a (10) + source a (1000);
    // with the clobber bug both sides resolve to the source → 2000
    life.execute("""
      MERGE INTO s.t AS x USING alias_src AS t
      ON x.k = t.k
      WHEN MATCHED AND t.a > 50 THEN UPDATE SET a = x.a + t.a, src = t.src
      WHEN NOT MATCHED THEN INSERT *""")
    val got = life.table("s.t").orderBy("k")
      .select("k", "a", "src").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 1010L, "m"), (2L, 30L, "base"), (9L, 7L, "m")),
      s"alias collision resolved target columns against the source: $got")
    // fully swapped aliases (target 's', source 't') also round-trip
    life.execute("""
      MERGE INTO s.t AS s USING alias_src AS t
      ON s.k = t.k
      WHEN MATCHED AND t.k = 9 THEN UPDATE SET a = s.a * 2, src = s.src
      WHEN NOT MATCHED THEN INSERT *""")
    assert(life.table("s.t").where($"k" === 9).select("a").collect()
      .map(_.getLong(0)).toSeq == Seq(14L))
    // identical aliases raise loudly instead of producing ambiguity
    val e = intercept[IllegalArgumentException](life.execute("""
      MERGE INTO s.t AS z USING alias_src AS z ON z.k = z.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    assert(e.getMessage.contains("aliases must differ"))
  }

  test("SqlLifecycle INSERT folds overlapping partitions; partition DELETE is metadata-only") {
    import graft.ops.{SqlLifecycle, VersionedPartitioned => VP}
    val root = Files.createTempDirectory("graft_sqlins_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t (k BIGINT, date DATE)
      USING ICEBERG PARTITIONED BY (date)""")
    life.execute("INSERT INTO s.t VALUES (1, DATE '2024-01-01')")
    // second INSERT into the SAME live partition: union, not overwrite
    // (the write-snapshot-first path must fold the current rows in)
    life.execute("""INSERT INTO s.t VALUES
      (2, DATE '2024-01-01'), (3, DATE '2024-01-02')""")
    assert(life.table("s.t").orderBy("k").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 3L))
    val path = java.nio.file.Paths.get(root, "s", "t").toString
    val vBefore = VP.currentVersion(spark, path).get
    def dataFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
    }
    val filesBefore = dataFiles()
    // whole-partition DELETE: manifest edit only — zero data files
    // created or removed, and time travel still sees the dropped rows
    life.execute("DELETE FROM s.t WHERE date = DATE '2024-01-01'")
    assert(dataFiles() == filesBefore)
    assert(life.table("s.t").collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(VP.readAt(spark, path, vBefore).count() == 3)
    // deleting a date with no live partition commits nothing
    val v1 = VP.currentVersion(spark, path).get
    life.execute("DELETE FROM s.t WHERE date = DATE '2099-12-31'")
    assert(VP.currentVersion(spark, path).get == v1)
    // INSERT of zero rows commits nothing
    life.execute("INSERT INTO s.t SELECT * FROM s.t WHERE k < 0")
    assert(VP.currentVersion(spark, path).get == v1)
  }

  test("SqlLifecycle metadata tables, SHOW CREATE round-trip, CALL procedures") {
    import graft.ops.{SqlLifecycle, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_sqlmeta_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t
      (k BIGINT, date DATE, v DECIMAL(10, 2)) USING ICEBERG
      PARTITIONED BY (date)""")
    life.execute("""INSERT INTO s.t VALUES
      (1, DATE '2024-01-01', 5.0), (2, DATE '2024-01-01', 25.0),
      (3, DATE '2024-01-02', 50.0)""")
    life.execute("INSERT INTO s.t VALUES (4, DATE '2024-01-03', 75.0)")

    // history: two commits, second current; snapshots mirrors it
    val hist = life.query(
      "SELECT version, n_partitions, is_current FROM s.t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    assert(hist == Seq((1L, 2, false), (2L, 3, true)))
    assert(life.query("SELECT count(*) FROM s.t.snapshots").head().getLong(0) == 2L)

    // partitions ≡ files fold; SHOW PARTITIONS agrees with both
    val parts = life.query(
      "SELECT date, n_files, n_rows, n_delete_files FROM s.t.partitions ORDER BY date")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getInt(3))).toSeq
    assert(parts == Seq(("2024-01-01", 2L, 0), ("2024-01-02", 1L, 0),
      ("2024-01-03", 1L, 0)))
    val fileSum = life.query(
      "SELECT CAST(sum(record_count) AS BIGINT) FROM s.t.files").head().getLong(0)
    assert(fileSum == 4L)
    assert(life.execute("SHOW PARTITIONS s.t").get.collect()
      .map(_.getString(0)).toSeq
      == Seq("date=2024-01-01", "date=2024-01-02", "date=2024-01-03"))

    // MoR delete sidecars: files keeps as-written record counts
    // (Iceberg record_count semantics), partitions reports the
    // delete-file census, the data read resolves to live rows
    val keys = spark.sql(
      "SELECT CAST(1 AS BIGINT) AS k, DATE '2024-01-01' AS date")
    VersionedPartitioned.deleteKeysMor(spark, s"$root/s/t", keys)
    assert(life.query("SELECT CAST(sum(record_count) AS BIGINT) FROM s.t.files")
      .head().getLong(0) == 4L)
    assert(life.query(
      "SELECT n_delete_files FROM s.t.partitions WHERE date = '2024-01-01'")
      .head().getInt(0) == 1)
    assert(life.table("s.t").count() == 3L)

    // SHOW CREATE TABLE round-trips through a second catalog
    val ddl = life.execute("SHOW CREATE TABLE s.t").get.head().getString(0)
    val root2 = Files.createTempDirectory("graft_sqlmeta2_").toString
    val life2 = new SqlLifecycle(spark, root2)
    life2.execute("CREATE SCHEMA s")
    life2.execute(ddl)
    assert(life2.execute("DESCRIBE s.t").get.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      == life.execute("DESCRIBE s.t").get.collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq)

    // CALL: set_current_snapshot back to v1, positional args; the
    // result frame reports the new current version
    val res = life.execute("CALL system.set_current_snapshot('s.t', 1)").get
    assert(res.head().getLong(2) >= 3L)
    assert(life.table("s.t").count() == 3L) // v1 content, MoR delete undone
    intercept[IllegalArgumentException] {
      life.execute("CALL system.no_such_proc('s.t')")
    }
  }

  test("expire_snapshots dry_run lists exactly what the real expire reclaims") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlexpiredry_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA x")
    life.execute("CREATE TABLE x.t (d STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    // three versions; the overwrites supersede day-01 snapshots
    life.execute("INSERT INTO x.t VALUES ('2024-01-01', 1)")
    life.execute("INSERT OVERWRITE x.t SELECT '2024-01-01' AS d, 2 AS v")
    life.execute("INSERT OVERWRITE x.t SELECT '2024-01-01' AS d, 3 AS v")
    val dry = life.execute("CALL system.expire_snapshots(" +
      "table => 'x.t', retain_last => 1, dry_run => true)").get
      .collect().map(_.getString(1)).toSeq
    assert(dry.nonEmpty, "superseded snapshots must be listed")
    // the preview wrote NOTHING: full history still time-travels
    assert(life.query("SELECT v FROM x.t VERSION AS OF 1")
      .head().getLong(0) == 1L)
    val tdir = java.nio.file.Paths.get(root, "x", "t")
    assert(dry.forall(d => java.nio.file.Files.exists(tdir.resolve(d))),
      "dry run must not delete")
    // the real expire reclaims exactly the listed dirs
    // the VACUUM statement's DRY RUN spelling previews the same plan
    val vdry = life.execute("VACUUM x.t RETAIN 1 VERSIONS DRY RUN").get
      .collect().map(_.getString(1)).toSeq
    assert(vdry.sorted == dry.sorted,
      "VACUUM … DRY RUN and expire_snapshots dry_run must agree")
    assert(dry.forall(d => java.nio.file.Files.exists(tdir.resolve(d))))
    val real = life.execute("CALL system.expire_snapshots(" +
      "table => 'x.t', retain_last => 1)").get
    assert(real.head().getInt(1) == dry.size ||
      real.head().get(1).toString.toInt == dry.size)
    assert(dry.forall(d => !java.nio.file.Files.exists(tdir.resolve(d))),
      "the real expire must reclaim the previewed dirs")
    // post-reclaim preview is empty, and DRY RUN on a never-written
    // table is an empty listing, not an error
    assert(life.execute("VACUUM x.t DRY RUN").get.count() == 0)
    life.execute("CREATE TABLE x.empty (d STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    assert(life.execute("VACUUM x.empty DRY RUN").get.count() == 0)
  }

  test("create_changelog_view with identifier_columns classifies updates as updates") {
    import graft.ops.SqlLifecycle
    val root = Files.createTempDirectory("graft_sqlclv_ids_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.t (date STRING, k BIGINT, v STRING)
      USING ICEBERG PARTITIONED BY (date)""")
    life.execute(
      "INSERT INTO s.t VALUES ('d1', 1, 'a'), ('d1', 2, 'b'), ('d2', 3, 'c')")
    // v2: rewrite d1 — k=1 re-valued, k=2 dropped, k=4 appears
    life.execute("DELETE FROM s.t WHERE date = 'd1'")
    life.execute("INSERT INTO s.t VALUES ('d1', 1, 'A'), ('d1', 4, 'd')")
    def feed(callArgs: String): Map[(Long, String), Int] = {
      life.execute(s"CALL system.create_changelog_view($callArgs)")
      life.query("SELECT k, change_type FROM t_changes")
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    }
    // key identity: the re-valued k=1 is ONE update row; the untouched
    // d2 partition contributes nothing
    val keyed = feed("table => 's.t', from_version => 1, " +
      "identifier_columns => 'k'")
    assert(keyed == Map((1L, "update") -> 1, (2L, "delete") -> 1,
      (4L, "insert") -> 1))
    // full-row identity (the default): the same re-value is the old
    // row deleted + the new row inserted
    val fullRow = feed("table => 's.t', from_version => 1")
    assert(fullRow == Map((1L, "delete") -> 1, (1L, "insert") -> 1,
      (2L, "delete") -> 1, (4L, "insert") -> 1))
    // unknown identifier column fails loudly
    intercept[IllegalArgumentException] {
      life.execute("CALL system.create_changelog_view(" +
        "table => 's.t', from_version => 1, identifier_columns => 'nope')")
    }
  }

  test("strict DQ mode fails the run on a violation") {
    val root = Files.createTempDirectory("graft_pipe3").toString
    val pipe = new Pipeline(spark,
      PipelineConfig(s"$root/prod", s"$root/cum", strictDq = true))
    val ds = LocalDate.of(2024, 2, 6)
    intercept[IllegalStateException] {
      pipe.runDay(ds, d => feed(d).withColumn("volume", lit(0L)))
    }
  }
}
