package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SqlLifecycle, VersionedPartitioned}

/**
 * Metadata-only aggregation (`VersionedPartitioned.aggregateFromStats`
 * + the SQL door's `StatsAgg` bridge): COUNT/MIN/MAX/SUM answered from
 * the per-file `_stats` sidecars with ZERO data I/O, with every
 * legality gate falling back to the real scan — never a wrong answer.
 */
class StatsAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dataFilesRead(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.inputFiles.toSeq.filterNot(_.contains("/_stats/"))

  private def sampleRows = Seq(
    // (date, id, qty nullable, amt)
    ("2024-01-01", "a", Some(1L), BigDecimal("10.50")),
    ("2024-01-01", "b", None, BigDecimal("2.25")),
    ("2024-01-02", "c", Some(5L), BigDecimal("7.00")),
    ("2024-01-02", "d", Some(7L), BigDecimal("0.25")),
    ("2024-01-03", "e", Some(11L), BigDecimal("100.00")))

  private def sampleDf = sampleRows
    .toDF("date", "id", "qty", "amt")
    .select(col("date").cast("date").as("date"), col("id"),
      col("qty"), col("amt").cast("decimal(10,2)").as("amt"))

  test("aggregateFromStats: exact fold, keeps, grouping, and bails") {
    val root = Files.createTempDirectory("graft_statsagg_").toString
    VersionedPartitioned.promote(sampleDf, root, "date",
      statsCols = Seq("qty", "amt", "id"))
    import VersionedPartitioned.StatsAggSpec
    import org.apache.spark.sql.types._
    val specs = Seq(
      StatsAggSpec("count_star", None, "n", LongType),
      StatsAggSpec("count", Some("qty"), "nq", LongType),
      StatsAggSpec("min", Some("amt"), "lo", DecimalType(10, 2)),
      StatsAggSpec("max", Some("qty"), "hi", LongType),
      StatsAggSpec("sum", Some("qty"), "sq", LongType),
      StatsAggSpec("sum", Some("amt"), "sa", DecimalType(20, 2)))
    val folded = VersionedPartitioned
      .aggregateFromStats(spark, root, specs).get
    assert(dataFilesRead(folded).isEmpty,
      "metadata fold must not touch data files")
    val live = VersionedPartitioned.read(spark, root)
    val expect = live.agg(count(lit(1)).as("n"), count(col("qty")).as("nq"),
      min("amt").as("lo"), max("qty").as("hi"),
      sum("qty").as("sq"), sum("amt").cast("decimal(20,2)").as("sa"))
    assert(folded.collect().toSeq == expect.collect().toSeq)

    // partition keep: only 2024-01-02
    val keep: (String, String) => Option[Boolean] =
      (v, _) => Some(v == "2024-01-02")
    val kept = VersionedPartitioned
      .aggregateFromStats(spark, root, specs, Some(keep)).get.head()
    assert(kept.getLong(0) == 2 && kept.getLong(3) == 7 &&
      kept.getLong(4) == 12)

    // undecidable partition → bail
    val undecided: (String, String) => Option[Boolean] = (_, _) => None
    assert(VersionedPartitioned
      .aggregateFromStats(spark, root, specs, Some(undecided)).isEmpty)

    // empty keep → zero-row semantics of a global aggregate
    val none: (String, String) => Option[Boolean] = (_, _) => Some(false)
    val z = VersionedPartitioned
      .aggregateFromStats(spark, root, specs, Some(none)).get.head()
    assert(z.getLong(0) == 0 && z.getLong(1) == 0 && z.isNullAt(2) &&
      z.isNullAt(3) && z.isNullAt(4) && z.isNullAt(5))

    // grouped by partition value, typed as DATE
    val grouped = VersionedPartitioned.aggregateFromStats(spark, root,
      Seq(StatsAggSpec("count_star", None, "n", LongType)),
      groupBy = Some(("date", DateType))).get
    assert(dataFilesRead(grouped).isEmpty)
    assert(grouped.orderBy("date").collect().toSeq ==
      live.groupBy("date").agg(count(lit(1)).as("n"))
        .orderBy("date").collect().toSeq)

    // uncovered column → bail (no cnt_/sum_ for a column outside
    // statsCols)
    assert(VersionedPartitioned.aggregateFromStats(spark, root,
      Seq(StatsAggSpec("min", Some("date"), "d", DateType))).isEmpty)

    // a snapshot written WITHOUT stats poisons coverage → bail
    VersionedPartitioned.promote(
      Seq(("2024-01-04", "f", Some(1L), BigDecimal("1.00")))
        .toDF("date", "id", "qty", "amt")
        .select(col("date").cast("date").as("date"), col("id"), col("qty"),
          col("amt").cast("decimal(10,2)").as("amt")),
      root, "date")
    assert(VersionedPartitioned
      .aggregateFromStats(spark, root, specs).isEmpty)
    // …but version-pinned at the stats-covered commit it still folds
    assert(VersionedPartitioned
      .aggregateFromStats(spark, root, specs, version = Some(1L)).nonEmpty)
  }

  test("SQL door: aggregates answer from metadata and fall back safely") {
    val root = Files.createTempDirectory("graft_sqlstatsagg_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA sa")
    life.execute("CREATE TABLE sa.t (d DATE, id STRING, qty BIGINT, " +
      "amt DECIMAL(10,2)) USING ICEBERG PARTITIONED BY (d)")
    life.execute(
      "ALTER TABLE sa.t SET TBLPROPERTIES ('graft.statsColumns'='qty,amt')")
    life.execute("INSERT INTO sa.t VALUES " +
      "(DATE'2024-01-01','a',1,10.50),(DATE'2024-01-01','b',NULL,2.25)," +
      "(DATE'2024-01-02','c',5,7.00),(DATE'2024-01-02','d',7,0.25)," +
      "(DATE'2024-01-03','e',11,100.00)")

    // whole-table aggregate: answered from _stats alone
    val q1 = life.query("SELECT count(*) AS n, count(qty) AS nq, " +
      "min(amt) AS lo, max(qty) AS hi, sum(qty) AS sq FROM sa.t")
    assert(dataFilesRead(q1).isEmpty,
      s"expected a metadata-only plan, read: ${dataFilesRead(q1)}")
    assert(q1.collect().toSeq ==
      Seq(Row(5L, 4L, new java.math.BigDecimal("0.25"), 11L, 24L)))

    // partition-predicate aggregate: still metadata-only
    val q2 = life.query(
      "SELECT count(*) AS n, sum(qty) AS sq FROM sa.t " +
        "WHERE d >= DATE'2024-01-02'")
    assert(dataFilesRead(q2).isEmpty)
    assert(q2.collect().toSeq == Seq(Row(3L, 23L)))

    // grouped by the partition column: metadata-only, matches the scan
    val q3 = life.query(
      "SELECT d, count(*) AS n, sum(qty) AS sq FROM sa.t GROUP BY d")
    assert(dataFilesRead(q3).isEmpty)
    assert(q3.orderBy("d").collect().toSeq == Seq(
      Row(java.sql.Date.valueOf("2024-01-01"), 2L, 1L),
      Row(java.sql.Date.valueOf("2024-01-02"), 2L, 12L),
      Row(java.sql.Date.valueOf("2024-01-03"), 1L, 11L)))

    // a predicate on a DATA column cannot be metadata-decided → scan
    val q4 = life.query("SELECT count(*) AS n FROM sa.t WHERE qty > 4")
    assert(dataFilesRead(q4).nonEmpty)
    assert(q4.head().getLong(0) == 3L)

    // avg folds as its exact (sum, non-null count) sidecar pair: the
    // BIGINT mean is one double division over the exact long sum, the
    // DECIMAL mean reproduces Average's own decimal typing — both
    // metadata-only and equal to the scan
    val q5 = life.query(
      "SELECT avg(qty) AS a, avg(amt) AS b FROM sa.t")
    assert(dataFilesRead(q5).isEmpty,
      s"avg must fold from metadata, read: ${dataFilesRead(q5)}")
    spark.conf.set("spark.graft.sql.statsAgg", "false")
    val q5scan =
      try life.query("SELECT avg(qty) AS a, avg(amt) AS b FROM sa.t")
      finally spark.conf.unset("spark.graft.sql.statsAgg")
    assert(q5.collect().toSeq == q5scan.collect().toSeq)
    assert(q5.schema == q5scan.schema,
      s"${q5.schema} vs scan ${q5scan.schema}")
    // …including grouped by the partition column (01-01 averages over
    // one non-null qty of two rows — cnt_, not __rows, is the divisor)
    val q5g = life.query(
      "SELECT d, avg(qty) AS a FROM sa.t GROUP BY d ORDER BY d")
    assert(dataFilesRead(q5g).isEmpty)
    assert(q5g.collect().toSeq == Seq(
      Row(java.sql.Date.valueOf("2024-01-01"), 1.0),
      Row(java.sql.Date.valueOf("2024-01-02"), 6.0),
      Row(java.sql.Date.valueOf("2024-01-03"), 11.0)))
    // avg over a STRING (or any non-summable) column bails to the scan
    val q5s = life.query("SELECT avg(id) AS a FROM sa.t")
    assert(dataFilesRead(q5s).nonEmpty)

    // kill switch: same statement reads data files again
    spark.conf.set("spark.graft.sql.statsAgg", "false")
    try {
      val q6 = life.query("SELECT count(*) AS n FROM sa.t")
      assert(dataFilesRead(q6).nonEmpty)
      assert(q6.head().getLong(0) == 5L)
    } finally spark.conf.unset("spark.graft.sql.statsAgg")

    // row-level DELETE (merge-on-read sidecar) → stats predate the
    // deletes → fall back, and the answer reflects the delete
    life.execute("DELETE FROM sa.t WHERE id = 'c'")
    val q7 = life.query("SELECT count(*) AS n FROM sa.t")
    assert(q7.head().getLong(0) == 4L)

    // time travel through the door still folds at the pinned version
    val q8 = life.query(
      "SELECT count(*) AS n FROM sa.t VERSION AS OF 1")
    assert(q8.head().getLong(0) == 5L)
    assert(dataFilesRead(q8).isEmpty)
  }

  test("SQL door: DISTINCT partition, count(DISTINCT), ORDER BY — all from the manifest") {
    val root = Files.createTempDirectory("graft_sqlstatsd_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA sd")
    life.execute("CREATE TABLE sd.t (d DATE, id STRING, qty BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute(
      "ALTER TABLE sd.t SET TBLPROPERTIES ('graft.statsColumns'='qty')")
    life.execute("INSERT INTO sd.t VALUES " +
      "(DATE'2024-01-01','a',1),(DATE'2024-01-02','b',5)," +
      "(DATE'2024-01-03','c',11)")

    // SELECT DISTINCT <partition> needs NO files at all — not even
    // sidecars: the kept dirs ARE the answer
    val d1 = life.query("SELECT DISTINCT d FROM sd.t")
    assert(d1.inputFiles.isEmpty, s"read: ${d1.inputFiles.toSeq}")
    assert(d1.orderBy("d").collect().map(_.getDate(0).toString).toSeq ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03"))

    // count(DISTINCT partition) = kept-dir census, mixed with a real
    // fold; a global ORDER BY re-applies on the folded frame
    val d2 = life.query("SELECT count(DISTINCT d) AS nd, count(*) AS n, " +
      "max(qty) AS hi FROM sd.t WHERE d <= DATE'2024-01-02'")
    assert(dataFilesRead(d2).isEmpty)
    assert(d2.collect().toSeq == Seq(Row(2L, 2L, 5L)))

    val d3 = life.query("SELECT d, sum(qty) AS sq FROM sd.t " +
      "GROUP BY d ORDER BY sq DESC")
    assert(dataFilesRead(d3).isEmpty)
    assert(d3.collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .toSeq == Seq(("2024-01-03", 11L), ("2024-01-02", 5L),
        ("2024-01-01", 1L)))

    // count(DISTINCT <data column>) is NOT dir-derivable → scan
    val d4 = life.query("SELECT count(DISTINCT id) AS n FROM sd.t")
    assert(dataFilesRead(d4).nonEmpty)
    assert(d4.head().getLong(0) == 3L)
  }

  test("schema evolution bails column aggs but count(*) stays metadata-only") {
    val root = Files.createTempDirectory("graft_statsevo_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA se")
    life.execute("CREATE TABLE se.t (d DATE, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute(
      "ALTER TABLE se.t SET TBLPROPERTIES ('graft.statsColumns'='v')")
    life.execute("INSERT INTO se.t VALUES (DATE'2024-01-01', 5)")
    // a metadata-only ADD COLUMN: the existing snapshot's files now
    // need a replayed default, so stored column stats no longer
    // represent what a scan returns — column aggs must fall back
    life.execute("ALTER TABLE se.t ADD COLUMN extra BIGINT DEFAULT 7")
    val q1 = life.query("SELECT sum(v) AS s FROM se.t")
    assert(dataFilesRead(q1).nonEmpty,
      "column agg over an evolution-replayed snapshot must scan")
    assert(q1.head.getLong(0) == 5L)
    // row counts never evolve: count(*) still folds from metadata
    val q2 = life.query("SELECT count(*) AS n FROM se.t")
    assert(dataFilesRead(q2).isEmpty)
    assert(q2.head.getLong(0) == 1L)
    // a fresh post-evolution write is at full generation; once the old
    // snapshot is rewritten (OPTIMIZE, with the new column added to
    // the stats set) column aggs fold again
    life.execute("ALTER TABLE se.t SET TBLPROPERTIES " +
      "('graft.statsColumns'='v,extra')")
    life.execute("OPTIMIZE se.t")
    val q3 = life.query("SELECT sum(v) AS s, max(extra) AS x FROM se.t")
    assert(dataFilesRead(q3).isEmpty,
      s"post-rewrite fold expected, read: ${dataFilesRead(q3)}")
    assert(q3.collect().toSeq == Seq(Row(5L, 7L)))
  }

  test("hidden partitioning: interval-decidable time predicates fold from metadata") {
    val root = Files.createTempDirectory("graft_statshidden_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA hd")
    life.execute("CREATE TABLE hd.t (ts TIMESTAMP, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (days(ts))")
    life.execute(
      "ALTER TABLE hd.t SET TBLPROPERTIES ('graft.statsColumns'='v')")
    life.execute("INSERT INTO hd.t VALUES " +
      "(TIMESTAMP'2024-01-01 09:00:00',1)," +
      "(TIMESTAMP'2024-01-01 18:00:00',2)," +
      "(TIMESTAMP'2024-01-02 12:00:00',4)," +
      "(TIMESTAMP'2024-01-03 06:00:00',8)")

    // a day-aligned bound decides every partition exactly → metadata
    val q1 = life.query("SELECT count(*) AS n, sum(v) AS s FROM hd.t " +
      "WHERE ts >= TIMESTAMP'2024-01-02 00:00:00'")
    assert(dataFilesRead(q1).isEmpty,
      s"day-aligned interval must fold from metadata: ${dataFilesRead(q1)}")
    assert(q1.collect().toSeq == Seq(Row(2L, 12L)))

    // a mid-day bound straddles a partition → scan, same answer shape
    val q2 = life.query("SELECT count(*) AS n FROM hd.t " +
      "WHERE ts >= TIMESTAMP'2024-01-02 11:00:00'")
    assert(dataFilesRead(q2).nonEmpty)
    assert(q2.head.getLong(0) == 2L)

    // a BETWEEN of aligned bounds folds; count(*) with no filter folds
    val q3 = life.query("SELECT count(*) AS n FROM hd.t WHERE " +
      "ts >= TIMESTAMP'2024-01-01 00:00:00' AND " +
      "ts < TIMESTAMP'2024-01-03 00:00:00'")
    assert(dataFilesRead(q3).isEmpty)
    assert(q3.head.getLong(0) == 3L)

    // months(date) table: month-aligned DATE bounds fold
    life.execute("CREATE TABLE hd.m (d DATE, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (months(d))")
    life.execute(
      "ALTER TABLE hd.m SET TBLPROPERTIES ('graft.statsColumns'='v')")
    life.execute("INSERT INTO hd.m VALUES (DATE'2024-01-15',1)," +
      "(DATE'2024-02-10',2),(DATE'2024-03-05',4)")
    val q4 = life.query("SELECT count(*) AS n, sum(v) AS s FROM hd.m " +
      "WHERE d >= DATE'2024-02-01'")
    assert(dataFilesRead(q4).isEmpty, s"read: ${dataFilesRead(q4)}")
    assert(q4.collect().toSeq == Seq(Row(2L, 6L)))
    // a mid-month bound straddles → scan
    val q5 = life.query(
      "SELECT count(*) AS n FROM hd.m WHERE d >= DATE'2024-02-15'")
    assert(dataFilesRead(q5).nonEmpty)
    assert(q5.head.getLong(0) == 1L)

    // a NON-UTC session must bail the timestamp interval path even for
    // a bound that is day-aligned in UTC: the writer derived partition
    // values in the session timezone, so the UTC-micros interval logic
    // could keep a partition's out-of-bound local-time hours — the
    // guard routes the statement to the scan instead
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      val qtz = life.query("SELECT count(*) AS n FROM hd.t " +
        "WHERE ts >= TIMESTAMP'2024-01-02 00:00:00'")
      assert(dataFilesRead(qtz).nonEmpty,
        "non-UTC session: timestamp interval fold must bail to the scan")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")

    // days(DATE) is identity: ANY date predicate folds by substitution
    life.execute("CREATE TABLE hd.dd (d DATE, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (days(d))")
    life.execute(
      "ALTER TABLE hd.dd SET TBLPROPERTIES ('graft.statsColumns'='v')")
    life.execute("INSERT INTO hd.dd VALUES (DATE'2024-01-01',1)," +
      "(DATE'2024-01-02',2),(DATE'2024-01-09',4)")
    val q6 = life.query("SELECT count(*) AS n FROM hd.dd " +
      "WHERE d IN (DATE'2024-01-02', DATE'2024-01-09')")
    assert(dataFilesRead(q6).isEmpty)
    assert(q6.head.getLong(0) == 2L)
  }

  test("hidden partitioning: the folded session's time zone decides, not the thread's active session") {
    // an Asia/Tokyo session writes and reads days(ts) partitions while a
    // UTC session is active on the thread: 09:00 Tokyo is 00:00 UTC, a
    // day-aligned bound in UTC, but the partition dirs are Tokyo days —
    // an interval fold would keep the 08:00 Tokyo row of day 2024-01-02
    val tokyo = spark.newSession()
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    val root = Files.createTempDirectory("graft_statstz_").toString
    val life = new SqlLifecycle(tokyo, root)
    life.execute("CREATE SCHEMA tz")
    life.execute("CREATE TABLE tz.t (ts TIMESTAMP, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (days(ts))")
    life.execute(
      "ALTER TABLE tz.t SET TBLPROPERTIES ('graft.statsColumns'='v')")
    life.execute("INSERT INTO tz.t VALUES " +
      "(TIMESTAMP'2024-01-02 08:00:00',1)," +
      "(TIMESTAMP'2024-01-02 12:00:00',2)," +
      "(TIMESTAMP'2024-01-03 06:00:00',4)")
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val q = life.query("SELECT count(*) AS n FROM tz.t " +
      "WHERE ts >= TIMESTAMP'2024-01-02 09:00:00'")
    assert(dataFilesRead(q).nonEmpty,
      "a Tokyo session's timestamp interval fold must bail to the scan")
    assert(q.head.getLong(0) == 2L)
  }

  test("truncate(w) hidden partitioning: prefix predicates fold from metadata") {
    val root = Files.createTempDirectory("graft_statstrunc_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA tp")
    life.execute("CREATE TABLE tp.t (sku STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (truncate(2, sku))")
    life.execute(
      "ALTER TABLE tp.t SET TBLPROPERTIES ('graft.statsColumns'='v')")
    life.execute("INSERT INTO tp.t VALUES " +
      "('aa-1',1),('aa-2',2),('ab-1',4),('b',8),('bz-9',16)")

    // a width-aligned range decides every partition: 'aa*' + 'ab*'
    // keep, 'b' (short value: identity) and 'bz*' drop
    val q1 = life.query("SELECT count(*) AS n, sum(v) AS s FROM tp.t " +
      "WHERE sku >= 'aa' AND sku < 'ac'")
    assert(dataFilesRead(q1).isEmpty,
      s"prefix-aligned bounds must fold: ${dataFilesRead(q1)}")
    assert(q1.collect().toSeq == Seq(Row(3L, 7L)))

    // the short dir value 'b' IS the row (truncate is identity below
    // width): equality on it decides exactly
    val q2 = life.query("SELECT count(*) AS n FROM tp.t WHERE sku = 'b'")
    assert(dataFilesRead(q2).isEmpty)
    assert(q2.head.getLong(0) == 1L)

    // a bound falling INSIDE a partition's prefix straddles → scan
    val q3 = life.query(
      "SELECT count(*) AS n FROM tp.t WHERE sku >= 'aa-2'")
    assert(dataFilesRead(q3).nonEmpty,
      "a mid-prefix bound cannot be metadata-decided")
    assert(q3.head.getLong(0) == 4L)

    // equality against a full-width value straddles too (the
    // partition holds other strings with the same prefix) → scan
    val q4 = life.query(
      "SELECT count(*) AS n FROM tp.t WHERE sku = 'ab-1'")
    assert(dataFilesRead(q4).nonEmpty)
    assert(q4.head.getLong(0) == 1L)

    // equality against a value whose prefix matches NO partition is
    // decidable-false everywhere: zero-row aggregate from metadata
    val q5 = life.query(
      "SELECT count(*) AS n FROM tp.t WHERE sku = 'zz-1'")
    assert(dataFilesRead(q5).isEmpty)
    assert(q5.head.getLong(0) == 0L)
  }

  test("insertInto overlap keeps the stats sidecar complete") {
    // regression: the overlap fold appends the partition's CURRENT rows
    // into the snapshot AFTER the data write; a sidecar computed before
    // the append would miss those files and sidecar-driven reads
    // (bloom point skipping) would silently lose the prior rows
    val root = Files.createTempDirectory("graft_sqlstatscomplete_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA sb")
    life.execute("CREATE TABLE sb.t (d DATE, id STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute(
      "CREATE BLOOMFILTER INDEX ON TABLE sb.t FOR COLUMNS (id)")
    life.execute("INSERT INTO sb.t VALUES (DATE'2024-01-01','a',1)")
    life.execute("INSERT INTO sb.t VALUES (DATE'2024-01-01','b',2)")
    // the point lookup must still find the FIRST batch's row
    val hit = life.query("SELECT v FROM sb.t WHERE id = 'a'")
    assert(hit.collect().toSeq == Seq(Row(1L)))
    // and the metadata count covers both batches (bloom columns carry
    // __rows in the sidecar; completeness is what this pins)
    val n = life.query("SELECT count(*) AS n FROM sb.t")
    assert(n.head().getLong(0) == 2L)
    assert(dataFilesRead(n).isEmpty)
  }
}
