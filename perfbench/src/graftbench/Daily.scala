package graftbench

import java.nio.file.Path
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Mview, SqlLifecycle, VersionedPartitioned}
import graft.pipeline.{Pipeline, PipelineConfig}

/** Order-independent content digest of a frame: row count and the sum of
  * per-row 64-bit hashes over `cols`. */
object Digest {
  val ProdCols: Seq[String] = Seq("ticker", "date", "open", "high", "low",
    "close", "volume", "vwap", "event_ts", "transactions")
  val CumCols: Seq[String] = Seq("ticker", "date", "last_7_days_open",
    "last_7_days_high", "last_7_days_low", "last_7_days_close",
    "last_7_days_volume", "avg_7_day_volume", "volatility_7_day")

  def hashCol(cols: Seq[String]): Column =
    xxhash64(cols.map(c => col(c)): _*).cast("decimal(38,0)")

  /** Digests of a frame of (rid, h) rows, by rid. */
  def byId(df: DataFrame): Map[Int, String] =
    df.groupBy("rid").agg(count(lit(1)), sum(col("h"))).collect().map { r =>
      r.getInt(0) -> s"${r.getLong(1)}:${r.getDecimal(2)}" }.toMap

  def of(df: DataFrame, cols: Seq[String]): String = {
    val r = df.agg(count(lit(1)), sum(hashCol(cols))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }
}

/** The daily DAG behind one front door. `root` holds every table. */
trait DailyDoor {
  def root: Path
  /** Create the tables, run `first` and create the materialized view. */
  def setup(first: Step, feed: DataFrame): Unit
  /** One day's full DAG run plus the materialized-view refresh. */
  def day(s: Step, feed: DataFrame): Unit
  /** The analyst reads; each returns the digest of what it read. */
  def readCumulative(ticker: String, op: String): String
  def readRange(from: LocalDate, to: LocalDate, op: String): String
  def readAt(version: Long, op: String): String
  /** Production's committed version (metadata only). */
  def prodVersion(): Long
  def cumVersion(): Long
  def prodAt(v: Long): DataFrame
  def cumAt(v: Long): DataFrame
  def mview(): DataFrame
  /** Frames whose input files are the live heads of production,
    * cumulative and the view state. */
  def liveFrames(): Seq[DataFrame]
}

/** The DataFrame door: the product's own DataFrame path. */
final class DfDoor(spark: SparkSession, tr: Tracer, val root: Path,
    gen: BarGen) extends DailyDoor {
  private val prod = root.resolve("production").toString
  private val cum = root.resolve("cumulative").toString
  private val mvState = root.resolve("ticker_stats").toString
  private val pipe = new Pipeline(spark, PipelineConfig(
    productionPath = prod, cumulativePath = cum, whitelist = gen.tickers,
    dqReportPath = Some(root.resolve("dq_audit").toString),
    versionedFacts = true, eagerCount = false))
  private val mvDef = Mview.Def("production", Seq("ticker"), Nil, None,
    Seq(Mview.OutCol("group", "ticker", "ticker"),
      Mview.OutCol("min", "close", "min_close"),
      Mview.OutCol("max", "close", "max_close"),
      Mview.OutCol("avg", "close", "avg_close"),
      Mview.OutCol("stddev", "close", "sd_close")),
    mins = Seq("close"), maxs = Seq("close"), avgs = Seq("close"),
    vars = Seq("close"))

  private def runDay(s: Step, feed: DataFrame): Unit =
    tr.span("Pipeline.runDay", s"step${s.idx}") {
      pipe.runDay(gen.calendar(s.day), _ => feed); ()
    }

  def setup(first: Step, feed: DataFrame): Unit = {
    runDay(first, feed)
    tr.span("bench.setup", "mview.initialize") {
      Mview.initialize(spark, mvDef, prod, mvState); ()
    }
  }

  def day(s: Step, feed: DataFrame): Unit = {
    runDay(s, feed)
    tr.span("Mview.refresh", s"step${s.idx}") {
      Mview.refresh(spark, mvDef, prod, mvState); ()
    }
  }

  def readCumulative(ticker: String, op: String): String =
    tr.span("Pipeline.cumulative", op) {
      Digest.of(pipe.cumulative.where(col("ticker") === ticker), Digest.CumCols)
    }
  def readRange(from: LocalDate, to: LocalDate, op: String): String =
    tr.span("VersionedPartitioned.readPartitionsWhere", op) {
      Digest.of(VersionedPartitioned.readPartitionsWhere(spark, prod,
        v => v >= from.toString && v <= to.toString), Digest.ProdCols)
    }
  def readAt(version: Long, op: String): String =
    tr.span("VersionedPartitioned.readAt", op) {
      Digest.of(VersionedPartitioned.readAt(spark, prod, version), Digest.ProdCols)
    }

  def prodVersion(): Long = VersionedPartitioned.currentVersion(spark, prod).get
  def cumVersion(): Long = VersionedPartitioned.currentVersion(spark, cum).get
  def prodAt(v: Long): DataFrame = VersionedPartitioned.readAt(spark, prod, v)
  def cumAt(v: Long): DataFrame = VersionedPartitioned.readAt(spark, cum, v)
  def mview(): DataFrame = Mview.project(mvDef, Mview.rawState(spark, mvState))
  def liveFrames(): Seq[DataFrame] = Seq(VersionedPartitioned.read(spark, prod),
    VersionedPartitioned.read(spark, cum), Mview.rawState(spark, mvState))
}

/** The SQL door: the reference's raw statement texts through `SqlLifecycle`,
  * in the order the `sql_pipeline_day` replay sends them. */
final class SqlDoor(spark: SparkSession, tr: Tracer, val root: Path,
    gen: BarGen) extends DailyDoor {
  private val life = new SqlLifecycle(spark, root.toString)
  private val Prod = "jakebuto.daily_stock_prices"
  private val Cum = "jakebuto.daily_stock_prices_cumulative"
  private val Mv = "jakebuto.ticker_stats"
  private val barCols = """
      ticker STRING,
      date DATE,
      open DECIMAL(10, 2),
      high DECIMAL(10, 2),
      low DECIMAL(10, 2),
      close DECIMAL(10, 2),
      volume BIGINT,
      vwap DECIMAL(10, 2),
      event_ts BIGINT,
      transactions INTEGER,
      insertion_timestamp TIMESTAMP"""
  private val whitelist = gen.tickers.map(t => s"'$t'").mkString(", ")

  private def exec(span: String, op: String, text: String): Option[DataFrame] =
    tr.span(span, op)(life.execute(text))

  private def select(op: String, text: String, cols: Seq[String]): String =
    tr.span("SqlLifecycle.select", op)(Digest.of(life.execute(text).get, cols))

  def setup(first: Step, feed: DataFrame): Unit = {
    exec("SqlLifecycle.ddl", "setup", "CREATE SCHEMA IF NOT EXISTS jakebuto")
    exec("SqlLifecycle.ddl", "setup", s"""
      -- Create production Iceberg table with date in name
      CREATE TABLE IF NOT EXISTS $Prod
      ($barCols)
      USING ICEBERG
      PARTITIONED BY (date)
      COMMENT 'Production table for MAANG stock prices'""")
    exec("SqlLifecycle.ddl", "setup", s"""
      -- Create cumulative table for 7-day rolling metrics
      CREATE TABLE IF NOT EXISTS $Cum
      (
        ticker STRING,
        date DATE,
        last_7_days_open ARRAY<DECIMAL(10, 2)>,
        last_7_days_high ARRAY<DECIMAL(10, 2)>,
        last_7_days_low ARRAY<DECIMAL(10, 2)>,
        last_7_days_close ARRAY<DECIMAL(10, 2)>,
        last_7_days_volume ARRAY<BIGINT>,
        avg_7_day_volume DECIMAL(15, 2),
        volatility_7_day DECIMAL(10, 4),
        updated_at TIMESTAMP
      )
      USING ICEBERG
      PARTITIONED BY (date)
      COMMENT '7-day rolling window metrics for MAANG stocks'""")
    dag(first, feed)
    exec("SqlLifecycle.ddl", "setup", s"""
      CREATE MATERIALIZED VIEW $Mv AS
      SELECT ticker, MIN(close) AS min_close, MAX(close) AS max_close,
             AVG(close) AS avg_close, STDDEV(close) AS sd_close
      FROM $Prod GROUP BY ticker""")
  }

  /** DQ results of every run, for the end-of-run check. */
  val dqFailures = mutable.ArrayBuffer.empty[String]

  private def dag(s: Step, feed: DataFrame): Unit = {
    val ds = gen.calendar(s.day)
    val op = s"step${s.idx}"
    feed.createOrReplaceTempView("raw_bars")
    val stg = s"jakebuto.daily_stock_prices_stg_${ds.toString.replace("-", "")}"
    exec("SqlLifecycle.ddl", op, s"""
      -- Create staging Iceberg table with date in name
      CREATE OR REPLACE TABLE $stg
      ($barCols)
      USING ICEBERG
      COMMENT 'Staging table for $ds - will be dropped after load'""")
    // the fetch keeps the first bar per ticker and day (dags/dag.py:109)
    exec("SqlLifecycle.dml", op, s"""
      INSERT INTO $stg
      (ticker, date, open, high, low, close, volume, vwap,
      event_ts, transactions, insertion_timestamp)
      SELECT ticker, date, open, high, low, close, volume, vwap,
             event_ts, transactions, CURRENT_TIMESTAMP
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ticker, date
                                         ORDER BY event_ts) AS rn
            FROM raw_bars WHERE date = DATE '$ds')
      WHERE rn = 1""")
    val dq = tr.span("SqlLifecycle.dq", op)(life.execute(s"""
      SELECT 'Missing stocks check' AS check_name,
             COUNT(DISTINCT ticker) AS actual_count,
             ${gen.nTickers} AS expected_count
      FROM $stg
      UNION ALL
      SELECT 'Null values check', COUNT(*), 0 FROM $stg
      WHERE open IS NULL OR high IS NULL OR low IS NULL OR close IS NULL
      UNION ALL
      SELECT 'Invalid OHLC relationship check', COUNT(*), 0 FROM $stg
      WHERE high < low OR open > high OR open < low
         OR close > high OR close < low
      UNION ALL
      SELECT 'Invalid volume check', COUNT(*), 0 FROM $stg
      WHERE volume <= 0
      UNION ALL
      SELECT 'Date consistency check', COUNT(*), 0 FROM $stg
      WHERE date != DATE '$ds'
      UNION ALL
      SELECT 'Invalid ticker check', COUNT(*), 0 FROM $stg
      WHERE ticker NOT IN ($whitelist)""").map(_.collect()).getOrElse(Array.empty))
    if (dq.length != 6) dqFailures += s"$op: ${dq.length} DQ rows, want 6"
    def n(v: Any) = v.asInstanceOf[Number].longValue
    dq.filter(r => n(r.get(1)) != n(r.get(2))).foreach(r =>
      dqFailures += s"$op: DQ ${r.getString(0)} ${r.get(1)} != ${r.get(2)}")
    exec("SqlLifecycle.dml", op, s"""
      -- Delete existing data for this date (idempotence)
      DELETE FROM $Prod
      WHERE date = DATE '$ds'""")
    exec("SqlLifecycle.dml", op, s"""
      INSERT INTO $Prod
      SELECT * FROM $stg
      WHERE date = DATE('$ds')""")
    exec("SqlLifecycle.ddl", op, s"""
      -- Clean up staging table after successful load
      DROP TABLE IF EXISTS $stg""")
    exec("SqlLifecycle.cumulate", op, s"""
      -- Delete existing data for this date (idempotence)
      DELETE FROM $Cum
      WHERE date = DATE '$ds'""")
    exec("SqlLifecycle.cumulate", op, s"""
      -- Calculate 7-day rolling arrays from production table
      INSERT INTO $Cum
      WITH daily_prices AS (
          -- Get last 7 days of data (including today)
          SELECT
              ticker, date, open, high, low, close, volume
          FROM $Prod
          WHERE date >= DATE '$ds' - INTERVAL 7 DAYS
          AND date <= DATE '$ds'
      ),
      rolling_windows AS (
          SELECT
              ticker, date,
              ARRAY_AGG(open) OVER w as last_7_days_open,
              ARRAY_AGG(high) OVER w as last_7_days_high,
              ARRAY_AGG(low) OVER w as last_7_days_low,
              ARRAY_AGG(close) OVER w as last_7_days_close,
              ARRAY_AGG(volume) OVER w as last_7_days_volume,
              AVG(volume) OVER w as avg_7_day_volume,
              STDDEV(close) OVER w as volatility_7_day
          FROM daily_prices
          WINDOW w AS (
              PARTITION BY ticker
              ORDER BY date
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
          )
      )
      SELECT
          ticker, date,
          last_7_days_open, last_7_days_high, last_7_days_low,
          last_7_days_close, last_7_days_volume,
          avg_7_day_volume,
          COALESCE(volatility_7_day, 0) as volatility_7_day,
          CURRENT_TIMESTAMP
      FROM rolling_windows
      WHERE date = DATE '$ds'  -- Only insert today's calculated metrics""")
  }

  def day(s: Step, feed: DataFrame): Unit = {
    dag(s, feed)
    exec("SqlLifecycle.refresh", s"step${s.idx}", s"REFRESH MATERIALIZED VIEW $Mv")
  }

  private val prodCols = Digest.ProdCols.mkString(", ")
  private val cumCols = Digest.CumCols.mkString(", ")
  def readCumulative(ticker: String, op: String): String =
    select(op, s"SELECT $cumCols FROM $Cum WHERE ticker = '$ticker'", Digest.CumCols)
  def readRange(from: LocalDate, to: LocalDate, op: String): String =
    select(op, s"SELECT $prodCols FROM $Prod " +
      s"WHERE date BETWEEN DATE '$from' AND DATE '$to'", Digest.ProdCols)
  def readAt(version: Long, op: String): String =
    select(op, s"SELECT $prodCols FROM $Prod VERSION AS OF $version", Digest.ProdCols)

  private def dir(t: String) = root.resolve(t.replace('.', '/')).toString
  def prodVersion(): Long = VersionedPartitioned.currentVersion(spark, dir(Prod)).get
  def cumVersion(): Long = VersionedPartitioned.currentVersion(spark, dir(Cum)).get
  def prodAt(v: Long): DataFrame = VersionedPartitioned.readAt(spark, dir(Prod), v)
  def cumAt(v: Long): DataFrame = VersionedPartitioned.readAt(spark, dir(Cum), v)
  def mview(): DataFrame = life.table(Mv)
  def liveFrames(): Seq[DataFrame] = Seq(life.table(Prod), life.table(Cum),
    Mview.rawState(spark, root.resolve("jakebuto/ticker_stats/data").toString))
}
