package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** One analyst read, its recorded digest, and what it should equal. */
final case class ReadRec(rid: Int, kind: String, step: Int, ticker: String,
    lo: String, hi: String, atStep: Int, digest: String)

/**
 * The expected state of the daily tables, recomputed from the generated
 * feeds in plain `spark.sql`: first bar per (ticker, day) of the feed
 * version each run saw, and the reference's 7-day window query
 * (`dags/dag.py:385-437`) evaluated against production as it stood when
 * each day was last run. A backfill re-run rewrites its own day only, so
 * later days keep the cumulative row computed from the uncorrected day.
 */
final class DailyModel(spark: SparkSession, gen: BarGen, ran: Seq[Step]) {
  private val feedSchema = StructType(BarGen.schema.fields ++ Seq(
    StructField("day_idx", IntegerType), StructField("ver", IntegerType)))

  private def view(name: String, rows: Seq[Row], schema: StructType): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(name)
  }

  /** Register the model's views; `want` are the steps whose production
    * and cumulative states the caller will ask for. */
  def register(want: Seq[Int], reads: Seq[ReadRec]): Unit = {
    view("m_feeds", ran.map(s => (s.day, s.ver)).distinct.flatMap { case (d, v) =>
      gen.feed(d, v).map(b => BarGen.row(b, d, v)) }, feedSchema)
    view("m_runs", ran.map(s => Row(s.idx, s.day, s.ver,
      java.sql.Date.valueOf(gen.calendar(s.day)))), StructType(Seq(
      StructField("step", IntegerType), StructField("day_idx", IntegerType),
      StructField("ver", IntegerType), StructField("date", DateType))))
    view("m_want", want.distinct.map(Row(_)),
      StructType(Seq(StructField("s", IntegerType))))
    view("m_reads", reads.map(r => Row(r.rid, r.kind, r.step, r.ticker,
      r.lo, r.hi, r.atStep)), StructType(Seq(
      StructField("rid", IntegerType), StructField("kind", StringType),
      StructField("s", IntegerType), StructField("ticker", StringType),
      StructField("lo", StringType), StructField("hi", StringType),
      StructField("at_step", IntegerType))))
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW m_dedup AS
      SELECT * FROM (
        SELECT f.*, ROW_NUMBER() OVER (PARTITION BY day_idx, ver, ticker
                                       ORDER BY event_ts) AS rn
        FROM m_feeds f) WHERE rn = 1""")
    // every expected digest reads it, so it is computed once
    spark.catalog.cacheTable("m_dedup")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW m_prod AS
      WITH vis AS (
        SELECT w.s, b.day_idx, max_by(b.ver, b.step) AS ver
        FROM m_want w JOIN m_runs b ON b.step <= w.s
        GROUP BY w.s, b.day_idx)
      SELECT v.s, d.ticker, d.date, d.open, d.high, d.low, d.close,
             d.volume, d.vwap, d.event_ts, d.transactions
      FROM vis v JOIN m_dedup d ON d.day_idx = v.day_idx AND d.ver = v.ver""")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW m_cum_run AS
      WITH vis AS (
        SELECT a.step AS r, a.date AS x, b.day_idx,
               max_by(b.ver, b.step) AS ver
        FROM m_runs a JOIN m_runs b
          ON b.step <= a.step
         AND b.date >= a.date - INTERVAL 7 DAYS AND b.date <= a.date
        GROUP BY a.step, a.date, b.day_idx),
      daily_prices AS (
        SELECT v.r, v.x, d.ticker, d.date, d.open, d.high, d.low, d.close,
               d.volume
        FROM vis v JOIN m_dedup d ON d.day_idx = v.day_idx AND d.ver = v.ver),
      rolling_windows AS (
        SELECT r, x, ticker, date,
               ARRAY_AGG(open) OVER w AS last_7_days_open,
               ARRAY_AGG(high) OVER w AS last_7_days_high,
               ARRAY_AGG(low) OVER w AS last_7_days_low,
               ARRAY_AGG(close) OVER w AS last_7_days_close,
               ARRAY_AGG(volume) OVER w AS last_7_days_volume,
               AVG(volume) OVER w AS avg_7_day_volume,
               STDDEV(close) OVER w AS volatility_7_day
        FROM daily_prices
        WINDOW w AS (PARTITION BY r, ticker ORDER BY date
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT r, ticker, date, last_7_days_open, last_7_days_high,
             last_7_days_low, last_7_days_close, last_7_days_volume,
             CAST(avg_7_day_volume AS DECIMAL(15, 2)) AS avg_7_day_volume,
             CAST(COALESCE(volatility_7_day, 0) AS DECIMAL(10, 4))
               AS volatility_7_day
      FROM rolling_windows WHERE date = x""")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW m_cum AS
      WITH last_run AS (
        SELECT w.s, b.date, max(b.step) AS r
        FROM m_want w JOIN m_runs b ON b.step <= w.s
        GROUP BY w.s, b.date)
      SELECT l.s, c.ticker, c.date, c.last_7_days_open, c.last_7_days_high,
             c.last_7_days_low, c.last_7_days_close, c.last_7_days_volume,
             c.avg_7_day_volume, c.volatility_7_day
      FROM last_run l JOIN m_cum_run c ON c.r = l.r""")
    ()
  }

  /** Expected digests in one query: every registered read by read id,
    * production after `last` as -1 and cumulative after `last` as -2. */
  def digests(last: Int): Map[Int, String] = {
    val h = (cs: Seq[String], p: String) =>
      s"CAST(xxhash64(${cs.map(c => s"$p.$c").mkString(", ")}) AS DECIMAL(38, 0))"
    Digest.byId(spark.sql(s"""
      SELECT rid, h FROM (
        SELECT -1 AS rid, ${h(Digest.ProdCols, "p")} AS h FROM m_prod p WHERE p.s = $last
        UNION ALL
        SELECT -2 AS rid, ${h(Digest.CumCols, "c")} AS h FROM m_cum c WHERE c.s = $last
        UNION ALL
        SELECT r.rid, ${h(Digest.CumCols, "c")} AS h
        FROM m_reads r JOIN m_cum c ON c.s = r.s AND c.ticker = r.ticker
        WHERE r.kind = 'cumulative'
        UNION ALL
        SELECT r.rid, ${h(Digest.ProdCols, "p")} AS h
        FROM m_reads r JOIN m_prod p ON p.s = r.s
         AND p.date BETWEEN CAST(r.lo AS DATE) AND CAST(r.hi AS DATE)
        WHERE r.kind = 'range'
        UNION ALL
        SELECT r.rid, ${h(Digest.ProdCols, "p")} AS h
        FROM m_reads r JOIN m_prod p ON p.s = r.at_step
        WHERE r.kind = 'at')"""))
  }

  /** Share of planted duplicate and late bars that production resolved
    * to exactly the expected bar, against production after `step`. */
  def dedupRecall(actualProd: DataFrame, step: Int): (Long, Long) = {
    val vis = ran.filter(_.idx <= step).groupBy(_.day).map { case (d, ss) =>
      d -> ss.maxBy(_.idx).ver }
    val planted = vis.toSeq.flatMap { case (d, v) =>
      gen.plantedKeys(d).map(t => Row.fromSeq(
        BarGen.row(gen.kept(t, d, v)).toSeq)) }
    view("m_planted", planted, BarGen.schema)
    actualProd.select(Digest.ProdCols.map(org.apache.spark.sql.functions.col): _*)
      .createOrReplaceTempView("m_actual")
    val r = spark.sql(s"""
      SELECT count(*) AS planted, count_if(ok) AS resolved FROM (
        SELECT e.ticker, e.date,
               count(a.ticker) = 1 AND
               count_if(a.event_ts = e.event_ts AND a.close = e.close
                        AND a.open = e.open AND a.volume = e.volume) = 1 AS ok
        FROM m_planted e LEFT JOIN m_actual a
          ON a.ticker = e.ticker AND a.date = e.date
        GROUP BY e.ticker, e.date)""").head()
    (r.getLong(0), r.getLong(1))
  }
}

/** `daily`: a closed loop with one caller that replays a fixed number of
  * steps of the run sequence through both front doors. Each step runs
  * the day's DAG through the DataFrame door and then through the SQL door,
  * each door on its own tables, each followed by its three reads. */
object DailyRun {
  /** The measured work is fixed, not the time: read costs grow with
    * history depth, so a faster program must not read deeper history.
    * A run replays `steps(seconds)` steps, `stepS` being a step's nominal
    * time (both doors with their reads) on a 4-core box. */
  final case class Sizes(tickers: Int, stepS: Double, minSteps: Int) {
    def steps(seconds: Double): Int =
      math.max(minSteps, math.ceil(seconds / stepS).toInt)
  }

  /** One door with the table versions and reads it recorded. */
  private final class Replay(val name: String, val door: DailyDoor) {
    val prodVer = mutable.Map.empty[Int, Long]
    val cumVer = mutable.Map.empty[Int, Long]
    def record(tr: Tracer, i: Int): Unit = {
      prodVer(i) = tr.span("bench.record", s"step$i")(door.prodVersion())
      cumVer(i) = tr.span("bench.record", s"step$i")(door.cumVersion())
    }
  }

  /** `expect` maps the input generator to the one the checks derive the
    * expected state from; only the self-test passes a different one. */
  def run(ctx: RunCtx, sizes: Sizes, expect: BarGen => BarGen = identity): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val out = new Outcome
    def feedOf(gen: BarGen, s: Step): DataFrame = BarGen.frame(spark, gen.feed(s.day, s.ver))

    // set-up: input generation, initial tables and view of both doors
    val n = sizes.steps(ctx.seconds)
    val t0s = System.nanoTime()
    val gen = new BarGen(ctx.seed, sizes.tickers)
    gen.steps.take(n + 2).foreach(s => gen.feed(s.day, s.ver))
    val replays = Seq(
      new Replay("DataFrame door", new DfDoor(spark, tr, ctx.workRoot("daily_df"), gen)),
      new Replay("SQL door", new SqlDoor(spark, tr, ctx.workRoot("daily_sql"), gen)))
    replays.foreach { r =>
      r.door.setup(gen.steps.head,
        tr.span("bench.setup", "feed")(feedOf(gen, gen.steps.head)))
    }
    out.setupS = (System.nanoTime() - t0s) / 1e9
    replays.foreach(_.record(tr, 0))

    val reads = mutable.ArrayBuffer.empty[(Replay, ReadRec)]
    var sampler: Option[DriverSampler] = None
    val ran = mutable.ArrayBuffer(gen.steps.head)
    /** Step `i` through both doors, each with its round of three reads,
      * timed as one read sample; a warm-up step is run, recorded and
      * checked like any other but its times are dropped. */
    def step(i: Int, timed: Boolean): Unit = {
      val (days, cpu, lat) =
        if (timed) (out.days, out.dayCpu, out.reads)
        else (mutable.ArrayBuffer.empty[Double], null, mutable.ArrayBuffer.empty[Double])
      val s = gen.steps(i)
      val ds = gen.calendar(s.day)
      val ticker = gen.tickers(((Rng.long(ctx.seed, 40, i) >>> 1) % gen.nTickers).toInt)
      val atStep = math.max(0, i - 3)
      val lo = ds.minusDays(7)
      var allRan = true
      replays.foreach { r =>
        sampler.foreach(_.label = r.name)
        val jvm0 = JvmCounters.now()
        val feed = feedOf(gen, s)
        if (out.op(days, cpu)(r.door.day(s, feed))) {
          if (timed) out.rows += gen.feed(s.day, s.ver).size
          r.record(tr, i)
          val round = mutable.ArrayBuffer.empty[Double]
          def rec(kind: String, tk: String, l: String, h: String, at: Int)(d: => String): Unit =
            out.op(round, null) {
              reads += r -> ReadRec(reads.size, kind, i, tk, l, h, at, d)
            }
          rec("cumulative", ticker, "", "", 0)(r.door.readCumulative(ticker, s"step$i"))
          rec("range", "", lo.toString, ds.toString, 0)(r.door.readRange(lo, ds, s"step$i"))
          rec("at", "", "", "", atStep)(r.door.readAt(r.prodVer(atStep), s"step$i"))
          if (round.size == 3) {
            lat += round.sum
            if (timed) out.queries += 3
          }
        } else allRan = false
        sampler.foreach(_.label = "")
        if (timed) out.jvmBy(r.name) =
          out.jvmBy.getOrElse(r.name, JvmCounters(0, 0, 0)) + (JvmCounters.now() - jvm0)
      }
      if (allRan) ran += s
    }

    // warm-up: the first step after set-up, untimed
    val w0 = System.nanoTime()
    step(1, timed = false)
    out.warmupS = (System.nanoTime() - w0) / 1e9

    // the measured loop
    sampler = ctx.sampler()
    val jvm0 = JvmCounters.now()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 2
    while (i <= n + 1 && elapsed < ctx.hardStopS && ran.size == i) {
      step(i, timed = true)
      i += 1
    }
    out.loopS = elapsed
    out.spaceAmp = tr.span("bench.check", "space")(
      Space.amp(replays.map(_.door.root), replays.flatMap(_.door.liveFrames())))
    out.jvm = JvmCounters.now() - jvm0
    out.driverBy = sampler.map(_.stop()).getOrElse(Map.empty)
    out.heapMb = JvmCounters.retainedHeapMb()

    // output checks: both doors against one model of the expected state
    tr.span("bench.check", "model") {
      val last = ran.last.idx
      val model = new DailyModel(spark, expect(gen), ran.toSeq)
      model.register(Seq(last) ++ reads.map(_._2.step) ++ reads.map(_._2.atStep),
        reads.map(_._2).toSeq)
      val want = model.digests(last)
      val finals = replays.map { r =>
        val got = Digest.byId(
          r.door.prodAt(r.prodVer(last))
            .select(lit(-1).as("rid"), Digest.hashCol(Digest.ProdCols).as("h"))
            .unionByName(r.door.cumAt(r.cumVer(last))
              .select(lit(-2).as("rid"), Digest.hashCol(Digest.CumCols).as("h"))))
        Seq(-1 -> "production", -2 -> "cumulative").foreach { case (id, what) =>
          if (got.get(id) != want.get(id))
            out.fail(s"${r.name} $what: digest ${got.get(id)}, expected ${want.get(id)}")
        }
        // production itself was checked above, so the view's recompute reads it
        MviewCheck(spark, r.door.mview(), r.door.prodAt(r.prodVer(last)))
          .foreach(m => out.fail(s"${r.name} $m"))
        got
      }
      if (finals.distinct.size != 1)
        out.fail(s"the doors end with different tables: ${finals.mkString(" vs ")}")
      // the doors' productions are hash-equal, so one door's recall stands for both
      val df = replays.head
      val (planted, resolved) = model.dedupRecall(df.door.prodAt(df.prodVer(last)), last)
      out.dedupRecall = resolved.toDouble / planted
      if (resolved != planted) out.fail(s"dedup: $resolved of $planted planted keys resolved")
      out.note(s"final digests after step $last: " + replays.zip(finals).map { case (r, g) =>
        s"${r.name} production ${g.get(-1)} cumulative ${g.get(-2)}" }.mkString("; "))
      var okReads = 0
      reads.foreach { case (r, rd) =>
        val w = want.getOrElse(rd.rid, "0:0")
        if (rd.digest == w) okReads += 1
        else out.fail(s"${r.name} read ${rd.rid} (${rd.kind} at step ${rd.step}): " +
          s"${rd.digest}, expected $w")
      }
      out.readRecall = okReads.toDouble / reads.size
      replays.map(_.door).foreach {
        case d: SqlDoor => d.dqFailures.foreach(out.fail)
        case _ =>
      }
    }
    out
  }
}

/** The view must equal a recompute of its query over production. */
object MviewCheck {
  def apply(spark: SparkSession, view: DataFrame, prod: DataFrame): Seq[String] = {
    view.createOrReplaceTempView("m_view")
    prod.createOrReplaceTempView("m_view_src")
    spark.sql("""
      SELECT coalesce(v.ticker, e.ticker) AS ticker FROM m_view v FULL OUTER JOIN (
        SELECT ticker, MIN(close) AS min_close, MAX(close) AS max_close,
               AVG(close) AS avg_close, STDDEV(close) AS sd_close
        FROM m_view_src GROUP BY ticker) e ON v.ticker = e.ticker
      WHERE v.ticker IS NULL OR e.ticker IS NULL
         OR v.min_close != e.min_close OR v.max_close != e.max_close
         OR abs(CAST(v.avg_close AS DOUBLE) - CAST(e.avg_close AS DOUBLE)) > 1e-6
         OR abs(coalesce(CAST(v.sd_close AS DOUBLE), 0) -
                coalesce(CAST(e.sd_close AS DOUBLE), 0)) > 1e-6""")
      .limit(5).collect().map(r => s"materialized view differs for ticker ${r.getString(0)}")
      .toSeq
  }
}

/** Space amplification: bytes under the workload roots over the bytes of
  * the files the live heads reference. */
object Space {
  private def bytesUnder(p: Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    } finally s.close()
  }

  def amp(roots: Seq[Path], live: Seq[DataFrame]): Double = {
    val files = live.flatMap(_.inputFiles).distinct
    val liveBytes = files.map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    roots.map(bytesUnder).sum.toDouble / liveBytes
  }
}
