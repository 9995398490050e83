package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, PipelineConfig, Streaming}

/**
 * The streaming variant must produce byte-identical tables to the batch
 * `Pipeline.runDay` path on the same feed (SURVEY §2.11): same
 * production rows, same cumulative rolling metrics, duplicate bars
 * deduped, incremental restarts processing only new files.
 */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    value: Double)
case class Imp(user_id: Long, imp_ts: java.sql.Timestamp, imp_id: Long)
case class Clk(user_id: Long, clk_ts: java.sql.Timestamp, clk_id: Long)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tickers = Seq("AAPL", "AMZN", "NFLX", "GOOGL", "META")
  private val days = (1 to 9).map(d => LocalDate.of(2024, 3, d))
    .filterNot(d => d.getDayOfWeek.getValue >= 6)

  private def feed(ds: LocalDate): DataFrame = {
    val rows = tickers.zipWithIndex.map { case (t, i) =>
      val base = 200.0 + 10 * i + ds.getDayOfMonth
      (t, java.sql.Date.valueOf(ds), base - 1, base + 2, base - 3, base,
        2000L + i, base + 0.5, ds.toEpochDay * 86400000L, 20 + i)
    }
    rows.toDF("ticker", "date", "open", "high", "low", "close",
      "volume", "vwap", "event_ts", "transactions")
  }

  private def sortedRows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.drop("insertion_timestamp", "updated_at")
      .orderBy("ticker", "date")
      .select(df.drop("insertion_timestamp", "updated_at")
        .columns.sorted.map(col): _*)
      .collect().toSeq

  test("windowedBars: watermarked tumbling windows equal batch dailyBars; late data handled") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, day: Int, hour: Int, u: Long, v: Double) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-04-$day%02d $hour%02d:00:00"), u, v)

    val stream = MemoryStream[Ev]
    val q = graft.pipeline.Streaming.windowedBars(stream.toDF(),
        Seq("user_id"), "ts", "value", "event_id")
      .writeStream.format("memory").queryName("wbars")
      .outputMode("update").start()
    // batch 1: two days of events; batch 2: a LATE event for day 1
    // (inside the 2-day watermark → must update day 1's window)
    stream.addData(Seq(ev(1, 1, 9, 7L, 10.0), ev(2, 1, 15, 7L, 30.0),
      ev(3, 2, 10, 7L, 20.0)))
    q.processAllAvailable()
    stream.addData(Seq(ev(4, 1, 12, 7L, 99.0)))
    q.processAllAvailable()
    q.stop()

    // memory sink in update mode appends revisions; last write per key wins
    val res = spark.table("wbars")
      .withColumn("__o", monotonically_increasing_id())
      .orderBy(desc("__o")).dropDuplicates("user_id", "date")
      .select("date", "open", "high", "low", "close", "volume")
      .as[(java.sql.Date, Double, Double, Double, Double, Long)]
      .collect()
      .map { case (d, o, h, l, c, v) => d.toString -> ((o, h, l, c, v)) }.toMap
    // late event folded into day 1; close = value at max event_id (the
    // dailyBars contract: ids are ingest-ordered, so the late-arriving
    // id 4 is "latest")
    assert(res("2024-04-01") == (10.0, 99.0, 10.0, 99.0, 3L))
    assert(res("2024-04-02") == (20.0, 20.0, 20.0, 20.0, 1L))

    // batch equivalence: same operator over a static frame == dailyBars
    val all = Seq(ev(1, 1, 9, 7L, 10.0), ev(2, 1, 15, 7L, 30.0),
      ev(3, 2, 10, 7L, 20.0), ev(4, 1, 12, 7L, 99.0)).toDF()
    val streamed = graft.pipeline.Streaming.windowedBars(all,
        Seq("user_id"), "ts", "value", "event_id")
      .select("user_id", "date", "open", "high", "low", "close", "volume")
    val batch = graft.ops.Ingest.dailyBars(all, Seq("user_id"), "ts", "value", "event_id")
      .select("user_id", "date", "open", "high", "low", "close", "volume")
    assert(streamed.orderBy("date").collect().toSeq ==
      batch.orderBy("date").collect().toSeq)
  }

  test("sessionStats: session_window equals the batch sessionizer; streaming closes on watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Sessions
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Int, u: Long, v: Double) =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-07-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00"), u, v)
    // user 7: events at m0, m10 (one session), m50 (gap 40m >= 30m → new)
    // user 8: single event
    val events = Seq(ev(1, 0, 7L, 1.0), ev(2, 10, 7L, 2.0),
      ev(3, 50, 7L, 4.0), ev(4, 5, 8L, 8.0))

    // batch equivalence: session_window grouping == lag/cumsum sessionizer
    val batchWin = graft.pipeline.Streaming.sessionStats(events.toDF(),
        Seq("user_id"), "ts", "value", gapSeconds = 1800)
      .select("user_id", "n_events", "value_sum")
      .as[(Long, Long, Double)].collect().toSet
    val batchLag = Sessions.stats(events.toDF(), Seq("user_id"), "ts", "value",
        gapSeconds = 1800, orderCols = Seq("ts", "event_id"))
      .select("user_id", "n_events", "value_sum")
      .as[(Long, Long, Double)].collect().toSet
    assert(batchWin == batchLag)
    assert(batchWin == Set((7L, 2L, 3.0), (7L, 1L, 4.0), (8L, 1L, 8.0)))

    // streaming append mode: sessions emit once the watermark passes
    val stream = MemoryStream[Ev]
    val q = graft.pipeline.Streaming.sessionStats(stream.toDF(),
        Seq("user_id"), "ts", "value", gapSeconds = 1800,
        watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    stream.addData(events)
    q.processAllAvailable()
    val open = spark.table("sessions_out").count()
    // advance the watermark far past every session end → all close
    stream.addData(Seq(ev(99, 600, 9L, 0.0)))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions_out")
      .select("user_id", "n_events", "value_sum")
      .as[(Long, Long, Double)].collect().toSet
    assert(open < 3 && closed.size >= 3)
    assert(batchWin.subsetOf(closed))
  }

  test("intervalJoin: stream-stream attribution equals the batch interval join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = java.sql.Timestamp.valueOf(
      f"2024-05-01 10:${sec / 60}%02d:${sec % 60}%02d")
    val imps = Seq(Imp(1, ts(0), 100), Imp(1, ts(100), 101), Imp(2, ts(0), 200))
    val clks = Seq(
      Clk(1, ts(20), 900),  // 20 s after imp 100 → attributed
      Clk(1, ts(110), 901), // 10 s after imp 101 → attributed
      Clk(1, ts(95), 902),  // 95 s after imp 100 (> 30 s), before imp 101 → no
      Clk(3, ts(5), 903))   // no impression for this user → no
    val expected = Set((1L, 100L, 900L), (1L, 101L, 901L))

    // batch equivalence: same operator over static frames
    val batch = Streaming.intervalJoin(imps.toDF(), clks.toDF(),
        Seq("user_id"), "imp_ts", "clk_ts", maxDelaySeconds = 30)
      .select("user_id", "imp_id", "clk_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == expected)

    // streaming: both sides incremental, matches emit across micro-batches
    val li = MemoryStream[Imp]
    val ri = MemoryStream[Clk]
    val q = Streaming.intervalJoin(li.toDF(), ri.toDF(),
        Seq("user_id"), "imp_ts", "clk_ts", maxDelaySeconds = 30,
        watermark = "1 minute")
      .select("user_id", "imp_id", "clk_id")
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    li.addData(imps.take(2))
    ri.addData(clks.take(2))
    q.processAllAvailable()
    li.addData(imps.drop(2))
    ri.addData(clks.drop(2))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("ssjoin")
      .as[(Long, Long, Long)].collect().toSet == expected)
  }

  test("dedupIngest: per-batch incremental admits, restart picks up new files, replay is a no-op") {
    val root = Files.createTempDirectory("graft_dedup_ingest").toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val corpus = s"$root/corpus"

    val base = (1 to 30).map(i => s"token$i").mkString(" ")
    val nearBase = (1 to 29).map(i => s"token$i").mkString(" ") + " tokenX"
    val fresh1 = (50 to 80).map(i => s"word$i").mkString(" ")
    val fresh2 = (200 to 230).map(i => s"new$i").mkString(" ")
    val nearFresh1 = (50 to 79).map(i => s"word$i").mkString(" ") + " wordZ"
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    // day 1: 1 admitted; 2 near-dups 1 within the batch → dropped
    docsDf((1L, base), (2L, nearBase)).write.mode("append").parquet(in)
    val schema = docsDf((0L, "")).schema
    Streaming.dedupIngest(spark, in, schema, corpus, s"$root/ckpt")
      .awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSeq.sorted == Seq(1L))

    // day 2 (restart, same checkpoint): 10 dups the corpus → dropped;
    // 11 and 12 novel, 12 near-dups 11 in-batch → 11 admitted
    docsDf((10L, nearBase), (11L, fresh1), (12L, nearFresh1),
      (13L, fresh2)).write.mode("append").parquet(in)
    Streaming.dedupIngest(spark, in, schema, corpus, s"$root/ckpt")
      .awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSeq.sorted == Seq(1L, 11L, 13L))

    // replay the SAME files through a fresh checkpoint: every admitted
    // doc now self-matches in the corpus, every rejected doc still has
    // its partner → the corpus must not change
    Streaming.dedupIngest(spark, in, schema, corpus, s"$root/ckpt2")
      .awaitTermination()
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSeq.sorted == Seq(1L, 11L, 13L))

    // the admitted corpus carries the persistent band index: every row
    // has non-null bucket/shingle arrays (the steady-state admit path
    // reads these instead of re-shingling the corpus text)
    val idx = spark.read.parquet(corpus)
    import graft.ext.Dedup
    assert(idx.columns.contains(Dedup.IndexBucketsCol) &&
      idx.columns.contains(Dedup.IndexShinglesCol))
    assert(idx.where(col(Dedup.IndexBucketsCol).isNull ||
      col(Dedup.IndexShinglesCol).isNull).count() == 0)
  }

  test("dedupIngest: kill-and-replay of a committed epoch is a no-op via the epoch ledger") {
    val root = Files.createTempDirectory("graft_dedup_epoch").toString
    val corpus = s"$root/corpus"
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val a = (1 to 30).map(i => s"etok$i").mkString(" ")
    val b = (100 to 130).map(i => s"efresh$i").mkString(" ")

    Streaming.admitBatch(spark, docsDf((1L, a)), corpus, "doc_id", "text",
      0.5, txn = Some(("ckptA", 0L)))
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSeq == Seq(1L))

    // a crash-replay re-delivers epoch 0 of the same checkpoint. Feed
    // DIFFERENT (novel) content under the committed (ckpt, epoch) key:
    // if the guard were the self-dedup backstop, doc 2 would be
    // admitted — only the ledger tag makes this a true no-op.
    Streaming.admitBatch(spark, docsDf((2L, b)), corpus, "doc_id", "text",
      0.5, txn = Some(("ckptA", 0L)))
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSeq == Seq(1L),
      "replayed committed epoch must not admit anything")

    // a FRESH checkpoint restarts epoch numbering at 0 — its epoch 0 is
    // a different transaction and must admit normally
    Streaming.admitBatch(spark, docsDf((2L, b)), corpus, "doc_id", "text",
      0.5, txn = Some(("ckptB", 0L)))
    assert(spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().toSeq.sorted == Seq(1L, 2L))

    // the ledger dir is _-prefixed: invisible to corpus parquet scans
    assert(new java.io.File(s"$corpus/_epochs").isDirectory)
  }

  test("admitBatch records the corpus schema: later reads run no jobs") {
    val root = Files.createTempDirectory("graft_dedup_schema").toString
    val corpus = s"$root/corpus"
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val a = (1 to 30).map(i => s"stok$i").mkString(" ")
    val b = (100 to 130).map(i => s"sfresh$i").mkString(" ")
    Streaming.admitBatch(spark, docsDf((1L, a)), corpus, "doc_id", "text", 0.5)
    Streaming.admitBatch(spark, docsDf((2L, b)), corpus, "doc_id", "text", 0.5)
    // the second admit appended under the recorded schema: reading the
    // corpus back needs no footer-inference job
    val (read, jobs) = Jobs.during(spark)(
      graft.ops.Exchange.table(spark, corpus))
    assert(jobs == 0)
    assert(read.schema == spark.read.parquet(corpus).schema)
    assert(read.select("doc_id").as[Long].collect().toSeq.sorted ==
      Seq(1L, 2L))
    // a batch of another shape is refused before it touches the corpus
    val c = (200 to 230).map(i => s"sother$i").mkString(" ")
    val err = intercept[IllegalArgumentException](Streaming.admitBatch(spark,
      Seq((3, c)).toDF("doc_id", "text"), corpus, "doc_id", "text", 0.5))
    assert(err.getMessage.contains(corpus))
    assert(spark.read.parquet(corpus).count() == 2)
  }

  test("dedupIngest migrates a pre-index corpus once, then admits against stored index") {
    import graft.ext.Dedup
    val root = Files.createTempDirectory("graft_dedup_migrate").toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val corpus = s"$root/corpus"
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val base = (1 to 30).map(i => s"mtoken$i").mkString(" ")
    val nearBase = (1 to 29).map(i => s"mtoken$i").mkString(" ") + " mtokenX"
    val fresh = (200 to 230).map(i => s"mfresh$i").mkString(" ")

    // legacy layout: corpus written WITHOUT index columns
    docsDf((1L, base)).write.parquet(corpus)
    docsDf((10L, nearBase), (13L, fresh)).write.mode("append").parquet(in)
    val schema = docsDf((0L, "")).schema
    Streaming.dedupIngest(spark, in, schema, corpus, s"$root/ckpt")
      .awaitTermination()

    val t = spark.read.parquet(corpus)
    // 10 near-dups the migrated corpus doc → dropped; 13 novel → admitted
    assert(t.select("doc_id").as[Long].collect().toSeq.sorted == Seq(1L, 13L))
    // the MIGRATED row (doc 1) has stored index columns too — the swap
    // rewrote the whole table, no mixed-schema NULLs anywhere
    assert(t.where(col(Dedup.IndexBucketsCol).isNull ||
      col(Dedup.IndexShinglesCol).isNull).count() == 0)
    assert(t.where(col("doc_id") === 1L)
      .select(size(col(Dedup.IndexBucketsCol))).head().getInt(0) == 32)
  }

  test("streaming AvailableNow run equals batch runDay output, dedupes, resumes") {
    val root = Files.createTempDirectory("graft_stream").toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()

    // feed files: one per day, first day duplicated (dedup must collapse)
    days.foreach { ds =>
      feed(ds).write.mode("append").parquet(in)
    }
    feed(days.head).write.mode("append").parquet(in) // exact duplicates

    val streamCfg = PipelineConfig(s"$root/sprod", s"$root/scum")
    val q = Streaming.run(spark, in, feed(days.head).schema, streamCfg,
      s"$root/ckpt")
    q.awaitTermination()

    // batch reference over the identical feed
    val batchCfg = PipelineConfig(s"$root/bprod", s"$root/bcum")
    val pipe = new Pipeline(spark, batchCfg)
    days.foreach(ds => pipe.runDay(ds, feed))

    val sProd = spark.read.parquet(streamCfg.productionPath)
    val bProd = spark.read.parquet(batchCfg.productionPath)
    assert(sProd.count() == tickers.size * days.size) // duplicates collapsed
    assert(sortedRows(sProd) == sortedRows(bProd))
    assert(sortedRows(spark.read.parquet(streamCfg.cumulativePath)) ==
      sortedRows(spark.read.parquet(batchCfg.cumulativePath)))

    // incremental restart: a new day's file → only it is processed, and
    // the rolling metrics pick up the new date
    val extra = LocalDate.of(2024, 3, 11)
    feed(extra).write.mode("append").parquet(in)
    val q2 = Streaming.run(spark, in, feed(extra).schema, streamCfg,
      s"$root/ckpt")
    q2.awaitTermination()
    pipe.runDay(extra, feed)
    assert(sortedRows(spark.read.parquet(streamCfg.productionPath)) ==
      sortedRows(spark.read.parquet(batchCfg.productionPath)))
    assert(sortedRows(spark.read.parquet(streamCfg.cumulativePath)) ==
      sortedRows(spark.read.parquet(batchCfg.cumulativePath)))

    // PARTIAL-date re-send: one ticker of an already-promoted day
    // arrives again with a corrected value and a LATER event_ts. The
    // merge must (a) keep every other ticker of that day and (b) keep
    // the original min-event_ts bar for the re-sent ticker.
    import org.apache.spark.sql.functions.{col, lit}
    feed(extra).where(col("ticker") === "AAPL")
      .withColumn("close", lit(9999.0))
      .withColumn("event_ts", col("event_ts") + 1000)
      .write.mode("append").parquet(in)
    val q3 = Streaming.run(spark, in, feed(extra).schema, streamCfg,
      s"$root/ckpt")
    q3.awaitTermination()
    val day = spark.read.parquet(streamCfg.productionPath)
      .where(col("date") === java.sql.Date.valueOf(extra))
    assert(day.count() == tickers.size)
    assert(day.where(col("ticker") === "AAPL")
      .select("close").head().getDecimal(0).doubleValue ==
        200.0 + 0 + extra.getDayOfMonth)
  }

  test("aggViewSink: streaming materialized view equals batch aggregate; restart maintains; replay no-ops") {
    import graft.ops.{IncrementalAgg, Versioned}
    val root = Files.createTempDirectory("graft_aggview").toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val view = s"$root/view"
    def rows(rs: (String, String)*) = rs.toSeq.toDF("k", "amt")
      .withColumn("amt", col("amt").cast("decimal(18,2)"))
    val schema = rows(("x", "0")).schema
    def run(): Unit =
      Streaming.aggViewSink(
        spark.readStream.schema(schema).parquet(in), view, s"$root/ckpt",
        Seq("k"), Seq("amt")).awaitTermination()

    rows(("a", "10.00"), ("a", "2.50"), ("b", "1.00"))
      .write.mode("append").parquet(in)
    run()
    def viewState = Versioned.read(spark, view)
      .selectExpr("k", "n_rows", "cast(sum_amt as string) AS s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(viewState == Set(("a", 2L, "12.50"), ("b", 1L, "1.00")))

    // restart with new files: the view is MAINTAINED (delta applied to
    // the committed state), and equals the batch aggregate of all input
    rows(("a", "0.25"), ("c", "7.00")).write.mode("append").parquet(in)
    run()
    val expect = IncrementalAgg.aggregate(
        spark.read.schema(schema).parquet(in), Seq("k"), Seq("amt"))
      .selectExpr("k", "n_rows", "cast(sum_amt as string) AS s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(viewState == expect)
    assert(viewState.exists(t => t._1 == "a" && t._2 == 3L))

    // replay with no new input: no epoch commits, version unchanged
    val v = Versioned.currentVersion(spark, view)
    run()
    assert(Versioned.currentVersion(spark, view) == v)
  }

  test("ProcessingTime trigger: always-on ingest equals batch runDay; new files picked up mid-run") {
    val root = Files.createTempDirectory("graft_stream_pt").toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()

    val first = days.take(2)
    first.foreach(ds => feed(ds).write.mode("append").parquet(in))

    // always-on cadence: the query stays alive after draining, polling
    // for new files — the §2.11 config AvailableNow cannot exercise
    val streamCfg = PipelineConfig(s"$root/sprod", s"$root/scum")
    val q = Streaming.run(spark, in, feed(first.head).schema, streamCfg,
      s"$root/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q.processAllAvailable()

    val batchCfg = PipelineConfig(s"$root/bprod", s"$root/bcum")
    val pipe = new Pipeline(spark, batchCfg)
    first.foreach(ds => pipe.runDay(ds, feed))
    assert(sortedRows(spark.read.parquet(streamCfg.productionPath)) ==
      sortedRows(spark.read.parquet(batchCfg.productionPath)))

    // drop a new day in WHILE the query is still running — the live
    // query must ingest it without a restart (the ProcessingTime
    // contract), and the tables must still equal the batch path's
    val extra = days(2)
    feed(extra).write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    pipe.runDay(extra, feed)
    assert(sortedRows(spark.read.parquet(streamCfg.productionPath)) ==
      sortedRows(spark.read.parquet(batchCfg.productionPath)))
    assert(sortedRows(spark.read.parquet(streamCfg.cumulativePath)) ==
      sortedRows(spark.read.parquet(batchCfg.cumulativePath)))
  }

  test("stateless curation ops run unchanged under readStream (streaming-ready)") {
    // chunking, quality stats and PII scrub are pure projections, so the
    // SAME operator code must work on a streaming DataFrame with no
    // changes and produce exactly the batch rows — this is what lets the
    // curation pipeline move from backfill to incremental ingest without
    // a rewrite
    import graft.ext.{TextOps, TextNorm}
    val root = Files.createTempDirectory("graft_stream_curate_").toString
    val docs = Seq((1L, "Alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "contact me at user@example.com please"),
      (3L, "")).toDF("doc_id", "text")
    docs.write.parquet(s"$root/in")
    def curate(df: DataFrame): DataFrame = {
      // the real pipeline order: scrub PII from the RAW text first
      // (tokenization would shred the email before the regex saw it),
      // then chunk the scrubbed text
      val scrubbed = TextOps.maskPattern(df, "text",
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "EMAILTOKEN")
      TextOps.chunk(scrubbed.select(col("doc_id"),
        col("scrubbed").as("text"), col("n_masked")),
        "doc_id", "text", size = 4, overlap = 1)
    }
    val stream = curate(
      spark.readStream.schema(docs.schema).parquet(s"$root/in"))
    assert(stream.isStreaming, "the curation plan must stay streaming")
    val q = stream.writeStream.format("memory").queryName("curated")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt").start()
    q.awaitTermination()
    val got = spark.table("curated").orderBy("doc_id", "chunk_id")
      .collect().toSeq
    val batch = curate(docs).orderBy("doc_id", "chunk_id").collect().toSeq
    assert(got == batch && got.nonEmpty)
    val texts = got.map(_.getString(2))
    assert(texts.exists(_.contains("emailtoken")) &&
      !texts.exists(_.contains("example")))
  }

  test("changeFeed: streamed CDC hops equal batch readRowChanges, survive restarts, replay no-ops") {
    import graft.ops.VersionedPartitioned
    val root = Files.createTempDirectory("graft_cdcfeed_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val keys = Seq("date", "id")
    def rows(d: Int, ids: Range, bump: Double) = ids.map(i =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), i.toLong, i * 1.5 + bump))
      .toDF("date", "id", "px")
    def feedRows() = VersionedPartitioned.read(spark, log)
      .select("date", "id", "change_type", "commit_version")
      .as[(java.sql.Date, Long, String, Long)].collect().toSeq.sorted
    // v1: two days — the bootstrap hop delivers everything as insert
    VersionedPartitioned.promote(
      rows(1, 1 to 5, 0).union(rows(2, 6 to 10, 0)), src, "date")
    val q1 = Streaming.changeFeed(spark, src, keys, log)
    q1.awaitTermination()
    val v1 = VersionedPartitioned.currentVersion(spark, src).get
    val hop1 = feedRows()
    assert(hop1.size == 10 && hop1.forall(_._3 == "insert") &&
      hop1.forall(_._4 == v1))
    // batch equivalence for the same window
    val batch1 = VersionedPartitioned.readRowChanges(spark, src, keys, 0L)
      .as[(java.sql.Date, Long, String)].collect().toSeq.sorted
    assert(hop1.map(r => (r._1, r._2, r._3)) == batch1)
    // replay: caught-up subscription delivers nothing, cursor holds
    val q2 = Streaming.changeFeed(spark, src, keys, log)
    q2.awaitTermination()
    assert(feedRows() == hop1)
    // v2: rewrite day 1 (ids 1-3 updated, 4-5 deleted, 11 inserted);
    // a RESTARTED subscription picks up exactly this window
    VersionedPartitioned.promote(
      rows(1, 1 to 3, 100).union(rows(1, 11 to 11, 0)), src, "date")
    val v2 = VersionedPartitioned.currentVersion(spark, src).get
    val q3 = Streaming.changeFeed(spark, src, keys, log)
    q3.awaitTermination()
    val all = feedRows()
    val hop2 = all.filter(_._4 == v2)
    assert(all.size == hop1.size + hop2.size)
    val byType = hop2.groupBy(_._3).view.mapValues(_.map(_._2).sorted).toMap
    assert(byType("update") == Seq(1L, 2L, 3L))
    assert(byType("delete") == Seq(4L, 5L))
    assert(byType("insert") == Seq(11L))
    // window equivalence: hop2 == batch readRowChanges(v1, v2)
    val batch2 = VersionedPartitioned
      .readRowChanges(spark, src, keys, v1, Some(v2))
      .as[(java.sql.Date, Long, String)].collect().toSeq.sorted
    assert(hop2.map(r => (r._1, r._2, r._3)) == batch2)
    // the log is a normal versioned table: window reads prune by version
    assert(VersionedPartitioned.readPartitionsWhere(spark, log,
      _.toLong > v1).count() == hop2.size)
  }

  test("maintainAggregate: exactly-once state commits from the CDC log") {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_cdcmva_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val state = s"$root/state"
    val keys = Seq("date", "id", "px")
    def rows(d: Int, ids: Range) = ids.map(i =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), i.toLong, i * 1.5))
      .toDF("date", "id", "px")
    def stateRows() = VersionedPartitioned.read(spark, state)
      .select(col("date").cast("string"), col("n_rows"),
        org.apache.spark.sql.functions.round(col("sum_px"), 4))
      .as[(String, Long, Double)].collect().toSeq.sorted
    def batchRows() = IncrementalAgg.aggregate(
        VersionedPartitioned.read(spark, src), Seq("date"), Seq("px"))
      .select(col("date").cast("string"), col("n_rows"),
        org.apache.spark.sql.functions.round(col("sum_px"), 4))
      .as[(String, Long, Double)].collect().toSeq.sorted
    VersionedPartitioned.promote(
      rows(1, 1 to 5).union(rows(2, 6 to 10)), src, "date")
    Streaming.changeFeedHop(spark, src, keys, log)
    // bootstrap fold commits state + cursor atomically
    assert(Streaming.maintainAggregate(spark, log, state,
      Seq("date"), Seq("px")).isDefined)
    assert(stateRows() == batchRows())
    val v1 = VersionedPartitioned.currentVersion(spark, state).get
    // caught up: no new window -> no state commit (exactly-once)
    assert(Streaming.maintainAggregate(spark, log, state,
      Seq("date"), Seq("px")).isEmpty)
    assert(VersionedPartitioned.currentVersion(spark, state).get == v1)
    // a metadata partition DELETE upstream flows as deletes and DROPS
    // the emptied group from the maintained state
    VersionedPartitioned.deletePartitionValues(spark, src,
      Set("2024-03-01"))
    Streaming.changeFeedHop(spark, src, keys, log)
    assert(Streaming.maintainAggregate(spark, log, state,
      Seq("date"), Seq("px")).isDefined)
    assert(stateRows() == batchRows())
    assert(stateRows().map(_._1) == Seq("2024-03-02"))
    // the subscription twin: feed + view as two chained streaming
    // queries, both checkpoint-free; a fresh source commit flows
    // source → log → state in one AvailableNow tick each
    VersionedPartitioned.promote(rows(3, 20 to 24), src, "date")
    Streaming.changeFeed(spark, src, keys, log).awaitTermination()
    Streaming.maintainedAggregate(spark, log, state,
      Seq("date"), Seq("px")).awaitTermination()
    assert(stateRows() == batchRows())
    assert(stateRows().map(_._1) == Seq("2024-03-02", "2024-03-03"))
  }

  test("maintainAggregate: one hop's job count is pinned") {
    import graft.ops.VersionedPartitioned
    val root = Files.createTempDirectory("graft_cdcmvajobs_").toString
    val (src, log, state) = (s"$root/src", s"$root/log", s"$root/state")
    val keys = Seq("date", "id", "px")
    def rows(d: Int, ids: Range) = ids.map(i =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), i.toLong,
        new java.math.BigDecimal(i).movePointLeft(1)))
      .toDF("date", "id", "px")
      .withColumn("px", col("px").cast("decimal(18,2)"))
    def hop() = Streaming.maintainAggregate(spark, log, state,
      Seq("date"), Seq("px"))
    VersionedPartitioned.promote(
      rows(1, 1 to 5).union(rows(2, 6 to 10)), src, "date")
    Streaming.changeFeedHop(spark, src, keys, log)
    assert(hop().isDefined)
    // rewrite day 1, add day 3: one window of deletes and inserts
    VersionedPartitioned.promote(
      rows(1, 1 to 3).union(rows(3, 11 to 12)), src, "date")
    Streaming.changeFeedHop(spark, src, keys, log)
    val (folded, jobs) = Jobs.during(spark)(hop())
    assert(folded.isDefined)
    assert(jobs == 2, s"one maintainAggregate hop ran $jobs jobs")
  }

  test("maintainMinMax: extremum deletes rescan, replays no-op, restarts resume") {
    import graft.ops.VersionedPartitioned
    val root = Files.createTempDirectory("graft_cdcmm_").toString
    val (src, log, state) = (s"$root/src", s"$root/log", s"$root/state")
    val keys = Seq("date", "id", "px")
    def rows(d: Int, pairs: Seq[(Long, Double)]) = pairs.map { case (i, p) =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), i, p) }
      .toDF("date", "id", "px")
    def stateRows() = VersionedPartitioned.read(spark, state)
      .select(col("date").cast("string"), col("n_rows"),
        col("min_px"), col("max_px"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    def batchRows() = VersionedPartitioned.read(spark, src)
      .groupBy(col("date").cast("string").as("date"))
      .agg(count(lit(1)).as("n"), min("px"), max("px"))
      .as[(String, Long, Double, Double)].collect().toSeq.sorted
    def hop() = {
      Streaming.changeFeedHop(spark, src, keys, log)
      Streaming.maintainMinMax(spark, log, state, src, Seq("date"), Seq("px"))
    }
    VersionedPartitioned.promote(
      rows(1, Seq(1L -> 5.0, 2L -> 9.0, 3L -> 1.0))
        .union(rows(2, Seq(4L -> 7.0, 5L -> 2.0))), src, "date")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    val v1 = VersionedPartitioned.currentVersion(spark, state).get
    // replay (a restart re-running the last hop): caught up, no commit
    assert(Streaming.maintainMinMax(spark, log, state, src,
      Seq("date"), Seq("px")).isEmpty)
    assert(VersionedPartitioned.currentVersion(spark, state).get == v1)
    // delete day 1's MAX (id 2) — the non-subtractable case: the new
    // max (5.0) is not derivable from state+delta, only from the
    // affected-group rescan
    VersionedPartitioned.promote(
      rows(1, Seq(1L -> 5.0, 3L -> 1.0)), src, "date")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    assert(stateRows().find(_._1 == "2024-03-01").get ==
      (("2024-03-01", 2L, 1.0, 5.0)))
    // a strictly-inside delete (day 1's id 3=1.0 stays; delete nothing
    // extreme on day 2? delete px=2.0 which IS day 2's min → rescan);
    // then empty a whole group: day 2 drops entirely
    VersionedPartitioned.deletePartitionValues(spark, src, Set("2024-03-02"))
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    assert(stateRows().map(_._1) == Seq("2024-03-01"))
    // the STREAMING twin: one AvailableNow tick of the generic
    // `maintained` subscription carries a fresh commit source → feed →
    // state, checkpoint-free (all delivery state is the cursor tags)
    VersionedPartitioned.promote(
      rows(3, Seq(7L -> 4.0, 8L -> 6.0)), src, "date")
    Streaming.maintained(spark) { () =>
      Streaming.changeFeedHop(spark, src, keys, log)
      Streaming.maintainMinMax(spark, log, state, src, Seq("date"),
        Seq("px"))
      ()
    }.awaitTermination()
    assert(stateRows() == batchRows())
    assert(stateRows().map(_._1) == Seq("2024-03-01", "2024-03-03"))
  }

  test("maintainMinMax: a NULL in a group column is one group through insert and rescan hops") {
    import graft.ops.VersionedPartitioned
    val root = Files.createTempDirectory("graft_cdcmmnull_").toString
    val (src, log, state) = (s"$root/src", s"$root/log", s"$root/state")
    // the source is partitioned by `part`, not by a group column, so
    // an insert into an existing group can be a pure-insert window
    val keys = Seq("part", "date", "sym", "id", "px")
    def rows(part: Int, rs: (Option[String], Long, Double)*) =
      rs.map { case (s, i, p) =>
        (part, java.sql.Date.valueOf("2024-03-01"), s, i, p) }
        .toDF("part", "date", "sym", "id", "px")
    def stateRows() = VersionedPartitioned.read(spark, state)
      .select(col("date").cast("string"), col("sym"), col("n_rows"),
        col("min_px"), col("max_px"))
      .as[(String, Option[String], Long, Double, Double)]
      .collect().toSeq.sorted
    def batchRows() = VersionedPartitioned.read(spark, src)
      .groupBy(col("date").cast("string").as("date"), col("sym"))
      .agg(count(lit(1)).as("n"), min("px"), max("px"))
      .as[(String, Option[String], Long, Double, Double)]
      .collect().toSeq.sorted
    def hop() = {
      Streaming.changeFeedHop(spark, src, keys, log)
      Streaming.maintainMinMax(spark, log, state, src, Seq("date", "sym"),
        Seq("px"))
    }
    val a = (Some("A"), 1L, 5.0)
    val (n2, n3) = ((None, 2L, 3.0), (None, 3L, 7.0))
    VersionedPartitioned.promote(rows(1, a, n2, n3), src, "part")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    // insert hop: a new partition adds a row to the (date, NULL) group
    VersionedPartitioned.promote(rows(2, (None, 4L, 6.0)), src, "part")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    assert(stateRows().count(_._2.isEmpty) == 1)
    // extremum-delete hop: the NULL group's max leaves, so the group
    // is rescanned from the source
    VersionedPartitioned.promote(rows(1, a, n2), src, "part")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    assert(stateRows().find(_._2.isEmpty).get ==
      (("2024-03-01", None, 2L, 3.0, 6.0)))
  }

  test("maintainTopK: winner deletes refill from source, replays no-op") {
    import graft.ops.VersionedPartitioned
    val root = Files.createTempDirectory("graft_cdctopk_").toString
    val (src, log, state) = (s"$root/src", s"$root/log", s"$root/state")
    val keys = Seq("date", "id", "px")
    def rows(d: Int, pairs: Seq[(Long, Double)]) = pairs.map { case (i, p) =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), i, p) }
      .toDF("date", "id", "px")
    def topRows() = graft.ops.IncrementalAgg.topKValues(
        VersionedPartitioned.read(spark, state), Seq("date"), "px", "id", 2)
      .select(col("date").cast("string"), col("rank"), col("id"), col("px"))
      .as[(String, Int, Long, Double)].collect().toSeq.sorted
    def batchTop() = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("date")).orderBy(col("px").desc, col("id").asc)
      VersionedPartitioned.read(spark, src)
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 2)
        .select(col("date").cast("string"), col("rank"), col("id"), col("px"))
        .as[(String, Int, Long, Double)].collect().toSeq.sorted
    }
    def hop() = {
      Streaming.changeFeedHop(spark, src, keys, log)
      Streaming.maintainTopK(spark, log, state, src, Seq("date"),
        "px", "id", 2)
    }
    // day 1 has FOUR rows so the refill row (id 1, px 5.0) is outside
    // the bootstrapped top-2 state
    VersionedPartitioned.promote(
      rows(1, Seq(1L -> 5.0, 2L -> 9.0, 3L -> 1.0, 4L -> 7.0)), src, "date")
    assert(hop().isDefined)
    assert(topRows() == batchTop())
    assert(topRows().map(_._3) == Seq(2L, 4L))
    val v1 = VersionedPartitioned.currentVersion(spark, state).get
    assert(Streaming.maintainTopK(spark, log, state, src, Seq("date"),
      "px", "id", 2).isEmpty)
    assert(VersionedPartitioned.currentVersion(spark, state).get == v1)
    // delete the #1 row (id 2): the slot refills with id 1 (5.0), a row
    // the state never held — only the source rescan can supply it
    VersionedPartitioned.promote(
      rows(1, Seq(1L -> 5.0, 3L -> 1.0, 4L -> 7.0)), src, "date")
    assert(hop().isDefined)
    assert(topRows() == batchTop())
    assert(topRows().map(_._3) == Seq(4L, 1L))
    // inserts only raise the bar — no rescan path needed, still exact
    VersionedPartitioned.promote(
      rows(1, Seq(1L -> 5.0, 3L -> 1.0, 4L -> 7.0, 5L -> 8.5)), src, "date")
    assert(hop().isDefined)
    assert(topRows() == batchTop())
    assert(topRows().map(_._3) == Seq(5L, 4L))
  }

  test("maintainDistinct + maintainQuantile: count-rule states equal batch") {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_cdcdq_").toString
    val (src, log) = (s"$root/src", s"$root/log")
    val (dState, qState) = (s"$root/dstate", s"$root/qstate")
    val keys = Seq("date", "id", "px")
    def rows(d: Int, pairs: Seq[(Long, Double)]) = pairs.map { case (i, p) =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), i, p) }
      .toDF("date", "id", "px")
    def hop() = {
      Streaming.changeFeedHop(spark, src, keys, log)
      val d = Streaming.maintainDistinct(spark, log, dState, Seq("date"), "px")
      val q = Streaming.maintainQuantile(spark, log, qState, Seq("date"), "px")
      (d, q)
    }
    VersionedPartitioned.promote(
      rows(1, Seq(1L -> 5.0, 2L -> 5.0, 3L -> 9.0))
        .union(rows(2, Seq(4L -> 2.0, 5L -> 3.0))), src, "date")
    hop()
    // px 5.0 counted once on day 1 despite two rows
    assert(IncrementalAgg.supportDistinctCounts(
        VersionedPartitioned.read(spark, dState), Seq("date"), "px")
      .select(col("date").cast("string"), col("distinct_px"))
      .as[(String, Long)].collect().toSeq.sorted ==
      Seq(("2024-03-01", 2L), ("2024-03-02", 2L)))
    // a fan-out sanity: the two views carry INDEPENDENT cursors on
    // their own state tables over the SAME log
    val (dv, qv) = (VersionedPartitioned.currentVersion(spark, dState).get,
      VersionedPartitioned.currentVersion(spark, qState).get)
    assert(hop() == ((None, None)))
    // rewrite day 1: drop one 5.0 row (multiplicity 2→1, support keeps
    // the value) and drop 9.0 entirely (support loses it)
    VersionedPartitioned.promote(rows(1, Seq(1L -> 5.0)), src, "date")
    val (d2, q2) = hop()
    assert(d2.isDefined && q2.isDefined)
    assert(IncrementalAgg.supportDistinctCounts(
        VersionedPartitioned.read(spark, dState), Seq("date"), "px")
      .select(col("date").cast("string"), col("distinct_px"))
      .as[(String, Long)].collect().toSeq.sorted ==
      Seq(("2024-03-01", 1L), ("2024-03-02", 2L)))
    assert(VersionedPartitioned.currentVersion(spark, dState).get > dv &&
      VersionedPartitioned.currentVersion(spark, qState).get > qv)
    // quantile state equals the batch bucketization of the final table
    val feedBuckets = VersionedPartitioned.read(spark, qState)
      .select(col("date").cast("string"), col("bucket"), col("n_rows"))
      .as[(String, Int, Long)].collect().toSeq.sorted
    val batchBuckets = VersionedPartitioned.read(spark, src)
      .select(col("date").cast("string"),
        IncrementalAgg.bucketColumn("px").as("bucket"))
      .groupBy("date", "bucket").agg(count(lit(1)).as("n"))
      .as[(String, Int, Long)].collect().toSeq.sorted
    assert(feedBuckets == batchBuckets)
  }

  test("maintainJoinView: two feeds, one delta-rule fold, composite cursor") {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_cdcjv_").toString
    val (fsrc, flog) = (s"$root/fsrc", s"$root/flog")
    val (dsrc, dlog) = (s"$root/dsrc", s"$root/dlog")
    val state = s"$root/state"
    def facts(d: Int, pairs: Seq[(Long, Double)]) = pairs.map { case (k, p) =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), k, p) }
      .toDF("date", "k", "px")
    def dims(pairs: Seq[(Long, String)]) = pairs
      .toDF("k", "seg").withColumn("db", col("k") % 2)
    def hop() = {
      Streaming.changeFeedHop(spark, fsrc, Seq("date", "k", "px"), flog)
      Streaming.changeFeedHop(spark, dsrc, Seq("k", "seg", "db"), dlog)
      Streaming.maintainJoinView(spark, flog, dlog, fsrc, dsrc, state,
        Seq("k"), Seq("seg"), Seq("px"))
    }
    def stateRows() = VersionedPartitioned.read(spark, state)
      .select(col("seg"), col("n_rows"), col("sum_px"))
      .as[(String, Long, Double)].collect().toSeq.sorted
    def batchRows() = IncrementalAgg.joinAggregate(
        VersionedPartitioned.read(spark, fsrc),
        VersionedPartitioned.read(spark, dsrc),
        Seq("k"), Seq("seg"), Seq("px"))
      .select(col("seg"), col("n_rows"), col("sum_px"))
      .as[(String, Long, Double)].collect().toSeq.sorted
    VersionedPartitioned.promote(
      facts(1, Seq(1L -> 5.0, 2L -> 9.0)).union(facts(2, Seq(3L -> 2.0))),
      fsrc, "date")
    VersionedPartitioned.promote(
      dims(Seq(1L -> "a", 2L -> "b", 3L -> "a")), dsrc, "db")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    val v1 = VersionedPartitioned.currentVersion(spark, state).get
    // replay: both feeds caught up → no state commit
    assert(hop().isEmpty)
    assert(VersionedPartitioned.currentVersion(spark, state).get == v1)
    // BOTH sides change in one fold: fact day 1 repriced + day 3
    // appended; dim key 3 moves a→b (delete+insert through its feed)
    VersionedPartitioned.promote(
      facts(1, Seq(1L -> 6.0, 2L -> 9.0)).union(facts(3, Seq(4L -> 1.0))),
      fsrc, "date")
    VersionedPartitioned.promote(
      dims(Seq(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "a")), dsrc, "db")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
    assert(stateRows() ==
      Seq(("a", 2L, 7.0), ("b", 2L, 11.0)))
    // dim-only change: the fact terms vanish, the fold still lands
    VersionedPartitioned.promote(
      dims(Seq(1L -> "b", 2L -> "b", 3L -> "b", 4L -> "a")), dsrc, "db")
    assert(hop().isDefined)
    assert(stateRows() == batchRows())
  }

  test("changeFeed + IncrementalAgg: a CDC-maintained view survives restarts") {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_cdcmv_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    // full-row identity: every change is a delete+insert pair, so the
    // downstream fold needs only the two signed aggregate terms
    val keys = Seq("date", "id", "px")
    def rows(d: Int, ids: Range, bump: Double) = ids.map(i =>
      (java.sql.Date.valueOf(f"2024-03-$d%02d"), i.toLong, i * 1.5 + bump))
      .toDF("date", "id", "px")
    val vcol = Streaming.CommitVersionCol
    // maintain the per-date (count, sum px) view from windows AFTER
    // `from` — the consumer's own cursor, independent of the feed's
    def maintainFrom(state: DataFrame, from: Long): (DataFrame, Long) = {
      val logDf = VersionedPartitioned.read(spark, log)
        .where(col(vcol) > from)
      val windows = logDf.select(col(vcol).cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      var s = state
      for (v <- windows) {
        val w = logDf.where(col(vcol) === v)
        s = IncrementalAgg.maintain(s,
          w.where(col("change_type") === "delete").select("date", "id", "px"),
          w.where(col("change_type") === "insert").select("date", "id", "px"),
          Seq("date"), Seq("px"))
      }
      (s.localCheckpoint(true), windows.lastOption.getOrElse(from))
    }
    def batchAgg() = IncrementalAgg.aggregate(
      VersionedPartitioned.read(spark, src), Seq("date"), Seq("px"))
    def rowsOf(df: DataFrame) = df
      .select(col("date").cast("string"), col("n_rows"),
        org.apache.spark.sql.functions.round(col("sum_px"), 4))
      .as[(String, Long, Double)].collect().toSeq.sorted
    // v1 → subscribe → maintain: view == batch
    VersionedPartitioned.promote(
      rows(1, 1 to 5, 0).union(rows(2, 6 to 10, 0)), src, "date")
    Streaming.changeFeed(spark, src, keys, log).awaitTermination()
    val empty = IncrementalAgg.aggregate(
      rows(1, 1 to 0, 0), Seq("date"), Seq("px"))
    val (mv1, cur1) = maintainFrom(empty, 0L)
    assert(rowsOf(mv1) == rowsOf(batchAgg()))
    // RESTART with no source change: nothing delivered, view unchanged
    Streaming.changeFeed(spark, src, keys, log).awaitTermination()
    val (mv2, cur2) = maintainFrom(mv1, cur1)
    assert(cur2 == cur1 && rowsOf(mv2) == rowsOf(mv1))
    // rewrite day 1 (ids 1-3 re-valued, 4-5 dropped, 11 appears),
    // restart the subscription, resume the fold from the cursor:
    // the maintained view equals the batch aggregate of the new state
    VersionedPartitioned.promote(
      rows(1, 1 to 3, 100).union(rows(1, 11 to 11, 0)), src, "date")
    Streaming.changeFeed(spark, src, keys, log).awaitTermination()
    val (mv3, _) = maintainFrom(mv2, cur2)
    assert(rowsOf(mv3) == rowsOf(batchAgg()))
    assert(mv3.where(col("date") === "2024-03-01").head.getLong(1) == 4L)
  }

  test("maintainedIndex: streamed IVF index equals one-shot build; restarts resume, replays no-op") {
    import graft.ops.VersionedPartitioned
    import graft.ext.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("graft_annmaint_").toString
    val (src, idx) = (s"$root/src", s"$root/idx")
    val e = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
      .withColumn("pt", (col("vec_id") % 4).cast("string"))
    val q = e.where(col("vec_id") % 50 === 0)
    // bootstrap: even ids (a superset of the stride-50 centroid
    // sample, so the stored centroids equal the full-corpus sample)
    VersionedPartitioned.promote(e.where(col("vec_id") % 2 === 0),
      src, "pt")
    Similarity.buildIvfIndex(VersionedPartitioned.read(spark, src),
      "vec_id", "embedding", idx, centroidStride = 50)
    val cellsRoot = s"$idx/${Similarity.IvfCellsTable}"
    val n0 = VersionedPartitioned.read(spark, cellsRoot).count()
    // first hop: the (0, v1] window is all already-indexed ids — a
    // cursor-only advance, no duplicate rows
    assert(Streaming.maintainIndex(spark, src, idx,
      "vec_id", "embedding").isDefined)
    assert(VersionedPartitioned.read(spark, cellsRoot).count() == n0)
    // caught up: metadata-only no-op, no commit
    val v1 = VersionedPartitioned.currentVersion(spark, cellsRoot).get
    assert(Streaming.maintainIndex(spark, src, idx,
      "vec_id", "embedding").isEmpty)
    assert(VersionedPartitioned.currentVersion(spark, cellsRoot).get == v1)
    // the source advances; the SUBSCRIPTION folds the new rows in one
    // AvailableNow tick
    VersionedPartitioned.insertInto(e.where(col("vec_id") % 2 === 1),
      src, "pt")
    Streaming.maintainedIndex(spark, src, idx, "vec_id", "embedding")
      .awaitTermination()
    val n1 = VersionedPartitioned.read(spark, cellsRoot).count()
    assert(n1 == e.count(), s"streamed index must cover the corpus: $n1")
    // a restart replaying the tick is a no-op (no double append)
    Streaming.maintainedIndex(spark, src, idx, "vec_id", "embedding")
      .awaitTermination()
    assert(VersionedPartitioned.read(spark, cellsRoot).count() == n1)
    // the streamed-grown index serves the one-shot answer bit for bit
    def rowsK(df: DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "sim")
        .as[(Long, Long, Int, Double)].collect().toSet
    assert(rowsK(Similarity.indexedIvfTopK(spark, idx, q,
        "vec_id", "embedding", 5, nProbe = 4)) ==
      rowsK(Similarity.ivfTopK(e, q, "vec_id", "embedding", 5,
        centroidStride = 50, nProbe = 4)),
      "streamed index must serve the one-shot answer")
    // a fresh index with no build is loud, not silently bootstrapped
    intercept[IllegalArgumentException](
      Streaming.maintainIndex(spark, src, s"$root/nope",
        "vec_id", "embedding"))
  }
}
