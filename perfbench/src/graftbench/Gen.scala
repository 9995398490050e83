package graftbench

import java.time.{DayOfWeek, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic hash-based randomness: every draw is a pure function of
  * (seed, salt, coordinates), so any slice of the input can be
  * regenerated on its own and the same seed always gives the same bytes. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def long(seed: Long, salt: Int, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed ^ (salt.toLong << 48)) ^ a) ^ b) ^ c)
  /** Uniform in [0, 1). */
  def u(seed: Long, salt: Int, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (long(seed, salt, a, b, c) >>> 11).toDouble / (1L << 53).toDouble
  /** Standard normal (Box-Muller over two independent draws). */
  def gauss(seed: Long, salt: Int, a: Long, b: Long = 0L): Double = {
    val u1 = math.max(u(seed, salt, a, b, 1L), 1e-300)
    val u2 = u(seed, salt, a, b, 2L)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** One raw daily bar in integer cents — the Polygon fetch's shape
  * (reference `dags/dag.py:80-109`). */
final case class Bar(ticker: String, date: LocalDate, open: Long, high: Long,
    low: Long, close: Long, volume: Long, vwap: Long, eventTs: Long,
    transactions: Int) {
  def canonical: String =
    s"$ticker,$date,$open,$high,$low,$close,$volume,$vwap,$eventTs,$transactions"
}

/** One DAG run: trading day `day` of the calendar, fed with feed version
  * `ver` (0 = first publication, 1 = the vendor's correction, replayed as
  * a backfill re-run of that earlier day). */
final case class Step(idx: Int, day: Int, ver: Int)

/**
 * Seeded daily bars for `nTickers` tickers over a weekday calendar with
 * market holidays. Each day's feed holds one bar per ticker plus planted
 * exact duplicates and late bars (a later `event_ts` with a different
 * price, which the first-bar-per-(ticker, day) rule must drop).
 */
class BarGen(val seed: Long, val nTickers: Int) {
  import BarGen.{BackfillEvery, BackfillLag}
  val tickers: IndexedSeq[String] = (0 until nTickers).map(i => f"T$i%05d")

  private val holidays = Set("2024-01-15", "2024-02-19", "2024-03-29",
    "2024-05-27", "2024-06-19", "2024-07-04", "2024-09-02", "2024-11-28",
    "2024-12-25").map(LocalDate.parse)

  /** Weekdays from 2024-01-02, holidays skipped. */
  val calendar: IndexedSeq[LocalDate] =
    Iterator.iterate(LocalDate.parse("2024-01-02"))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY && !holidays(d))
      .take(240).toIndexedSeq

  /** The run sequence: each new trading day in order, and after every
    * `BackfillEvery`-th new day a re-run of the day `BackfillLag` trading
    * days earlier with its corrected feed. */
  val steps: IndexedSeq[Step] = {
    val b = IndexedSeq.newBuilder[(Int, Int)]
    calendar.indices.foreach { d =>
      b += ((d, 0))
      if (d % BackfillEvery == BackfillEvery - 1 && d >= BackfillLag)
        b += ((d - BackfillLag, 1))
    }
    b.result().zipWithIndex.map { case ((d, v), i) => Step(i, d, v) }
  }

  private def cents(x: Double): Long = math.max(1L, math.round(x * 100))

  private def bar(t: Int, day: Int, salt: Int, tsOffsetMs: Long): Bar = {
    val base = 20.0 + 480.0 * Rng.u(seed, 1, t)
    val close = base * (1.0 + 0.08 * (Rng.u(seed, salt, t, day, 1) - 0.5))
    val open = close * (1.0 + 0.03 * (Rng.u(seed, salt, t, day, 2) - 0.5))
    val high = math.max(open, close) * (1.0 + 0.01 * Rng.u(seed, salt, t, day, 3))
    val low = math.min(open, close) * (1.0 - 0.01 * Rng.u(seed, salt, t, day, 4))
    val (o, h, l, c) = (cents(open), cents(high), cents(low), cents(close))
    val volume = 1000L + (Rng.u(seed, salt, t, day, 5) * 5e6).toLong
    val date = calendar(day)
    val ts = date.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli +
      16L * 3600 * 1000 + t * 10L + tsOffsetMs
    Bar(tickers(t), date, o, h, l, c, volume,
      math.round((o + h + l + c) / 4.0), ts, (volume / 100).toInt)
  }

  /** The bar that first-bar-per-(ticker, day) keeps. */
  def kept(t: Int, day: Int, ver: Int): Bar =
    bar(t, day, if (ver > 0 && corrected(t, day)) 3 else 2, 0L)

  /** About 8% of tickers carry a corrected bar in a day's re-published feed. */
  def corrected(t: Int, day: Int): Boolean = Rng.u(seed, 4, t, day) < 0.08
  def duplicated(t: Int, day: Int): Boolean = Rng.u(seed, 5, t, day) < 0.03
  def late(t: Int, day: Int): Boolean = Rng.u(seed, 6, t, day) < 0.03

  /** The raw feed of `day` at version `ver`, planted rows included; a late
    * bar is emitted before the on-time one half of the time, so row order
    * never decides which bar survives. */
  def feed(day: Int, ver: Int): IndexedSeq[Bar] =
    feeds.getOrElseUpdate((day, ver), (0 until nTickers).flatMap { t =>
      val k = kept(t, day, ver)
      val dups = if (duplicated(t, day)) Seq(k, k) else Seq(k)
      if (late(t, day)) {
        val lateBar = bar(t, day, 7, 3600L * 1000)
        if (Rng.u(seed, 8, t, day) < 0.5) lateBar +: dups else dups :+ lateBar
      } else dups
    })
  private val feeds = scala.collection.mutable.Map.empty[(Int, Int), IndexedSeq[Bar]]

  def canonicalBytes(day: Int, ver: Int): Array[Byte] =
    feed(day, ver).map(_.canonical).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Planted (ticker, date) keys whose feed holds more than one bar. */
  def plantedKeys(day: Int): Seq[Int] =
    (0 until nTickers).filter(t => duplicated(t, day) || late(t, day))
}

object BarGen {
  /** An assumption, not a measured schedule: the reference DAG does not
    * say how often a vendor re-publishes a day. A re-run after every
    * second new day puts one backfill among three measured steps, so each
    * run exercises the re-run path (promote over an existing day, view
    * retraction). */
  val BackfillEvery = 2
  val BackfillLag = 1

  val schema: StructType = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("open", DecimalType(10, 2)),
    StructField("high", DecimalType(10, 2)),
    StructField("low", DecimalType(10, 2)),
    StructField("close", DecimalType(10, 2)),
    StructField("volume", LongType),
    StructField("vwap", DecimalType(10, 2)),
    StructField("event_ts", LongType),
    StructField("transactions", IntegerType)))

  private def dec(c: Long) = java.math.BigDecimal.valueOf(c, 2)

  def row(b: Bar, extra: Any*): Row = Row.fromSeq(Seq(b.ticker,
    java.sql.Date.valueOf(b.date), dec(b.open), dec(b.high), dec(b.low),
    dec(b.close), b.volume, dec(b.vwap), b.eventTs, b.transactions) ++ extra)

  def frame(spark: SparkSession, bars: Seq[Bar]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(bars.map(row(_)).asJava, schema)
  }
}

/** One corpus document: whitespace-joined lowercase word tokens. */
final case class Doc(id: Long, text: String, quality: Double)

/**
 * Seeded text corpus with planted near-duplicate clusters: each cluster
 * is a base document and `clusterSize` members that substitute each
 * token with probability 1–6%, which puts member pairs around the 0.5
 * 3-shingle Jaccard threshold from both sides. The remaining documents
 * are independent draws from a 30k-word vocabulary.
 */
class CorpusGen(val seed: Long, val nDocs: Int, val clusters: Int,
    val clusterSize: Int) {
  require(clusters * clusterSize <= nDocs)
  private val vocab = 30000
  private val docLen = 60

  private def word(i: Long): String = f"w${i % vocab}%05d"

  private def baseTokens(c: Int): Array[String] =
    Array.tabulate(docLen)(i => word(Rng.long(seed, 20, c, i) >>> 1))

  def doc(id: Int): Doc = {
    val q = Rng.u(seed, 21, id)
    if (id < clusters * clusterSize) {
      val c = id / clusterSize
      val rate = 0.01 + 0.05 * Rng.u(seed, 22, id)
      val toks = baseTokens(c).zipWithIndex.map { case (w, i) =>
        if (Rng.u(seed, 23, id, i) < rate) word(Rng.long(seed, 24, id, i) >>> 1)
        else w
      }
      Doc(id, toks.mkString(" "), q)
    } else {
      val len = docLen / 2 + (Rng.u(seed, 25, id) * docLen).toInt
      Doc(id, Array.tabulate(len)(i =>
        word(Rng.long(seed, 26, id, i) >>> 1)).mkString(" "), q)
    }
  }

  lazy val docs: IndexedSeq[Doc] = (0 until nDocs).map(doc)

  def canonicalBytes: Array[Byte] =
    docs.map(d => s"${d.id}\t${d.quality}\t${d.text}").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def frame(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.text, d.quality)).asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType), StructField("quality", DoubleType))))
  }
}

object CorpusGen {
  /** The 3-token shingle set `token_shingles(text, 3)` computes. */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(" ")
    (0 until math.max(t.length - (k - 1), 1))
      .map(i => t.slice(i, math.min(i + k, t.length)).mkString(" ")).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size
}

/** Seeded clustered embeddings and query batches drawn near the same
  * centres; ids of queries never collide with corpus ids. */
final class VecGen(val seed: Long, val nVecs: Int, val dim: Int,
    val centres: Int, val batches: Int, val batchSize: Int) {
  private val centre: Array[Array[Double]] =
    Array.tabulate(centres, dim)((c, j) => Rng.gauss(seed, 30, c, j))

  private def near(salt: Int, id: Long, spread: Double): Array[Double] = {
    val c = (Rng.long(seed, salt, id) >>> 1) % centres
    Array.tabulate(dim)(j =>
      centre(c.toInt)(j) + spread * Rng.gauss(seed, salt + 1, id, j))
  }

  lazy val vecs: IndexedSeq[Array[Double]] = (0 until nVecs).map(i => near(31, i, 0.35))
  lazy val queries: IndexedSeq[Array[Double]] =
    (0 until batches * batchSize).map(i => near(33, i, 0.35))
  val queryIdBase = 1000000000L

  def canonicalBytes: Array[Byte] =
    (vecs ++ queries).map(_.mkString(",")).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  def frame(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)).asJava, schema)
  }

  def batch(spark: SparkSession, b: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame((b * batchSize until (b + 1) * batchSize)
      .map(i => Row(queryIdBase + i, queries(i).toSeq)).asJava, schema)
  }

  private lazy val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))

  /** Exact cosine top-`k` corpus ids of query `q` (ties to the lower id). */
  def bruteForceTopK(q: Int, k: Int): Seq[Long] = {
    val qv = queries(q)
    val best = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) =>
        if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
        else java.lang.Long.compare(b._2, a._2))
    vecs.indices.foreach { i =>
      val v = vecs(i)
      var dot = 0.0; var j = 0
      while (j < dim) { dot += v(j) * qv(j); j += 1 }
      best.add((dot / norms(i), i.toLong))
      if (best.size > k) best.poll()
    }
    Iterator.continually(best.poll()).take(k).toSeq.reverse.map(_._2)
  }
}
