package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run shares with its workload. */
final class RunCtx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val workDir: Path) {
  /** The loop stops here even before its work is done. */
  val hardStopS: Double = math.max(3 * seconds, seconds + 60)
  def workRoot(name: String): Path = Files.createDirectories(workDir.resolve(name))
  def sampler(): Option[DriverSampler] =
    if (!tracer.enabled) None
    else { val s = new DriverSampler(Thread.currentThread(), 5); s.start(); Some(s) }
}

/** Everything a workload measured and checked. */
final class Outcome {
  val days = mutable.ArrayBuffer.empty[Double]
  val dayCpu = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  var rows = 0L
  var queries = 0L
  var attempted = 0
  var failed = 0
  var setupS = 0.0
  var warmupS = 0.0
  var loopS = 0.0
  var spaceAmp = 0.0
  var heapMb = 0.0
  var jvm = JvmCounters(0, 0, 0)
  /** Driver stack samples: seconds per label, then per bucket. */
  var driverBy: Map[String, Map[String, Double]] = Map.empty
  /** JVM counters over the work done under each label. */
  val jvmBy = mutable.LinkedHashMap.empty[String, JvmCounters]
  def driver(bucket: String): Double = driverBy.values.map(_.getOrElse(bucket, 0.0)).sum
  var dedupRecall = 0.0
  var readRecall = 0.0
  var candidates = 0L
  var usefulCandidates = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  def fail(m: String): Unit = failures += m
  def note(m: String): Unit = notes += m

  /** One timed operation; a failure is counted, logged and not timed. */
  def op(lat: mutable.ArrayBuffer[Double], cpu: mutable.ArrayBuffer[Double])
      (body: => Unit): Boolean = {
    attempted += 1
    val c0 = JvmCounters.cpuS()
    val t0 = System.nanoTime()
    try {
      body
      lat += (System.nanoTime() - t0) / 1e9
      if (cpu != null) cpu += JvmCounters.cpuS() - c0
      true
    } catch {
      case NonFatal(e) =>
        failed += 1
        fail(s"operation failed: $e")
        false
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Quantile by linear interpolation between the two nearest order
    * statistics (Python's `statistics.quantiles(method="inclusive")`):
    * with a handful of samples it moves less from run to run than one
    * order statistic. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }
}

object Main {
  /** Per workload: input sizes and the work one run measures. */
  val Daily = DailyRun.Sizes(tickers = 2000, stepS = 7.0, minSteps = 3)
  val Corpus = CorpusRun.Sizes(docs = 3000, clusters = 75, clusterSize = 5,
    vecs = 2000, dim = 32, centres = 48, batches = 4, batchSize = 128,
    passS = 4.5, minPasses = 4)
  /** The tail percentile. A run of 18 s holds 6 day runs and 6 read
    * rounds (3 steps through two doors), or 4 passes and 4 batches: too
    * few for ten samples beyond any percentile. p75 lies between the 4th
    * and 5th of 6 day runs or read rounds, the 3rd and 4th of 4 passes or
    * batches. */
  val TailP = 0.75

  def usage(): Nothing = {
    System.err.println("usage: Main --workload daily|corpus_dedup " +
      "--seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE] | --selftest --work DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val work = Paths.get(kv.getOrElse("work", usage()))
    if (args.contains("--selftest")) { sys.exit(SelfTest.run(work)) }
    val workload = kv.getOrElse("workload", usage())
    val seed = kv.getOrElse("seed", usage()).toLong
    val seconds = kv.getOrElse("seconds", usage()).toDouble
    val traced = kv.getOrElse("trace", usage()) == "1"
    if (!Set("daily", "corpus_dedup")(workload)) usage()

    val s0 = System.nanoTime()
    val spark = session()
    val tracer = new Tracer(spark, traced, work)
    // one tiny job inside the session start: the listener sees every job
    tracer.span("bench.setup", "session")(spark.range(4).count())
    val sessionS = (System.nanoTime() - s0) / 1e9
    val ctx = new RunCtx(spark, tracer, seed, seconds, work)
    val w0 = System.nanoTime()
    val out = workload match {
      case "daily" => DailyRun.run(ctx, Daily)
      case "corpus_dedup" => CorpusRun.run(ctx, Corpus)
    }
    val checkS = (System.nanoTime() - w0) / 1e9 - out.setupS - out.warmupS - out.loopS
    System.err.println(f"[run] session $sessionS%.2f s, set-up ${out.setupS}%.2f s, " +
      f"warm-up ${out.warmupS}%.2f s, loop ${out.loopS}%.2f s, checks $checkS%.2f s; " +
      "ops " + out.days.map(x => f"$x%.2f").mkString(" ") +
      " | reads " + out.reads.map(x => f"$x%.2f").mkString(" "))
    val e2e = endToEnd(sessionS, out)
    val metrics =
      if (!traced) e2e
      else {
        val (total, lost) = tracer.taskS()
        System.err.println(f"[trace] task time $total%.3f s, unattributed $lost%.3f s, " +
          s"spans ${tracer.spans.size}, loop ${out.loopS} s, days ${out.days.size}")
        if (lost > 0) out.fail(f"$lost%.3f s of task time ran outside any span")
        out.driverBy.toSeq.sortBy(_._1).foreach { case (l, bs) =>
          val j = out.jvmBy.get(l).map(c => f"; jit ${c.jitMs / 1000.0}%.2f s, " +
            s"${c.classes} classes loaded").getOrElse("")
          System.err.println(s"[trace] driver ${if (l.isEmpty) "outside labels" else l}: " +
            Spans.DriverBuckets.map(b => f"$b ${bs.getOrElse(b, 0.0)}%.2f s").mkString(", ") + j)
        }
        System.err.println("[trace] end_to_end " + json(e2e))
        tracer.write(Paths.get(kv.getOrElse("trace-out", work.resolve("spans.jsonl").toString)))
        perLayer(tracer, out)
      }
    tracer.close()
    out.notes.foreach(n => System.err.println(s"[note] $n"))
    out.failures.foreach(f => System.err.println(s"[check failed] $f"))
    val correct = out.failures.isEmpty
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": ${json(metrics)}}""")
  }

  def session(): SparkSession = {
    // one core stays free for the caller thread, JIT and GC
    val k = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    val spark = graft.Graft.session("perfbench", s"local[$k]", k)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def endToEnd(sessionS: Double, o: Outcome): Seq[(String, Double, String)] = Seq(
    ("setup_s", sessionS + o.setupS + o.warmupS, "s"),
    ("day_p50_s", Stats.median(o.days.toSeq), "s"),
    ("day_tail_s", Stats.quantile(o.days.toSeq, TailP), "s"),
    ("day_cpu_s", Stats.median(o.dayCpu.toSeq), "s"),
    ("read_p50_s", Stats.median(o.reads.toSeq), "s"),
    ("read_tail_s", Stats.quantile(o.reads.toSeq, TailP), "s"),
    ("rows_per_s", o.rows.toDouble / o.days.size / Stats.median(o.days.toSeq), "1/s"),
    ("queries_per_s", o.queries.toDouble / o.reads.size / Stats.median(o.reads.toSeq), "1/s"),
    ("space_amp", o.spaceAmp, "ratio"),
    ("retained_heap_mb", o.heapMb, "MB"),
    ("dedup_pair_recall", o.dedupRecall, "ratio"),
    ("read_recall", o.readRecall, "ratio"))

  def perLayer(tr: Tracer, o: Outcome): Seq[(String, Double, String)] = {
    val unit = Map("calls" -> "count", "wall_s" -> "s", "driver_s" -> "s",
      "jobs" -> "count", "tasks" -> "count", "task_s" -> "s",
      "shuffle_bytes" -> "bytes", "files_written" -> "count")
    tr.spanMetrics().map { case (k, v) => (k, v, unit(k.split('.').last)) } ++
      Spans.DriverBuckets.map(b => (s"driver.${b}_s", o.driver(b), "s")) ++
      Seq(("jvm.gc_s", o.jvm.gcMs / 1000.0, "s"),
        ("jvm.jit_s", o.jvm.jitMs / 1000.0, "s"),
        ("jvm.classes_loaded", o.jvm.classes.toDouble, "count"),
        ("scan.files_read", tr.scanFiles.toDouble, "count"),
        ("scan.bytes_read", tr.scanBytes.toDouble, "bytes"),
        ("Dedup.candidate_pairs", o.candidates.toDouble, "count"),
        ("Dedup.useful_ratio",
          if (o.candidates == 0) 0.0 else o.usefulCandidates.toDouble / o.candidates, "ratio"))
  }

  def json(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
}
