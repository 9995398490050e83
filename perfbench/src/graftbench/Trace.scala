package graftbench

import java.lang.management.{ManagementFactory, ThreadInfo}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The spans the benchmark reports, one per public function it calls. */
object Spans {
  val Reported: Seq[String] = Seq(
    "Pipeline.runDay", "Mview.refresh", "Pipeline.cumulative",
    "VersionedPartitioned.readPartitionsWhere", "VersionedPartitioned.readAt",
    "SqlLifecycle.ddl", "SqlLifecycle.dml", "SqlLifecycle.cumulate",
    "SqlLifecycle.dq", "SqlLifecycle.refresh", "SqlLifecycle.select",
    "Dedup.nearDups", "Similarity.buildIvfPqIndex",
    "Similarity.indexedIvfPqTopK")
  val DriverBuckets: Seq[String] = Seq("job_wait", "catalyst", "codegen",
    "classload", "fs", "graft", "other")
}

/** One call into the program, as the benchmark saw it. */
final case class SpanRec(id: Long, name: String, parent: Long, op: String,
    startNs: Long, endNs: Long, endMs: Long, filesWritten: Long)

/**
 * Tracing for one run. Untraced (`enabled = false`) every `span` is a
 * bare call. Traced, each call into the program runs under a Spark local
 * property naming its span — inherited by the jobs the call starts,
 * including AQE's asynchronous stage jobs — and a listener folds jobs,
 * tasks, task time and shuffle bytes onto that span. Spans stay in memory
 * until `write`.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean, root: Path) {
  private val sc: SparkContext = spark.sparkContext
  private val Prop = "graftbench.span"
  private var nextId = 0L
  private var current = 0L
  val spans = mutable.ArrayBuffer.empty[SpanRec]

  // listener state; written on the listener-bus thread, read after drain
  private final class JobRec(val propSpan: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private final class Acc { var tasks = 0L; var taskMs = 0L; var shuffle = 0L }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val perStage = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  @volatile var scanFiles = 0L
  @volatile var scanBytes = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = perStage.computeIfAbsent(e.stageId, _ => new Acc)
      a.synchronized {
        a.tasks += 1; a.taskMs += e.taskInfo.duration
        if (e.taskMetrics != null)
          a.shuffle += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val (n, b) = scans(qe.executedPlan)
      Tracer.this.synchronized { scanFiles += n; scanBytes += b }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def scans(p: SparkPlan): (Long, Long) = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }
    val own = p match {
      case s: FileSourceScanExec =>
        (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
          s.metrics.get("filesSize").map(_.value).getOrElse(0L))
      case _ => (0L, 0L)
    }
    kids.map(scans).foldLeft(own) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def fileSet(): Set[String] =
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      } finally s.close()
    }

  /** Run `body` as one call of span `name`; `op` names the day or op. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = current
      val before = fileSet()
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        sc.setLocalProperty(Prop, prev)
        current = parent
        val written = (fileSet() -- before).size.toLong
        spans += SpanRec(id, name, parent, op, t0, t1, m1, written)
      }
    }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) org.apache.spark.graftbench.Bus.drain(sc)

  /** Each job's span, 0 for a job started outside every span. */
  private def jobSpans(): Map[Int, Long] = {
    drain()
    import scala.jdk.CollectionConverters._
    jobs.asScala.map { case (id, j) => id.toInt -> j.propSpan }.toMap
  }

  /** Task accumulators by span. */
  private def bySpan(js: Map[Int, Long]): Map[Long, Seq[Acc]] = {
    import scala.jdk.CollectionConverters._
    perStage.asScala.toSeq.map { case (stage, acc) =>
      Option(stageJob.get(stage)).map(j => js.getOrElse(j, 0L)).getOrElse(0L) -> acc
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Task seconds in total, and those no span claims (must be 0). */
  def taskS(): (Double, Double) = {
    val by = bySpan(jobSpans())
    (by.values.flatten.map(_.taskMs).sum / 1000.0,
      by.getOrElse(0L, Nil).map(_.taskMs).sum / 1000.0)
  }

  /** Per reported span: the eight per-span metrics (0 when never called). */
  def spanMetrics(): Seq[(String, Double)] = {
    val js = jobSpans()
    val by = bySpan(js)
    val nowMs = System.currentTimeMillis()
    Spans.Reported.flatMap { name =>
      val recs = spans.filter(_.name == name)
      var jobsN = 0L; var driverS = 0.0
      recs.foreach { r =>
        val mine = js.collect { case (id, sp) if sp == r.id => jobs.get(id) }.toSeq
        jobsN += mine.size
        val covered = union(mine.map(j =>
          (j.startMs, if (j.endMs < 0) nowMs else math.min(j.endMs, r.endMs))))
        driverS += math.max(0.0, (r.endNs - r.startNs) / 1e6 - covered) / 1000.0
      }
      val accs = recs.flatMap(r => by.getOrElse(r.id, Nil))
      Seq("calls" -> recs.size.toDouble,
        "wall_s" -> recs.map(r => (r.endNs - r.startNs) / 1e9).sum,
        "driver_s" -> driverS,
        "jobs" -> jobsN.toDouble,
        "tasks" -> accs.map(_.tasks).sum.toDouble,
        "task_s" -> accs.map(_.taskMs).sum / 1000.0,
        "shuffle_bytes" -> accs.map(_.shuffle).sum.toDouble,
        "files_written" -> recs.map(_.filesWritten).sum.toDouble)
        .map { case (k, v) => s"$name.$k" -> v }
    }
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered.toDouble
  }

  /** Spans as JSON lines: name, start, end, parent, day or op id. */
  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    Files.writeString(path, spans.map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "op": "${s.op}", "parent": ${s.parent}, "start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f}"""
    }.mkString("", "\n", "\n"))
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/**
 * Samples the driver (caller) thread's stack at a fixed interval and
 * files each sample under the bucket of its innermost matching frame,
 * and under the `label` the caller set (a workload's part, such as one
 * front door). A thread blocked in a wait is waiting for Spark jobs: the
 * caller runs nothing else.
 */
final class DriverSampler(thread: Thread, intervalMs: Long) {
  private val mx = ManagementFactory.getThreadMXBean
  private val counts = mutable.LinkedHashMap.empty[(String, String), Double]
  @volatile private var running = true
  @volatile var label = ""
  private var last = System.nanoTime()

  private val rules: Seq[(String, String)] = Seq(
    "java.lang.ClassLoader." -> "classload",
    "jdk.internal.loader." -> "classload",
    "java.lang.Class.forName" -> "classload",
    "org.codehaus.janino." -> "codegen",
    "org.codehaus.commons.compiler." -> "codegen",
    "org.apache.spark.sql.catalyst.expressions.codegen." -> "codegen",
    "org.apache.hadoop.fs." -> "fs",
    "org.apache.parquet.hadoop." -> "fs",
    "java.io.File" -> "fs",
    "java.nio.file." -> "fs",
    "sun.nio.fs." -> "fs",
    "sun.nio.ch.File" -> "fs",
    "org.apache.spark.sql.catalyst." -> "catalyst",
    "org.apache.spark.sql.execution.QueryExecution" -> "catalyst",
    "org.apache.spark.sql.execution.SparkStrategies" -> "catalyst",
    "org.apache.spark.sql.execution.SparkPlanner" -> "catalyst",
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.reOptimize" -> "catalyst",
    "org.apache.spark.sql.Dataset" -> "catalyst",
    "graft." -> "graft")

  def classify(info: ThreadInfo): String =
    if (info.getThreadState != Thread.State.RUNNABLE) "job_wait"
    else info.getStackTrace.iterator.map { f =>
      val name = f.getClassName + "." + f.getMethodName
      rules.collectFirst { case (p, b) if name.startsWith(p) => b }
    }.collectFirst { case Some(b) => b }.getOrElse("other")

  private val worker = new Thread(() => {
    while (running) {
      Thread.sleep(intervalMs)
      val info = mx.getThreadInfo(thread.getId, Int.MaxValue)
      val now = System.nanoTime()
      if (info != null && running) counts.synchronized {
        val k = (label, classify(info))
        counts(k) = counts.getOrElse(k, 0.0) + (now - last) / 1e9
      }
      last = now
    }
  }, "graftbench-sampler")
  worker.setDaemon(true)

  def start(): Unit = { last = System.nanoTime(); worker.start() }
  /** Seconds per label, then per bucket. */
  def stop(): Map[String, Map[String, Double]] = {
    running = false
    worker.join()
    counts.synchronized(counts.toSeq).groupBy(_._1._1).map { case (l, kv) =>
      l -> kv.map { case ((_, b), v) => b -> v }.toMap }
  }
}

/** JVM-wide counters read over an interval. */
final case class JvmCounters(gcMs: Long, jitMs: Long, classes: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs - o.gcMs, jitMs - o.jitMs, classes - o.classes)
  def +(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs + o.gcMs, jitMs + o.jitMs, classes + o.classes)
}
object JvmCounters {
  import scala.jdk.CollectionConverters._
  def now(): JvmCounters = JvmCounters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)

  /** Process CPU (every thread, JIT and GC included), in seconds. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** Heap in use after a full collection, MB. The pause between the two
    * collections lets Spark's asynchronous unpersists and cleaner finish,
    * which otherwise leave a run-dependent share of blocks behind. */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
