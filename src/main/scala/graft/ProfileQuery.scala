package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Optimization-round profiling harness (round 20): run one or more
  * registered queries with a listener that counts Spark jobs, stages and
  * tasks and attributes wall time per job, so per-statement scheduling
  * overhead separates from real compute. It also counts the Janino
  * compiles of generated classes and their compile seconds, JVM-wide:
  * the compiles mostly run inside tasks, so the listener's job time
  * alone hides them. The first line also gives the parquet files the
  * query's SQL executions read: the sum of their file scans' `numFiles`
  * metric (an RDD action outside a SQL execution is not counted), and
  * the bytes its tasks wrote (their output metrics: data files and
  * sidecars, not commit files), and the driver time outside jobs: the
  * query's wall time minus the union of its jobs' [start, end]
  * intervals — analysis, planning and the driver work between jobs.
  * A second line per query gives Catalyst's share:
  * rule runs and time over all rule executors, the time of the
  * analyzer's rules (`catalyst.analysis`), and `ResolveRelations`'
  * effective and total runs, all as deltas of Spark's process-wide
  * rule metering. Not part of the driver contract; prints
  * human-readable lines, no JSON.
  *
  *   sbt "runMain graft.ProfileQuery <sfDir> <query>[,query...]"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(',').toSeq)
      .getOrElse(Seq("sql_pipeline_day"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B experiment knobs: SPARK_GRAFT_PROFILE_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach { s =>
      s.split(';').filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    @volatile var bytesWritten = 0L
    val filesRead = new java.util.concurrent.atomic.AtomicLong
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // (start, end) of every job in epoch ms, the clock of the events
    val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs += 1
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStart.put(e.jobId, (System.nanoTime(), desc))
        jobStartMs.put(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobStartMs.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
        Option(jobStart.remove(e.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          jobLines.add(f"    job ${e.jobId}%4d ${ms}%8.1f ms  $desc")
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages += 1
        val si = e.stageInfo
        val run = Option(si.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        val wall = (for {
          t1 <- si.completionTime; t0 <- si.submissionTime
        } yield t1 - t0).getOrElse(0L)
        stageLines.add(f"    stage ${si.stageId}%4d tasks ${si.numTasks}%4d " +
          f"run ${run / 1000.0}%7.2f s wall ${wall / 1000.0}%6.2f s  " +
          si.name.take(90))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (e.taskInfo != null)
          taskMs += (e.taskInfo.finishTime - e.taskInfo.launchTime)
        if (e.taskMetrics != null)
          bytesWritten += e.taskMetrics.outputMetrics.bytesWritten
      }
    }

    val scans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        filesRead.addAndGet(scannedFiles(qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    // warm-up identical to Bench so JIT lands outside the measurement
    graft.sources.Tables.tableNames.foreach { t =>
      try graft.sources.Tables.load(spark, sfDir, t).limit(64)
        .groupBy().count().write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    names.foreach { name =>
      if (name.startsWith("set:")) {
        val Array(k, v) = name.stripPrefix("set:").split("=", 2)
        spark.conf.set(k, v)
        println(s"[profile] set $k=$v")
      } else if (name.startsWith("hset:")) {
        val Array(k, v) = name.stripPrefix("hset:").split("=", 2)
        spark.sparkContext.hadoopConfiguration.set(k, v)
        println(s"[profile] hset $k=$v")
      } else {
      val fn = SparkEntry.queries(name)
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(scans)
      jobs = 0; stages = 0; tasks = 0; taskMs = 0; bytesWritten = 0
      filesRead.set(0)
      jobLines.clear(); stageLines.clear(); jobSpans.clear(); jobStartMs.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val meter0 = RuleExecutor.getCurrentMetrics()
      val rules0 = ruleMeter()
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      val df = fn(spark, sfDir)
      val tBuilt = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      val t1Ms = System.currentTimeMillis()
      // let straggler listener events drain
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(scans)
      spark.catalog.clearCache()
      println(f"[profile] $name: total ${(t1 - t0) / 1e9}%.2f s " +
        f"(build ${(tBuilt - t0) / 1e9}%.2f s), jobs $jobs, stages $stages, " +
        f"tasks $tasks, task-time ${taskMs / 1000.0}%.1f s, " +
        f"files read ${filesRead.get}, bytes written $bytesWritten, " +
        f"driver outside jobs ${outsideJobsS(t0Ms, t1Ms, jobSpans)}%.2f s, " +
        f"compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} " +
        f"(${(CodeGenerator.compileTime - compileNs0) / 1e9}%.2f s)")
      val meter = RuleExecutor.getCurrentMetrics() - meter0
      val rules = ruleMeter().map { case (r, (ns, eff, runs)) =>
        val (ns0, eff0, runs0) = rules0.getOrElse(r, (0L, 0L, 0L))
        r -> (ns - ns0, eff - eff0, runs - runs0)
      }
      val analyzerNs = rules.collect {
        case (r, (ns, _, _)) if r.contains(".catalyst.analysis.") => ns
      }.sum
      val (_, rrEff, rrRuns) = rules.collectFirst {
        case (r, m) if r.endsWith("$ResolveRelations") => m
      }.getOrElse((0L, 0L, 0L))
      println(f"[profile] $name: rules ${meter.numRuns} runs " +
        f"${meter.time / 1e6}%.1f ms, analyzer ${analyzerNs / 1e6}%.1f ms, " +
        f"ResolveRelations $rrEff effective / $rrRuns runs")
      import scala.jdk.CollectionConverters._
      if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1"))
        jobLines.asScala.toSeq.foreach(println)
      if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1"))
        stageLines.asScala.toSeq.foreach(println)
      }
    }
    spark.stop()
  }

  /** Seconds of [t0Ms, t1Ms] that no job's [start, end] covers. */
  private def outsideJobsS(t0Ms: Long, t1Ms: Long,
      spans: java.lang.Iterable[(Long, Long)]): Double = {
    import scala.jdk.CollectionConverters._
    var covered = 0L
    var reach = t0Ms
    for ((s, e) <- spans.asScala.toSeq.sortBy(_._1)) {
      val from = math.max(s, reach)
      val to = math.min(e, t1Ms)
      if (to > from) { covered += to - from; reach = to }
    }
    (t1Ms - t0Ms - covered) / 1e3
  }

  /** Files read by `p`'s file scans, adaptive stages and subqueries
    * included. */
  private def scannedFiles(p: SparkPlan): Long = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }
    val own = p match {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    own + kids.map(scannedFiles).sum
  }

  /** Per rule: (total ns, effective runs, total runs), parsed from the
    * process-wide metering table `RuleExecutor.dumpTimeSpent` prints
    * (the per-rule counters have no other public accessor). */
  private def ruleMeter(): Map[String, (Long, Long, Long)] = {
    val RuleRow = """\s*(\S+)\s+\d+ / (\d+)\s+(\d+) / (\d+)\s*""".r
    RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case RuleRow(rule, ns, eff, runs) => rule -> (ns.toLong, eff.toLong, runs.toLong)
    }.toMap
  }
}
