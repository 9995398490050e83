package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Optimization-round profiling harness (round 20): run one or more
  * registered queries with a listener that counts Spark jobs, stages and
  * tasks and attributes wall time per job, so per-statement scheduling
  * overhead separates from real compute. It also counts the Janino
  * compiles of generated classes and their compile seconds, JVM-wide:
  * the compiles mostly run inside tasks, so the listener's job time
  * alone hides them. Not part of the driver contract; prints
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
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs += 1
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStart.put(e.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
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
      }
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
      jobs = 0; stages = 0; tasks = 0; taskMs = 0
      jobLines.clear(); stageLines.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuilt = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      // let straggler listener events drain
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      println(f"[profile] $name: total ${(t1 - t0) / 1e9}%.2f s " +
        f"(build ${(tBuilt - t0) / 1e9}%.2f s), jobs $jobs, stages $stages, " +
        f"tasks $tasks, task-time ${taskMs / 1000.0}%.1f s, " +
        f"compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} " +
        f"(${(CodeGenerator.compileTime - compileNs0) / 1e9}%.2f s)")
      import scala.jdk.CollectionConverters._
      if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1"))
        jobLines.asScala.toSeq.foreach(println)
      if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1"))
        stageLines.asScala.toSeq.foreach(println)
      }
    }
    spark.stop()
  }
}
