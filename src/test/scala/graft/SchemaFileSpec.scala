package graft

import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Exchange, VersionedPartitioned}

/** Spark jobs a block runs, counted exactly: job ids are handed out in
  * order at submission, so the ids of two probe jobs bracketing the
  * block differ by the block's job count + 1. */
object Jobs {
  private def probe(spark: SparkSession): Int = {
    val f = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
    f.get()
    f.jobIds.head
  }

  def during[T](spark: SparkSession)(block: => T): (T, Int) = {
    val before = probe(spark)
    val out = block
    (out, probe(spark) - before - 1)
  }
}

/**
 * Every dir the engine writes records its read schema in `_schema`, so
 * the schema is table metadata any reader gets: a reader in another
 * process (here: a copy of the table, or a swap this JVM never saw)
 * reads with the writer's schema and runs no footer-inference job.
 */
class SchemaFileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a copied partitioned table reads its written schema, zero jobs") {
    val root = tmp("graft_schemacopy_")
    val df = Seq((1L, "1.50", "2024-01-01 10:00:00"),
        (2L, "2.25", "2024-01-02 11:30:00"))
      .toDF("id", "p", "s")
      .select($"id", $"p".cast(DecimalType(10, 2)).as("p"),
        $"s".cast(TimestampType).as("ts"))
    val rows = df.orderBy("id").collect().toSeq
    val conf = spark.sparkContext.hadoopConfiguration
    for (partitionCol <- Seq("p", "ts")) {
      val written = s"$root/w_$partitionCol"
      VersionedPartitioned.promote(df, written, partitionCol)
      // what another process sees: the same files under a path this
      // JVM has never written or read
      val copy = s"$root/copy_$partitionCol"
      val src = new HPath(written)
      FileUtil.copy(src.getFileSystem(conf), src,
        src.getFileSystem(conf), new HPath(copy), false, conf)
      val (read, jobs) =
        Jobs.during(spark)(VersionedPartitioned.read(spark, copy))
      assert(jobs == 0, s"partition column $partitionCol")
      // data columns in written order, the partition column last at
      // its written type; parquet reads every field back nullable
      val expected = StructType((df.schema.fields
        .filterNot(_.name == partitionCol) :+ df.schema(partitionCol))
        .map(_.copy(nullable = true)))
      assert(read.schema == expected, s"partition column $partitionCol")
      assert(read.select(df.columns.map(col): _*).orderBy("id")
        .collect().toSeq == rows, s"partition column $partitionCol")
    }
  }

  test("a swap made by another process's renames reads the new schema") {
    val root = tmp("graft_schemaswap_")
    val dir = s"$root/t"
    Exchange.swapTableWith(Seq((1L, "a")).toDF("id", "s"), dir, Map.empty)
    assert(Exchange.table(spark, dir).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    // another process stages schema B complete, then renames it in
    // exactly as swapTableWith does — nothing in this JVM is told
    val staged = s"$root/other_process"
    Exchange.swapTableWith(Seq((2L, 2.5d)).toDF("id", "d"), staged, Map.empty)
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new HPath(root, ".t.old")
    assert(fs.rename(new HPath(dir), old))
    assert(fs.rename(new HPath(staged), new HPath(dir)))
    assert(fs.delete(old, true))
    val read = Exchange.table(spark, dir)
    assert(read.schema == StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType))))
    assert(read.as[(Long, Double)].collect().toSeq == Seq((2L, 2.5d)))
  }

  test("a stats-carrying promote reads its own snapshot without inference") {
    val root = tmp("graft_statsjobs_") + "/t"
    val df = Seq((1L, 10L, "2024-01-01"), (2L, 20L, "2024-01-02"))
      .toDF("id", "v", "d").withColumn("date", $"d".cast("date")).drop("d")
    // warm the write path once so lazily initialized state runs no job
    VersionedPartitioned.promote(df, root, "date", statsCols = Seq("v"),
      bloomCols = Seq("id"))
    // the snapshot write and the `_stats` sidecar write, each an AQE
    // shuffle-map job plus its write job — and nothing else: the
    // sidecar pass reads the snapshot through its `_schema`
    val (_, jobs) = Jobs.during(spark)(VersionedPartitioned.promote(df,
      root, "date", statsCols = Seq("v"), bloomCols = Seq("id")))
    assert(jobs == 4)
    assert(VersionedPartitioned.bloomCoveredCols(spark, root) == Set("id"))
  }

  test("an exchange table with 40 partition dirs reads with zero jobs") {
    val root = tmp("graft_exchange40_") + "/t"
    val days = (0 until 40).map(d => java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(d)))
    val df = days.zipWithIndex.map { case (d, i) => (d, i.toLong) }
      .toDF("date", "v")
    Exchange.promote(df, root)
    // past the discovery threshold (32 dirs) Spark's own listing is a
    // job; the recorded dir lists on the driver instead
    assert(spark.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") == "32")
    val (read, jobs) = Jobs.during(spark)(Exchange.table(spark, root))
    assert(jobs == 0)
    assert(read.schema.map(f => f.name -> f.dataType) ==
      Seq("v" -> LongType, "date" -> DateType))
    assert(read.where($"date" === java.sql.Date.valueOf("2024-01-03"))
      .select("v").as[Long].collect().toSeq == Seq(2L))
    assert(read.count() == 40)
  }
}
