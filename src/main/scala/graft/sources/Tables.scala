package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/**
 * Testdata table loaders.
 *
 * The driver-generated parquet has stored its timestamp columns under
 * two different physical encodings across regenerations, and the loader
 * normalizes BOTH to session-zoned microsecond TimestampType so every
 * downstream consumer (`unix_millis`, date casts, window ranges) sees
 * one canonical type:
 *
 *  - INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects this
 *    outright (PARQUET_TYPE_ILLEGAL), so we read via the
 *    `spark.sql.legacy.parquet.nanosAsLong` escape hatch (nanos surface
 *    as LongType) and truncate to micros — the same truncation DuckDB
 *    applies, so both engines see identical values.
 *  - timestamp[us] with no timezone: Spark 4 infers TIMESTAMP_NTZ.
 *    The graft session timezone is pinned to UTC (Graft.session), so a
 *    cast to TimestampType is value-preserving and matches DuckDB's
 *    naive-timestamp read of the same file.
 */
object Tables {

  /** Known nano-timestamp columns per table (FIXTURES.md §B). */
  private val tsCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** Every driver-generated testdata table (TESTDATA.md). */
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Inferred schema per testdata file. The files are read-only inputs
    * the engine did not write (so they carry no `_schema`), and a plain
    * `spark.read.parquet` re-infers with a one-task footer job on EVERY
    * call — the bench's 278 queries call `load` 1-3 times each, so
    * inferring once per path saves several hundred jobs per run. */
  private val inferred =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val df = spark.read
      .schema(inferred.computeIfAbsent(path, p => spark.read.parquet(p).schema))
      .parquet(path)
    tsCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema.find(_.name == c) match {
        case Some(f) if f.dataType == LongType =>
          d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
        case Some(f) if f.dataType == TimestampNTZType =>
          d.withColumn(c, col(c).cast(TimestampType))
        case _ => d
      }
    }
  }
}
