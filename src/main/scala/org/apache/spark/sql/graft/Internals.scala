package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/**
 * Minimal bridge into Spark's `private[sql]`/`private[spark]` surface:
 * run an already-built `LogicalPlan` (e.g. a subtree lifted out of an
 * optimized plan) as a DataFrame. Used by the statement-door pruner to
 * evaluate the small dim side of a join for join-derived partition
 * pruning — the same "execute the build side early" move Spark's own
 * dynamic partition pruning makes inside the planner, re-derived at
 * the statement level because the manifest table format resolves
 * outside the catalog — and by the query door, which parses a
 * statement, replaces its cataloged names and runs the plan. Also a
 * parquet dir read listed on the driver, a collect that keeps
 * Catalyst values, and a checkpointed frame with a set size estimate.
 */
object Internals {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A checkpointed frame (`localCheckpoint`, `checkpoint`) that
    * estimates its size as `sizeInBytes` instead of by the estimate of
    * the plan it was cut from. A loop that checkpoints a join over its
    * previous checkpoint otherwise multiplies the join estimates round
    * after round. */
  def withSizeEstimate(df: DataFrame, sizeInBytes: BigInt): DataFrame =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        ofRows(df.sparkSession, r.copy()(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(Statistics(sizeInBytes)), None))
      case other => throw new IllegalArgumentException(
        s"withSizeEstimate: not a checkpointed frame: ${other.nodeName}")
    }

  /** Spark's parse of `sqlText` as `spark.sql` parses it: with `spark`
    * the active session, so literals read its conf (a TIMESTAMP literal
    * its time zone). */
  def parse(spark: SparkSession, sqlText: String): LogicalPlan = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.withActive(classic.sessionState.sqlParser.parsePlan(sqlText))
  }

  /** `df.collect()` as Catalyst rows (a string is a `UTF8String`),
    * run as one SQL execution like any action. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** `ofRows` for a plan already resolved — a rewrite of an analyzed
    * plan that only swaps leaves for same-schema ones — marked
    * analyzed so the analyzer does not run over it again. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** The frame `spark.read.schema(schema).parquet(dir)` builds — the
    * partition columns inferred from the dir names and typed by
    * `schema` — with `dir` (qualified) listed on the driver in one
    * recursive call, by Spark's own hidden-file rule, and handed to the
    * index as its file-status cache. Spark's listing would run a
    * discovery job past `parallelPartitionDiscovery.threshold`
    * partition dirs. */
  def listedParquet(spark: SparkSession, dir: Path,
      schema: StructType): DataFrame = {
    val files = HadoopFSUtils.listFiles(dir,
      spark.sessionState.newHadoopConf(), (_: Path) => true)
      .flatMap(_._2).toArray
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        Some(files).filter(_ => p == dir)
      override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(dir), Map.empty,
      Some(schema), listed)
    val parts = index.partitionSchema
    val data = StructType(schema.filterNot(f =>
      parts.exists(_.name.equalsIgnoreCase(f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      data.asNullable, None, new ParquetFileFormat, Map.empty)(spark))
  }
}
