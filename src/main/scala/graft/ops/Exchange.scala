package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Idempotent partition promotion — the reference's DELETE-then-INSERT
 * exchange (reference `dags/dag.py:292-311` production,
 * `dags/dag.py:367-371` cumulative) collapsed into one dynamic-partition
 * overwrite.
 *
 * The reference deletes `WHERE date = ds` and re-inserts the staging rows
 * so any re-run (backfill) replaces exactly one date partition. With
 * `partitionOverwriteMode=dynamic`, `mode("overwrite")` rewrites only the
 * partitions present in the incoming frame — same idempotence, one atomic
 * job, no read-modify-write of unrelated partitions. At 100 TB this
 * touches a single date directory regardless of table size, and the
 * date-partitioned layout gives downstream range scans partition pruning
 * for free (reference `PARTITIONED BY (date)` at `dags/dag.py:146,352`).
 */
object Exchange {

  /** HDFS-semantics rename reports failure by returning false (no
    * exception) — an unchecked call turns a failed "atomic" swap into a
    * silent no-op that can still delete the old data afterwards. Every
    * rename in the promote/swap paths goes through this. */
  private def renameOrThrow(fs: FileSystem, src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst " +
        "(filesystem returned false; table left unswapped)")

  /**
   * Overwrite exactly the partitions of `partitionCol` present in `df`
   * (the reference's per-ds DELETE + INSERT pair, SURVEY.md §2.2 D6).
   *
   * The frame is re-clustered on the partition column first: without
   * it, every one of N upstream tasks writes a file into every date dir
   * it touches — N×#dates small files per promote, the classic
   * partitioned-write explosion (measured 2× of exchange_idempotent's
   * bench cost at sf0.1). Clustered, each date dir gets one file per
   * owning task. A pathologically hot single date serializes onto one
   * task; callers with that shape pass `cluster = false` and manage
   * file counts themselves.
   */
  def promote(df: DataFrame, path: String, partitionCol: String = "date",
      cluster: Boolean = true, writers: Option[Int] = None): Unit = {
    val spark = df.sparkSession
    val out =
      if (cluster)
        VersionedPartitioned.clusterForWrite(df, partitionCol, writers)
      else df
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try out.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val target = new HPath(path)
    Versioned.writeSchema(
      target.getFileSystem(spark.sparkContext.hadoopConfiguration), target,
      VersionedPartitioned.partitionedSchema(df.schema, partitionCol))
  }

  // Schema-checked promotion lives in Schemas.conform + promote — the
  // resolution of reference bug #6 (positional SELECT *, SURVEY.md §2.14)
  // aligns columns by name AND casts to the declared types in one place.

  /** Read the promoted table back (partition-pruned scans on `date`).
    * The schema comes from the `_schema` the last promote/swap recorded
    * — no footer-inference job; inference for a dir without one, and
    * Spark's AnalysisException for a missing dir. */
  def table(spark: SparkSession, path: String): DataFrame =
    Versioned.readDir(spark, path)

  /**
   * Staging-dir + rename promotion — the commit-protocol hardening of
   * `promote` for plain filesystems (SURVEY's Iceberg-semantics gap).
   * `promote`'s dynamic partition overwrite is correct single-writer,
   * but its commit is delete-old-files-then-move-new: a crash mid-commit
   * leaves the partition PARTIAL, and if source == destination (the
   * compact case) the scan races its own deletion.
   *
   * Here the frame is first written COMPLETELY to a sibling staging
   * directory (the expensive, failure-prone part — a crash leaves the
   * live table untouched), then each staged partition directory is
   * swapped in with filesystem renames, which are atomic per directory
   * on local/HDFS-like filesystems. The crash window shrinks from
   * "partition partially rewritten, old rows gone" to "partition
   * momentarily absent, old rows intact in a hidden .<dir>.old sibling"
   * — recoverable by re-running the promote (idempotent) or renaming
   * the .old back. Cross-partition atomicity (all-or-nothing over many
   * dates) still needs a metadata-pointer table format; per-partition
   * atomicity is what this buys without any new dependency.
   *
   * Because the staged write finishes before any rename touches the
   * destination, reading FROM `path` while promoting INTO `path` is
   * safe — `compact` relies on exactly that.
   */
  def promoteAtomic(df: DataFrame, path: String, partitionCol: String = "date",
      cluster: Boolean = true, writers: Option[Int] = None): Unit = {
    val spark = df.sparkSession
    val out =
      if (cluster)
        VersionedPartitioned.clusterForWrite(df, partitionCol, writers)
      else df
    val target = new HPath(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new HPath(path.stripSuffix("/") + "__staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    out.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(staging.toString)
    try {
      if (!fs.exists(target)) fs.mkdirs(target)
      Versioned.writeSchema(fs, target,
        VersionedPartitioned.partitionedSchema(df.schema, partitionCol))
      val parts = fs.listStatus(staging)
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(partitionCol + "="))
      parts.foreach { p =>
        val dest = new HPath(target, p.getPath.getName)
        // hidden name: Spark/Hadoop scans skip '.'-prefixed dirs, so a
        // crash between the two renames never double-counts rows
        val old = new HPath(target, "." + p.getPath.getName + ".old")
        if (fs.exists(old)) fs.delete(old, true)
        val existed = fs.exists(dest)
        if (existed) renameOrThrow(fs, dest, old)
        renameOrThrow(fs, p.getPath, dest)
        if (existed) fs.delete(old, true)
      }
    } finally fs.delete(staging, true)
  }

  /**
   * Whole-table staged swap for UNPARTITIONED tables — `promoteAtomic`'s
   * double-rename at table granularity: the replacement is written
   * COMPLETELY to a sibling staging dir (reading FROM `path` while
   * swapping INTO `path` is therefore safe), then the live dir is moved
   * to a hidden `.name.old` sibling, the staging dir renamed in, and the
   * old dir deleted. A crash between the renames leaves the table
   * momentarily absent with the previous contents intact in the hidden
   * sibling — `recoverSwap` renames them back. Used for the one-time
   * dedup-corpus index migration (`Streaming.admitBatch`).
   */
  def swapTable(df: DataFrame, path: String): Unit =
    swapTableWith(df, path, Map.empty)

  /** `swapTable` plus underscore-named marker files written INTO the
    * staging dir BEFORE the renames — data and markers become visible
    * in the same atomic swap (the exactly-once cursor trick
    * materialized-view refresh rides: a crash anywhere leaves state
    * and cursor from the SAME refresh). Spark ignores `_`-prefixed
    * files on read, so markers are invisible to scans. The recorded
    * `_schema` is one more such marker, so a swap, and a `recoverSwap`
    * of it, always pairs the data with its own schema. */
  def swapTableWith(df: DataFrame, path: String,
      markers: Map[String, String]): Unit = {
    val spark = df.sparkSession
    val target = new HPath(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new HPath(path.stripSuffix("/") + "__staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    // Size the output by bytes, not by upstream partition count (guide
    // §6): without this, a day-sized staging INSERT inherits the source
    // plan's parallelism and writes one near-empty file per upstream
    // partition (measured: 32 files for a ~400-row staging table, one
    // file-creation round-trip each), and a huge frame writes however
    // few partitions its plan happened to have. AQE's rebalance sizes
    // both ends to advisoryPartitionSizeInBytes — 1 file for tiny
    // replay frames, ~advisory-sized files at 100 TB. Row set is
    // unchanged.
    df.hint("rebalance").write.mode("overwrite").parquet(staging.toString)
    Versioned.writeSchema(fs, staging, df.schema)
    markers.foreach { case (name, content) =>
      require(name.startsWith("_"),
        s"marker $name must be underscore-prefixed (scan-invisible)")
      val os = fs.create(new HPath(staging, name), true)
      try os.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    }
    // only the rename window holds the in-process monitor — the
    // (long) staging write above runs unserialized
    monitorFor(path).synchronized {
      val old = hiddenOld(target)
      if (fs.exists(old)) fs.delete(old, true)
      val existed = fs.exists(target)
      if (existed) renameOrThrow(fs, target, old)
      renameOrThrow(fs, staging, target)
      if (existed) fs.delete(old, true)
    }
  }

  /** Same-JVM swap/read serialization: the two renames of a swap are
    * not atomic TOGETHER, so an in-process reader running
    * `recoverSwap` inside the window would "restore" a swap that is
    * mid-flight and collide with the writer's second rename — a live
    * hazard once a door auto-refresh subscription folds deltas while
    * queries read the same view. Cross-PROCESS safety stays the crash
    * contract (atomic renames + recoverSwap on next access); this
    * monitor closes the in-process window. */
  private val swapMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitorFor(path: String): Object =
    swapMonitors.computeIfAbsent(path.stripSuffix("/"), _ => new Object)

  /** Close `swapTable`'s crash window: if `path` is absent but the
    * hidden `.name.old` sibling exists, rename it back and return true.
    * Callers treating a missing table as empty MUST try this first, or
    * a crash inside the swap would silently orphan the previous rows. */
  def recoverSwap(spark: SparkSession, path: String): Boolean =
    monitorFor(path).synchronized {
      val target = new HPath(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val old = hiddenOld(target)
      if (!fs.exists(target) && fs.exists(old)) {
        renameOrThrow(fs, old, target); true
      } else false
    }

  private def hiddenOld(target: HPath): HPath =
    new HPath(target.getParent, "." + target.getName + ".old")

  /**
   * Small-file compaction — the table-maintenance companion to
   * `promote`: rewrite one partition's files into
   * ceil(bytes / targetFileBytes) files (min 1). Long-lived
   * incrementally-promoted tables accumulate a file per promote per
   * partition; scan cost grows with file count (task scheduling, footer
   * reads), not bytes. Compaction reads ONE partition and dynamically
   * overwrites the same partition — other partitions are untouched,
   * exactly how Iceberg/Delta rewrite-data-files actions scope their
   * work.
   *
   * Source and destination are the same directory, so the rewrite goes
   * through `promoteAtomic`: the compacted files are FULLY written to
   * the staging directory while the source partition is still intact
   * (no read-while-overwrite race, no reliance on non-reliable
   * localCheckpoint blocks — an executor loss during the staged write
   * just recomputes from the untouched source), and only then swapped
   * in with per-directory atomic renames. A metadata-pointer table
   * format (Iceberg/Delta) is still the full fix for cross-partition
   * atomicity; see SCALE.md's Iceberg-semantics section.
   */
  def compact(spark: SparkSession, path: String, partitionCol: String,
      partitionValue: Any, targetFileBytes: Long = 128L << 20): Unit = {
    val slice = table(spark, path)
      .where(col(partitionCol) === lit(partitionValue))
    val bytes = slice.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1L,
      ((bytes + targetFileBytes - 1) / BigInt(targetFileBytes)).toLong)
    promoteAtomic(slice.repartition(nFiles.toInt), path, partitionCol,
      cluster = false)
  }
}
