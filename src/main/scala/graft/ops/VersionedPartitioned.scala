package graft.ops

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.StructType

/**
 * Snapshot-isolated PARTITIONED promote — the unification of
 * `Exchange.promoteAtomic` (per-partition replacement for big
 * date-partitioned fact tables, reference `dags/dag.py:292-311`,
 * `PARTITIONED BY (date)` at `dags/dag.py:141,146,352`) with
 * `Versioned`'s commit-pointer machinery. `promoteAtomic` replaces a
 * partition with a rename pair, so a reader listing the table mid-swap
 * can see a partition momentarily absent, and a multi-partition
 * backfill is visible partition-by-partition. Here nothing visible is
 * ever renamed:
 *
 *  - Each promote writes ONLY the incoming partitions into a fresh,
 *    immutable `snap-<uuid>/<partCol>=<value>/` tree.
 *  - A commit file carries a PARTITION MANIFEST: one line per live
 *    partition naming the snapshot dir that holds it. The new commit's
 *    manifest = previous manifest ++ (incoming partitions → new snap).
 *    Untouched partitions keep pointing at their existing snapshot
 *    dirs — per-partition snapshot REUSE, the manifest idea at the
 *    heart of Iceberg's HadoopTableOperations, at its smallest useful
 *    size (a 100-commit table re-lists old data zero times; promote
 *    cost is O(changed partitions) regardless of table size).
 *  - Readers resolve the manifest ONCE, then scan immutable dirs: a
 *    multi-partition backfill is all-or-nothing — a concurrent reader
 *    sees entirely-old or entirely-new partitions, never a mix.
 *
 * Concurrency: the commit create is the same optimistic claim as
 * `Versioned` — but because a manifest MERGES with its predecessor, a
 * loser must re-read the latest manifest before retrying (its merge
 * base moved), or it would silently drop the winner's partitions
 * (lost update). The claim loop below re-merges per attempt.
 *
 * Format note: this object and `Versioned` use the same `_v*.commit`
 * claim protocol but different content formats (a `graft-manifest v1`
 * header marks this one); a root belongs to exactly one of the two.
 */
object VersionedPartitioned {

  /** A manifest dir name's partition VALUE (`date=2024-01-01` →
    * `2024-01-01`), with the `%xx` escaping the parquet writer applies
    * to dir names decoded (`2024%3A01` → `2024:01`) — what partition
    * keeps are given. */
  private[ops] def partitionValue(dir: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dir.substring(dir.indexOf('=') + 1))

  private val Marker = "graft-manifest v1"
  private val TagPrefix = "tag:"
  private val ColPrefix = "addcol:"
  private val DropColPrefix = "dropcol:"
  private val RenColPrefix = "rencol:"
  private val WidenColPrefix = "widencol:"
  private val SnapGenPrefix = "snapgen:"
  private val DelPrefix = "del:"
  private[ops] val DelDirPrefix = "del-"

  /** One metadata-only schema-evolution step — Iceberg's ADD / DROP /
    * RENAME COLUMN semantics without touching a data file. Steps apply
    * IN COMMIT ORDER at read time, per snapshot frame, so
    * drop-then-re-add yields a fresh column whose default fills every
    * pre-existing row (the old physical bytes stay invisible — the
    * Iceberg field-id rule reproduced on ordered rewrite rules). */
  sealed trait Evolution
  final case class AddCol(name: String, defaultSql: String) extends Evolution
  final case class DropCol(name: String) extends Evolution
  final case class RenameCol(from: String, to: String) extends Evolution
  /** Lossless type widening (Iceberg's ALTER COLUMN TYPE): readers
    * cast old physical values up; `typeDdl` is a Spark DDL type. */
  final case class WidenCol(name: String, typeDdl: String) extends Evolution

  /** partition-dir-name (e.g. "date=2024-01-01") → snapshot dir name.
    * `evolution` records metadata-only schema evolution as ordered
    * add/drop/rename rules: readers replay them on the fly over any
    * snapshot file written before the evolution (an `addcol` fills its
    * default only when the frame lacks the column physically, so later
    * promotes that carry it override the default). `deletes` records
    * merge-on-read delete sidecars per partition dir (ordered delete
    * dir names, Iceberg-v2 equality-delete shape): readers anti-join
    * the partition's rows against each sidecar's key file; any rewrite
    * of a partition drops its delete refs (the deletes are already
    * applied in what was read and rewritten). Partition dir names
    * always contain '=', so the `addcol:`/`dropcol:`/`rencol:`/`del:`
    * prefixes cannot collide with an entry row. */
  final case class Manifest(partitionCol: String,
      entries: Map[String, String], tag: Option[String],
      evolution: Seq[Evolution] = Nil,
      deletes: Map[String, Seq[String]] = Map.empty,
      snapGens: Map[String, Int] = Map.empty) {
    /** Gens for snapshots this commit writes: every dir in `written`
      * maps to its snapshot, stamped with the CURRENT rule count —
      * rules recorded before the write are already reflected in the
      * snapshot's physical schema and must never replay over it
      * (replaying an older DropCol over a post-re-add snapshot is
      * silent data loss). */
    def gensWith(written: Map[String, String]): Map[String, Int] =
      snapGens ++ written.valuesIterator.map(_ -> evolution.length)
  }

  private def render(m: Manifest): String = {
    require(!m.partitionCol.exists(c => c == '\n' || c == '\t'),
      "partition column name must not contain tab/newline")
    m.tag.foreach(t => require(t.nonEmpty && !t.contains('\n'),
      "tag must be non-empty and single-line"))
    val header = s"$Marker\t${m.partitionCol}"
    val tagLine = m.tag.map(TagPrefix + _).toSeq
    def cleanName(n: String, what: String): Unit =
      require(n.nonEmpty && !n.exists(c => c == '\n' || c == '\t'),
        s"$what must be non-empty without tab/newline")
    val colLines = m.evolution.map {
      case AddCol(n, d) =>
        cleanName(n, "added-column name")
        require(d.nonEmpty && !d.contains('\n'),
          "added-column default must be a non-empty single-line SQL expression")
        s"$ColPrefix$n\t$d"
      case DropCol(n) =>
        cleanName(n, "dropped-column name")
        s"$DropColPrefix$n"
      case RenameCol(o, n) =>
        cleanName(o, "renamed-column old name")
        cleanName(n, "renamed-column new name")
        s"$RenColPrefix$o\t$n"
      case WidenCol(n, t) =>
        cleanName(n, "widened-column name")
        require(t.nonEmpty && !t.contains('\n'),
          "widened-column type must be a single-line Spark DDL type")
        s"$WidenColPrefix$n\t$t"
    }
    // schema generation per referenced snapshot: the number of
    // evolution rules in effect when the snapshot was written. Rules
    // with index < gen predate nothing in that snapshot and are
    // skipped at read time (see applyAddedCols). Gen 0 is the
    // default at parse and is never rendered; unreferenced snaps are
    // pruned so the block stays O(#referenced snapshots).
    val referenced = m.entries.values.toSet
    val genLines = m.snapGens.toSeq
      .filter { case (s, g) => g > 0 && referenced(s) }
      .sortBy(_._1)
      .map { case (s, g) =>
        cleanName(s, "snapshot name")
        s"$SnapGenPrefix$s\t$g"
      }
    val delLines = m.deletes.toSeq.sortBy(_._1).flatMap { case (p, ds) =>
      ds.map { d =>
        require(d.startsWith(DelDirPrefix) && !d.exists(c => c == '\n' || c == '\t'),
          s"delete dir must be a $DelDirPrefix name: $d")
        s"$DelPrefix$p\t$d"
      }
    }
    val rows = m.entries.toSeq.sorted.map { case (p, s) => s"$p\t$s" }
    (header +: tagLine ++: colLines ++: genLines ++: delLines ++: rows)
      .mkString("\n")
  }

  private def parse(content: String): Manifest = {
    val lines = content.linesIterator.toSeq
    val head = lines.headOption.getOrElse("")
    require(head.startsWith(Marker + "\t"),
      s"not a $Marker commit (is this a plain Versioned root?): $head")
    val partitionCol = head.stripPrefix(Marker + "\t")
    val body = lines.drop(1)
    val tag = body.headOption.filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix))
    val afterTag = body.dropWhile(_.startsWith(TagPrefix))
    def isEvo(l: String) = l.startsWith(ColPrefix) ||
      l.startsWith(DropColPrefix) || l.startsWith(RenColPrefix) ||
      l.startsWith(WidenColPrefix)
    val evolution: Seq[Evolution] = afterTag.takeWhile(isEvo).map {
      case l if l.startsWith(ColPrefix) =>
        val s = l.stripPrefix(ColPrefix)
        val i = s.indexOf('\t')
        require(i > 0, s"bad added-column row: $l")
        AddCol(s.substring(0, i), s.substring(i + 1))
      case l if l.startsWith(DropColPrefix) =>
        DropCol(l.stripPrefix(DropColPrefix))
      case l if l.startsWith(WidenColPrefix) =>
        val s = l.stripPrefix(WidenColPrefix)
        val i = s.indexOf('\t')
        require(i > 0, s"bad widened-column row: $l")
        WidenCol(s.substring(0, i), s.substring(i + 1))
      case l =>
        val s = l.stripPrefix(RenColPrefix)
        val i = s.indexOf('\t')
        require(i > 0, s"bad renamed-column row: $l")
        RenameCol(s.substring(0, i), s.substring(i + 1))
    }
    val afterEvo = afterTag.dropWhile(isEvo)
    val snapGens = afterEvo.takeWhile(_.startsWith(SnapGenPrefix)).map { l =>
      val s = l.stripPrefix(SnapGenPrefix)
      val i = s.indexOf('\t')
      require(i > 0, s"bad snapshot-generation row: $l")
      s.substring(0, i) -> s.substring(i + 1).toInt
    }.toMap
    val afterCols = afterEvo.dropWhile(_.startsWith(SnapGenPrefix))
    val deletes = afterCols.takeWhile(_.startsWith(DelPrefix)).map { l =>
      val s = l.stripPrefix(DelPrefix)
      val i = s.indexOf('\t')
      require(i > 0, s"bad delete row: $l")
      s.substring(0, i) -> s.substring(i + 1)
    }.groupMap(_._1)(_._2)
    val rows = afterCols.dropWhile(_.startsWith(DelPrefix))
    val entries = rows.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      require(i > 0, s"bad manifest row: $l")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    Manifest(partitionCol, entries, tag, evolution, deletes, snapGens)
  }

  /** (version, manifest) for every parseable commit, ascending.
    * O(#versions) commit-file reads — reserved for the genuinely
    * whole-history operations (vacuum's referenced-dir census, tag
    * sets, history inspection). Latest-state and exact-version callers
    * resolve through `latestManifest`/`manifestAt` (one read). */
  def history(spark: SparkSession, root: String): Seq[(Long, Manifest)] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    Versioned.rawHistory(fs, rootPath).map { case (v, c) => (v, parse(c)) }
  }

  /** Latest (version, manifest) with exactly one commit-file read — the
    * resolution every read/promote/merge/CDC call takes, regardless of
    * how many commits the table has accumulated. */
  private[ops] def latestManifest(spark: SparkSession,
      root: String): Option[(Long, Manifest)] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    Versioned.latestRaw(fs, rootPath).map { case (v, c) => (v, parse(c)) }
  }

  /** (version, commit tag) NEWEST-FIRST as a LAZY iterator: one
    * directory listing up front, then ONE commit-file read per element
    * consumed. Bounded consumers (`Txn`'s head-run scans) read only
    * the tail they need instead of `historyDf`'s O(#versions) collect
    * — on a streaming table with 10⁵ epoch commits, the difference
    * between one head read and a full metadata scan per call. Commit
    * files vacuumed between the listing and the open are skipped (the
    * `latestTagWithPrefix` TOCTOU guard). */
  def tagsNewestFirst(spark: SparkSession,
      root: String): Iterator[(Long, Option[String])] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    Versioned.listCommits(fs, rootPath).reverseIterator.flatMap {
      case (v, p) =>
        try Some((v, parse(Versioned.readCommit(fs, p)).tag))
        catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Iceberg's `history` metadata table for the manifest format: the
    * commit log as a DataFrame — (version, tag, n_partitions,
    * n_snapshots, committed_at millis from commit-file mtime). A
    * metadata query: O(#versions) small-file reads, zero data I/O;
    * `committed_at` is wall-clock and excluded from deterministic
    * gates (the same contract as `versionAsOf`). */
  def historyDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val mtimes = Versioned.listCommits(fs, rootPath)
      .map { case (v, p) => v -> fs.getFileStatus(p).getModificationTime }
      .toMap
    history(spark, root).map { case (v, m) =>
      (v, m.tag, m.entries.size, m.entries.values.toSet.size,
        mtimes.getOrElse(v, 0L))
    }.toDF("version", "tag", "n_partitions", "n_snapshots", "committed_at")
  }

  /** Iceberg's `files` metadata table for the manifest format: one row
    * per live data file — (partition value, file path relative to the
    * table root, record_count) — with ZERO data I/O on every path:
    * counts come from the per-file `_stats` sidecar when the file's
    * snapshot has one, else from the parquet FOOTERS (driver-parallel
    * metadata reads, O(#files) small reads — commit with `statsCols`
    * at cluster scale so the sidecar path always serves). Record
    * counts are as-written, Iceberg `record_count` semantics:
    * merge-on-read delete sidecars live in their own files and never
    * change a data file's count (`readRowChanges` materializes them on
    * read; a rewrite clears them). The collect here is file METADATA —
    * the same bounded census `vacuum`'s referenced-dir walk does —
    * never data rows. */
  def filesDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val m = manifestAt(spark, root, None)
    // an empty manifest (truncated table, or a recovered-to-empty
    // first transaction) legitimately lists ZERO files: unlike a data
    // read, this table's schema is fixed by the format, so the frame
    // is derivable with no live partition to infer from
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    val rows: Seq[(String, String, Long)] =
      m.entries.groupBy(_._2).toSeq.sortBy(_._1).flatMap {
        case (snap, parts) =>
          val partDirs = parts.keys.toSet
          val snapPath = new HPath(rootPath, snap)
          val statsPath = new HPath(snapPath, Versioned.StatsDirName)
          val sidecar =
            (if (fs.exists(statsPath))
               Some(Versioned.readDir(spark, statsPath.toString)) else None)
              .filter(st => st.columns.contains("__rows") &&
                st.columns.contains("__file"))
          sidecar match {
            case Some(st) =>
              st.select(col("__file"), col("__rows")).collect().toSeq
                .map(r => (r.getString(0), r.getLong(1)))
                .filter { case (f, _) =>
                  partDirs.contains(f.takeWhile(_ != '/')) }
                .map { case (f, n) => (f.takeWhile(_ != '/'), s"$snap/$f", n) }
            case None =>
              import scala.collection.parallel.CollectionConverters._
              partDirs.toSeq.sorted.flatMap { pd =>
                fs.listStatus(new HPath(snapPath, pd)).toSeq
                  .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
                  .map(_.getPath).par.map { p =>
                    val in = org.apache.parquet.hadoop.util.HadoopInputFile
                      .fromPath(p, conf)
                    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                    val n = try r.getRecordCount finally r.close()
                    (pd, s"$snap/$pd/${p.getName}", n)
                  }.toList
              }
          }
      }
    rows.map { case (pd, f, n) =>
      (partitionValue(pd), f, n)
    }.toDF(m.partitionCol, "file_path", "record_count")
      .orderBy(m.partitionCol, "file_path")
  }

  /** Iceberg's `partitions` metadata table: one row per live partition
    * — (partition value, n_files, n_rows, n_delete_files) — folded
    * from `filesDf` (so the two tables are consistent by construction)
    * plus the manifest's merge-on-read delete-sidecar census. Like
    * Iceberg, `n_rows` is the data files' record count; live rows
    * under pending MoR deletes resolve at read time. */
  def partitionsDf(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum, typedLit}
    val m = manifestAt(spark, root, None)
    val delCounts: Map[String, Int] = m.deletes.map { case (pd, ds) =>
      partitionValue(pd) -> ds.size
    }
    filesDf(spark, root)
      .groupBy(col(m.partitionCol))
      .agg(count(lit(1)).as("n_files"),
        sum(col("record_count")).as("n_rows"))
      .withColumn("n_delete_files",
        coalesce(org.apache.spark.sql.functions
          .element_at(typedLit(delCounts), col(m.partitionCol)), lit(0)))
      .orderBy(m.partitionCol)
  }

  // --------------------------------------------- ANALYZE column stats —

  private def analyzeDir(rootPath: HPath, v: Long) =
    new HPath(new HPath(rootPath, "_analyze"), s"v$v")

  /**
   * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` for the manifest
   * format: ONE distributed aggregation pass over the current snapshot
   * computes, per requested column, the CBO statistics a planner wants
   * — null count, NDV, min/max (rendered to strings), total byte
   * length — plus the table-level row count and live data-file bytes
   * (the latter a pure file-metadata census, zero data I/O). Stats
   * land in `_analyze/v<version>/` parquet, immutable alongside the
   * version they describe: `columnStats` exposes the analyzed version
   * next to the current one, so a consumer can see staleness instead
   * of trusting silently (the auto-broadcast planner ignores stale
   * stats entirely — conservative, never wrong).
   *
   * NDV is exact by default (`count(DISTINCT c)` — correct but an
   * expand pass multiplying the scan by #columns). At 100 TB pass
   * `exact = false`: `approx_count_distinct`'s HLL keeps the job
   * one-scan-no-expand with ~2 % error — the standard CBO trade
   * (Spark's own ANALYZE uses HLL++ for exactly this reason).
   */
  def analyzeColumns(spark: SparkSession, root: String, cols: Seq[String],
      exact: Boolean = true): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "at least one column to analyze")
    val cur = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no commits under $root"))
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val m = manifestAt(spark, root, None)
    // live data-file bytes: the same bounded metadata census filesDf runs
    val totalBytes: Long = m.entries.groupBy(_._2).toSeq.map {
      case (snap, parts) =>
        val snapPath = new HPath(rootPath, snap)
        parts.keys.toSeq.map { pd =>
          fs.listStatus(new HPath(snapPath, pd)).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getLen).sum
        }.sum
    }.sum
    val df = readManifest(spark, root, m)
    val schema = df.schema
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"analyzeColumns: no column $c in ${schema.fieldNames.mkString(", ")}"))
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val ndv = if (exact) countDistinct(col(c))
        else approx_count_distinct(col(c))
      Seq(count(col(c)).as(s"__nn_$c"), ndv.as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        sum(coalesce(length(col(c).cast("string")).cast("long"), lit(0L)))
          .as(s"__len_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val nRows = row.getLong(row.fieldIndex("__n"))
    import spark.implicits._
    val out = cols.map { c =>
      (c, nRows, nRows - row.getLong(row.fieldIndex(s"__nn_$c")),
        row.getLong(row.fieldIndex(s"__ndv_$c")),
        Option(row.getAs[String](row.fieldIndex(s"__min_$c"))),
        Option(row.getAs[String](row.fieldIndex(s"__max_$c"))),
        row.getLong(row.fieldIndex(s"__len_$c")), totalBytes)
    }.toDF("col_name", "n_rows", "n_nulls", "ndv", "min_value",
      "max_value", "total_len", "table_bytes")
    val dest = analyzeDir(rootPath, cur)
    out.coalesce(1).write.mode("overwrite").parquet(dest.toString)
    Versioned.writeSchema(fs, dest, out.schema)
  }

  /** Highest version with committed column stats, if any — a pure
    * directory listing of `_analyze/`. */
  def analyzedVersion(spark: SparkSession, root: String): Option[Long] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val dir = new HPath(rootPath, "_analyze")
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v")).flatMap(n => n.drop(1).toLongOption)
      .sorted.lastOption
  }

  /** The maintained column statistics, latest analyze run: one row per
    * analyzed column plus `analyzed_version`/`current_version` so
    * staleness is visible (stats describe the version they were
    * computed at — a later commit does not invalidate them, it just
    * dates them). Aggregate-sized driver read. */
  def columnStats(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val av = analyzedVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no column stats under $root — run analyzeColumns first"))
    val cur = currentVersion(spark, root).getOrElse(av)
    val (_, rootPath) = Versioned.fsOf(spark, root)
    // a re-ANALYZE of the same version overwrites data and `_schema`
    // alike, and the stats OUTPUT is the fixed 8-column shape anyway
    Versioned.readDir(spark, analyzeDir(rootPath, av).toString)
      .withColumn("analyzed_version", lit(av))
      .withColumn("current_version", lit(cur))
  }

  /** Stats-backed size estimate for broadcast planning: the analyzed
    * live-file byte count, ONLY when the stats are current (analyzed
    * version == `current`, the head the caller reads). Stale or missing
    * stats → None — the planner falls back to Spark's own defaults
    * rather than acting on a size that may be wrong. */
  def statsBytesIfCurrent(spark: SparkSession, root: String,
      current: Long): Option[Long] =
    analyzedVersion(spark, root).filter(_ == current).map { av =>
      import org.apache.spark.sql.functions.max
      val (_, rootPath) = Versioned.fsOf(spark, root)
      Versioned.readDir(spark, analyzeDir(rootPath, av).toString)
        .select(max(col("table_bytes"))).collect()(0).getLong(0)
    }

  /** The table's READ schema (evolution rules applied), resolved from
    * a SINGLE partition's read — a one-dir listing plus the snapshot's
    * recorded `_schema`, never the full-manifest construction.
    * Post-evolution physical schemas can differ per snapshot, but
    * `readManifest`'s union-by-name contract means every evolution
    * group resolves to the same evolved column set, so any one
    * partition answers for the table. The cheap path for callers that need column types before
    * planning a pruned read (`HiddenPartition` literal mapping). */
  def tableSchema(spark: SparkSession,
      root: String): org.apache.spark.sql.types.StructType = {
    val m = manifestAt(spark, root, None)
    require(m.entries.nonEmpty,
      s"manifest under $root has no live partitions (schema unknowable)")
    readManifest(spark, root, m.copy(entries = Map(m.entries.head))).schema
  }

  /** The table's manifest partition column (`HiddenPartition` recovers
    * its transform spec from this name). */
  def partitionColumn(spark: SparkSession, root: String): String =
    latestManifest(spark, root)
      .getOrElse(throw new IllegalStateException(s"no commits under $root"))
      ._2.partitionCol

  /** Highest committed version — a pure directory listing, zero
    * commit-file reads (delegates to the shared commit protocol). */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    Versioned.currentVersion(spark, root)

  /** Every tag any retained commit carries (exactly-once replay
    * detection, same contract as `Versioned.committedTags`). Genuinely
    * needs the full history — a tag can live on ANY retained commit —
    * so this is O(#versions) small-file reads; callers on hot paths
    * (the streaming epoch guard, the propagate cursor) run once per
    * micro-batch/hop against vacuum-bounded histories, not per row. */
  def committedTags(spark: SparkSession, root: String): Set[String] =
    history(spark, root).flatMap(_._2.tag).toSet

  /** `Versioned.latestTagWithPrefix` for manifest-format commits: the
    * newest commit tag starting with `prefix` (stripped), scanning
    * newest-first and stopping at the first match — the O(1)
    * steady-state resolution for monotone tag families (streaming
    * epochs, the propagate cursor). */
  /** The HEAD commit's tag — one driver-side manifest read, no job.
    * None when the table has no commits (or an untagged head). */
  def headTag(spark: SparkSession, root: String): Option[String] =
    if (currentVersion(spark, root).isEmpty) None
    else manifestAt(spark, root, None).tag

  /**
   * A data-less commit: re-render the current manifest (or, on a
   * never-written table, a first EMPTY manifest) at the next version,
   * carrying `tag` — zero data I/O, zero jobs. Two callers need it:
   * a transaction statement that no-ops (an idempotent DELETE-day on
   * its first run) must still occupy its `txn:<id>:<k>of<n>` position
   * or recovery would read the transaction as incomplete forever; and
   * transaction rollback-to-empty, where `dropAll = true` empties the
   * entry set and the clean tag closes the aborted head.
   */
  def emptyCommit(spark: SparkSession, root: String, partitionCol: String,
      tag: Option[String], dropAll: Boolean = false): Long = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    claimLoop(spark, root) {
      case Some((pv, m)) =>
        (pv + 1, render(Manifest(m.partitionCol,
          if (dropAll) Map.empty else m.entries, tag, m.evolution,
          if (dropAll) Map.empty else m.deletes, m.snapGens)))
      case None =>
        (1L, render(Manifest(partitionCol, Map.empty, tag)))
    }
  }

  def latestTagWithPrefix(spark: SparkSession, root: String,
      prefix: String): Option[String] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    Versioned.listCommits(fs, rootPath).reverseIterator
      .flatMap { case (_, p) =>
        // concurrent-vacuum guard (same as latestRaw's): skip a commit
        // file deleted between the listing and the open — safe, because
        // vacuum carries the newest epoch tag and src-version cursor
        // onto retained commits before deleting anything
        try parse(Versioned.readCommit(fs, p)).tag
        catch { case _: java.io.FileNotFoundException => None }
      }
      .collectFirst { case t if t.startsWith(prefix) =>
        t.stripPrefix(prefix) }
  }

  /**
   * Replace exactly the partitions of `partitionCol` present in `df`
   * (the reference's per-ds DELETE+INSERT exchange, SURVEY §2.2 D6)
   * and return the committed version. Untouched partitions are
   * inherited from the previous manifest by reference; readers holding
   * an older version are unaffected (snapshot isolation).
   *
   * Like `Exchange.promote`, the frame is re-clustered on the
   * partition column so each partition dir gets one file per owning
   * task instead of the N-tasks × M-dates small-file explosion.
   *
   * `clusterBy` + `maxRecordsPerFile` make the `statsCols` sidecar
   * selective WITHIN a partition: rows sort on the cluster columns
   * before the write and the writer rolls a new file every
   * `maxRecordsPerFile` rows, so a partition's files carry disjoint
   * [min, max] ranges (Z-order-lite, one dimension) and `readPruned`
   * skips most of a partition instead of none of it. Without them a
   * partition is one file and stats can only skip whole partitions.
   */
  /** Write `df` into a fresh immutable `snap-<uuid>` tree under
    * `rootPath`, partitioned by `partitionCol`, with optional per-file
    * min/max stats — the snapshot-materialization step shared by
    * `promote` and `repartitionTable`. Returns the snapshot dir name.
    *
    * Stats contract (same as `Versioned.commit(statsCols = …)`): one
    * columnar pass over the fresh files emits `partition-relative path
    * → min/max per column` into the snapshot's own underscore-hidden
    * `_stats` dir, so stats are immutable with their data and
    * manifest-merge needs no extra bookkeeping — a partition inherited
    * from an old snapshot brings that snapshot's stats with it. Only
    * NEW files are ever scanned: stats cost is O(changed partitions),
    * like the promote itself. */
  /** Cluster `df` on the partition column for a partitionBy write.
    * Parquet file creation is LATENCY-bound, not CPU-bound (writer
    * open + footer + close fsync round-trips): a many-partition write
    * squeezed into few shuffle tasks serializes those waits (measured:
    * a 240-dir snapshot at 4 shuffle partitions writes in 3.6 s; the
    * same write across 8 tasks, 1.4 s — same file count, same 4
    * cores, the latency just overlaps). When the session's shuffle
    * width is below 2× the executor parallelism — the local / small-
    * conf case — widen the write shuffle to that floor; a properly
    * sized cluster conf (shuffle.partitions ≥ cores) keeps the plain
    * `repartition(col)` so AQE stays free to size the exchange.
    * Either way each partition VALUE still hashes to exactly one
    * task, so the one-file-per-partition-per-write contract holds. */
  /** Plan-time upper bound on the number of distinct partition VALUES
    * `df` can produce, read from the optimized plan's constraint set —
    * the day-scoped promote shape (`WHERE date = DATE '…'`, or an IN
    * list) pins the partition column to ≤k literals. Costs one
    * optimizer pass over a small logical plan (no job, no scan);
    * returns None when the plan does not pin the column. */
  private def pinnedPartitionCount(df: DataFrame,
      partitionCol: String): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, EqualTo, In, InSet, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, LogicalPlan, Project, Sort, SubqueryAlias}
    try {
      val plan = df.queryExecution.optimizedPlan
      val fromConstraints = plan.output.collectFirst {
        case a if a.name.equalsIgnoreCase(partitionCol) => a
      }.flatMap { a =>
        plan.constraints.collectFirst {
          case EqualTo(x: AttributeReference, _: Literal)
              if x.semanticEquals(a) => 1
          case EqualTo(_: Literal, x: AttributeReference)
              if x.semanticEquals(a) => 1
          case In(x: AttributeReference, vs)
              if x.semanticEquals(a) && vs.forall(_.isInstanceOf[Literal]) =>
            vs.size
          case InSet(x: AttributeReference, vs) if x.semanticEquals(a) =>
            vs.size
        }
      }
      // Constraint propagation does not carry `col = literal` facts
      // for PROJECTED literals (the change-feed's
      // `withColumn(version, lit(to))` shape), so additionally walk
      // the root chain of row-preserving nodes: the topmost Project
      // that DEFINES the partition column as a literal alias pins it
      // to one value for every row.
      def literalAlias(p: LogicalPlan): Option[Int] = p match {
        case pr: Project =>
          pr.projectList.collectFirst {
            case al @ Alias(_: Literal, _)
                if al.name.equalsIgnoreCase(partitionCol) => 1
            case ar: AttributeReference
                if ar.name.equalsIgnoreCase(partitionCol) => 0
          } match {
            case Some(1) => Some(1)
            // passthrough attribute: the defining node is deeper
            case Some(0) => literalAlias(pr.child)
            // aliased non-literal expression (or column absent): the
            // value varies per row as far as this walk can tell
            case _ => None
          }
        case f: Filter => literalAlias(f.child)
        case s: Sort => literalAlias(s.child)
        case sa: SubqueryAlias => literalAlias(sa.child)
        case _ => None
      }
      fromConstraints.orElse(literalAlias(plan))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private[ops] def clusterForWrite(df: DataFrame, partitionCol: String,
      writers: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    // explicit caller hint wins: a caller that KNOWS its frame holds k
    // partition values (the per-day pipeline promote) skips the
    // constraint sniff entirely. Some(0) means "AQE-sized": the caller
    // knows the frame is aggregate-sized by contract (maintained view
    // state), so a plain clustered repartition — which AQE coalesces
    // by bytes — beats the fixed writer floor.
    if (writers.contains(0))
      return df.repartition(col(partitionCol))
    if (writers.isDefined)
      return df.repartition(math.max(writers.get, 1), col(partitionCol))
    // writer floor: 2× executor parallelism overlaps file-creation
    // latency when a write spans many partition values
    val minWriters = 2 * spark.sparkContext.defaultParallelism
    // The floor exists to overlap per-FILE creation latency, and the
    // file lower bound is one per distinct partition value: when the
    // plan pins the column to k < floor literals (the per-day promote
    // replay shape), k writers already hold the file minimum — the
    // remaining floor-k tasks could only ever be empty. Measured at
    // sf0.1: a 10-day pipeline replay drops from 2114 to ~860 tasks
    // (64→1 writers per single-date promote), 15.0→11.2 s wall.
    pinnedPartitionCount(df, partitionCol).map(k => math.max(k, 1)) match {
      case Some(k) if k < minWriters &&
          k < spark.sessionState.conf.numShufflePartitions =>
        df.repartition(k, col(partitionCol))
      case _ =>
        if (spark.sessionState.conf.numShufflePartitions < minWriters)
          df.repartition(minWriters, col(partitionCol))
        else df.repartition(col(partitionCol))
    }
  }

  /** Per-file, per-column bloom sizing: 2^19 bits (64 KB serialized)
    * hold 50k distinct values at <1% fpp. */
  private val BloomItems = 50000L
  private val BloomBits = 1L << 19

  private def writeSnapshot(df: DataFrame, rootPath: HPath,
      partitionCol: String, statsCols: Seq[String],
      cluster: Boolean = true, clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L, bloomCols: Seq[String] = Nil,
      writers: Option[Int] = None): String = {
    val spark = df.sparkSession
    val snapName = Versioned.SnapPrefix + UUID.randomUUID().toString
    val snapPath = new HPath(rootPath, snapName)
    val out =
      if (clusterBy.nonEmpty)
        clusterForWrite(df, partitionCol, writers)
          .sortWithinPartitions((partitionCol +: clusterBy).map(col): _*)
      else if (cluster) clusterForWrite(df, partitionCol, writers)
      else df
    val writer = out.write.mode("overwrite").partitionBy(partitionCol)
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer)
      .parquet(snapPath.toString)
    // recorded BEFORE the stats pass so writeStats' read-back of the
    // snapshot it is summarizing skips inference too (the fold
    // insertInto runs afterwards adds files to EXISTING partition
    // dirs only, so the recorded schema still describes the dir)
    Versioned.writeSchema(
      snapPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
      snapPath, partitionedSchema(df.schema, partitionCol))
    writeStats(spark, snapPath, snapName, df.schema, statsCols, bloomCols)
    snapName
  }

  /** The schema a partitioned dir written from `written` records: the
    * data columns in written order, then the partition column at the
    * type the writer wrote (Iceberg's rule — never re-guessed from the
    * dir names). */
  private[ops] def partitionedSchema(written: StructType,
      partitionCol: String): StructType = {
    val (part, data) = written.fields.partition(
      _.name.equalsIgnoreCase(partitionCol))
    StructType(data ++ part)
  }

  /** Emit the snapshot's `_stats` sidecar over the files CURRENTLY in
    * `snapPath` — separated from `writeSnapshot` so a writer that
    * appends more files into the snapshot afterwards (`insertInto`'s
    * overlap fold) can compute stats once, over the FINAL file set.
    * The sidecar is the source of truth for file-level skipping and
    * metadata aggregation: a data file it misses would silently drop
    * from pruned reads, so it must always be written last. */
  private def writeStats(spark: SparkSession, snapPath: HPath,
      snapName: String, written: StructType, statsColsIn: Seq[String],
      bloomColsIn: Seq[String]): Unit = {
    // a stats/bloom column the written frame does not physically carry
    // (renamed away, or a caller passing a superset) degrades to "no
    // stats for it" — readers treat missing coverage as keep-all/bail,
    // so dropping it here can never lose rows, while keeping it would
    // fail the whole write on an unresolvable column
    val present = written.fieldNames.toSet
    val statsCols = statsColsIn.filter(present.contains)
    val bloomCols = bloomColsIn.filter(present.contains)
    if (statsCols.nonEmpty || bloomCols.nonEmpty) {
      import org.apache.spark.sql.functions.{call_function, count, element_at, lit, max, min, regexp_replace, split, sum, url_decode, xxhash64}
      import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
      // bloom columns get min/max TOO (same pass, negligible cost), so
      // every bloom-covered column is also range-covered and the read
      // planners need only one coverage census
      val rangeCols = (statsCols ++ bloomCols).distinct
      // per-file bloom over xxhash64(value) — Spark's own
      // BloomFilterAggregate (the InjectRuntimeFilter build shape),
      // probed at plan time with BloomFilterMightContain over the same
      // hash, sized by `BloomItems`/`BloomBits`. A file with more
      // distinct values only skips less often (false positives only
      // COST, never lose rows).
      if (bloomCols.nonEmpty) BloomPrune.register(spark)
      // Per-column non-null counts ride in the same pass (negligible
      // cost) and, for exactly-foldable types (integrals + decimals —
      // associative addition, no FP reorder drift), per-file sums: the
      // inputs `aggregateFromStats` needs to answer COUNT(c)/SUM(c)
      // from metadata alone. Sidecars written before this column set
      // existed simply lack them — the metadata-agg path bails to a
      // scan on missing coverage, never guesses.
      val snapFrame = Versioned.readDir(spark, snapPath.toString)
      def summable(c: String): Boolean =
        snapFrame.schema.fields.find(_.name == c).map(_.dataType).exists {
          case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
               _: DecimalType => true
          case _ => false
        }
      val aggs = (count(lit(1)).as("__rows") +: rangeCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          count(col(c)).as(s"cnt_$c")) ++
          (if (summable(c)) Seq(sum(col(c)).as(s"sum_$c")) else Nil))) ++
        bloomCols.map(c => call_function("bloom_filter_agg",
          xxhash64(col(c)), lit(BloomItems), lit(BloomBits))
          .as(s"bloom_$c"))
      // `__file` is stored in ON-DISK form: input_file_name() returns a
      // URI (':' Hive-escaped on disk as %3A arrives doubly encoded as
      // %253A, spaces as %20), so one percent-decode recovers the disk
      // name — with '+' pre-escaped because url_decode would otherwise
      // read a literal '+' (legal on disk) as an encoded space
      val diskForm = url_decode(regexp_replace(
        element_at(split(input_file_name(), snapName + "/"), 2), "\\+", "%2B"))
      val statsFrame = snapFrame
        .groupBy(diskForm.as("__file"))
        .agg(aggs.head, aggs.tail: _*)
      val statsPath = new HPath(snapPath, Versioned.StatsDirName)
      statsFrame
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(statsPath.toString)
      Versioned.writeSchema(
        statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
        statsPath, statsFrame.schema)
    }
  }

  def promote(df: DataFrame, root: String, partitionCol: String = "date",
      tag: Option[String] = None, cluster: Boolean = true,
      statsCols: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L, bloomCols: Seq[String] = Nil,
      writers: Option[Int] = None): Long = {
    val spark = df.sparkSession
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    val snapName = writeSnapshot(df, rootPath, partitionCol, statsCols,
      cluster, clusterBy, maxRecordsPerFile, bloomCols, writers)
    val snapPath = new HPath(rootPath, snapName)
    // The partitions actually written, read back from the snapshot's
    // own directory names — no re-implementation of Spark's partition
    // path escaping, and an empty frame promotes to a no-op manifest.
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))
      .map(_.getPath.getName -> snapName).toMap
    commitSnapshot(spark, fs, rootPath, root, partitionCol, written, tag)
  }

  /** Claim loop with per-attempt re-merge: a lost claim means the
    * merge base advanced — re-read it or drop the winner's partitions.
    * The merge base is the LATEST manifest only (one commit-file read
    * per attempt), never the full history. Shared by `promote` and the
    * INSERT-shaped `insertInto`. */
  private def commitSnapshot(spark: SparkSession, fs: FileSystem,
      rootPath: HPath, root: String, partitionCol: String,
      written: Map[String, String], tag: Option[String]): Long = {
    var committed = -1L
    while (committed < 0) {
      val latest = latestManifest(spark, root)
      latest.foreach { case (_, m) =>
        require(m.partitionCol == partitionCol,
          s"table is partitioned by ${m.partitionCol}, not $partitionCol")
      }
      val base = latest.map(_._2.entries).getOrElse(Map.empty)
      // metadata-evolved columns survive every later promote: a frame
      // that carries one physically simply overrides its default;
      // delete sidecars survive on UNTOUCHED partitions and drop on
      // overwritten ones (the rewrite replaces the rows they applied to)
      val prevCols = latest.map(_._2.evolution).getOrElse(Nil)
      val prevDel = latest.map(_._2.deletes).getOrElse(Map.empty) -- written.keys
      val prevGens = latest.map(_._2.snapGens).getOrElse(Map.empty)
      val v = latest.map(_._1).getOrElse(0L) + 1
      val content =
        render(Manifest(partitionCol, base ++ written, tag, prevCols, prevDel,
          prevGens ++ written.valuesIterator.map(_ -> prevCols.length)))
      val target = new HPath(rootPath,
        f"${Versioned.CommitPrefix}$v%020d${Versioned.CommitSuffix}")
      try {
        val os = fs.create(target, false)
        try os.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
        committed = v
      } catch {
        case _: java.io.IOException if fs.exists(target) => // re-merge
      }
    }
    committed
  }

  /** INSERT-shaped promote (the SQL front door's INSERT INTO): write
    * `df` as a snapshot FIRST (one Spark job), learn the touched
    * partitions from the snapshot's own directory names, fold in the
    * CURRENT rows of any overlapping live partition (a second
    * append-write, only when overlap exists), then commit through the
    * same claim loop as `promote`. The reference's DELETE-day-then-
    * INSERT promote pair leaves overlap empty, so the common path is
    * exactly ONE job where read-union-promote took three (the
    * partition-discovery `distinct().collect()`, the current-partition
    * read, the write) — at a 70-statement pipeline day that is the
    * difference between O(statements) and O(3·statements) job
    * round-trips. Returns None (no commit) for an empty insert.
    * `cluster = false` writes `df` as the caller partitioned it, as in
    * `promote`. */
  def insertInto(df: DataFrame, root: String,
      partitionCol: String, bloomCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      tag: Option[String] = None, cluster: Boolean = true): Option[Long] = {
    val spark = df.sparkSession
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    // stats are deferred until AFTER the overlap fold below: the
    // sidecar is the source of truth for file skipping and metadata
    // aggregation, so it must describe the snapshot's FINAL file set —
    // a sidecar written before the appended current-rows files would
    // silently drop them from pruned reads
    val snapName = writeSnapshot(df, rootPath, partitionCol, Nil,
      cluster = cluster, clusterBy = clusterBy,
      maxRecordsPerFile = maxRecordsPerFile)
    val snapPath = new HPath(rootPath, snapName)
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))
      .map(_.getPath.getName).toSet
    if (written.isEmpty) { fs.delete(snapPath, true); return None }
    val overlap = latestManifest(spark, root)
      .map(_._2.entries.keySet.intersect(written)).getOrElse(Set.empty)
    if (overlap.nonEmpty) {
      // INSERT means union: the overlapped partitions' current rows
      // (delete sidecars and metadata-evolved defaults applied by the
      // manifest read) join the new rows inside the same snapshot dirs
      val vals = overlap.map(partitionValue)
      readPartitionsWhere(spark, root, vals.contains)
        .select(df.columns.map(c => col(s"`$c`")): _*)
        .transform(clusterForWrite(_, partitionCol))
        .write.mode("append").partitionBy(partitionCol)
        .parquet(snapPath.toString)
    }
    writeStats(spark, snapPath, snapName, df.schema, statsCols, bloomCols)
    Some(commitSnapshot(spark, fs, rootPath, root, partitionCol,
      written.map(_ -> snapName).toMap, tag))
  }

  /**
   * UPSERT by equality keys, as ONE atomic commit: the batch's rows
   * land, and existing rows sharing a batch key are gone. `insertInto`
   * with the overlap fold anti-joined against the batch's keys — the
   * current rows of overlapping partitions (minus the keyed rows) join
   * the new rows inside the same snapshot, so the commit is atomic and
   * a reader can never observe the deleted-but-not-reinserted middle.
   *
   * Why not compose `deleteKeysMor` + `insertInto` (two commits)?
   * Twice broken: the window between the commits is a VISIBLE partial
   * state, and a merge-on-read delete sidecar strikes by key equality
   * over the WHOLE partition — it would kill the replacement rows too
   * (Iceberg scopes equality deletes by sequence number to dodge this;
   * this format's one-snapshot-per-partition entries make the folded
   * rewrite the honest primitive, and `insertInto` already pays that
   * fold on every overlap, so upsert costs the same as insert).
   *
   * `keyCols` must include the partition column (a key that migrated
   * partitions would leave its old row alive in an untouched
   * partition — same contract as the CDC feed) and key values must be
   * non-null (the anti-join never matches NULL). Batch rows are
   * inserted as-is — dedup multi-version batches upstream (keep the
   * newest) or both versions land.
   *
   * Scale: O(touched partitions) read+rewrite + one commit, never
   * O(table) — the streaming upsert path for CDC ingestion
   * (`Streaming.upsertSink` adds the exactly-once epoch contract).
   */
  def upsertInto(df: DataFrame, root: String, partitionCol: String,
      keyCols: Seq[String], bloomCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      tag: Option[String] = None): Option[Long] = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(keyCols.exists(_.equalsIgnoreCase(partitionCol)),
      s"upsert keys $keyCols must include partition column " +
        s"'$partitionCol' — a key that can change partitions would " +
        "leave its old row alive in an untouched partition")
    val missing = keyCols.filterNot(k =>
      df.columns.exists(_.equalsIgnoreCase(k)))
    require(missing.isEmpty, s"upsert keys not in batch: $missing")
    val spark = df.sparkSession
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    val snapName = writeSnapshot(df, rootPath, partitionCol, Nil,
      clusterBy = clusterBy, maxRecordsPerFile = maxRecordsPerFile)
    val snapPath = new HPath(rootPath, snapName)
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))
      .map(_.getPath.getName).toSet
    if (written.isEmpty) { fs.delete(snapPath, true); return None }
    val overlap = latestManifest(spark, root)
      .map(_._2.entries.keySet.intersect(written)).getOrElse(Set.empty)
    if (overlap.nonEmpty) {
      val vals = overlap.map(partitionValue)
      // survivors: the overlapped partitions' current rows MINUS any
      // row sharing a batch key — the upsert's delete half, applied
      // inside the same snapshot the insert half wrote
      val batchKeys = df.select(keyCols.map(c => col(s"`$c`")): _*)
        .dropDuplicates()
      readPartitionsWhere(spark, root, vals.contains)
        .select(df.columns.map(c => col(s"`$c`")): _*)
        // broadcast: the build side is the batch's own keys, micro-
        // batch-sized by contract — the anti-join never shuffles the
        // partitions' current rows
        .join(org.apache.spark.sql.functions.broadcast(batchKeys),
          keyCols, "left_anti")
        .transform(clusterForWrite(_, partitionCol))
        .write.mode("append").partitionBy(partitionCol)
        .parquet(snapPath.toString)
    }
    writeStats(spark, snapPath, snapName, df.schema, statsCols, bloomCols)
    Some(commitSnapshot(spark, fs, rootPath, root, partitionCol,
      written.map(_ -> snapName).toMap, tag))
  }

  /** Read the latest committed state: one parquet scan over a
    * `ManifestFileIndex` per evolution group (normally one for the
    * whole table), partition values typed from the recorded schema. A
    * frame resolved here is pinned — later promotes do not change what
    * it scans. */
  def read(spark: SparkSession, root: String): DataFrame =
    readManifest(spark, root, manifestAt(spark, root, None))

  /** Time travel: read the table exactly as of `version`. */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    readManifest(spark, root, manifestAt(spark, root, Some(version)))

  /**
   * MANIFEST-level partition pruning: read only the live partitions
   * whose (unescaped) partition VALUE satisfies `keep` — a driver-side
   * set filter over the entry map, so the index lists only the kept
   * partition dirs and snapshots contributing no kept partition are
   * never touched. ISO date values compare correctly as strings, so
   * range keeps are plain string bounds. An empty survivor set returns
   * an empty frame with the table schema, listing nothing.
   */
  def readPartitionsWhere(spark: SparkSession, root: String,
      keep: String => Boolean, version: Option[Long] = None): DataFrame = {
    val m = manifestAt(spark, root, version)
    val kept = entriesWhere(m, keep)
    if (kept.isEmpty) readNone(spark, root, m)
    else readManifest(spark, root, m.copy(entries = kept))
  }

  /** Iceberg `FOR TIMESTAMP AS OF` for the partitioned format: resolve
    * the version current as of wall-clock `tsMs` via commit-file mtime
    * (the commit protocol — and therefore the timestamp resolution — is
    * shared with `Versioned`; see `Versioned.versionAsOf` for the
    * version-order-wins rule under clock skew). */
  def versionAsOf(spark: SparkSession, root: String, tsMs: Long): Long =
    Versioned.versionAsOf(spark, root, tsMs)

  /** Timestamp time travel: read the table as it was at `tsMs`. */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    readAt(spark, root, versionAsOf(spark, root, tsMs))

  /** Metadata-only rollback (Iceberg `rollback_to_snapshot`): the
    * commit protocol is shared with `Versioned`, and rollback copies
    * raw content, so the same append-a-past-version mechanism applies
    * verbatim to manifest commits. History stays append-only; `to`'s
    * referenced snapshots are still retained by the new head. */
  def rollbackTo(spark: SparkSession, root: String, to: Long): Long =
    Versioned.rollbackTo(spark, root, to)

  // ---- branches: write-audit-publish (Iceberg WAP) ----------------------
  //
  // Same pointer-chain model as `Versioned`'s branches (see the design
  // note there), with manifests as the pointer content: a branch forks
  // from main's current manifest at its first promote, accumulates
  // partition merges of its own, and `publish` fast-forwards main to
  // the branch manifest verbatim — metadata only, every referenced
  // snapshot dir already exists. Main promotes that land between fork
  // and publish are superseded by the publish (last-writer-wins, the
  // same rule every promote race resolves to); audits that need
  // stronger isolation should publish promptly or re-fork. At 100 TB
  // the branch costs exactly one promote's snapshot writes — the
  // publish itself moves no data.

  /** Stage a partition-merge promote on `branch` without touching main.
    * The merge base is the branch head if the branch exists, else
    * main's current manifest (the fork point). */
  def promoteToBranch(df: DataFrame, root: String, branch: String,
      partitionCol: String = "date", tag: Option[String] = None,
      cluster: Boolean = true, statsCols: Seq[String] = Nil,
      writers: Option[Int] = None): Long = {
    val spark = df.sparkSession
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    val snapName = writeSnapshot(df, rootPath, partitionCol, statsCols,
      cluster, writers = writers)
    val snapPath = new HPath(rootPath, snapName)
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))
      .map(_.getPath.getName -> snapName).toMap
    commitToBranch(spark, fs, rootPath, root, branch, partitionCol,
      written, tag)
  }

  /** The branch-head claim loop shared by `promoteToBranch` and
    * `insertIntoBranch`: merge `written` onto the branch head (or the
    * fork base — main's current manifest) and advance the branch
    * pointer, re-merging on a lost race like `commitSnapshot`.
    *
    * `foldEntries`: the fold-time view of the base entries for the
    * written partitions, when the caller FOLDED live rows into its
    * snapshot (insertIntoBranch's union semantics). A lost claim
    * re-merges the MANIFEST fine, but the folded DATA is stale if a
    * racing commit moved one of those partitions — re-committing
    * would silently drop the racing writer's rows. Detected here per
    * attempt and surfaced as the same 'concurrent commit — re-run'
    * error the main-table rewrite paths raise. Overwrite-shaped
    * callers (promoteToBranch) pass None: replacing a partition is
    * last-writer-wins by design, no fold to go stale. */
  private def commitToBranch(spark: SparkSession, fs: FileSystem,
      rootPath: HPath, root: String, branch: String, partitionCol: String,
      written: Map[String, String], tag: Option[String],
      foldEntries: Option[Map[String, String]] = None): Long = {
    val pre = Versioned.branchFilePrefix(branch)
    var committed = -1L
    while (committed < 0) {
      val head = Versioned.branchHeadRaw(fs, rootPath, branch)
      val baseM = head.map(h => parse(h._2))
        .orElse(latestManifest(spark, root).map(_._2))
      foldEntries.foreach { folded =>
        val nowVisible = baseM.map(_.entries.view.filterKeys(written.keySet)
          .toMap).getOrElse(Map.empty)
        val moved = written.keySet.filter(d =>
          nowVisible.get(d) != folded.get(d))
        if (moved.nonEmpty)
          throw new IllegalStateException(
            s"concurrent commit rewrote ${moved.toSeq.sorted.mkString(", ")} " +
              s"on branch $branch under $root while this insert's overlap " +
              "fold ran — re-run insertIntoBranch against the new state")
      }
      baseM.foreach { m =>
        require(m.partitionCol == partitionCol,
          s"table is partitioned by ${m.partitionCol}, not $partitionCol")
      }
      val base = baseM.map(_.entries).getOrElse(Map.empty)
      val prevCols = baseM.map(_.evolution).getOrElse(Nil)
      val prevDel = baseM.map(_.deletes).getOrElse(Map.empty) -- written.keys
      val prevGens = baseM.map(_.snapGens).getOrElse(Map.empty)
      val v = head.map(_._1).getOrElse(0L) + 1
      val content =
        render(Manifest(partitionCol, base ++ written, tag, prevCols, prevDel,
          prevGens ++ written.valuesIterator.map(_ -> prevCols.length)))
      val target = new HPath(rootPath, f"$pre$v%020d${Versioned.CommitSuffix}")
      try {
        val os = fs.create(target, false)
        try os.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
        committed = v
      } catch {
        case _: java.io.IOException if fs.exists(target) => // re-merge
      }
    }
    committed
  }

  /** INSERT-shaped staging write on `branch` — the WAP loop's
    * `INSERT INTO t.branch_<b> …` statement route: write `df` as a
    * snapshot FIRST (one Spark job, same shape as `insertInto`), fold
    * in the CURRENT branch-visible rows of any overlapping partition
    * (branch head if the branch has commits, else main's manifest —
    * the fork point), then advance the branch head. Main is never
    * touched. Returns None (no commit) for an empty insert. */
  def insertIntoBranch(df: DataFrame, root: String, branch: String,
      partitionCol: String = "date"): Option[Long] = {
    val spark = df.sparkSession
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    val snapName = writeSnapshot(df, rootPath, partitionCol, Nil)
    val snapPath = new HPath(rootPath, snapName)
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))
      .map(_.getPath.getName).toSet
    if (written.isEmpty) { fs.delete(snapPath, true); return None }
    val baseM = Versioned.branchHeadRaw(fs, rootPath, branch)
      .map(h => parse(h._2))
      .orElse(latestManifest(spark, root).map(_._2))
    val overlap = baseM.map(_.entries.view.filterKeys(written).toMap)
      .getOrElse(Map.empty)
    if (overlap.nonEmpty) {
      // INSERT means union: the overlapped partitions' branch-visible
      // rows (delete sidecars and evolution scoped by readManifest's
      // sub-view contract) join the new rows inside the snapshot dirs
      readManifest(spark, root, baseM.get.copy(entries = overlap))
        .select(df.columns.map(c => col(s"`$c`")): _*)
        .transform(clusterForWrite(_, partitionCol))
        .write.mode("append").partitionBy(partitionCol)
        .parquet(snapPath.toString)
    }
    Some(commitToBranch(spark, fs, rootPath, root, branch, partitionCol,
      written.map(_ -> snapName).toMap, None,
      foldEntries = Some(overlap)))
  }

  /** Fork a branch at main's CURRENT manifest — Iceberg's
    * `ALTER TABLE … CREATE BRANCH`: one pointer file whose content is
    * the current manifest verbatim. Metadata-only (zero data I/O, no
    * snapshot written); subsequent `promoteToBranch` calls advance the
    * branch head from here. Idempotent-hostile by design: an existing
    * branch is an error, not a silent re-fork. */
  def createBranch(spark: SparkSession, root: String, branch: String): Unit = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    require(Versioned.branchHeadRaw(fs, rootPath, branch).isEmpty,
      s"branch $branch already exists under $root")
    val (_, m) = latestManifest(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no commits under $root — nothing to branch from"))
    val pre = Versioned.branchFilePrefix(branch)
    val target = new HPath(rootPath, f"${pre}${1L}%020d${Versioned.CommitSuffix}")
    val os = fs.create(target, false)
    try os.write(render(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** True when `branch` has at least one commit. */
  def branchExists(spark: SparkSession, root: String,
      branch: String): Boolean = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    Versioned.branchHeadRaw(fs, rootPath, branch).isDefined
  }

  /** Live branch names with their head versions — ONE directory
    * listing (branch names contain no dashes by the pointer-file
    * grammar, so the `_branch-<name>-v<NNN>` form parses by the LAST
    * `-v`). Main is not included; it is the commit log itself. */
  def branches(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getLen > 0
        && s.getPath.getName.startsWith(Versioned.BranchPrefix)
        && s.getPath.getName.endsWith(Versioned.CommitSuffix))
      .flatMap { s =>
        val body = s.getPath.getName
          .stripPrefix(Versioned.BranchPrefix)
          .stripSuffix(Versioned.CommitSuffix)
        val cut = body.lastIndexOf(Versioned.BranchMid)
        if (cut <= 0) None
        else body.drop(cut + Versioned.BranchMid.length).toLongOption
          .map(v => body.take(cut) -> v)
      }
      .groupMapReduce(_._1)(_._2)(math.max)
      .toSeq.sortBy(_._1)
  }

  /** Audit read of the branch head's manifest (snapshot-isolated like
    * every other read here). */
  def readBranch(spark: SparkSession, root: String, branch: String): DataFrame = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val content = Versioned.branchHeadRaw(fs, rootPath, branch)
      .map(_._2).getOrElse(throw new IllegalArgumentException(
        s"no commits on branch $branch under $root"))
    readManifest(spark, root, parse(content))
  }

  /** Fast-forward main to the branch head manifest — metadata only.
    * Returns the new main version; drops the branch unless `drop = false`. */
  def publish(spark: SparkSession, root: String, branch: String,
      drop: Boolean = true): Long = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val content = Versioned.branchHeadRaw(fs, rootPath, branch)
      .map(_._2).getOrElse(throw new IllegalArgumentException(
        s"no commits on branch $branch under $root"))
    val v = claimLoop(spark, root) { latest =>
      (latest.map(_._1).getOrElse(0L) + 1, content)
    }
    if (drop) dropBranch(spark, root, branch)
    v
  }

  /** The audit-reject path (shared pointer-file layout with
    * `Versioned.dropBranch`). Staged snapshots fall to `vacuum`. */
  def dropBranch(spark: SparkSession, root: String, branch: String): Int =
    Versioned.dropBranch(spark, root, branch)

  // ── named TAGS: immutable refs into main's commit history ──

  private def tagPath(rootPath: HPath, tag: String): HPath = {
    require(tag.matches("[A-Za-z0-9_.]+"),
      s"tag name must match [A-Za-z0-9_.]+ (no dashes): $tag")
    new HPath(rootPath, s"${Versioned.TagPrefix}$tag${Versioned.TagSuffix}")
  }

  /** Create (or with `replace` move) a named tag pointing at `version`
    * (default: the current head). The version must exist NOW — a tag
    * to a never-committed or already-vacuumed version would dangle
    * silently forever. Returns the tagged version. */
  def createTag(spark: SparkSession, root: String, tag: String,
      version: Option[Long] = None, replace: Boolean = false): Long = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val v = version.getOrElse(currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no commits under $root — nothing to tag")))
    Versioned.rawAt(fs, rootPath, v) // throws if the version is gone
    val p = tagPath(rootPath, tag)
    require(replace || !fs.exists(p),
      s"tag $tag already exists under $root (use CREATE OR REPLACE)")
    val os = fs.create(p, replace)
    try os.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    v
  }

  /** Drop a tag; missing tags fail loudly (a typo'd cleanup must not
    * no-op while the real ref pins retention). */
  def dropTag(spark: SparkSession, root: String, tag: String): Unit = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val p = tagPath(rootPath, tag)
    require(fs.exists(p), s"no such tag $tag under $root")
    fs.delete(p, false)
    ()
  }

  /** The version a tag references, if the tag exists. */
  def tagVersion(spark: SparkSession, root: String,
      tag: String): Option[Long] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val p = tagPath(rootPath, tag)
    if (!fs.exists(p)) None
    else new String(readFully(fs, p),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
  }

  /** Live tags with their versions — one directory listing. */
  def tags(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getLen > 0
        && s.getPath.getName.startsWith(Versioned.TagPrefix)
        && s.getPath.getName.endsWith(Versioned.TagSuffix))
      .flatMap { s =>
        val name = s.getPath.getName
          .stripPrefix(Versioned.TagPrefix)
          .stripSuffix(Versioned.TagSuffix)
        new String(readFully(fs, s.getPath),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
          .map(name -> _)
      }
      .sortBy(_._1)
  }

  private def readFully(fs: FileSystem, p: HPath): Array[Byte] = {
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** (snapshot dirs, delete sidecars) referenced by ANY branch pointer
    * manifest — the partitioned vacuum's branch keep-sets (all branch
    * versions, not just heads: an in-flight audit may still hold an
    * older branch read). */
  private def branchReferencedDirs(fs: FileSystem,
      rootPath: HPath): (Set[String], Set[String]) = {
    if (!fs.exists(rootPath)) return (Set.empty, Set.empty)
    val ms = fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getLen > 0
        && s.getPath.getName.startsWith(Versioned.BranchPrefix)
        && s.getPath.getName.endsWith(Versioned.CommitSuffix))
      .flatMap { s =>
        try Some(parse(Versioned.readCommit(fs, s.getPath)))
        catch {
          case _: java.io.FileNotFoundException => None
          case _: IllegalArgumentException => None
        }
      }
    (ms.flatMap(_.entries.values).toSet,
      ms.flatMap(_.deletes.values.flatten).toSet)
  }

  private def manifestAt(spark: SparkSession, root: String,
      version: Option[Long]): Manifest = {
    // one commit-file read per resolution, regardless of history length
    version match {
      case None => latestManifest(spark, root).map(_._2).getOrElse(
        throw new IllegalArgumentException(s"no committed version under $root"))
      case Some(n) =>
        val (fs, rootPath) = Versioned.fsOf(spark, root)
        parse(Versioned.rawAt(fs, rootPath, n)._2)
    }
  }

  /** Fill metadata-evolved columns a snapshot's files predate: each
    * (name, default) applies only when the frame lacks the column
    * physically. Applied per evolution group BEFORE the union, because
    * snapshots written before and after an evolution differ in
    * physical schema.
    *
    * Destructive rules (DROP / RENAME) are scoped by the group's
    * schema generation `gen`: a rule whose index is below `gen` was
    * already in effect when the snapshot was written, so its physical
    * schema reflects it — replaying it would destroy REAL data (DROP c
    * → ADD c: a later promote's genuine c values would be dropped and
    * refilled with the ADD default; re-adding a renamed-away name
    * would clobber it again). Snapshots from manifests predating the
    * gen block parse to gen 0 — full replay, the pre-scoping behavior.
    * AddCol/WidenCol stay gen-unscoped: their contains-column guards
    * make replay idempotent, and they keep filling defaults for
    * post-evolution promotes that omitted the column. */
  private def applyAddedCols(df: DataFrame, m: Manifest,
      gen: Int): DataFrame =
    m.evolution.zipWithIndex.foldLeft(df) {
      case (d, (AddCol(n, default), _)) =>
        if (d.columns.contains(n)) d
        else d.withColumn(n, org.apache.spark.sql.functions.expr(default))
      case (d, (DropCol(n), i)) =>
        if (i < gen) d else d.drop(n)
      case (d, (RenameCol(o, n), i)) =>
        if (i < gen) d
        else if (d.columns.contains(o)) d.withColumnRenamed(o, n)
        else d
      case (d, (WidenCol(n, t), _)) =>
        // cast is a no-op on frames (post-widening snapshots) already
        // carrying the wide type
        if (d.columns.contains(n))
          d.withColumn(n, d(n).cast(
            org.apache.spark.sql.types.DataType.fromDDL(t)))
        else d
    }

  /** Read manifest `m`'s entries: one `ManifestFileIndex` scan per
    * evolution group, each with its evolution rules replayed, unioned
    * by name, then the merge-on-read deletes. Only the `_schema` of
    * each referenced snapshot is read here; partition dirs are listed
    * when the plan first needs files or sizes. */
  private[ops] def readManifest(spark: SparkSession, root: String,
      m: Manifest): DataFrame = {
    require(m.entries.nonEmpty,
      s"manifest under $root has no live partitions (schema unknowable)")
    readIndexes(spark, root, m, ManifestFileIndex.groups(spark, root, m))
  }

  private def readIndexes(spark: SparkSession, root: String, m: Manifest,
      indexes: Seq[ManifestFileIndex]): DataFrame =
    applyMorDeletes(spark, new HPath(root), m,
      indexes.flatMap(_.entries.keys).toSet,
      indexes.map(ix => applyAddedCols(ix.frame, m, ix.gen))
        .reduce(_.unionByName(_)))

  /** The empty read of `m`: its first snapshot's group narrowed to no
    * partition — the table schema (in the column order a full read
    * has), no rows, no listing — under a false filter, so the optimizer
    * plans it as the empty relation it is. */
  private def readNone(spark: SparkSession, root: String,
      m: Manifest): DataFrame = {
    require(m.entries.nonEmpty,
      s"manifest under $root has no live partitions (schema unknowable)")
    val first = m.entries.values.min
    readIndexes(spark, root, m, ManifestFileIndex.groups(spark, root,
      m.copy(entries = m.entries.filter(_._2 == first)))
      .map(_.narrowed(_ => false)))
      .where(org.apache.spark.sql.functions.lit(false))
  }

  /** Merge-on-read delete resolution shared by the full manifest read
    * and the file-pruned read: anti-join `out` against the referenced
    * key sidecars, each scoped to the partitions IN `entryDirs` that
    * still reference it (an overwritten partition dropped its refs, so
    * its NEW rows must not anti-join old keys even when the sidecar
    * survives for other partitions). Sidecar schema = partitionCol +
    * key columns — the join keys, read from the file, not the
    * manifest. Sub-views (pruned/incremental reads) pass their
    * restricted dir set; scoping deletes to it keeps them consistent
    * automatically. */
  private def applyMorDeletes(spark: SparkSession, rootPath: HPath,
      m: Manifest, entryDirs: Set[String], out: DataFrame): DataFrame = {
    val scoped = m.deletes.view.filterKeys(entryDirs.contains).toMap
    if (scoped.isEmpty) out
    else {
      import org.apache.spark.sql.functions.col
      val byDel = scoped.toSeq
        .flatMap { case (p, ds) => ds.map(_ -> partitionValue(p)) }
        .groupMap(_._1)(_._2)
      val keys = byDel.toSeq.sortBy(_._1).map { case (d, parts) =>
        Versioned.readDir(spark, new HPath(rootPath, d).toString)
          .where(col(m.partitionCol).cast("string")
            .isin(parts.distinct: _*))
      }.reduce(_.unionByName(_)).dropDuplicates()
      out.join(keys, keys.columns.toSeq, "left_anti")
    }
  }

  /**
   * Surviving data files for a range predicate `colName ∈ [lo, hi]`,
   * as (snapshot dir, partition-relative file path) pairs — the
   * manifest-planning step of a pruned read, exposed for scanned-file
   * assertions. Per referenced snapshot: files of UNREFERENCED
   * partitions (superseded by a later promote) are dropped first via
   * the manifest, then each snapshot's own `_stats` table (written by
   * `promote(statsCols = …)` together with the data) eliminates files
   * whose min/max range provably cannot intersect [lo, hi]. A snapshot
   * promoted without stats keeps all its referenced files,
   * conservatively — mixed histories stay correct, older snapshots
   * simply prune less.
   */
  def prunedFiles(spark: SparkSession, root: String, colName: String,
      lo: Any, hi: Any, version: Option[Long] = None): Seq[(String, String)] =
    prunedFilesWhere(spark, root, Seq((colName, Some(lo), Some(hi))),
      version = version)

  /**
   * Generalized file-planning step: `bounds` is a CONJUNCTION of
   * per-column ranges `(col, lo?, hi?)` (either side may be open) and
   * `keep` a partition-value filter applied at the manifest BEFORE any
   * sidecar is read — partition pruning and multi-column file skipping
   * composed in one metadata pass, the planning shape a z-ordered
   * table wants (one skip condition per z dimension). Per referenced
   * snapshot, each bound applies only when THAT snapshot's sidecar
   * carries the column's `min_`/`max_` stats; a missing column or a
   * stats-less snapshot degrades that bound to keep-all for the
   * snapshot — mixed histories stay correct, older snapshots just
   * prune less. With `bounds = Nil` this is a pure file CENSUS of the
   * kept partitions (the denominator a caller compares against to
   * decide whether skipping narrowed anything).
   */
  def prunedFilesWhere(spark: SparkSession, root: String,
      bounds: Seq[(String, Option[Any], Option[Any])],
      keep: String => Boolean = _ => true,
      version: Option[Long] = None,
      points: Seq[(String, Seq[Any])] = Nil): Seq[(String, String)] =
    filesWhere(spark, root, entriesWhere(manifestAt(spark, root, version),
      keep), bounds, points)

  /** `m`'s entries whose unescaped partition VALUE passes `keep`. */
  private def entriesWhere(m: Manifest,
      keep: String => Boolean): Map[String, String] =
    m.entries.filter(e => keep(partitionValue(e._1)))

  /** `prunedFilesWhere` over already-kept manifest `entries`. */
  private[ops] def filesWhere(spark: SparkSession, root: String,
      entries: Map[String, String],
      bounds: Seq[(String, Option[Any], Option[Any])],
      points: Seq[(String, Seq[Any])]): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.{lit, substring_index}
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    entries.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (snap, parts) =>
      val partDirs = parts.keys.toSeq
      val snapPath = new HPath(rootPath, snap)
      val statsPath = new HPath(snapPath, Versioned.StatsDirName)
      val sidecar =
        if (fs.exists(statsPath))
          Some(Versioned.readDir(spark, statsPath.toString)) else None
      // only the bounds THIS snapshot's sidecar covers may skip
      val usable = sidecar.map(st => bounds.filter { case (c, lo, hi) =>
        (lo.isDefined || hi.isDefined) &&
          st.columns.contains(s"min_$c") && st.columns.contains(s"max_$c")
      }).getOrElse(Nil)
      // equality/IN probes against this snapshot's per-file BLOOMs —
      // the point-lookup case min/max cannot discriminate (a scattered
      // high-cardinality id overlaps every file's range). The sidecar
      // is metadata-sized (one row per file), so probing happens
      // DRIVER-side over the public sketch API: each candidate value
      // hashes through the SAME XxHash64 the build aggregate used,
      // evaluated on the value cast to the column's STORED type (read
      // off the sidecar's own min_<c> field — a decimal probed at the
      // wrong scale would hash differently and wrongly skip). A value
      // that cannot convert to the stored type degrades that column's
      // probe to keep-all; no false negatives anywhere, so skipping
      // never loses rows.
      val usablePts = sidecar.map(st => points.filter { case (c, vs) =>
        vs.nonEmpty && st.columns.contains(s"bloom_$c") &&
          st.columns.contains(s"min_$c")
      }).getOrElse(Nil)
      if (usable.isEmpty && usablePts.isEmpty) {
        // no applicable stats — every file of every kept partition
        // survives (a plain listing, no sidecar read)
        partDirs.sorted.flatMap { p =>
          fs.listStatus(new HPath(snapPath, p)).toSeq
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
              && !s.getPath.getName.startsWith("."))
            .map(s => snap -> s"$p/${s.getPath.getName}")
        }
      } else {
        val st = sidecar.get
        val rangeCond = usable.map { case (c, lo, hi) =>
          val miss = lo.map(l => col(s"max_$c") < lit(l))
            .getOrElse(lit(false)) ||
            hi.map(h => col(s"min_$c") > lit(h)).getOrElse(lit(false))
          col(s"min_$c").isNull || col(s"max_$c").isNull || !miss
        }
        val ranged = st.where(substring_index(col("__file"), "/", 1)
            .isin(partDirs: _*))
          .where(rangeCond.foldLeft(lit(true))(_ && _))
        // the range-surviving file NAMES first — metadata-sized, no
        // bloom blob rides this pass
        val files = ranged.select(col("__file")).collect()
          .map(_.getString(0))
        // PLANNING BUDGET for the point probes: each candidate file's
        // bloom blob (~1 MB at default sizing) would be collected to
        // the driver — bounded fan-outs are fine, but a hot partition
        // with thousands of files is real driver memory. Beyond the
        // budget the point columns degrade to min/max-only for this
        // statement: never wrong, just less skipping.
        val bloomBudget = spark.conf
          .getOption("spark.graft.bloom.maxProbeFiles")
          .map(_.toInt).getOrElse(1024)
        if (usablePts.isEmpty || files.length > bloomBudget)
          files.toSeq.sorted.map(snap -> _)
        else {
          // driver-side XxHash64 of each probe value in the stored
          // type; None = unconvertible value → this column cannot skip
          val probeHashes: Seq[Option[Seq[Long]]] = usablePts.map {
            case (c, vs) =>
              val dt = st.schema(st.schema.fieldIndex(s"min_$c")).dataType
              try Some(vs.map { v =>
                // seed 42 = the `xxhash64(...)` SQL default the build
                // aggregate hashed with
                new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
                  org.apache.spark.sql.catalyst.expressions.Literal
                    .create(v, dt))).eval(null).asInstanceOf[Long]
              }) catch { case scala.util.control.NonFatal(_) => None }
          }
          val rows = ranged
            .select((col("__file") +: usablePts.map { case (c, _) =>
              col(s"bloom_$c") }): _*)
            .collect()
          rows.filter { r =>
            probeHashes.zipWithIndex.forall { case (hs, i) =>
              hs.isEmpty || r.isNullAt(i + 1) || {
                val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(
                    r.getAs[Array[Byte]](i + 1)))
                hs.get.exists(bf.mightContainLong)
              }
            }
          }.map(r => snap -> r.getString(0)).toSeq.sortBy(_._2)
        }
      }
    }
  }

  /** Columns with `[min,max]` coverage in at least one referenced
    * snapshot's stats sidecar — a footer-read census (one schema read
    * per referenced snapshot, zero data I/O) the SQL door uses to
    * decide whether file-level skipping is worth planning for a
    * statement's bounds. */
  def statsCoveredCols(spark: SparkSession, root: String,
      version: Option[Long] = None): Set[String] =
    coveredCols(spark, root, manifestAt(spark, root, version).entries, "min_")

  /** Columns with a `bloom_` sidecar filter in at least one referenced
    * snapshot — the SQL door's census for deciding whether an
    * equality/IN conjunct is worth a bloom-probed file skip. */
  def bloomCoveredCols(spark: SparkSession, root: String,
      version: Option[Long] = None): Set[String] =
    coveredCols(spark, root, manifestAt(spark, root, version).entries,
      "bloom_")

  private[ops] def coveredCols(spark: SparkSession, root: String,
      entries: Map[String, String], prefix: String): Set[String] = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    entries.values.toSet[String].flatMap { snap =>
      val statsPath = new HPath(new HPath(rootPath, snap),
        Versioned.StatsDirName)
      if (!fs.exists(statsPath)) Set.empty[String]
      else Versioned.readDir(spark, statsPath.toString).schema.fieldNames
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSet
    }
  }

  /** One aggregate a metadata-only fold must produce: `func` ∈
    * {count_star, count, min, max, sum}, `column` the stored column
    * (None for count_star), `outName`/`outType` the exact output
    * column the caller's plan expects (count → LongType, min/max →
    * the column's type, sum → Spark's sum result type). */
  final case class StatsAggSpec(func: String, column: Option[String],
      outName: String, outType: org.apache.spark.sql.types.DataType)

  /**
   * METADATA-ONLY aggregation — Iceberg's "answer COUNT/MIN/MAX from
   * manifests" move for the sidecar format: fold the per-file `_stats`
   * rows (`__rows`, `min_/max_/cnt_/sum_<c>`) of the live (kept)
   * partitions instead of scanning data. O(files) metadata I/O — at
   * 100 TB the difference between a sub-second planning-sized job and
   * a full-table scan for `SELECT count(*) FROM fact WHERE date …`.
   *
   * Returns None — caller falls back to the real scan — whenever the
   * fold could NOT be exactly the scan's answer:
   *   - any kept partition has merge-on-read delete sidecars pending
   *     (file stats predate the deletes);
   *   - `partKeep` reports a partition value undecidable;
   *   - schema-evolution rules would replay over any kept snapshot and
   *     a column aggregate is requested (defaults/renames make stored
   *     stats unrepresentative; count_star and partition grouping are
   *     immune — row counts and dir names never evolve);
   *   - any kept snapshot lacks a sidecar, or its sidecar lacks a
   *     required stat column (older writes, renamed columns);
   *   - a grouped fold meets a partition dir value that does not parse
   *     in the group column's type.
   * A `None` is always safe: the caller's scan path produces the same
   * answer, just at data cost. A `Some` is always exact, never an
   * estimate.
   *
   * `partKeep`: (unescaped partition VALUE, owning snapshot) →
   * Some(keep) / None = undecidable (bail). Outer None = keep all.
   * `groupBy`: produce one row per kept partition value instead of a
   * global fold — (output name, partition column's data type).
   */
  def aggregateFromStats(spark: SparkSession, root: String,
      aggs: Seq[StatsAggSpec],
      partKeep: Option[(String, String) => Option[Boolean]] = None,
      groupBy: Option[(String, org.apache.spark.sql.types.DataType)] = None,
      version: Option[Long] = None): Option[DataFrame] =
    aggregateFromStats(spark, root, manifestAt(spark, root, version), aggs,
      partKeep, groupBy)

  /** `aggregateFromStats` over an already-resolved manifest (the one a
    * plan's `ManifestFileIndex` read). */
  private[ops] def aggregateFromStats(spark: SparkSession, root: String,
      m: Manifest, aggs: Seq[StatsAggSpec],
      partKeep: Option[(String, String) => Option[Boolean]],
      groupBy: Option[(String, org.apache.spark.sql.types.DataType)])
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, lit, substring_index, sum => fsum, min => fmin, max => fmax}
    import org.apache.spark.sql.types.LongType
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    // 1. kept entries (bail on any undecidable partition)
    val keptDecisions = m.entries.toSeq.map { case (dir, snap) =>
      partKeep.map(f => f(partitionValue(dir), snap)).getOrElse(Some(true))
        .map(k => (dir, snap, k))
    }
    if (keptDecisions.exists(_.isEmpty)) return None
    val kept = keptDecisions.flatten.filter(_._3)
      .map { case (d, s, _) => d -> s }
    // 2. pending MoR deletes on a kept partition → stats predate them
    if (m.deletes.keySet.exists(kept.iterator.map(_._1).toSet)) return None
    // 3. evolution rules that would replay over a kept snapshot make
    // stored column stats unrepresentative; row counts stay exact
    val colAggs = aggs.exists(a => a.column.isDefined &&
      a.func != "count_distinct_part")
    if (colAggs && m.evolution.nonEmpty &&
        !kept.iterator.map(_._2).toSet.forall(s =>
          m.snapGens.getOrElse(s, 0) == m.evolution.length)) return None
    // count(DISTINCT <partition col>) is a pure manifest fact: one
    // value per kept dir, the null partition excluded (Spark's
    // count-distinct ignores nulls). No sidecar involved.
    val distinctParts: Long = kept.iterator.map(_._1)
      .filterNot(_.endsWith("__HIVE_DEFAULT_PARTITION__")).size.toLong
    // SELECT DISTINCT <partition col> (a grouped fold with NO
    // aggregates) lists the kept dirs' typed values — zero I/O of any
    // kind, not even sidecars; handled after the dir-value parse below
    // 4. required sidecar columns per agg
    val needCols: Seq[String] = aggs.flatMap { a =>
      (a.func, a.column) match {
        case ("count_star", _) => Nil
        case ("count_distinct_part", _) => Nil
        case ("count", Some(c)) => Seq(s"cnt_$c")
        case ("min", Some(c)) => Seq(s"min_$c")
        case ("max", Some(c)) => Seq(s"max_$c")
        case ("sum", Some(c)) => Seq(s"sum_$c")
        case _ => return None
      }
    }
    // canonical per-file frame: __part, __rows, and each needed stat
    // cast to its fold type (a widened column's older sidecars fold in
    // the current type — min/max/sum are preserved by lossless casts)
    def foldType(a: StatsAggSpec): org.apache.spark.sql.types.DataType =
      a.func match {
        case "count_star" | "count" => LongType
        case _ => a.outType
      }
    val statCols: Seq[(String, org.apache.spark.sql.Column)] = aggs.flatMap {
      a => a.func match {
        case "count_star" | "count_distinct_part" => None
        case f => a.column.map { c =>
          val src = f match {
            case "count" => s"cnt_$c"; case "min" => s"min_$c"
            case "max" => s"max_$c"; case "sum" => s"sum_$c"
          }
          s"${f}__$c" -> col(s"`$src`").cast(foldType(a))
        }
      }
    }.distinctBy(_._1)
    // grouped count(DISTINCT partition) is a degenerate constant-1
    // query nobody writes — not worth a fold rule
    if (groupBy.isDefined && aggs.exists(_.func == "count_distinct_part"))
      return None
    // group values come from the partition DIR NAMES, typed with the
    // TRY-cast `plainKeepFor` uses — identity partitioning guarantees
    // the stored column equals its dir value, so an unparseable dir
    // (not the null partition) means the fold cannot reproduce the
    // scan's group key: bail
    def dirVals(gType: org.apache.spark.sql.types.DataType):
        Option[Seq[(String, Any)]] = Some(kept.map(_._1).distinct.map {
      dir =>
        val v = partitionValue(dir)
        if (dir.endsWith("__HIVE_DEFAULT_PARTITION__")) dir -> null
        else {
          val parsed = org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal.create(
              org.apache.spark.unsafe.types.UTF8String.fromString(v),
              org.apache.spark.sql.types.StringType), gType,
            Some(java.time.ZoneOffset.UTC.getId),
            org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
            .eval()
          if (parsed == null) return None
          // eval() yields Catalyst-internal values (UTF8String, day
          // ints); Row building needs the external representation
          dir -> org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(parsed, gType)
        }
    })
    def lookupDf(gName: String,
        gType: org.apache.spark.sql.types.DataType,
        vals: Seq[(String, Any)]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          vals.map { case (d, v) => org.apache.spark.sql.Row(d, v) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__part",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField(gName, gType))))
    // pure-manifest answers that need no sidecar at all:
    //   SELECT DISTINCT <partition>  — the kept dirs' typed values
    //   SELECT count(DISTINCT <partition>)  — the kept dir count
    (aggs, groupBy) match {
      case (Seq(), Some((gName, gType))) =>
        return dirVals(gType).map(vs =>
          lookupDf(gName, gType, vs).select(col(s"`$gName`")))
      case (as, None) if as.nonEmpty &&
          as.forall(_.func == "count_distinct_part") =>
        return Some(spark.range(1).select(
          as.map(a => lit(distinctParts).as(a.outName)): _*))
      case _ if aggs.isEmpty => return None
      case _ =>
    }
    val frames = kept.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (snap, dirs) =>
        val statsPath = new HPath(new HPath(rootPath, snap),
          Versioned.StatsDirName)
        if (!fs.exists(statsPath)) return None
        val st = Versioned.readDir(spark, statsPath.toString)
        if (!needCols.forall(st.columns.contains) ||
          !st.columns.contains("__rows")) return None
        st.where(substring_index(col("__file"), "/", 1)
            .isin(dirs.map(_._1): _*))
          .select(substring_index(col("__file"), "/", 1).as("__part") +:
            col("__rows").cast(LongType).as("__rows") +:
            statCols.map { case (n, c) => c.as(n) }: _*)
    }
    val foldExprs = aggs.map { a =>
      lazy val c = a.column.map(cn => col(s"`${a.func}__$cn`"))
      (a.func match {
        case "count_star" => coalesce(fsum(col("__rows")), lit(0L))
        case "count" => coalesce(fsum(c.get), lit(0L))
        case "min" => fmin(c.get)
        case "max" => fmax(c.get)
        case "sum" => fsum(c.get).cast(a.outType)
        // mixed with sidecar aggs: the constant rides the same fold
        case "count_distinct_part" => fmin(lit(distinctParts))
      }).as(a.outName)
    }
    groupBy match {
      case None =>
        if (kept.isEmpty) {
          // Spark's global aggregate over zero rows: count 0, others null
          val zeros = aggs.map { a =>
            (a.func match {
              case "count_star" | "count" | "count_distinct_part" =>
                lit(0L)
              case _ => lit(null).cast(a.outType)
            }).as(a.outName)
          }
          Some(spark.range(1).select(zeros: _*))
        } else Some(frames.reduce(_.unionByName(_)).agg(
          foldExprs.head, foldExprs.tail: _*))
      case Some((gName, gType)) =>
        if (kept.isEmpty)
          Some(spark.range(0).select(lit(null).cast(gType).as(gName) +:
            aggs.map(a => lit(null).cast(a.outType).as(a.outName)): _*))
        else dirVals(gType).map { vs =>
          frames.reduce(_.unionByName(_))
            .join(broadcast(lookupDf(gName, gType, vs)), Seq("__part"))
            .groupBy(col(s"`$gName`"))
            .agg(foldExprs.head, foldExprs.tail: _*)
        }
    }
  }

  /**
   * Range-predicate read over the manifest that scans only the files
   * `prunedFiles` keeps — partition-level pruning (the manifest drops
   * superseded partition dirs for free) composed with Iceberg-style
   * file skipping on committed min/max stats, upstream of parquet
   * row-group pruning. The file list is a metadata-sized driver fetch.
   * Like `Versioned.readPruned`, surviving files still carry their
   * non-matching rows; callers apply the real predicate on top (Spark
   * pushes it into the parquet scan as usual).
   */
  def readPruned(spark: SparkSession, root: String, colName: String,
      lo: Any, hi: Any, version: Option[Long] = None): DataFrame =
    readPrunedWhere(spark, root, Seq((colName, Some(lo), Some(hi))),
      version = version)

  /** The generalized pruned read: `prunedFilesWhere`'s partition keep
    * + multi-column file skip, materialized as a scan of exactly the
    * surviving files (each group's index narrowed to them). Shares
    * `readPruned`'s contract (surviving files still carry non-matching
    * rows; callers apply the real predicate on top). Merge-on-read
    * deletes apply to the pruned view too — a key deleted via sidecar
    * must not resurface because its file survived stats pruning —
    * scoped to the kept partitions, as in the full read. */
  def readPrunedWhere(spark: SparkSession, root: String,
      bounds: Seq[(String, Option[Any], Option[Any])],
      keep: String => Boolean = _ => true,
      version: Option[Long] = None,
      points: Seq[(String, Seq[Any])] = Nil): DataFrame = {
    val m = manifestAt(spark, root, version)
    val kept = filesWhere(spark, root, entriesWhere(m, keep), bounds, points)
    if (kept.isEmpty) return readNone(spark, root, m)
    val dirs = kept.map(_._2.takeWhile(_ != '/')).toSet
    val files = kept.map { case (snap, f) => s"$snap/$f" }.toSet
    readIndexes(spark, root, m, ManifestFileIndex.groups(spark, root,
      m.copy(entries = m.entries.filter(e => dirs(e._1))))
      .map(_.narrowed(_ => true, Some(files))))
  }

  /**
   * Iceberg's `partitions` metadata table: per-partition row count and
   * min/max of `colName`, answered from the per-snapshot `_stats`
   * sidecars alone — for a table whose referenced snapshots all carry
   * row-count stats, ZERO data I/O: planning reads one metadata-sized
   * sidecar per referenced snapshot, so `count(*)`-per-partition on a
   * 100 TB table costs what listing its manifest costs. A referenced
   * snapshot committed without stats (or with pre-row-count stats)
   * degrades gracefully: ONLY that snapshot's referenced partitions
   * are read from data, never the table — mixed histories stay exact,
   * older snapshots just pay more. Superseded files are excluded by
   * the same manifest filter as every read, and an inherited partition
   * answers from the sidecar of the snapshot that wrote it.
   *
   * Output: (`<partitionCol>` in partition-path string form, `n_rows`,
   * `min_<colName>`, `max_<colName>`). min/max ignore NULLs (the
   * standard SQL aggregate contract the sidecar was built with).
   */
  def partitionStats(spark: SparkSession, root: String, colName: String,
      version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min, substring_index, sum}
    val m = manifestAt(spark, root, version)
    require(m.entries.nonEmpty,
      s"manifest under $root has no live partitions (schema unknowable)")
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val dirExpr = substring_index(col("__file"), "/", 1)
    val sidecars = m.entries.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (snap, parts) =>
        val statsPath = new HPath(new HPath(rootPath, snap),
          Versioned.StatsDirName)
        parts -> (if (fs.exists(statsPath))
             Some(Versioned.readDir(spark, statsPath.toString)) else None)
          .filter(st => Seq("__rows", s"min_$colName", s"max_$colName")
            .forall(st.columns.contains))
    }
    // metadata path: dir name → UNESCAPED partition value, via a
    // literal map (metadata-sized), so values Spark URL-escapes in dir
    // names (e.g. ':') come out identical to the fallback path's raw
    // column cast
    val fromSidecars = sidecars.collect { case (parts, Some(st)) =>
      val partDirs = parts.keys.toSeq
      val valueOf = org.apache.spark.sql.functions.typedLit(
        partDirs.map(p => p -> partitionValue(p)).toMap)
      st.where(dirExpr.isin(partDirs: _*))
        .groupBy(org.apache.spark.sql.functions
          .element_at(valueOf, dirExpr).as(m.partitionCol))
        .agg(sum(col("__rows")).as("n_rows"),
          min(col(s"min_$colName")).as(s"min_$colName"),
          max(col(s"max_$colName")).as(s"max_$colName"))
    }
    // conservative path: ONE scan per evolution group over only the
    // partitions of stats-less (or pre-row-count) snapshots
    val uncovered = sidecars.collect { case (parts, None) => parts }
      .flatten.toMap
    val fromData =
      if (uncovered.isEmpty) None
      else Some(ManifestFileIndex.groups(spark, root,
          m.copy(entries = uncovered))
        .map(ix => applyAddedCols(ix.frame, m, ix.gen))
        .reduce(_.unionByName(_))
        .groupBy(col(m.partitionCol).cast("string").as(m.partitionCol))
        .agg(count(lit(1)).as("n_rows"),
          min(col(colName)).as(s"min_$colName"),
          max(col(colName)).as(s"max_$colName")))
    val frames = fromSidecars ++ fromData
    // each partition comes from exactly one of the frames; the final
    // fold is metadata-sized and only normalizes the union
    frames.reduce(_.unionByName(_))
      .groupBy(col(m.partitionCol))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col(s"min_$colName")).as(s"min_$colName"),
        max(col(s"max_$colName")).as(s"max_$colName"))
  }

  /**
   * Incremental scan: the partitions whose snapshot assignment changed
   * after `fromVersion` (exclusive) up to `toVersion` (inclusive;
   * latest if None) — new partitions and rewritten ones, read in their
   * `toVersion` state. This is how a downstream job consumes a
   * versioned fact table incrementally: a daily backfill of 3
   * partitions makes the next run read exactly those 3, never the
   * whole table (Iceberg's incremental-append scan at manifest grain).
   * Partitions DELETED between the versions have nothing to read and
   * are simply absent; a partition rewritten several times in the
   * window appears once, in its final state. Returns an empty frame
   * (with the table's schema) when nothing changed.
   */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val mTo = manifestAt(spark, root, toVersion)
    val mFrom: Map[String, String] =
      if (fromVersion <= 0) Map.empty
      else manifestAt(spark, root, Some(fromVersion)).entries
    val changed = mTo.entries.filter { case (p, snap) =>
      !mFrom.get(p).contains(snap)
    }
    if (changed.isEmpty) readNone(spark, root, mTo)
    else
      readManifest(spark, root,
        Manifest(mTo.partitionCol, changed, mTo.tag, mTo.evolution,
          mTo.deletes, mTo.snapGens))
  }

  /**
   * Row-level change data feed between two versions — Delta's
   * `table_changes` / Iceberg's CDC view, computed on demand at
   * partition grain rather than logged at write time: the manifest
   * diff names the partitions whose snapshot assignment changed
   * (added, rewritten, or dropped), BOTH versions of only those
   * partitions are read, and `Diff.snapshotDiff` classifies every key
   * as insert / delete / update (unchanged keys inside a rewritten
   * partition are dropped). Output = `keys` + `change_type`; a
   * full-row feed is one change-sized join back to `readAt`.
   *
   * Scale: cost is O(changed partitions), never O(table) — a daily
   * backfill touching 3 of 10⁴ partitions reads 3 partitions twice
   * and runs one change-partition-sized full-outer join
   * (`Diff.snapshotDiff`'s single-struct `<=>` compare); untouched
   * partitions are never listed, read, or shuffled. No write-side
   * change log means promotes stay O(changed partitions) too — the
   * trade is CDC read cost proportional to the rewritten partitions'
   * row count, the right side of the trade when rewrites are
   * partition-shaped (the reference's daily DELETE+INSERT exchange,
   * `dags/dag.py:292-311`).
   *
   * Both sides are read through the `toVersion` manifest's added-column
   * view, so a metadata-only `evolveAddColumnMetaOnly` between the two
   * versions presents the latest schema on both sides (Delta CDF's
   * latest-schema convention) instead of a column-mismatch failure.
   */
  def readRowChanges(spark: SparkSession, root: String, keys: Seq[String],
      fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val mTo = manifestAt(spark, root, toVersion)
    require(keys.contains(mTo.partitionCol),
      s"CDC keys $keys must include partition column '${mTo.partitionCol}' — " +
        "a key that can change partitions would classify the move as a " +
        "phantom delete in one partition and insert in another")
    val (oldSide, newSide) = changedSides(spark, root, fromVersion, toVersion)
    Diff.snapshotDiff(oldSide, newSide, keys)
  }

  /**
   * The rows of exactly the partitions a version window touched, BEFORE
   * and AFTER — the partition-grained change feed `readRowChanges`
   * classifies row-by-row and `IncrementalAgg.maintain` consumes as
   * whole sides (delta view maintenance needs the rows, not the
   * classification). Untouched partitions appear on neither side; a
   * side with no touched partitions is an empty frame with the table
   * schema. Scan cost is O(touched partitions), never the table.
   */
  def changedSides(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Option[Long] = None): (DataFrame, DataFrame) = {
    val mTo = manifestAt(spark, root, toVersion)
    val mFrom: Option[Manifest] =
      if (fromVersion <= 0) None
      else Some(manifestAt(spark, root, Some(fromVersion)))
    val fromEntries = mFrom.map(_.entries).getOrElse(Map.empty)
    val fromDeletes = mFrom.map(_.deletes).getOrElse(Map.empty)
    // a partition is "touched" when its snapshot entry OR its
    // merge-on-read delete set moved — a delete-only commit rewrites
    // no files, but its partitions' live rows still changed, and a
    // delta consumer that missed them would silently drift
    val changed = (fromEntries.keySet ++ mTo.entries.keySet)
      .filter(p => fromEntries.get(p) != mTo.entries.get(p) ||
        fromDeletes.get(p) != mTo.deletes.get(p))
    // each side reads with ITS OWN manifest's DELETE sidecars: the old
    // side must show row membership as it was AT fromVersion —
    // applying the new window's deletes to it would make a deleted row
    // vanish from both sides and the delta lose it. Schema view
    // (evolution rules, snapshot gens) stays aligned to the NEW
    // manifest on both sides — the established CDC contract: old rows
    // are presented in the current schema.
    def side(entries: Map[String, String],
        deletes: Map[String, Seq[String]]): Option[DataFrame] = {
      val kept = entries.filter { case (p, _) => changed(p) }
      if (kept.isEmpty) None
      else Some(readManifest(spark, root,
        Manifest(mTo.partitionCol, kept, None, mTo.evolution,
          deletes, mTo.snapGens)))
    }
    val (oldSide, newSide) =
      (side(fromEntries, fromDeletes), side(mTo.entries, mTo.deletes))
    val empty = newSide.orElse(oldSide)
      .map(_.where(org.apache.spark.sql.functions.lit(false)))
      .getOrElse(readNone(spark, root, mTo))
    (oldSide.getOrElse(empty), newSide.getOrElse(empty))
  }

  /** The complement of [[changedSides]]: rows of the partitions NOT
    * touched between the two versions — identical at both ends (entry
    * and MoR delete set unchanged), read under the new manifest's
    * schema view with the new manifest's delete sidecars (equal to the
    * old ones on these partitions by construction). None = no
    * partition survived unchanged. Extended JOIN-view maintenance
    * needs this as a true ROW SET: its F_unchanged ⋈ ΔD terms must be
    * disjoint from the ΔF ⋈ D terms — min/max maintenance reasons
    * about actual row membership, where count/sum maintenance gets
    * away with signed-multiset cancellation over the full F_old. */
  def unchangedSide(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Option[Long] = None): Option[DataFrame] = {
    val mTo = manifestAt(spark, root, toVersion)
    val mFrom: Option[Manifest] =
      if (fromVersion <= 0) None
      else Some(manifestAt(spark, root, Some(fromVersion)))
    val fromEntries = mFrom.map(_.entries).getOrElse(Map.empty)
    val fromDeletes = mFrom.map(_.deletes).getOrElse(Map.empty)
    val kept = mTo.entries.filter { case (p, _) =>
      fromEntries.get(p) == mTo.entries.get(p) &&
        fromDeletes.get(p) == mTo.deletes.get(p)
    }
    if (kept.isEmpty) None
    else Some(readManifest(spark, root,
      Manifest(mTo.partitionCol, kept, None, mTo.evolution,
        mTo.deletes, mTo.snapGens)))
  }

  /** Whole-partition DELETE (the reference's idempotent DELETE-day,
    * `dags/dag.py:292-296`): dropping partitions whose VALUE is in
    * `values` is METADATA-ONLY — the affected entries (and their
    * delete-sidecar refs) leave the manifest; no data file is read or
    * written, no Spark job runs (Iceberg's metadata-delete fast path
    * for partition-predicate deletes). A value set with no live
    * partition commits nothing and returns the current version — the
    * first run of a DELETE-then-INSERT backfill day costs zero jobs
    * here. Snapshot dirs keep their files: time travel still sees the
    * dropped rows, and `vacuum` reclaims unreferenced dirs later. */
  def deletePartitionValues(spark: SparkSession, root: String,
      values: Set[String], tag: Option[String] = None): Option[Long] = {
    val m0 = manifestAt(spark, root, None)
    val affected = m0.entries.keySet.filter(d => values(partitionValue(d)))
    if (affected.isEmpty) return currentVersion(spark, root)
    Some(claimLoop(spark, root) { latest =>
      val (pv, m) = latest.get
      (pv + 1, render(Manifest(m.partitionCol, m.entries -- affected, tag,
        m.evolution, m.deletes -- affected, m.snapGens)))
    })
  }

  /** Optimistic claim loop shared by the manifest-editing commits:
    * `make` derives (next version, rendered content) from the LATEST
    * (version, manifest) — one commit-file read per attempt; a lost
    * race (create-exclusive fails because the version file exists)
    * re-reads the latest and re-derives, so the winner's edits are
    * never dropped. */
  private def claimLoop(spark: SparkSession, root: String)(
      make: Option[(Long, Manifest)] => (Long, String)): Long = {
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    var committed = -1L
    while (committed < 0) {
      val latest = latestManifest(spark, root)
      val (v, content) = make(latest)
      val target = new HPath(rootPath,
        f"${Versioned.CommitPrefix}$v%020d${Versioned.CommitSuffix}")
      try {
        val os = fs.create(target, false)
        try os.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
        committed = v
      } catch {
        case _: java.io.IOException if fs.exists(target) => // re-derive
      }
    }
    committed
  }

  /** The live partition dir names exactly as the manifest lists them
    * (e.g. "date=2024-01-01"), sorted — the addressing surface for
    * `dropPartitions`. A metadata-sized driver fetch. */
  def partitions(spark: SparkSession, root: String,
      version: Option[Long] = None): Seq[String] =
    manifestAt(spark, root, version).entries.keys.toSeq.sorted

  /**
   * Metadata-only partition removal — Iceberg's DROP PARTITION /
   * partition-predicate DELETE fast path: the commit simply omits the
   * named entries; ZERO data I/O, old versions still time-travel to
   * the dropped data, and `vacuum` reclaims the bytes once no retained
   * manifest references them. `dirNames` must use the manifest's own
   * dir-name form (see `partitions`) — no re-implementation of
   * partition-path escaping. Dropping wins over a concurrent rewrite
   * of the same partition (the re-merged commit still omits it), the
   * same last-writer-wins rule as two promotes racing on one
   * partition.
   */
  def dropPartitions(spark: SparkSession, root: String,
      dirNames: Seq[String], tag: Option[String] = None): Long = {
    require(dirNames.nonEmpty, "no partitions named")
    val first = manifestAt(spark, root, None)
    val missing = dirNames.filterNot(first.entries.contains)
    require(missing.isEmpty,
      s"not live partitions under $root: ${missing.mkString(", ")} " +
        s"(have ${first.entries.keys.toSeq.sorted.mkString(", ")})")
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.get
      (pv + 1,
        render(Manifest(m.partitionCol, m.entries -- dirNames, tag,
          m.evolution, m.deletes -- dirNames, m.snapGens)))
    }
  }

  /**
   * Copy-on-write DELETE: remove every row matching `predicate`,
   * rewriting ONLY the partitions that contain matches — all other
   * partitions ride the manifest untouched, and a partition left
   * empty by the delete falls out of the manifest entirely (its dir
   * simply isn't written, so the commit omits it). Matched partitions
   * are located by the rows' own file paths (`input_file_name`), so
   * partition-path escaping is never re-implemented. A no-match
   * delete commits nothing and returns the current version.
   *
   * Concurrency: conflict-checked, not last-writer-wins — the
   * survivors were computed against this delete's snapshot, so if a
   * racing commit reassigns one of the affected partitions before our
   * claim lands, committing would silently discard that writer's rows.
   * The claim loop detects the reassignment and aborts with an error
   * telling the caller to re-run the delete against the new state
   * (Iceberg's validate-no-conflicting-files rule).
   *
   * Scale: one scan of the affected partitions only (the predicate
   * scan prunes via the manifest read path) + one re-clustered write
   * of their survivors. Stats sidecars are not carried over — re-run
   * `promote(statsCols = …)` on the rewritten partitions if pruning
   * matters there; stats-less snapshots degrade conservatively.
   */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      tag: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, input_file_name, lit, not, regexp_extract, regexp_replace, url_decode}
    val m0 = manifestAt(spark, root, None)
    val pcol = m0.partitionCol
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val live = readManifest(spark, root, m0)
    val dirPat = "/(" + java.util.regex.Pattern.quote(pcol) + "=[^/]+)/"
    // ON-DISK form, like writeSnapshot's `__file`: input_file_name()
    // returns a URI, so a dir name with URI-special chars (e.g. the
    // multi-transform '|' separator) arrives percent-encoded and would
    // never match the manifest's listStatus-sourced entry keys — one
    // decode recovers the disk name ('+' pre-escaped: url_decode reads
    // a literal '+', legal on disk, as an encoded space)
    val fileDir = url_decode(regexp_replace(
      regexp_extract(input_file_name(), dirPat, 1), "\\+", "%2B"))
    val affected = live.where(predicate).select(fileDir.as("__d"))
      .distinct().collect().map(_.getString(0)).toSet
    if (affected.isEmpty) return currentVersion(spark, root).get
    val snapName = Versioned.SnapPrefix + UUID.randomUUID().toString
    val snapPath = new HPath(rootPath, snapName)
    // SQL DELETE semantics: only predicate = TRUE rows go; a NULL
    // predicate keeps its row (bare `!predicate` would drop it too)
    live.where(fileDir.isin(affected.toSeq: _*))
      .where(not(coalesce(predicate, lit(false))))
      .transform(clusterForWrite(_, pcol))
      .write.mode("overwrite").partitionBy(pcol)
      .parquet(snapPath.toString)
    Versioned.writeSchema(fs, snapPath, partitionedSchema(live.schema, pcol))
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(pcol + "="))
      .map(_.getPath.getName -> snapName).toMap
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.get
      val moved = affected.filter(d => m.entries.get(d) != m0.entries.get(d))
      if (moved.nonEmpty)
        throw new IllegalStateException(
          s"concurrent commit rewrote ${moved.toSeq.sorted.mkString(", ")} " +
            s"under $root while this delete ran — re-run deleteWhere " +
            "against the new state")
      (pv + 1,
        render(Manifest(pcol, m.entries -- affected ++ written, tag,
          m.evolution, m.deletes -- affected -- written.keys,
          m.gensWith(written))))
    }
  }

  /**
   * MERGE-ON-READ row deletes (Iceberg v2 equality deletes): instead of
   * `deleteWhere`'s copy-on-write partition rewrite, write only the
   * deleted KEYS as a sidecar parquet and reference it from the
   * manifest per affected partition — an O(deleted keys) commit
   * regardless of partition size. Readers anti-join each partition's
   * rows against its referenced sidecars (`readManifest`); any later
   * rewrite of a partition (promote / deleteWhere / compaction) drops
   * its sidecar refs, so the read-time tax amortizes away and
   * `compact` fully materializes the deletes.
   *
   * `keys`' SCHEMA defines the delete identity: it must contain the
   * partition column (sidecars are partition-scoped) plus the key
   * columns, nothing else. Rows whose partition is not live are
   * ignored. At 100 TB this is the delete path for small targeted
   * deletes (GDPR keys, bad-record ids) where rewriting a multi-GB
   * partition per delete would dominate the write budget;
   * `deleteWhere` remains the bulk path.
   */
  def deleteKeysMor(spark: SparkSession, root: String, keys: DataFrame,
      tag: Option[String] = None): Long = {
    val m0 = manifestAt(spark, root, None)
    val pcol = m0.partitionCol
    require(keys.columns.contains(pcol),
      s"delete keys must carry the partition column '$pcol' " +
        s"(got ${keys.columns.mkString(", ")})")
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val delName = DelDirPrefix + UUID.randomUUID().toString
    val dk = keys.dropDuplicates()
    val delPath = new HPath(rootPath, delName)
    dk.coalesce(1).write.parquet(delPath.toString)
    Versioned.writeSchema(fs, delPath, dk.schema)
    // metadata-sized driver fetch: the distinct partition VALUES the
    // keys touch (same contract as the partition listings elsewhere)
    val touched = dk.select(col(pcol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.get
      val affected = m.entries.keys.filter(d => touched.contains(partitionValue(d)))
      val newDel = m.deletes ++ affected.map(d =>
        d -> (m.deletes.getOrElse(d, Nil) :+ delName))
      (pv + 1, render(m.copy(tag = tag, deletes = newDel)))
    }
  }

  /**
   * Atomically replace EXACTLY the live partitions whose (unescaped)
   * value satisfies `affected` with the content of `replacement` — the
   * general write-back primitive behind row-level MERGE/UPDATE when
   * the merge key does NOT pin rows to their partition
   * (`mergePromote`'s fast path requires partitionCol ∈ keys; here
   * rows may legally migrate partitions or disappear). Differences
   * from `promote`: an affected partition that `replacement` carries
   * no rows for is REMOVED from the manifest in the same commit (its
   * rows moved or were deleted) — `promote` would leave the stale
   * copy live, and a promote + dropPartitions pair would expose the
   * in-between state to readers. Partitions OUTSIDE the affected set
   * are inherited by reference; a `replacement` row landing in a live
   * partition outside the set would silently clobber that partition's
   * other rows, so that is rejected before commit (brand-new
   * partition values are fine — inserts create them).
   *
   * Concurrency: `deleteWhere`'s optimistic rule — the commit aborts
   * if any affected partition was rewritten since this method
   * resolved the manifest (the caller recomputes against the new
   * state and re-runs). Scale: one re-clustered write of the affected
   * partitions' replacement rows + one commit — O(affected), never
   * O(table).
   */
  def overwritePartitions(replacement: DataFrame, root: String,
      affected: String => Boolean, tag: Option[String] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil, maxRecordsPerFile: Long = 0L,
      writers: Option[Int] = None): Long = {
    val spark = replacement.sparkSession
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val m0 = manifestAt(spark, root, None)
    val pcol = m0.partitionCol
    val affectedDirs = m0.entries.keySet.filter(d => affected(partitionValue(d)))
    val snapName = writeSnapshot(replacement, rootPath, pcol, statsCols,
      bloomCols = bloomCols, clusterBy = clusterBy,
      maxRecordsPerFile = maxRecordsPerFile, writers = writers)
    val snapPath = new HPath(rootPath, snapName)
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(pcol + "="))
      .map(_.getPath.getName -> snapName).toMap
    val clobbered = written.keySet
      .filter(d => m0.entries.contains(d) && !affectedDirs.contains(d))
    require(clobbered.isEmpty,
      "replacement writes into live partitions outside the affected set: " +
        s"${clobbered.toSeq.sorted.mkString(", ")} — widen the affected " +
        "predicate to cover every partition the rewrite lands in")
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.get
      val moved = affectedDirs.filter(d => m.entries.get(d) != m0.entries.get(d))
      if (moved.nonEmpty)
        throw new IllegalStateException(
          s"concurrent commit rewrote ${moved.toSeq.sorted.mkString(", ")} " +
            s"under $root while this overwrite ran — recompute against " +
            "the new state and re-run")
      (pv + 1,
        render(Manifest(pcol, m.entries -- affectedDirs ++ written, tag,
          m.evolution, m.deletes -- affectedDirs -- written.keys,
          m.gensWith(written))))
    }
  }

  /**
   * Row-level MERGE INTO the versioned table, committed at partition
   * granularity — Iceberg-style copy-on-write upsert on the fact
   * table: `source` rows update matching keys and insert new ones
   * (`Merge.upsert` semantics), but only the partitions PRESENT IN
   * SOURCE are re-read, merged, and rewritten as the new snapshot;
   * every other partition is inherited by manifest reference. The
   * merge key must include `partitionCol` — that is what guarantees a
   * matched row cannot migrate partitions, which would strand its old
   * copy in a partition this merge never rewrites (the classic
   * partition-key-update hazard; Iceberg's copy-on-write MERGE rejects
   * it the same way).
   *
   * Scale: the affected-partition list is a metadata-sized driver
   * fetch (distinct partition values of the source batch); the merge
   * itself is `Merge.upsert`'s single hash shuffle over ONLY those
   * partitions' rows + the source. A 100-partition daily merge into a
   * 100 TB table touches one day's data and flips one pointer.
   */
  def mergePromote(source: DataFrame, root: String, keys: Seq[String],
      partitionCol: String = "date", tag: Option[String] = None,
      statsCols: Seq[String] = Nil): Long = {
    require(keys.contains(partitionCol),
      s"merge keys $keys must include partition column '$partitionCol' — " +
        "a key that can change partitions would strand its old row")
    val spark = source.sparkSession
    if (currentVersion(spark, root).isEmpty)
      return promote(source, root, partitionCol, tag, statsCols = statsCols)
    val parts = source.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    if (parts.isEmpty)
      return promote(source, root, partitionCol, tag, statsCols = statsCols)
    val live = read(spark, root)
      .where(col(partitionCol).isin(parts: _*))
    promote(Merge.upsert(live, source, keys), root, partitionCol, tag,
      statsCols = statsCols)
  }

  private val SrcVersionTag = "src-version:"

  /**
   * Exactly-once incremental propagation between two versioned tables —
   * the downstream half of `readChanges`: read the source partitions
   * that changed since the last propagated source version and promote
   * them into `destRoot` in ONE commit tagged with that source version.
   * The destination's own commit tags ARE the cursor (the Delta
   * txnAppId/txnVersion idea): there is no side file to desync, so a
   * crash anywhere re-runs cleanly — before the dest commit nothing
   * happened, after it the tag is visible and the re-run no-ops.
   * Returns the (fromVersion, toVersion] source window propagated, or
   * None when the destination is already current.
   *
   * Scale: the whole hop costs O(changed partitions) — manifest diff
   * at planning, then one re-clustered write of only those partitions.
   * A 3-partition backfill upstream moves 3 partitions downstream,
   * never the table. Append/rewrite-shaped changes propagate;
   * partitions DROPPED upstream are not deleted downstream (incremental
   * APPEND scan semantics, like Iceberg's) — pair with an explicit
   * `dropPartitions` on the destination for retention.
   */
  def propagateChanges(spark: SparkSession, sourceRoot: String,
      destRoot: String): Option[(Long, Long)] = {
    val srcManifest = manifestAt(spark, sourceRoot, None)
    val to = currentVersion(spark, sourceRoot).get
    // the cursor is monotone (each hop tags a higher source version;
    // vacuum's carry-forward preserves the max), so the NEWEST matching
    // tag is the maximum — a newest-first early-stop scan, not a full
    // history read
    val from = latestTagWithPrefix(spark, destRoot, SrcVersionTag)
      .map(_.toLong).getOrElse(0L)
    if (to <= from) return None
    val changed = readChanges(spark, sourceRoot, from, Some(to))
    promote(changed, destRoot, srcManifest.partitionCol,
      tag = Some(s"$SrcVersionTag$to"))
    Some((from, to))
  }

  /** Rewrite the whole live state as ONE fresh snapshot (all manifest
    * entries point at it) — bounds the snapshot-dir sprawl an
    * append-only promote history accumulates, after which `vacuum`
    * reclaims every predecessor. */
  def compact(spark: SparkSession, root: String): Long = {
    val m = manifestAt(spark, root, None)
    promote(read(spark, root), root, m.partitionCol, tag = None)
  }

  /**
   * OPTIMIZE … ZORDER BY (Delta's table-maintenance signature op;
   * Iceberg analogue: `rewrite_data_files` with the z-order sort
   * strategy): rewrite the live state as ONE fresh snapshot whose
   * files within each partition are contiguous slices of the Z-order
   * curve over `zExprs`, with min/max stats on `statsCols` — after
   * which `readPruned` is selective on EVERY z-dimension, not just a
   * single sort's leading column (a lexicographic sort gives its
   * trailing columns near-full min/max ranges in every file).
   * `zExprs` must already be range-mapped into [0, 2^bits)
   * (`ZOrder.zkey`'s contract — floor-bucket or dictionary-code raw
   * columns first).
   *
   * Scale: one full-table rewrite — that IS the op, same cost class
   * as `compact` — executed as per-partition repartition +
   * in-partition z-key sort + size-rolled files; no global sort
   * reducer. Run at the cadence Delta users run OPTIMIZE: after bulk
   * ingest, before read-heavy service. Merge-on-read delete refs are
   * materialized by the rewrite (`read` applies them; the promote
   * clears them for rewritten partitions).
   */
  def optimizeZOrder(spark: SparkSession, root: String,
      zExprs: Seq[org.apache.spark.sql.Column], bits: Int,
      statsCols: Seq[String], maxRecordsPerFile: Long = 1L << 20): Long =
    optimizeZOrderWhere(spark, root, zExprs, bits, statsCols,
      _ => true, maxRecordsPerFile)

  /** `optimizeZOrder` at PARTITION grain (Delta's `OPTIMIZE … WHERE`):
    * rewrite only the partitions whose value satisfies `keep` — the
    * incremental maintenance cadence (optimize yesterday's ingest,
    * never the decade of history behind it). The promote replaces
    * exactly the carried partitions; everything else is inherited by
    * reference, so cost is O(kept partitions). */
  def optimizeZOrderWhere(spark: SparkSession, root: String,
      zExprs: Seq[org.apache.spark.sql.Column], bits: Int,
      statsCols: Seq[String], keep: String => Boolean,
      maxRecordsPerFile: Long = 1L << 20,
      bloomCols: Seq[String] = Nil): Long = {
    val pc = partitionColumn(spark, root)
    val sorted = readPartitionsWhere(spark, root, keep)
      .withColumn("__zopt", ZOrder.zkey(zExprs, bits))
      .transform(clusterForWrite(_, pc))
      .sortWithinPartitions(col(pc), col("__zopt"))
      .drop("__zopt")
    promote(sorted, root, pc, cluster = false, statsCols = statsCols,
      maxRecordsPerFile = maxRecordsPerFile, bloomCols = bloomCols)
  }

  /** Distinct snapshot dirs the latest manifest references — the
    * fan-in every `read` pays in `_schema` reads and small files. A
    * metadata-sized answer from one commit-file read. */
  def referencedSnapshots(spark: SparkSession, root: String): Int =
    manifestAt(spark, root, None).entries.values.toSet.size

  /**
   * Manifest fan-in policy, PARTITION-TARGETED (Iceberg's
   * `rewrite_data_files` grain): when the live manifest references more
   * than `maxSnapshots` distinct snapshot dirs, consolidate — into ONE
   * fresh snapshot — only the partitions living in the SMALLEST
   * snapshot groups, keeping the largest `maxSnapshots - 1` groups
   * untouched. A year of daily single-partition promotes would
   * otherwise reference ~365 snapshot dirs, each a `_schema` read per
   * `read` and its own small files; calling this after (or
   * periodically between) promotes bounds that fan-in at
   * `maxSnapshots` while leaving the common fast path — a promote that
   * did NOT widen the manifest — at one commit-file read and zero data
   * I/O. Returns the compaction's version when it ran.
   *
   * Cost at 100 TB: each trigger rewrites only the smallest groups,
   * never the whole table (`compact` is the whole-state rewrite; this
   * never calls it). Groups merge upward LSM-style — a partition is
   * re-consolidated only when its group has become one of the smallest
   * again, so total rewrite traffic is amortized O(log n) copies per
   * partition over n promotes, vs O(n / maxSnapshots) whole-table
   * copies under a naive full-compact-every-N policy.
   *
   * Concurrency: conflict-checked like `deleteWhere` — the
   * consolidated rows were read at this call's manifest, so if a
   * racing commit reassigns one of the rewritten partitions before the
   * claim lands, committing would clobber that writer's rows with
   * stale data; the claim loop detects the reassignment and aborts
   * with an error telling the caller to re-run.
   */
  def compactIfNeeded(spark: SparkSession, root: String,
      maxSnapshots: Int = 32): Option[Long] = {
    require(maxSnapshots >= 1, s"need maxSnapshots >= 1, got $maxSnapshots")
    val m0 = manifestAt(spark, root, None)
    val groups = m0.entries.groupBy(_._2)
    if (groups.size <= maxSnapshots) return None
    // deterministic pick: keep the largest groups (ties by dir name) —
    // they hold the table's bulk; everything else consolidates
    val keep = groups.toSeq
      .sortBy { case (snap, parts) => (-parts.size, snap) }
      .take(maxSnapshots - 1).map(_._1).toSet
    val rewrite = m0.entries.filterNot { case (_, snap) => keep(snap) }
    val frame = readManifest(spark, root,
      Manifest(m0.partitionCol, rewrite, None, m0.evolution,
      m0.deletes, m0.snapGens))
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val snapName = Versioned.SnapPrefix + UUID.randomUUID().toString
    val snapPath = new HPath(rootPath, snapName)
    clusterForWrite(frame, m0.partitionCol)
      .write.mode("overwrite").partitionBy(m0.partitionCol)
      .parquet(snapPath.toString)
    Versioned.writeSchema(fs, snapPath,
      partitionedSchema(frame.schema, m0.partitionCol))
    val written = fs.listStatus(snapPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(m0.partitionCol + "="))
      .map(_.getPath.getName -> snapName).toMap
    Some(claimLoop(spark, root) { latest =>
      val (pv, m) = latest.get
      val moved = rewrite.keys.filter(p =>
        m.entries.get(p) != m0.entries.get(p))
      if (moved.nonEmpty)
        throw new IllegalStateException(
          s"concurrent commit rewrote ${moved.toSeq.sorted.mkString(", ")} " +
            s"under $root while compaction ran — re-run compactIfNeeded " +
            "against the new state")
      (pv + 1,
        render(Manifest(m.partitionCol, m.entries -- rewrite.keys ++ written,
          None, m.evolution, m.deletes -- rewrite.keys -- written.keys,
          m.gensWith(written))))
    })
  }

  /**
   * Schema evolution BY REWRITE: add `name` (with `default`, cast to
   * the column's eventual type by the caller's expression) to every
   * live partition and commit the evolved state as one fresh snapshot —
   * the `Schemas.evolve` add-column-with-default grain, at table-format
   * level. One whole-table rewrite with a single atomic pointer flip:
   * readers resolve either the entirely-old or entirely-new schema,
   * never a per-partition mix (the failure mode of evolving a plain
   * partitioned dir in place). Older versions keep their original
   * schema — time travel replays history as it was.
   *
   * Use this form only when the column must exist PHYSICALLY (to
   * cluster on it, collect stats on it, or hand the files to an
   * engine that won't resolve manifest metadata). For the common case
   * prefer `evolveAddColumnMetaOnly` — at 100 TB an add-column must
   * not rewrite 100 TB.
   */
  def evolveAddColumn(spark: SparkSession, root: String, name: String,
      default: org.apache.spark.sql.Column): Long = {
    val m = manifestAt(spark, root, None)
    val live = read(spark, root)
    require(!live.columns.contains(name),
      s"column '$name' already exists under $root")
    promote(live.withColumn(name, default), root, m.partitionCol)
  }

  /**
   * Metadata-only schema evolution — Iceberg's actual add-column
   * semantics: NO data file is touched. The commit records
   * (name, default SQL expression) in the manifest and every reader
   * (`read`/`readAt`/`readChanges`/`readPruned`) fills the column on
   * the fly for snapshot files that predate it; a later promote whose
   * frame carries the column physically overrides the default for its
   * rows. Evolving a 100 TB table is a pointer flip, not a rewrite.
   * Time travel to a pre-evolution version has no such column, exactly
   * like the rewrite path. The default expression may reference other
   * columns (it is applied per row at read time).
   *
   * Same optimistic claim loop as `promote`: a lost race re-reads the
   * winner's manifest so concurrently-promoted partitions are never
   * dropped from the evolved commit.
   */
  def evolveAddColumnMetaOnly(spark: SparkSession, root: String,
      name: String, defaultSql: String): Long =
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.getOrElse(throw new IllegalArgumentException(
        s"no committed version under $root"))
      require(!readManifest(spark, root, m).columns.contains(name),
        s"column '$name' already exists under $root")
      (pv + 1, render(
        Manifest(m.partitionCol, m.entries, None,
          m.evolution :+ AddCol(name, defaultSql), m.deletes, m.snapGens)))
    }

  /** Metadata-only DROP COLUMN — same Iceberg semantics as
    * `evolveAddColumnMetaOnly`: no data file is touched; the commit
    * appends an ordered drop rule and every reader projects the column
    * away on the fly. Time travel to a pre-drop version still sees it.
    * A later re-ADD of the same name starts blank (rules replay in
    * order, so the drop hides the physical bytes before the add fills
    * its default) — Iceberg's fresh-field-id behavior. The partition
    * column cannot be dropped. */
  def evolveDropColumnMetaOnly(spark: SparkSession, root: String,
      name: String): Long =
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.getOrElse(throw new IllegalArgumentException(
        s"no committed version under $root"))
      require(name != m.partitionCol,
        s"cannot drop partition column '$name' (evolve the partition " +
          "spec first: repartitionTable)")
      require(readManifest(spark, root, m).columns.contains(name),
        s"DROP COLUMN $name: no such column under $root")
      (pv + 1, render(
        Manifest(m.partitionCol, m.entries, None,
          m.evolution :+ DropCol(name), m.deletes, m.snapGens)))
    }

  /** Metadata-only RENAME COLUMN — no data file is touched; readers
    * rename on the fly (a frame already carrying the new name — a
    * post-rename promote — passes through untouched). Time travel to a
    * pre-rename version sees the old name. The partition column cannot
    * be renamed (partition dir names embed it), and renames on tables
    * with live merge-on-read delete sidecars are refused — a sidecar's
    * key file stores the OLD physical name, so the anti-join would
    * silently stop matching. */
  def evolveRenameColumnMetaOnly(spark: SparkSession, root: String,
      from: String, to: String): Long =
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.getOrElse(throw new IllegalArgumentException(
        s"no committed version under $root"))
      require(from != m.partitionCol,
        s"cannot rename partition column '$from'")
      require(m.deletes.isEmpty,
        s"RENAME COLUMN on a table with live delete sidecars is not " +
          "supported — compact the deletes first (rewrite_data_files)")
      val cols = readManifest(spark, root, m).columns
      require(cols.contains(from),
        s"RENAME COLUMN $from: no such column under $root")
      require(!cols.contains(to),
        s"RENAME COLUMN $from TO $to: '$to' already exists under $root")
      (pv + 1, render(
        Manifest(m.partitionCol, m.entries, None,
          m.evolution :+ RenameCol(from, to), m.deletes, m.snapGens)))
    }

  /** Is `to` a LOSSLESS widening of `from` — Iceberg's type-promotion
    * whitelist: int→long (and the narrower integrals up),
    * float→double, decimal(p,s)→decimal(p′,s) with p′≥p (same scale).
    * Everything else (narrowing, scale changes, cross-family casts)
    * is not an evolution, it is a rewrite. */
  private[ops] def isLosslessWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision >= d1.precision
      case _ => false
    }
  }

  /** Metadata-only TYPE WIDENING — Iceberg's `ALTER COLUMN … TYPE`:
    * no data file is touched; readers cast old physical values up on
    * the fly (a no-op on post-widening snapshots that already carry
    * the wide type). Only the lossless promotions pass
    * (`isLosslessWidening`); the partition column is refused (its
    * values are embedded in partition dir names). Time travel to a
    * pre-widening version sees the narrow type. */
  def evolveWidenColumnMetaOnly(spark: SparkSession, root: String,
      name: String, newType: org.apache.spark.sql.types.DataType): Long =
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.getOrElse(throw new IllegalArgumentException(
        s"no committed version under $root"))
      require(name != m.partitionCol,
        s"cannot widen partition column '$name' (dir names embed its " +
          "rendered values)")
      val cur = readManifest(spark, root, m)
      val field = cur.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER COLUMN $name: no such column under $root"))
      require(isLosslessWidening(field.dataType, newType),
        s"ALTER COLUMN $name TYPE ${newType.sql}: not a lossless " +
          s"widening of ${field.dataType.sql} (int→bigint, float→double, " +
          "decimal precision growth at the same scale)")
      (pv + 1, render(
        Manifest(m.partitionCol, m.entries, None,
          m.evolution :+ WidenCol(name, newType.sql), m.deletes,
          m.snapGens)))
    }

  /**
   * PARTITION-SPEC EVOLUTION — Iceberg's `REPLACE PARTITION FIELD`
   * realized as one atomic whole-table rewrite (reference motivates
   * partition evolution with its Iceberg table format,
   * `README.md:29`): the current table is re-clustered and rewritten
   * into a fresh snapshot partitioned by `newPartitionCol`, and ONE
   * commit swaps the manifest wholesale (new partition column, new
   * entries). Readers resolve a manifest once, so a concurrent reader
   * sees the table entirely under the old spec or entirely under the
   * new — never a mix; time travel to any pre-evolution version still
   * reads the old layout, and later `promote`s must use the new
   * column (the spec require rejects the old one).
   *
   * Concurrency: conflict-CHECKED, not last-writer-wins — the rewrite
   * is computed from the version current at entry, so if any commit
   * lands while the rewrite is in flight, committing would silently
   * drop that writer's partitions. The claim aborts with an error
   * telling the caller to re-run against the new state (the same
   * validate-no-conflicts rule as `deleteWhere`).
   *
   * Scale: one full-table scan + one re-clustered write — the
   * intrinsic cost of changing physical layout (Iceberg's metadata-only
   * spec evolution leaves OLD files in the old layout and only new
   * writes use the new spec; this engine's manifest maps partition dir
   * → snapshot, so a single-spec manifest with a rewrite keeps every
   * read path — pruning, stats, drops — working unchanged on day one).
   * Stats sidecars are re-derived for the new layout when `statsCols`
   * is given, same contract as `promote`.
   */
  def repartitionTable(spark: SparkSession, root: String,
      newPartitionCol: String, tag: Option[String] = None,
      statsCols: Seq[String] = Nil,
      // optimistic CAS base: rewrite the table AS OF this version and
      // refuse to commit if anything landed since (defaults to the
      // version current at entry). Lets a caller pin the base across
      // its own read-plan-act sequence.
      expectedVersion: Option[Long] = None): Long = {
    val v0 = expectedVersion.getOrElse(currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed version under $root")))
    val m0 = manifestAt(spark, root, Some(v0))
    require(m0.partitionCol != newPartitionCol,
      s"table already partitioned by $newPartitionCol")
    val cur = readManifest(spark, root, m0)
    require(cur.columns.contains(newPartitionCol),
      s"no column $newPartitionCol to partition by " +
        s"(have ${cur.columns.mkString(", ")})")
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    val snapName = writeSnapshot(cur, rootPath, newPartitionCol, statsCols)
    val written = fs.listStatus(new HPath(rootPath, snapName))
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(newPartitionCol + "="))
      .map(_.getPath.getName -> snapName).toMap
    claimLoop(spark, root) { latest =>
      val (pv, m) = latest.get
      if (pv != v0)
        throw new IllegalStateException(
          s"concurrent commit v$pv under $root during spec evolution " +
            s"(rewrote v$v0) — re-run repartitionTable against the new state")
      (pv + 1, render(Manifest(newPartitionCol, written, tag, m.evolution,
        Map.empty, m.gensWith(written))))
    }
  }

  /** Retention with the same rules as `Versioned.vacuum`: keep the
    * newest `keepLast` manifests and every snapshot dir any of them
    * references; reclaim snapshots only superseded manifests used;
    * age-gate true orphans (a concurrent promote's snapshot exists
    * before its commit does). Returns snapshot dirs deleted.
    *
    * Cursor protection: `propagateChanges`' exactly-once cursor IS the
    * destination's highest `src-version:` commit tag. If the only
    * commit carrying it falls below the retention floor, the next hop
    * would silently regress to 0 and re-propagate the full table — so
    * before dropping commits, the highest about-to-be-dropped
    * `src-version:` tag (when no retained commit carries an equal or
    * higher one) is re-tagged onto a fresh metadata-only commit (same
    * manifest as the latest, zero data I/O), which the retention
    * window then keeps. */
  /** Age-based retention for the partitioned format — same
    * `expire_snapshots(older_than, retain_last)` arithmetic as
    * `Versioned.vacuumOlderThan`, delegating to this format's own
    * `vacuum` (so the propagate-cursor carry-forward and manifest-aware
    * snapshot census apply). */
  def vacuumOlderThan(spark: SparkSession, root: String, olderThanMs: Long,
      retainLast: Int = 1, orphanMinAgeMs: Long = 3600000L): Int = {
    require(olderThanMs >= 0, s"need olderThanMs >= 0, got $olderThanMs")
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    vacuum(spark, root,
      Versioned.keepCountByAge(fs, rootPath, olderThanMs, retainLast),
      orphanMinAgeMs)
  }

  def vacuum(spark: SparkSession, root: String, keepLast: Int,
      orphanMinAgeMs: Long = 3600000L): Int =
    vacuumCore(spark, root, keepLast, orphanMinAgeMs,
      dryRun = false).size

  /** The DRY RUN of [[vacuum]]: the dir names (snapshot dirs + delete
    * sidecars) a real vacuum with the same arguments would reclaim
    * RIGHT NOW — computed by the same doomed-set logic, with zero
    * writes (no deletions, and none of vacuum's carry-forward re-tag
    * commits — those never change which dirs are doomed, only which
    * commit file carries a surviving tag). The safety preview for a
    * destructive retention change. */
  def vacuumPlan(spark: SparkSession, root: String, keepLast: Int,
      orphanMinAgeMs: Long = 3600000L): Seq[String] =
    vacuumCore(spark, root, keepLast, orphanMinAgeMs, dryRun = true)

  private def vacuumCore(spark: SparkSession, root: String, keepLast: Int,
      orphanMinAgeMs: Long, dryRun: Boolean): Seq[String] = {
    require(keepLast >= 1, s"need keepLast >= 1, got $keepLast")
    val (fs, rootPath) = Versioned.fsOf(spark, root)
    if (!fs.exists(rootPath)) return Nil
    val h = history(spark, root)
    val committedDirs = h.flatMap(_._2.entries.values).toSet
    val keep = h.takeRight(keepLast)
    val keepMin = keep.headOption.map(_._1).getOrElse(Long.MaxValue)
    // TAGGED commits are pinned regardless of the retention window:
    // their commit files survive the deletion loop below, and their
    // manifests' snapshot dirs / delete sidecars join the keep sets
    val taggedVs = tags(spark, root).map(_._2).toSet
    val taggedMs = h.filter(x => taggedVs.contains(x._1)).map(_._2)
    val keepDirs = keep.flatMap(_._2.entries.values).toSet ++
      taggedMs.flatMap(_.entries.values)
    // carry the propagate cursor forward if every commit holding its
    // maximum is about to be dropped
    def srcVersions(ms: Seq[(Long, Manifest)]): Seq[Long] =
      ms.flatMap(_._2.tag).filter(_.startsWith(SrcVersionTag))
        .map(_.stripPrefix(SrcVersionTag).toLong)
    val droppedMax = srcVersions(h.filter(_._1 < keepMin))
      .reduceOption(_ max _)
    val keptMax = srcVersions(keep).reduceOption(_ max _)
    if (!dryRun) droppedMax.filter(d => keptMax.forall(_ < d))
      .foreach { cursor =>
        claimLoop(spark, root) { latest =>
          val (pv, m) = latest.get
          (pv + 1, render(Manifest(m.partitionCol, m.entries,
            Some(s"$SrcVersionTag$cursor"), m.evolution, m.deletes,
            m.snapGens)))
        }
        // the carry-forward commit is above keepMin, so the deletions
        // below leave it (and therefore the cursor) intact
      }
    // same carry-forward for each stream's newest `epoch=` tag: the
    // exactly-once replay guard (`commitEpoch` via latestTagWithPrefix)
    // must survive interleaved writers pushing the tagged commit below
    // the floor — each stale stream gets one metadata-only re-tag commit
    if (!dryRun) Versioned.epochCarryTags(
        h.filter(_._1 < keepMin).flatMap(_._2.tag),
        keep.flatMap(_._2.tag))
      .foreach { t =>
        claimLoop(spark, root) { latest =>
          val (pv, m) = latest.get
          (pv + 1, render(Manifest(m.partitionCol, m.entries,
            Some(t), m.evolution, m.deletes, m.snapGens)))
        }
      }
    if (!dryRun) fs.listStatus(rootPath).foreach { s =>
      val n = s.getPath.getName
      if (s.isFile && n.startsWith(Versioned.CommitPrefix)
          && n.endsWith(Versioned.CommitSuffix)) {
        val v = try n.stripPrefix(Versioned.CommitPrefix)
          .stripSuffix(Versioned.CommitSuffix).toLong
          catch { case _: NumberFormatException => Long.MinValue }
        if (v < keepMin && !taggedVs.contains(v)) fs.delete(s.getPath, false)
      }
    }
    // branch-referenced snapshots are NEVER dropped: an unpublished
    // write-audit-publish branch must survive any main retention
    val (branchKeep, branchDelKeep) = branchReferencedDirs(fs, rootPath)
    val now = System.currentTimeMillis()
    val snaps = fs.listStatus(rootPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(Versioned.SnapPrefix))
    val doomed = snaps.filterNot(s => keepDirs.contains(s.getPath.getName)
        || branchKeep.contains(s.getPath.getName))
      .filter { s =>
        committedDirs.contains(s.getPath.getName) ||
          now - s.getModificationTime >= orphanMinAgeMs
      }
    if (!dryRun) doomed.foreach(s => fs.delete(s.getPath, true))
    // merge-on-read delete sidecars: same retention rules as snapshots
    // (kept while any retained or branch manifest references them;
    // superseded ones reclaimed immediately, orphans age-gated)
    val committedDel = h.flatMap(_._2.deletes.values.flatten).toSet
    val keepDel = keep.flatMap(_._2.deletes.values.flatten).toSet ++
      taggedMs.flatMap(_.deletes.values.flatten)
    val dels = fs.listStatus(rootPath)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(DelDirPrefix))
    val doomedDel = dels.filterNot(s => keepDel.contains(s.getPath.getName)
        || branchDelKeep.contains(s.getPath.getName))
      .filter { s =>
        committedDel.contains(s.getPath.getName) ||
          now - s.getModificationTime >= orphanMinAgeMs
      }
    if (!dryRun) doomedDel.foreach(s => fs.delete(s.getPath, true))
    (doomed ++ doomedDel).map(_.getPath.getName).toSeq.sorted
  }
}
