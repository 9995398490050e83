package graft.ops

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/**
 * Minimal versioned table format — the snapshot-isolation layer the
 * plain-directory promotes (`Exchange.promote*`) cannot provide. The
 * reference declares its tables `USING ICEBERG` (reference
 * `dags/dag.py:141,146`) and leans on the catalog for atomic commits;
 * no Iceberg jar exists in this environment, so this reimplements the
 * public HadoopTableOperations commit idea at its smallest useful size:
 *
 *  - Every commit writes a fresh, immutable `snap-<uuid>/` parquet
 *    directory under the table root. Data files are NEVER mutated or
 *    renamed after the write finishes.
 *  - A commit becomes visible by creating `_v<version>.commit` (a tiny
 *    metadata file naming the snapshot dir) with CREATE-EXCLUSIVE
 *    semantics — atomic on HDFS and object stores with conditional
 *    create; Hadoop's local filesystem narrows this to an existence
 *    check with a sub-millisecond race window (the same caveat the
 *    Iceberg HadoopCatalog documents). The table's current
 *    state is simply the highest-numbered parseable commit file; two
 *    writers racing the same version conflict at the create and the
 *    loser retries on the next number (optimistic concurrency, exactly
 *    Iceberg's HadoopCatalog rule).
 *  - Readers resolve the pointer ONCE and then scan an immutable
 *    directory: a reader holding version N is completely isolated from
 *    later commits and from a concurrent `vacuum` that retains N —
 *    the mid-swap window `Exchange.swapTable` documents does not exist
 *    here because nothing visible is ever renamed or deleted.
 *
 * Crash anatomy: a writer dying before the commit-file create leaves an
 * orphan snapshot dir that no reader can see (`vacuum` deletes orphans);
 * dying between create and content-write leaves an EMPTY commit file,
 * which every reader skips as claimed-but-unfinished (the version
 * number is burned, the table state is the previous commit — the same
 * outcome Iceberg gives a failed metadata write).
 *
 * At 100 TB the commit cost is one small-file create regardless of data
 * size, and old snapshots share nothing with new ones (this format
 * rewrites whole tables — it is the right shape for the dimension /
 * index / manifest tables the pipeline versions, while the big
 * fact tables keep `Exchange.promoteAtomic`'s per-partition promote;
 * per-partition snapshot reuse is exactly the manifest machinery that
 * makes real Iceberg worth its dependency).
 */
object Versioned {

  private[ops] val CommitPrefix = "_v"
  private[ops] val CommitSuffix = ".commit"
  private[ops] val SnapPrefix = "snap-"

  private[ops] def fsOf(spark: SparkSession, root: String): (FileSystem, HPath) = {
    val p = new HPath(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The optimistic-concurrency claim loop shared by every commit
    * flavor: create `_v<version>.commit` with overwrite=false (atomic
    * claim), bump and retry if another writer owns the number. Returns
    * the claimed version. */
  private[ops] def claimVersion(fs: FileSystem, rootPath: HPath,
      content: String, from: Long): Long = {
    var v = from
    var committed = false
    while (!committed) {
      val target = new HPath(rootPath, f"$CommitPrefix$v%020d$CommitSuffix")
      try {
        val out = fs.create(target, false)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        committed = true
      } catch {
        case _: java.io.IOException if fs.exists(target) => v += 1
      }
    }
    v
  }

  /** Test hook: commit files actually OPENED and read (directory
    * listings are not counted) — lets VersionedSpec assert that a
    * single read/promote resolves O(1) commit files on a long-history
    * table instead of parsing every manifest ever committed. */
  private[graft] val commitFileReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** (version, path) of every non-empty commit file, ascending, from
    * ONE directory listing — no file contents are read. Ordering comes
    * from the PARSED version number (the zero-padded names only matter
    * to raw lexicographic listings elsewhere), and `getLen > 0` screens
    * out crashed claims (create-then-die) without opening them, so
    * "what versions exist" costs a listing, not O(#versions) file
    * reads. */
  private[ops] def listCommits(fs: FileSystem,
      rootPath: HPath): Seq[(Long, HPath)] = {
    if (!fs.exists(rootPath)) return Seq.empty
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(CommitPrefix)
        && s.getPath.getName.endsWith(CommitSuffix) && s.getLen > 0)
      .flatMap { s =>
        val name = s.getPath.getName
          .stripPrefix(CommitPrefix).stripSuffix(CommitSuffix)
        try Some((name.toLong, s.getPath))
        catch { case _: NumberFormatException => None }
      }
      .sortBy(_._1)
  }

  private[ops] def readCommit(fs: FileSystem, p: HPath): String = {
    commitFileReads.incrementAndGet()
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Latest committed (version, content) with exactly ONE commit-file
    * read — the resolution every read/promote takes. Resolving the
    * latest state by parsing the FULL history is the manifest-read
    * amplification that turns a year of daily commits into ~365 file
    * reads per table resolution; the listing-then-one-read split here
    * is Iceberg's latest-pointer idea with the sorted listing playing
    * the pointer. */
  private[ops] def latestRaw(fs: FileSystem,
      rootPath: HPath): Option[(Long, String)] = {
    // TOCTOU guard: a concurrent vacuum can delete a listed commit file
    // before it is opened. The latest commit is never below any vacuum's
    // retention floor at listing time, but a commit landing between the
    // two vacuum phases can shift "latest" — one relist resolves it.
    def attempt(): Option[(Long, String)] =
      listCommits(fs, rootPath).lastOption.map { case (v, p) =>
        (v, readCommit(fs, p)) }
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  /** (version, content) of exactly `version` — one commit-file read;
    * throws with the available versions when absent (vacuumed below the
    * retention floor, or never committed). A commit vacuumed BETWEEN
    * the listing and the open surfaces as the same "not found" error,
    * not a raw FileNotFoundException. */
  private[ops] def rawAt(fs: FileSystem, rootPath: HPath,
      version: Long): (Long, String) = {
    val cs = listCommits(fs, rootPath)
    cs.find(_._1 == version) match {
      case Some((v, p)) =>
        try (v, readCommit(fs, p))
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalArgumentException(
              s"version $version not found under $rootPath " +
                "(vacuumed concurrently with this read)")
        }
      case None => throw new IllegalArgumentException(
        s"version $version not found under $rootPath " +
          s"(have ${cs.map(_._1).mkString(",")})")
    }
  }

  /** (version, raw commit-file content) for every non-empty commit,
    * ascending — format-agnostic full-history read shared with the
    * partitioned variant. Callers that only need the LATEST commit (or
    * one exact version) must use `latestRaw`/`rawAt` instead: this is
    * O(#versions) file reads and is reserved for the genuinely
    * whole-history operations (tag sets, vacuum's referenced-dir
    * census). */
  private[ops] def rawHistory(fs: FileSystem,
      rootPath: HPath): Seq[(Long, String)] =
    listCommits(fs, rootPath).map { case (v, p) => (v, readCommit(fs, p)) }

  /** (version, snapshot dir name, optional tag) for every parseable
    * commit, ascending. A commit file's first line names the snapshot
    * dir; an optional second line carries the committer's tag (the
    * streaming sink stamps its epoch there). Empty commit files (crash
    * between create and write) are skipped. */
  def fullHistory(spark: SparkSession,
      root: String): Seq[(Long, String, Option[String])] = {
    val (fs, rootPath) = fsOf(spark, root)
    rawHistory(fs, rootPath).map { case (v, content) =>
      val lines = content.linesIterator.toSeq
      (v, lines.head, lines.drop(1).headOption.filter(_.nonEmpty))
    }
  }

  /** (version, snapshot dir name) for every parseable commit, ascending. */
  def history(spark: SparkSession, root: String): Seq[(Long, String)] =
    fullHistory(spark, root).map { case (v, d, _) => (v, d) }

  /** Iceberg's `history` metadata table: the commit log as a DataFrame
    * — (version, tag, committed_at millis from commit-file mtime).
    * Metadata-only (O(#versions) small-file reads); `committed_at` is
    * wall-clock and excluded from deterministic gates. */
  def historyDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (fs, rootPath) = fsOf(spark, root)
    val mtimes = listCommits(fs, rootPath)
      .map { case (v, p) => v -> fs.getFileStatus(p).getModificationTime }
      .toMap
    fullHistory(spark, root).map { case (v, _, tag) =>
      (v, tag, mtimes.getOrElse(v, 0L))
    }.toDF("version", "tag", "committed_at")
  }

  /** Every tag any retained commit carries — the streaming sink's
    * replay-detection set (an epoch that appears here already committed
    * and must not commit again). O(#versions) small-file reads; hot
    * paths with MONOTONE tags use `latestTagWithPrefix` instead. */
  def committedTags(spark: SparkSession, root: String): Set[String] =
    fullHistory(spark, root).flatMap(_._3).toSet

  /** The newest commit tag starting with `prefix` (with the prefix
    * stripped), scanning commit files NEWEST-FIRST and stopping at the
    * first match — for monotone tag families (streaming epochs, the
    * propagate cursor), where the newest match IS the maximum, this
    * costs O(commits since the last match) instead of the O(#versions)
    * full-history read `committedTags` pays: a steady-state stream or
    * hop reads one or two commit files regardless of table age. Only a
    * table that has NEVER carried a matching tag scans its whole
    * (vacuum-bounded) history to prove absence. */
  def latestTagWithPrefix(spark: SparkSession, root: String,
      prefix: String): Option[String] = {
    val (fs, rootPath) = fsOf(spark, root)
    listCommits(fs, rootPath).reverseIterator
      .flatMap { case (_, p) =>
        // concurrent-vacuum guard (same as latestRaw's): a commit file
        // deleted between the listing and the open is skipped — safe,
        // because vacuum only deletes below the retention floor and the
        // epoch carry-forward keeps each stream's newest tag on a
        // retained commit
        try Some(readCommit(fs, p))
        catch { case _: java.io.FileNotFoundException => None }
      }
      .flatMap(_.linesIterator.drop(1).take(1))
      .collectFirst { case t if t.startsWith(prefix) =>
        t.stripPrefix(prefix) }
  }

  /** Highest committed version, if any commit exists — a pure listing,
    * zero commit-file reads. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val (fs, rootPath) = fsOf(spark, root)
    listCommits(fs, rootPath).lastOption.map(_._1)
  }

  /**
   * Commit `df` as the table's next version and return the version
   * number. The parquet write happens entirely into an invisible
   * snapshot dir; visibility is the single create-exclusive commit-file
   * operation at the end, retried on the next version number if another
   * writer claims this one first (their snapshot, not ours, becomes
   * that version — both commits survive, serialized).
   */
  def commit(df: DataFrame, root: String, tag: Option[String] = None,
      statsCols: Seq[String] = Nil): Long = {
    require(tag.forall(t => t.nonEmpty && !t.contains('\n')),
      "commit tag must be non-empty and single-line")
    val spark = df.sparkSession
    val (fs, rootPath) = fsOf(spark, root)
    val snapName = writeSnapshot(df, fs, rootPath, statsCols)
    val content = snapName + tag.map("\n" + _).getOrElse("")
    claimVersion(fs, rootPath, content,
      currentVersion(spark, root).getOrElse(0L) + 1)
  }

  /** Materialize one immutable snapshot dir (data + optional per-file
    * min/max stats) without making it visible — the shared write half
    * of `commit` and `commitToBranch`. The stats table lands inside the
    * snapshot's own (underscore-hidden) `_stats` dir, so stats and data
    * always publish together and time-travel reads prune against the
    * right version (the smallest step toward Iceberg manifest pruning). */
  private def writeSnapshot(df: DataFrame, fs: FileSystem,
      rootPath: HPath, statsCols: Seq[String]): String = {
    val spark = df.sparkSession
    if (!fs.exists(rootPath)) fs.mkdirs(rootPath)
    val snapName = SnapPrefix + UUID.randomUUID().toString
    val snapPath = new HPath(rootPath, snapName)
    df.write.mode("overwrite").parquet(snapPath.toString)
    writeSchema(fs, snapPath, df.schema)
    if (statsCols.nonEmpty) {
      import org.apache.spark.sql.functions.{col, count, element_at, input_file_name, lit, max, min, split}
      val aggs = count(lit(1)).as("__rows") +: statsCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      val stats = readDir(spark, snapPath.toString)
        .groupBy(element_at(split(input_file_name(), "/"), -1).as("__file"))
        .agg(aggs.head, aggs.tail: _*)
      val statsPath = new HPath(snapPath, StatsDirName)
      stats.coalesce(1).write.parquet(statsPath.toString)
      writeSchema(fs, statsPath, stats.schema)
    }
    snapName
  }

  private[ops] val StatsDirName = "_stats"

  /** The file inside every dir the engine writes (snapshots, sidecars,
    * swap/promote targets) that records the dir's read schema as Spark
    * `StructType` JSON — table metadata any reader gets, the way an
    * Iceberg table carries its schema. Reading through it skips the
    * one-task footer-inference job a plain `spark.read.parquet` runs on
    * every call (measured: 81 inference jobs in one 70-statement door
    * replay at sf0.1), and a second process gets the schema the writer
    * wrote instead of re-guessing it. Underscore-prefixed, so scans
    * never see it. */
  private[graft] val SchemaFile = "_schema"

  /** The shape parquet hands back for a written `schema`: every field
    * nullable, char/varchar as string. */
  private[graft] def readBackShape(schema: StructType): StructType = {
    def loose(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = loose(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(loose(a.elementType), containsNull = true)
      case m: MapType => MapType(loose(m.keyType), loose(m.valueType),
        valueContainsNull = true)
      case _: CharType | _: VarcharType => StringType
      case other => other
    }
    loose(schema).asInstanceOf[StructType]
  }

  /** Record `schema` (in read-back shape) as `dir`'s `_schema`. Writers
    * call this before the dir becomes visible: inside a snapshot or
    * sidecar before its commit, inside a swap's staging dir before the
    * renames. Partitioned dirs record the data columns in written order
    * with the partition column last, at the type the writer wrote. */
  private[graft] def writeSchema(fs: FileSystem, dir: HPath,
      schema: StructType): Unit = {
    val out = fs.create(new HPath(dir, SchemaFile), true)
    try out.write(readBackShape(schema).json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The schema `dir` records; None when it has no (or no complete)
    * `_schema` — a dir the engine did not write, written before schemas
    * were recorded, or missing altogether. */
  private[graft] def recordedSchema(spark: SparkSession,
      dir: String): Option[StructType] = {
    val p = new HPath(dir, SchemaFile)
    try {
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      val json = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      Some(DataType.fromJson(json).asInstanceOf[StructType])
    } catch {
      // absent, or caught mid-overwrite by a concurrent writer: infer
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Parquet read of `paths` (default: the whole dir) under `base`, with
    * the schema `base` records; plain inference when it records none (a
    * missing `base` still throws Spark's AnalysisException). A whole
    * recorded dir is listed on the driver, so a dir with many partition
    * dirs costs no discovery job. A sub-dir/file read rides `base` as
    * the `basePath` option so it keeps its partition column. */
  private[graft] def readDir(spark: SparkSession, base: String,
      paths: Seq[String] = Nil): DataFrame = {
    val schema = recordedSchema(spark, base)
    if (paths.isEmpty && schema.isDefined) {
      val (fs, p) = fsOf(spark, base)
      org.apache.spark.sql.graft.Internals.listedParquet(spark,
        fs.makeQualified(p), schema.get)
    } else {
      val reader0 =
        if (paths.isEmpty) spark.read else spark.read.option("basePath", base)
      schema.fold(reader0)(reader0.schema)
        .parquet((if (paths.isEmpty) Seq(base) else paths): _*)
    }
  }

  /** The per-file stats table a `commit(statsCols = …)` wrote for
    * `version` (latest if None): one row per data file with
    * `__file, __rows, min_<c>, max_<c>` columns (`__rows` absent in
    * sidecars written before row counts existed). None if that
    * snapshot was committed without stats. */
  def fileStats(spark: SparkSession, root: String,
      version: Option[Long] = None): Option[DataFrame] = {
    val snap = snapDir(spark, root, version)
    val (fs, _) = fsOf(spark, root)
    val p = new HPath(snap, StatsDirName)
    if (fs.exists(p)) Some(readDir(spark, p.toString)) else None
  }

  /** Data-file names of `version` whose [min, max] range on `colName`
    * intersects [lo, hi] — a file is kept unless its stats PROVE it
    * cannot match (all-null stats keep the file, conservatively). */
  def prunedFiles(spark: SparkSession, root: String, colName: String,
      lo: Any, hi: Any, version: Option[Long] = None): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    val stats = fileStats(spark, root, version).getOrElse(
      throw new IllegalArgumentException(
        s"no $StatsDirName under $root — commit with statsCols to enable pruning"))
    stats.where(
        col(s"min_$colName").isNull || col(s"max_$colName").isNull ||
          !(col(s"max_$colName") < lit(lo) || col(s"min_$colName") > lit(hi)))
      .select("__file").collect().map(_.getString(0)).toSeq
  }

  /**
   * Range-predicate read that skips every data file whose committed
   * min/max stats prove it holds no row with `colName` in [lo, hi] —
   * file-level pruning at the table-format layer, upstream of parquet
   * row-group pruning. The surviving-file list is a metadata-sized
   * driver fetch (exactly Iceberg's manifest-planning shape). The
   * result still carries the matching files' NON-matching rows; callers
   * apply their real predicate on top (which Spark then pushes into the
   * parquet scan as usual).
   */
  def readPruned(spark: SparkSession, root: String, colName: String,
      lo: Any, hi: Any, version: Option[Long] = None): DataFrame = {
    val snap = snapDir(spark, root, version).toString
    val keep = prunedFiles(spark, root, colName, lo, hi, version)
    if (keep.isEmpty)
      readDir(spark, snap)
        .where(org.apache.spark.sql.functions.lit(false))
    else readDir(spark, snap, keep.map(f => s"$snap/$f"))
  }

  private def snapDir(spark: SparkSession, root: String,
      version: Option[Long]): HPath = {
    // one commit-file read per resolution, regardless of history length
    val (fs, rootPath) = fsOf(spark, root)
    val content = version match {
      case None => latestRaw(fs, rootPath).map(_._2).getOrElse(
        throw new IllegalArgumentException(s"no committed version under $root"))
      case Some(n) => rawAt(fs, rootPath, n)._2
    }
    new HPath(rootPath, content.linesIterator.next())
  }

  /** Read the latest committed snapshot. The returned frame is pinned to
    * the resolved snapshot dir — commits that land later do not change
    * what it scans (snapshot isolation). */
  def read(spark: SparkSession, root: String): DataFrame =
    readDir(spark, snapDir(spark, root, None).toString)

  /** Time travel: read an exact retained version. */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    readDir(spark, snapDir(spark, root, Some(version)).toString)

  /** Metadata-only rollback (Iceberg `rollback_to_snapshot`): commit a
    * NEW version whose content is version `to`'s, verbatim — history
    * stays append-only (the bad versions remain inspectable and the
    * rollback itself is time-travelable), readers flip atomically, and
    * no data moves. `to` must still be retained. Returns the new
    * version. */
  def rollbackTo(spark: SparkSession, root: String, to: Long): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    val content = rawAt(fs, rootPath, to)._2
    claimVersion(fs, rootPath, content,
      currentVersion(spark, root).getOrElse(0L) + 1)
  }

  // ---- branches: write-audit-publish (Iceberg WAP) ----------------------
  //
  // A branch is an independent pointer chain over the SAME snapshot
  // namespace: `_branch-<name>-v<N>.commit` files whose content format is
  // identical to main's (`snap-<uuid>` + optional tag line). Main readers
  // never resolve branch files, so branch commits are invisible until
  // `publish` fast-forwards main with a metadata-only commit that
  // references the branch head's existing snapshot dir — zero data I/O,
  // exactly Iceberg's write-audit-publish cherry-pick. Publish appends to
  // whatever main is at publish time (last-writer-wins, the same rule as
  // every other commit here); audit failures just `dropBranch`, leaving
  // main untouched and the staged snapshot to `vacuum`'s orphan sweep.
  // `vacuum` retains every branch-referenced snapshot dir regardless of
  // main's retention window, so an unpublished branch can outlive any
  // number of main commits.

  private[ops] val BranchPrefix = "_branch-"
  private[ops] val BranchMid = "-v"

  // Named TAGS (Iceberg's `ALTER TABLE … CREATE TAG` surface): one
  // `_tag-<name>.ref` file per tag holding the referenced MAIN version
  // in digits. Unlike a branch (its own commit line), a tag is an
  // immutable pointer into main's history; `vacuum` retains the tagged
  // commit files and their manifests' snapshot dirs, so a tag can
  // outlive any retention window.
  private[ops] val TagPrefix = "_tag-"
  private[ops] val TagSuffix = ".ref"

  private[ops] def branchFilePrefix(branch: String): String = {
    require(branch.matches("[A-Za-z0-9_.]+"),
      s"branch name must match [A-Za-z0-9_.]+ (no dashes): $branch")
    s"$BranchPrefix$branch$BranchMid"
  }

  /** (version, content) of the branch's newest non-empty pointer file,
    * from one listing + one read; None if the branch has no commits. */
  private[ops] def branchHeadRaw(fs: FileSystem, rootPath: HPath,
      branch: String): Option[(Long, String)] = {
    if (!fs.exists(rootPath)) return None
    val pre = branchFilePrefix(branch)
    val vs = fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getLen > 0)
      .map(_.getPath.getName)
      .filter(n => n.startsWith(pre) && n.endsWith(CommitSuffix))
      .flatMap { n =>
        try Some(n.stripPrefix(pre).stripSuffix(CommitSuffix).toLong)
        catch { case _: NumberFormatException => None }
      }
    vs.sorted.reverse.iterator.flatMap { v =>
      try Some((v, readCommit(fs,
        new HPath(rootPath, f"$pre$v%020d$CommitSuffix"))))
      catch { case _: java.io.FileNotFoundException => None }
    }.nextOption()
  }

  /** Stage a snapshot on `branch` without touching main — the "write"
    * of write-audit-publish. Same optimistic claim protocol as `commit`,
    * scoped to the branch's own version counter. */
  def commitToBranch(df: DataFrame, root: String, branch: String,
      tag: Option[String] = None, statsCols: Seq[String] = Nil): Long = {
    require(tag.forall(t => t.nonEmpty && !t.contains('\n')),
      "commit tag must be non-empty and single-line")
    val spark = df.sparkSession
    val (fs, rootPath) = fsOf(spark, root)
    val pre = branchFilePrefix(branch)
    val snapName = writeSnapshot(df, fs, rootPath, statsCols)
    val content = snapName + tag.map("\n" + _).getOrElse("")
    var v = branchHeadRaw(fs, rootPath, branch).map(_._1).getOrElse(0L) + 1
    var committed = false
    while (!committed) {
      val target = new HPath(rootPath, f"$pre$v%020d$CommitSuffix")
      try {
        val out = fs.create(target, false)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        committed = true
      } catch {
        case _: java.io.IOException if fs.exists(target) => v += 1
      }
    }
    v
  }

  /** Read the branch head's snapshot — the "audit" read. Snapshot
    * isolation holds exactly as for `read`. */
  def readBranch(spark: SparkSession, root: String, branch: String): DataFrame = {
    val (fs, rootPath) = fsOf(spark, root)
    val content = branchHeadRaw(fs, rootPath, branch).map(_._2).getOrElse(
      throw new IllegalArgumentException(s"no commits on branch $branch under $root"))
    readDir(spark,
      new HPath(rootPath, content.linesIterator.next()).toString)
  }

  /** Fast-forward main to the branch head — the "publish". Metadata
    * only: the new main commit carries the branch head's content
    * verbatim (same snapshot dir, same tag), so no data moves. Returns
    * the new main version; drops the branch pointers afterwards unless
    * `drop = false`. */
  def publish(spark: SparkSession, root: String, branch: String,
      drop: Boolean = true): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    val content = branchHeadRaw(fs, rootPath, branch).map(_._2).getOrElse(
      throw new IllegalArgumentException(s"no commits on branch $branch under $root"))
    val v = claimVersion(fs, rootPath, content,
      currentVersion(spark, root).getOrElse(0L) + 1)
    if (drop) dropBranch(spark, root, branch)
    v
  }

  /** Delete the branch's pointer files (the audit-reject path). The
    * staged snapshots become unreferenced and fall to `vacuum`'s
    * age-gated orphan sweep — main is never touched. Returns the number
    * of pointer files removed. */
  def dropBranch(spark: SparkSession, root: String, branch: String): Int = {
    val (fs, rootPath) = fsOf(spark, root)
    if (!fs.exists(rootPath)) return 0
    val pre = branchFilePrefix(branch)
    val files = fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(pre)
        && s.getPath.getName.endsWith(CommitSuffix))
    files.foreach(s => fs.delete(s.getPath, false))
    files.length
  }

  /** Every snapshot dir referenced by ANY branch pointer file (one
    * listing + one read per pointer) — `vacuum`'s branch keep-set. */
  private[ops] def branchDirs(fs: FileSystem, rootPath: HPath): Set[String] = {
    if (!fs.exists(rootPath)) return Set.empty
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getLen > 0
        && s.getPath.getName.startsWith(BranchPrefix)
        && s.getPath.getName.endsWith(CommitSuffix))
      .flatMap { s =>
        try Some(readCommit(fs, s.getPath).linesIterator.next())
        catch { case _: java.io.FileNotFoundException => None }
      }
      .toSet
  }

  /** (version, commit-time ms) for every non-empty commit, ascending by
    * version, from ONE directory listing — commit time is the commit
    * file's modification time, stamped by the create-exclusive claim
    * that made the version visible (the analogue of Iceberg's snapshot
    * `committed_at`). Zero commit-file reads. */
  private[ops] def commitTimes(fs: FileSystem,
      rootPath: HPath): Seq[(Long, Long)] = {
    if (!fs.exists(rootPath)) return Seq.empty
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(CommitPrefix)
        && s.getPath.getName.endsWith(CommitSuffix) && s.getLen > 0)
      .flatMap { s =>
        val name = s.getPath.getName
          .stripPrefix(CommitPrefix).stripSuffix(CommitSuffix)
        try Some((name.toLong, s.getModificationTime))
        catch { case _: NumberFormatException => None }
      }
      .sortBy(_._1)
  }

  /** Iceberg `FOR TIMESTAMP AS OF` resolution (reference `README.md:76`
    * — the reference's table format supports timestamp time travel):
    * the HIGHEST version whose commit time is <= `tsMs`. Resolved on
    * version order, not mtime order, so a backdated commit (clock skew
    * between writers, a restored table root) can never hide a
    * later-NUMBERED commit that was also visible by `tsMs` — version
    * order is the serialization order the claim loop enforces, and it
    * wins whenever the two disagree. One listing, zero commit reads;
    * the actual snapshot resolution then costs the usual single read. */
  def versionAsOf(spark: SparkSession, root: String, tsMs: Long): Long = {
    val (fs, rootPath) = fsOf(spark, root)
    val ct = commitTimes(fs, rootPath)
    val eligible = ct.filter(_._2 <= tsMs)
    if (eligible.isEmpty) throw new IllegalArgumentException(
      s"no commit at or before ts=$tsMs under $root" +
        ct.headOption.map { case (v, t) =>
          s" (earliest commit v$v at $t)" }.getOrElse(" (no commits)"))
    eligible.map(_._1).max
  }

  /** Timestamp time travel: read the snapshot that was current as of
    * wall-clock `tsMs` (`SELECT … FOR TIMESTAMP AS OF`). */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    readAt(spark, root, versionAsOf(spark, root, tsMs))

  /**
   * Retention: keep the newest `keepLast` committed versions, delete
   * older snapshots AND their commit files, plus orphan snapshot dirs
   * no commit references (crashed writers) and every empty commit
   * file older than the retained window. Returns the number of
   * snapshot dirs deleted. Readers of retained versions are unaffected;
   * time travel below the retention floor now fails loudly.
   *
   * Orphans are age-gated (Iceberg's remove-orphan-files rule): an
   * IN-FLIGHT commit's snapshot dir exists before its commit file does,
   * so a vacuum racing a live writer would otherwise delete the live
   * snapshot and leave the subsequent commit pointing at nothing.
   * Only orphan dirs whose modification time is older than
   * `orphanMinAgeMs` (default 1 h — far beyond any commit's
   * write-to-commit window) are swept; snapshots referenced by a
   * SUPERSEDED commit were fully committed and are reclaimed
   * immediately regardless of age.
   */
  /** Number of retained commits a time-based retention policy should
    * keep: every commit whose commit-file modification time (= commit
    * time) is within `olderThanMs` of now, floored at `retainLast` —
    * Iceberg's `expire_snapshots(older_than, retain_last)` arithmetic,
    * shared by both formats' `vacuumOlderThan`. One directory listing,
    * zero commit-file reads. */
  private[ops] def keepCountByAge(fs: FileSystem, rootPath: HPath,
      olderThanMs: Long, retainLast: Int): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val ct = commitTimes(fs, rootPath)
    // the keep set is the version-ordered SUFFIX from the OLDEST
    // recent-mtime commit upward — not a bare count of recent mtimes.
    // The version-ordered vacuum keeps the last N by version, so when
    // mtime order diverges from version order (clock skew between
    // writers, a copied/restored table root), a bare count could let a
    // within-window commit fall outside the kept suffix; anchoring on
    // the minimum recent version keeps every commit that is within the
    // age window, at worst retaining extra backdated ones.
    val keepFrom = ct.filter(_._2 >= cutoff).map(_._1).minOption
    val recent = keepFrom.map(mv => ct.count(_._1 >= mv)).getOrElse(0)
    math.max(retainLast, recent)
  }

  /** Age-based retention (Iceberg `expire_snapshots` shape): keep every
    * commit younger than `olderThanMs` and at least `retainLast`
    * regardless of age, then delegate to the count-based `vacuum` for
    * the actual sweep (same orphan age gate, same retention-floor
    * semantics). Returns snapshot dirs deleted. */
  def vacuumOlderThan(spark: SparkSession, root: String, olderThanMs: Long,
      retainLast: Int = 1, orphanMinAgeMs: Long = 3600000L): Int = {
    require(olderThanMs >= 0, s"need olderThanMs >= 0, got $olderThanMs")
    val (fs, rootPath) = fsOf(spark, root)
    vacuum(spark, root,
      keepCountByAge(fs, rootPath, olderThanMs, retainLast), orphanMinAgeMs)
  }

  /** Streaming epoch tag prefix (`epoch=<checkpoint-id>-<n>`) — written
    * by the streaming sinks' `commitEpoch`, parsed here so vacuum can
    * preserve each stream's replay guard across retention. */
  private[graft] val EpochTagPrefix = "epoch="

  /** checkpoint-id → max epoch across every `epoch=` tag in `tags`
    * (epoch is the digits after the LAST '-'; checkpoint ids may
    * themselves contain dashes). */
  private def maxEpochByStream(tags: Seq[String]): Map[String, Long] =
    tags.filter(_.startsWith(EpochTagPrefix))
      .flatMap { t =>
        val body = t.stripPrefix(EpochTagPrefix)
        val i = body.lastIndexOf('-')
        if (i <= 0) None
        else try Some((body.substring(0, i), body.substring(i + 1).toLong))
        catch { case _: NumberFormatException => None }
      }
      .groupMapReduce(_._1)(_._2)(_ max _)

  /** The epoch tags a vacuum must re-commit before deleting below the
    * floor: for each checkpoint stream, its newest epoch tag — but only
    * when every commit carrying a tag that new is about to be dropped.
    * Without this, interleaved writers can push a stream's newest
    * epoch-tagged commit out of the keepLast window, and a crash-replay
    * of that epoch would wrongly commit a second time (the exactly-once
    * guard `commitEpoch` resolves via `latestTagWithPrefix`). Mirrors
    * the src-version cursor carry-forward in the partitioned vacuum. */
  private[ops] def epochCarryTags(droppedTags: Seq[String],
      keptTags: Seq[String]): Seq[String] = {
    val kept = maxEpochByStream(keptTags)
    maxEpochByStream(droppedTags).toSeq
      .collect { case (cid, n) if kept.get(cid).forall(_ < n) =>
        s"$EpochTagPrefix$cid-$n" }
      .sorted
  }

  def vacuum(spark: SparkSession, root: String, keepLast: Int,
      orphanMinAgeMs: Long = 3600000L): Int = {
    require(keepLast >= 1, s"need keepLast >= 1, got $keepLast")
    val (fs, rootPath) = fsOf(spark, root)
    if (!fs.exists(rootPath)) return 0
    val hFull = fullHistory(spark, root)
    val h = hFull.map { case (v, d, _) => (v, d) }
    // every committed snapshot dir, including ones about to be retired —
    // captured BEFORE commit files are deleted so superseded dirs stay
    // distinguishable from true orphans below
    val committedDirs = h.map(_._2).toSet
    val keep = h.takeRight(keepLast)
    val keepDirs = keep.map(_._2).toSet
    val keepMin = keep.headOption.map(_._1).getOrElse(Long.MaxValue)
    // carry each stream's newest epoch tag above the floor before any
    // deletion: a fresh metadata-only commit re-tags it onto the latest
    // snapshot dir (already in keepDirs, zero data I/O), keeping the
    // exactly-once replay guard intact when interleaved writers pushed
    // the tagged commit below the retention floor
    val carry = epochCarryTags(
      hFull.filter(_._1 < keepMin).flatMap(_._3),
      hFull.filter(_._1 >= keepMin).flatMap(_._3))
    if (carry.nonEmpty) {
      val latestDir = h.last._2
      carry.foreach { t =>
        claimVersion(fs, rootPath, latestDir + "\n" + t,
          currentVersion(spark, root).getOrElse(0L) + 1)
      }
    }
    // drop superseded commit files (and empty claims below the floor)
    fs.listStatus(rootPath).foreach { s =>
      val n = s.getPath.getName
      if (s.isFile && n.startsWith(CommitPrefix) && n.endsWith(CommitSuffix)) {
        val v = try n.stripPrefix(CommitPrefix).stripSuffix(CommitSuffix).toLong
          catch { case _: NumberFormatException => Long.MinValue }
        if (v < keepMin) fs.delete(s.getPath, false)
      }
    }
    // drop unreferenced snapshot dirs: superseded immediately, orphans
    // only past the age gate (could be a concurrent writer mid-commit).
    // Branch-referenced dirs are NEVER dropped — an unpublished
    // write-audit-publish branch must survive any number of main
    // commits until it is published or dropped.
    val branchKeep = branchDirs(fs, rootPath)
    val now = System.currentTimeMillis()
    val snaps = fs.listStatus(rootPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(SnapPrefix))
    val doomed = snaps.filterNot(s => keepDirs.contains(s.getPath.getName)
        || branchKeep.contains(s.getPath.getName))
      .filter { s =>
        committedDirs.contains(s.getPath.getName) ||
          now - s.getModificationTime >= orphanMinAgeMs
      }
    doomed.foreach(s => fs.delete(s.getPath, true))
    doomed.length
  }
}
