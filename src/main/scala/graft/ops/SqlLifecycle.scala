package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.catalyst.analysis.{AsOfTimestamp, AsOfVersion,
  RelationTimeTravel, TimeTravelSpec, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
  LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.graft.Internals

/**
 * SQL LIFECYCLE front door. The reference pipeline's entire interface
 * is raw SQL statement texts — including the table lifecycle: CREATE
 * SCHEMA (reference `dags/dag.py:119`), CREATE TABLE ... USING ICEBERG
 * PARTITIONED BY (`dags/dag.py:130-148`), CREATE OR REPLACE TABLE
 * staging (`dags/dag.py:158-175`), partition-targeted DELETE FROM
 * (`dags/dag.py:292-296,368-371`), INSERT INTO ... SELECT / VALUES
 * (`dags/dag.py:89-104,307-311,385-437`), DROP TABLE IF EXISTS
 * (`dags/dag.py:322-325`). The SELECT side of that interface went
 * through `spark.sql` since round 11 (the `sql_*` shared-bytes gates);
 * this router closes the remaining gap: a user can paste the
 * reference's DDL/DML statement texts and run them against the
 * manifest table format.
 *
 * Routing, verb by verb:
 *  - CREATE SCHEMA → a directory namespace under the catalog root.
 *  - CREATE TABLE (+ PARTITIONED BY) → catalog entry (schema parsed by
 *    Spark's own DDL parser, so every Spark type incl. nested
 *    ARRAY<DECIMAL(10,2)> round-trips); partitioned tables live on
 *    `VersionedPartitioned` manifests (snapshot isolation, time
 *    travel), unpartitioned staging tables on a plain parquet dir with
 *    atomic swap (`Exchange.swapTable`) — transient by design, like
 *    the reference's per-ds staging.
 *  - INSERT INTO t <query> / VALUES → run the body through the query
 *    door, conform to the declared schema (BY NAME when the source
 *    column names match the target's, else positionally with an arity
 *    check — the schema-checked resolution of reference bug #6,
 *    SURVEY §2.14), cast column-by-column to the DDL types (the
 *    reference's implicit cast-on-INSERT into DECIMAL), and append.
 *    Partitioned-table appends rewrite ONLY the partitions present in
 *    the new rows (read-back union → promote), so a daily INSERT costs
 *    O(day), never O(table).
 *  - DELETE FROM t WHERE col = DATE '...' → partition-targeted
 *    `VersionedPartitioned.deleteWhere` (copy-on-write of the affected
 *    partition only) when col IS the partition column; any other
 *    predicate routes through the general row-level delete (still
 *    `deleteWhere` — only partitions holding matching rows rewrite).
 *  - UPDATE t SET c = expr, … WHERE pred → copy-on-write row update
 *    scoped to the matching partitions (plus any partition an updated
 *    row moves into when an assignment changes the partition column).
 *  - MERGE INTO t USING s ON keys WHEN … → `Merge.upsert`/`Merge.merge`
 *    with partition-scoped write-back via `overwritePartitions` (see
 *    `mergeInto` for the supported clause shapes).
 *  - DROP TABLE → removes data and catalog entry.
 *  - anything else → the query door (`query`): Spark parses the
 *    statement, each cataloged name it reads (`jakebuto.daily_stock_prices`
 *    in the reference text, time travel, branches, metadata tables,
 *    door views) is replaced by its read in the parsed plan, and Spark
 *    analyzes the result once.
 *
 * Catalog metadata (`_graft_table.meta`: DDL string + partition
 * column) lives inside each table directory, so a second session's
 * router resolves existing tables with no shared driver state.
 *
 * `-- comments` are stripped before matching (the reference texts are
 * comment-heavy). Statement matching is case-insensitive on keywords.
 */
class SqlLifecycle(val spark: SparkSession, val root: String) {
  import SqlLifecycle._

  /** Execute one statement text. Query statements return Some(result);
    * lifecycle verbs return None. */
  def execute(sqlText: String): Option[DataFrame] = {
    val s = stripComments(sqlText).trim
    // label every Spark job this statement spawns with the statement
    // head (guide §1.5) so UI/profiler output attributes replay cost
    // statement-by-statement; thread-local, restored on exit
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(
      "sql: " + s.replaceAll("\\s+", " ").take(80))
    try executeRouted(s)
    finally sc.setJobDescription(prevDesc)
  }

  private def executeRouted(s: String): Option[DataFrame] = {
    s match {
      case BeginTxnRe() => beginTxn(); return None
      case CommitTxnRe() => commitTxn(); return None
      case RollbackTxnRe() =>
        require(txnBuffer.isDefined, "ROLLBACK without BEGIN")
        txnBuffer = None
        return None
      case _ =>
    }
    // an open transaction buffers write statements verbatim until
    // COMMIT (txnTag set = we ARE the commit replay — run normally)
    if (txnBuffer.isDefined && txnTag.isEmpty) {
      bufferTxnStatement(s)
      return None
    }
    s match {
      case CreateSchemaRe(name) =>
        java.nio.file.Files.createDirectories(schemaDir(name)); None
      case CreateTableAsRe(orReplace, ifNotExists, name, partBy, body) =>
        createTableAs(name.toLowerCase,
          Option(partBy).map(_.trim.toLowerCase), body,
          orReplace = orReplace != null, ifNotExists = ifNotExists != null)
        None
      case CreateTableRe(orReplace, ifNotExists, name, colsBlock, partBy) =>
        createTable(name.toLowerCase, colsBlock,
          Option(partBy).map(_.trim.toLowerCase),
          orReplace = orReplace != null, ifNotExists = ifNotExists != null)
        None
      case CreateMviewRe(name, body) =>
        createMview(name.toLowerCase, body); None
      case RefreshMviewRe(name, full) =>
        refreshMview(name.toLowerCase, full != null); None
      case DropMviewRe(name) =>
        dropMview(name.toLowerCase); None
      case AlterMviewAutoRe(name, verb, secs) =>
        alterMviewAutoRefresh(name.toLowerCase,
          verb.equalsIgnoreCase("SET"), Option(secs).map(_.toLong)); None
      case CreateViewRe(orReplace, name, body) =>
        createView(name.toLowerCase, body, orReplace != null); None
      case DropViewRe(name) =>
        dropView(name.toLowerCase); None
      case ExplainRe(mode, body) =>
        Some(explain(body, Option(mode).map(_.trim.toLowerCase)
          .getOrElse("formatted")))
      case ShowTablesRe() =>
        import spark.implicits._
        Some((tables() ++ views().map(_ + " (view)")).toDF("table_name"))
      case ShowTblPropsRe(name) =>
        Some(showTblProps(name.toLowerCase))
      case ShowPartitionsRe(name) =>
        Some(showPartitions(name.toLowerCase))
      case ShowCreateRe(name) =>
        Some(showCreateTable(name.toLowerCase))
      case CallRe(proc, argBlock) =>
        Some(callProcedure(proc.toLowerCase, argBlock))
      case DescribeRe(name) =>
        Some(describe(name.toLowerCase))
      case DeletePartRe(name, colName, d)
          if metaOf(name.toLowerCase)
            .exists(_.partitionCol.contains(colName.toLowerCase)) =>
        deletePartition(name.toLowerCase, colName.toLowerCase, d); None
      case DeleteRowsRe(name, pred) =>
        deleteRows(name.toLowerCase, pred); None
      case UpdateRe(name, setBlock, pred) =>
        update(name.toLowerCase, setBlock, Option(pred)); None
      case MergeEvolveRe(tail) =>
        mergeInto("MERGE INTO " + tail, evolve = true); None
      case MergeStmtRe() =>
        mergeInto(s); None
      case AlterAddColRe(name, colName, colType, default) =>
        alterAddColumn(name.toLowerCase, colName, colType.trim,
          Option(default)); None
      case AlterDropColRe(name, colName) =>
        alterDropColumn(name.toLowerCase, colName); None
      case AlterColTypeRe(name, colName, colType) =>
        alterWidenColumn(name.toLowerCase, colName, colType.trim); None
      case AlterRenameColRe(name, from, to) =>
        alterRenameColumn(name.toLowerCase, from, to); None
      case AlterTblPropsRe(name, verb, propsBlock) =>
        alterTblProps(name.toLowerCase,
          verb.equalsIgnoreCase("SET"), propsBlock); None
      case TruncateRe(name) =>
        truncateTable(name.toLowerCase); None
      case AlterBranchRe(name, verb, branch) =>
        alterBranch(name.toLowerCase, verb, branch); None
      case AlterTagRe(name, verb, tag, asOf) =>
        alterTag(name.toLowerCase, verb, tag,
          Option(asOf).map(_.toLong)); None
      case WriteOrderRe(name, cols, unordered) =>
        alterWriteOrder(name.toLowerCase,
          if (unordered != null) Nil
          else cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq); None
      case InsertOverwriteBranchRe(name, branch, body) =>
        insertToBranch(name.toLowerCase, branch, body, overwrite = true); None
      case InsertBranchRe(name, branch, body) =>
        insertToBranch(name.toLowerCase, branch, body, overwrite = false); None
      case InsertOverwriteRe(name, body) =>
        insertOverwrite(name.toLowerCase, body); None
      case OptimizeRe(name, whereCol, whereVal, zCols, bits) =>
        optimizeTable(name.toLowerCase, Option(whereCol).map(_.toLowerCase),
          Option(whereVal), splitTop(zCols).map(_.trim),
          Option(bits).map(_.toInt).getOrElse(8)); None
      case OptimizePlainRe(name, whereCol, whereVal) =>
        optimizePlainTable(name.toLowerCase,
          Option(whereCol).map(_.toLowerCase), Option(whereVal)); None
      case VacuumRe(name, retain, dryRun) =>
        val n = Option(retain).map(_.toInt).getOrElse(1)
        val path = tableDir(name.toLowerCase).toString
        if (dryRun != null) {
          // Delta's spelling of the retention safety preview: one row
          // per dir the real VACUUM would reclaim right now, zero
          // writes (the same vacuumPlan core as CALL expire_snapshots'
          // dry_run — the preview cannot drift from the deletion)
          import spark.implicits._
          val plan =
            if (VersionedPartitioned.currentVersion(spark, path).isEmpty)
              Nil
            else VersionedPartitioned.vacuumPlan(spark, path,
              keepLast = n, orphanMinAgeMs = 0L)
          Some(plan.map(d => (name.toLowerCase, d))
            .toDF("table", "would_delete_location"))
        } else {
          if (VersionedPartitioned.currentVersion(spark, path).isDefined)
            VersionedPartitioned.vacuum(spark, path, keepLast = n,
              orphanMinAgeMs = 0L)
          None
        }
      case AnalyzeRe(name, allMark, colsBlock) =>
        analyzeTable(name.toLowerCase, allMark != null,
          Option(colsBlock)); None
      case CreateBloomIdxRe(name, cols) =>
        bloomIndex(name.toLowerCase, Some(cols)); None
      case DropBloomIdxRe(name) =>
        bloomIndex(name.toLowerCase, None); None
      case CacheTableRe(lazyMark, name) =>
        cacheTable(name.toLowerCase, eager = lazyMark == null); None
      case UncacheTableRe(name) =>
        uncacheTable(name.toLowerCase); None
      case RefreshTableRe(name) =>
        // Spark's verb: re-resolve cached state. A cached table
        // re-pins at the CURRENT version (the version check would
        // drop a stale pin lazily anyway — REFRESH does it eagerly);
        // an uncached table is a no-op, like Spark's.
        val n = name.toLowerCase
        if (metaOf(n).isEmpty)
          throw new IllegalArgumentException(s"REFRESH TABLE $n: no such table")
        if (cachedTables.contains(n)) cacheTable(n)
        None
      case CopyIntoRe(name, path, fmt) =>
        // FILEFORMAT is matched loudly: a non-PARQUET format names the
        // table and the format rather than falling through to the
        // generic unroutable-statement error
        if (fmt != null && !fmt.equalsIgnoreCase("PARQUET"))
          throw new IllegalArgumentException(
            s"COPY INTO ${name.toLowerCase}: unsupported FILEFORMAT " +
              s"${fmt.toUpperCase} (only PARQUET)")
        Some(copyInto(name.toLowerCase, path))
      case InsertRe(name, body) =>
        insert(name.toLowerCase, body); None
      case DropTableRe(name) =>
        dropTable(name.toLowerCase); None
      case _ =>
        // `WITH … MERGE INTO` (the changes-CTE-then-upsert text Iceberg
        // and Delta users write): hoist the CTE prologue into the USING
        // source so the MERGE router sees a plain subquery. A WITH that
        // does NOT lead to a top-level MERGE parses as a query as before.
        hoistWithIntoMerge(s) match {
          case Some(MergeEvolveRe(tail)) =>
            mergeInto("MERGE INTO " + tail, evolve = true); None
          case Some(merge) => mergeInto(merge); None
          case None => Some(query(s))
        }
    }
  }

  /** Execute a multi-statement SCRIPT: statements split on top-level
    * semicolons — outside string literals and parentheses, so
    * `VALUES ('a;b')` and subqueries ship intact — and routed through
    * `execute` in order. Returns the LAST statement's result frame, if
    * any (the usual tail-SELECT convention). Comment-only or empty
    * fragments are skipped, so trailing semicolons and `-- header`
    * blocks route cleanly. */
  def executeScript(script: String): Option[DataFrame] = {
    var last: Option[DataFrame] = None
    var depth = 0
    val sb = new StringBuilder
    def flush(): Unit = {
      val stmt = sb.toString
      sb.clear()
      if (stripComments(stmt).trim.nonEmpty) last = execute(stmt)
    }
    // comment- and literal-aware scan: a `;` inside `-- …` or
    // `/* … */` is comment text (the Airflow-task-shaped scripts this
    // API targets are comment-heavy), a `'` inside a comment must not
    // flip string state, and `''` inside a literal is an escaped quote,
    // not an exit+enter pair. Comment bytes are COPIED into the
    // statement (execute strips them properly), so error messages still
    // show the user's text.
    var i = 0
    while (i < script.length) {
      script.charAt(i) match {
        case '\'' =>
          sb += '\''; i += 1
          var closed = false
          while (i < script.length && !closed) {
            val c = script.charAt(i); sb += c; i += 1
            if (c == '\'') {
              if (i < script.length && script.charAt(i) == '\'') {
                sb += '\''; i += 1
              } else closed = true
            }
          }
        case '-' if i + 1 < script.length && script.charAt(i + 1) == '-' =>
          while (i < script.length && script.charAt(i) != '\n') {
            sb += script.charAt(i); i += 1
          }
        case '/' if i + 1 < script.length && script.charAt(i + 1) == '*' =>
          sb ++= "/*"; i += 2
          while (i + 1 < script.length &&
            !(script.charAt(i) == '*' && script.charAt(i + 1) == '/')) {
            sb += script.charAt(i); i += 1
          }
          if (i + 1 < script.length) { sb ++= "*/"; i += 2 }
          else i = script.length
        case '(' => depth += 1; sb += '('; i += 1
        case ')' => depth -= 1; sb += ')'; i += 1
        case ';' if depth == 0 => flush(); i += 1
        case c => sb += c; i += 1
      }
    }
    flush()
    last
  }

  /** Rewrite `WITH <ctes> MERGE INTO … USING <src> …` into
    * `MERGE INTO … USING (WITH <ctes> …) …` — the prologue's CTEs are
    * only readable by the source side (the target is a cataloged
    * table), so scoping them into the USING subquery preserves
    * semantics exactly and reuses the whole MERGE router unchanged.
    * `USING <cteName>` becomes `USING (WITH <ctes> SELECT * FROM
    * <cteName>)`; a `USING (subquery)` gets the CTE list prepended
    * (merging lists when the subquery carries its own WITH). Returns
    * None when the text is not a WITH-led top-level MERGE — the
    * caller then routes it as an ordinary query. A malformed prologue
    * (unbalanced parentheses the CTE walk trips over) also returns
    * None rather than crashing: the statement then reaches `query`,
    * where Spark's own parser produces the real error message. */
  private def hoistWithIntoMerge(text: String): Option[String] =
    try hoistWithIntoMergeImpl(text)
    catch { case _: IllegalArgumentException => None }

  private def hoistWithIntoMergeImpl(text: String): Option[String] = {
    val t = text.trim.stripSuffix(";")
    if (!"""(?is)^WITH\s.*""".r.matches(t)) return None
    // walk the CTE list: name [(cols)] AS ( body ) [, …]
    var i = 4
    def skipWs(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    var done = false
    while (!done) {
      skipWs()
      val nameEnd = {
        var j = i
        while (j < t.length && (t.charAt(j).isLetterOrDigit ||
          t.charAt(j) == '_')) j += 1
        j
      }
      if (nameEnd == i) return None
      i = nameEnd; skipWs()
      if (i < t.length && t.charAt(i) == '(') { // optional column list
        i = matchingParen(t, i) + 1; skipWs()
      }
      if (i + 2 > t.length || !t.substring(i, i + 2).equalsIgnoreCase("AS"))
        return None
      i += 2; skipWs()
      if (i >= t.length || t.charAt(i) != '(') return None
      i = matchingParen(t, i) + 1; skipWs()
      if (i < t.length && t.charAt(i) == ',') i += 1 else done = true
    }
    val ctes = t.substring(4, i).trim
    val rest = t.substring(i).trim
    if (!"""(?is)^MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s.*""".r
        .matches(rest)) return None
    // first USING outside string literals, scanned positionally
    val srcStart = {
      var j = 0; var inStr = false; var at = -1
      while (at < 0 && j < rest.length - 6) {
        rest.charAt(j) match {
          case '\'' => inStr = !inStr
          case _ if !inStr &&
              rest.substring(j, j + 5).equalsIgnoreCase("USING") &&
              (rest.charAt(j + 5).isWhitespace || rest.charAt(j + 5) == '(') &&
              (j == 0 || !rest.charAt(j - 1).isLetterOrDigit) =>
            at = j + 5
            while (at < rest.length && rest.charAt(at).isWhitespace) at += 1
          case _ =>
        }
        j += 1
      }
      if (at < 0) return None
      at
    }
    val rewritten =
      if (rest.charAt(srcStart) == '(') {
        val close = matchingParen(rest, srcStart)
        val body = rest.substring(srcStart + 1, close).trim
        val merged =
          if ("""(?is)^WITH\s.*""".r.matches(body))
            "WITH " + ctes + ", " + body.substring(4).trim
          else "WITH " + ctes + " " + body
        rest.substring(0, srcStart) + "(" + merged + ")" +
          rest.substring(close + 1)
      } else {
        val nameEnd = {
          var j = srcStart
          while (j < rest.length && !rest.charAt(j).isWhitespace) j += 1
          j
        }
        val srcName = rest.substring(srcStart, nameEnd)
        rest.substring(0, srcStart) +
          "(WITH " + ctes + " SELECT * FROM " + srcName + ")" +
          rest.substring(nameEnd)
      }
    Some(rewritten)
  }

  /** The query door: Spark's parser and analyzer over the cataloged
    * tables. The statement is parsed once; `resolveReads` puts the read
    * each cataloged name stands for in place of the name, including
    * Spark's own time-travel syntax (`t VERSION AS OF n|'tag'`, `t
    * TIMESTAMP AS OF '<ts>'`, the timestamp cast in the session time
    * zone), Iceberg's `t.branch_<b>` and metadata-table suffixes, and
    * door views; the plan is then analyzed once. No temp view is
    * registered. */
  def query(sel: String): DataFrame = {
    val parsed = Internals.ofRows(spark,
      resolveReads(Internals.parse(spark, sel))).queryExecution.withCachedData
    // a read the statement names twice (a self-join of one table) is
    // one relation instance under two leaves: each such leaf becomes
    // its own scan, so each scan narrows independently below (a
    // self-join with one filtered side prunes that side alone). A CTE
    // referenced twice stays one scan: its body is one leaf, inlined
    // twice.
    val reads = parsed.collectWithSubqueries { case ManifestFileIndex.Scan(fs, _) => fs }
    var scans = 0
    val analyzed = parsed.transformUpWithSubqueries {
      case l @ ManifestFileIndex.Scan(fs, ix) if reads.count(_ eq fs) > 1 =>
        scans += 1
        l.copy(relation = fs.copy(location = ix.asScan(scans))(fs.sparkSession))
    }
    val df = Internals.ofAnalyzed(spark, analyzed)
    // metadata-only aggregates: count/min/max/sum over ONE partitioned
    // table read, filtered/grouped on its partition column at most,
    // fold from the `_stats` sidecars (StatsAgg has the legality
    // argument; any doubt falls through to the scan below)
    if (spark.conf.getOption("spark.graft.sql.statsAgg")
        .forall(_.toBoolean)) {
      val folded = StatsAgg.tryAnswer(spark, df)
      if (folded.isDefined) return folded.get
    }
    // statement-predicate pruning: a scan the OPTIMIZED plan proves
    // constrained on its partition (or hidden-transform source)
    // columns — by literal, or by a join to a small dim (the DPP shape)
    // — or on a stats-covered data column gets its narrowed index
    // swapped in under the projections, casts and hints its read put
    // above it. `WHERE date = DATE '{{ ds }}'` then plans O(day), not
    // O(table); a pinned read narrows its OLD manifest.
    // Every other scan goes back to its plain index, so equal reads
    // compare equal again (exchange reuse, cached data).
    val swaps = narrowScans(df)
    val pruned =
      if (swaps.isEmpty && scans == 0) df
      else Internals.ofAnalyzed(spark,
        analyzed.transformUpWithSubqueries {
          case l @ ManifestFileIndex.Scan(fs, ix) =>
            swaps.collectFirst { case (r, narrowed) if r eq fs => narrowed }
            match {
              // a scan narrowed to nothing plans as the empty relation
              case Some(n) if n.location.inputFiles.isEmpty =>
                LocalRelation(l.output)
              case Some(n) => l.copy(relation = n)
              case None =>
                l.copy(relation = fs.copy(location = ix.asScan(0))(fs.sparkSession))
            }
        })
    // opt-in approximate routing (see plans.ApproxRouting): applied
    // here as well as in the optimizer, because sessions built without
    // GraftExtensions run no injected rule
    val before = pruned.queryExecution.analyzed
    val routed = graft.plans.ApproxRouting(spark)(before)
    if (routed.fastEquals(before)) pruned
    else Internals.ofRows(spark, routed)
  }

  /** EXPLAIN [EXTENDED|FORMATTED|…] <query> through the statement
    * door: the plan text of the PRUNED plan — the one `query` actually
    * runs after scan narrowing — so a user can verify a routed
    * partition-filtered statement plans O(day), not O(table), without
    * leaving SQL. One row, one `plan` column (Spark's own EXPLAIN
    * output shape). The query is planned, never executed (modulo the
    * pruner's bounded metadata work and any DPP key probe — the same
    * work running the statement would do). */
  private def explain(body: String, mode: String): DataFrame = {
    import spark.implicits._
    val df = query(body)
    val m = org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    Seq(df.queryExecution.explainString(m)).toDF("plan")
  }

  /** The relation over the narrowed index of every manifest scan the
    * optimized plan of `df` proves constrained, keyed by the scan's
    * relation instance. A plan that fails to optimize narrows nothing
    * (running it reports the error). */
  private def narrowScans(df: DataFrame)
      : Seq[(HadoopFsRelation, HadoopFsRelation)] = {
    val plan =
      try df.queryExecution.optimizedPlan
      catch { case scala.util.control.NonFatal(_) => return Nil }
    val leaves = ScanPrune.leavesUnder(plan)
    leaves.foldLeft(List.empty[HadoopFsRelation])((seen, l) =>
      if (seen.exists(_ eq l.relation)) seen else l.relation :: seen)
      .flatMap(rel => narrowIndex(leaves.filter(_.relation eq rel), plan)
        .map(ix => rel -> rel.copy(location = ix)(rel.sparkSession)))
  }

  /** The narrowing decision for one scan (all its leaves — a CTE body
    * inlined twice is one scan with two leaves): literal + join-derived
    * partition keeps, composed with file-level stats skipping when the
    * statement bounds a stats-covered data column. Some only when
    * something provably narrows: a bound spanning every live partition
    * keeps the plan as it is. */
  private def narrowIndex(leaves: Seq[ScanPrune.Leaf],
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[ManifestFileIndex] = {
    val index = leaves.head.index
    val path = index.root.toString
    val pcol = index.manifest.partitionCol
    val hidden = pcol.startsWith("hp__")
    val members: Seq[PartitionTransform] =
      if (hidden) PartitionTransform.parse(pcol) match {
        case m: MultiOf => m.members
        case s => Seq(s)
      } else Nil
    val partSources = if (hidden) members.map(_.sourceCol) else Seq(pcol)
    // join-derived (DPP) conjuncts for partition-source columns the
    // leaf does not already constrain by literal — a fact×dim join on
    // the partition column with the filter on dim then prunes the fact
    val augmented = leaves.map { leaf =>
      val unconstrained = partSources.filter(c =>
        ScanPrune.boundsFor(leaf.conjuncts, c).isEmpty)
      if (unconstrained.isEmpty) leaf
      else leaf.copy(conjuncts = leaf.conjuncts ++
        ScanPrune.dppConjuncts(plan, leaf, unconstrained, spark))
    }
    val keeps: Seq[Option[String => Boolean]] = augmented.map { leaf =>
      if (hidden) {
        val bounds =
          members.map(m => ScanPrune.boundsFor(leaf.conjuncts, m.sourceCol))
        if (bounds.forall(_.isEmpty)) None
        else
          try HiddenPartition.keepForBounds(spark, path, bounds)
          catch { case scala.util.control.NonFatal(_) => None }
      } else ScanPrune.plainKeepFor(leaf.conjuncts, pcol)
    }
    val partKeep: Option[String => Boolean] =
      if (keeps.forall(_.isDefined)) Some(ScanPrune.anyOf(keeps.flatten))
      else None
    val byPartition = index.narrowed(partKeep.getOrElse(_ => true))
    val partNarrows = byPartition.entries.size < index.entries.size
    // the stats/bloom coverage census: one footer read per snapshot
    def covered(prefix: String): Set[String] =
      try VersionedPartitioned.coveredCols(spark, path, index.entries, prefix)
      catch { case scala.util.control.NonFatal(_) => Set.empty }
    // file-level skipping: single-leaf scans only (the common case — a
    // multi-leaf union of ranges adds nothing but code), and only when
    // a non-partition column is actually bounded (so the reference's
    // partition-only statements never pay the census)
    val fileBounds: Seq[(String, Option[Any], Option[Any])] =
      if (hidden || augmented.size != 1) Nil
      else {
        val conjuncts = augmented.head.conjuncts
        val boundedCols = conjuncts.flatMap(_.references.toSeq.map(_.name))
          .distinct.filterNot(_.equalsIgnoreCase(pcol))
          .filter(c => ScanPrune.boundsFor(conjuncts, c).isDefined)
        if (boundedCols.isEmpty) Nil
        else {
          val mins = covered("min_")
          boundedCols.flatMap(c => mins.find(_.equalsIgnoreCase(c))).flatMap { c =>
            val (lo, hi) =
              ScanPrune.rangeOf(ScanPrune.boundsFor(conjuncts, c).get)
            if (lo.isEmpty && hi.isEmpty) None else Some((c, lo, hi))
          }
        }
      }
    // equality/IN conjuncts on BLOOM-indexed data columns (not the
    // partition key or a transform source, which prune at the
    // manifest) also probe the per-file blooms — the point-lookup skip
    // min/max cannot make on a scattered high-cardinality id; the
    // bloom-coverage census is paid only when such a conjunct exists
    val filePoints: Seq[(String, Seq[Any])] =
      if (augmented.size != 1) Nil
      else {
        val exclude = (pcol +: partSources).map(_.toLowerCase).toSet
        val conjuncts = augmented.head.conjuncts
        val eqCols = conjuncts.flatMap(_.references.toSeq.map(_.name))
          .distinct.filterNot(c => exclude(c.toLowerCase))
          .flatMap(c => ScanPrune.boundsFor(conjuncts, c)
            .flatMap(_.eqs).filter(_.nonEmpty).map(vs => (c, vs)))
        if (eqCols.isEmpty) Nil
        else {
          val blooms = covered("bloom_")
          eqCols.flatMap { case (c, ls) =>
            blooms.find(_.equalsIgnoreCase(c)).map(cc =>
              (cc, ls.map(l => org.apache.spark.sql.catalyst
                .CatalystTypeConverters.convertToScala(l.value, l.dataType))))
          }
        }
      }
    if (fileBounds.nonEmpty || filePoints.nonEmpty) {
      val kept = VersionedPartitioned.filesWhere(spark, path,
        byPartition.entries, fileBounds, filePoints)
      if (partNarrows || kept.size < byPartition.inputFiles.length)
        Some(byPartition.narrowed(_ => true,
          Some(kept.map { case (snap, f) => s"$snap/$f" }.toSet)))
      else None
    } else if (partNarrows) Some(byPartition)
    else None
  }

  /** Put the read each cataloged name in `plan` stands for in place of
    * the name, under a `SubqueryAlias` of the name (so `s.t.col` and
    * `t.col` resolve) — everywhere: subquery expressions, CTE bodies
    * (which are not plan children) and door view bodies, parsed and
    * resolved the same way, recursively. The forms:
    *  - `schema.table`: the current snapshot (`readTable`, with the
    *    ANALYZE broadcast hint);
    *  - `… VERSION AS OF v` / `… TIMESTAMP AS OF ts` on a partitioned
    *    table: the pinned snapshot (the statement-predicate pruner
    *    narrows a pinned manifest like a current one). A version string
    *    is a tag when such a tag exists, else a number, as in Iceberg;
    *  - `schema.table.branch_<b>` with a live branch: the branch head —
    *    the WAP audit's door;
    *  - `schema.table.<metadata table>`: `metadataTable`;
    *  - `schema.view`: the view body (a cycle fails, naming its views).
    * Each (name, pin) is read once per statement, so a table named
    * twice is one relation instance under two leaves. Anything else
    * (an unknown table, branch or tag-less form) is left for Spark's
    * analyzer to resolve or reject. */
  private def resolveReads(plan: LogicalPlan): LogicalPlan = {
    // (name, pin) → its read; a view's body fills in its own reads
    // while its entry is being computed, which `getOrElseUpdate` allows
    val reads = scala.collection.mutable.HashMap.empty[(String, String), LogicalPlan]
    def alias(u: UnresolvedRelation, p: LogicalPlan) =
      SubqueryAlias(u.multipartIdentifier.map(_.toLowerCase), p)
    // `schema.table` spelled in plain identifiers (what the catalog root
    // can hold), lowercased
    def catalogName(parts: Seq[String]): Option[String] =
      Some(parts).filter(ps => ps.size == 2 && ps.forall(_.matches("\\w+")))
        .map(_.mkString(".").toLowerCase)
    def partitioned(parts: Seq[String]): Option[(String, TableMeta)] =
      catalogName(parts).flatMap(t =>
        metaOf(t).filter(_.partitionCol.isDefined).map(t -> _))
    def declared(df: DataFrame, meta: TableMeta) =
      df.select(meta.schema.fieldNames.map(c => col(s"`$c`")): _*)
        .queryExecution.analyzed
    def walk(p: LogicalPlan, views: List[String]): LogicalPlan =
      p.transformUpWithSubqueries {
        case w: UnresolvedWith =>
          w.copy(cteRelations = w.cteRelations.map { case (n, cte, depth) =>
            (n, cte.copy(child = walk(cte.child, views)), depth)
          })
        case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, v)
            if ts.forall(_.resolved) =>
          partitioned(u.multipartIdentifier).fold(tt: LogicalPlan) {
            case (t, meta) =>
              val path = tableDir(t).toString
              val spec = TimeTravelSpec.create(ts, v,
                spark.sessionState.conf.sessionLocalTimeZone).get
              alias(u, reads.getOrElseUpdate((t, spec.toString), {
                val version = spec match {
                  case AsOfVersion(s) =>
                    VersionedPartitioned.tagVersion(spark, path, s)
                      .orElse(s.toLongOption).getOrElse(
                        throw new IllegalArgumentException(
                          s"$t VERSION AS OF '$s': no such tag"))
                  case AsOfTimestamp(micros) =>
                    VersionedPartitioned.versionAsOf(spark, path,
                      Math.floorDiv(micros, 1000L))
                }
                declared(VersionedPartitioned.readAt(spark, path, version), meta)
              }))
          }
        case u @ UnresolvedRelation(Seq(s, t, suffix), _, _) =>
          partitioned(Seq(s, t)).fold(u: LogicalPlan) { case (n, meta) =>
            val path = tableDir(n).toString
            val branch = suffix.drop("branch_".length)
            if (MetaTables(suffix.toLowerCase))
              alias(u, reads.getOrElseUpdate((n, suffix.toLowerCase),
                metadataTable(n, suffix.toLowerCase).queryExecution.analyzed))
            else if (suffix.toLowerCase.startsWith("branch_") &&
                VersionedPartitioned.branchExists(spark, path, branch))
              alias(u, reads.getOrElseUpdate((n, suffix), declared(
                VersionedPartitioned.readBranch(spark, path, branch), meta)))
            else u
          }
        case u: UnresolvedRelation =>
          catalogName(u.multipartIdentifier).fold(u: LogicalPlan) { n =>
            metaOf(n) match {
              case Some(meta) => alias(u, reads.getOrElseUpdate((n, ""),
                readTable(n, meta, hinted = true).queryExecution.analyzed))
              case None if java.nio.file.Files.exists(viewFile(n)) =>
                if (views.contains(n))
                  throw new IllegalArgumentException("view cycle: " +
                    (views.reverse.dropWhile(_ != n) :+ n).mkString(" -> "))
                alias(u, reads.getOrElseUpdate((n, "view"), walk(
                  Internals.parse(spark, new String(
                    java.nio.file.Files.readAllBytes(viewFile(n)), "UTF-8")),
                  n :: views)))
              case None => u
            }
          }
      }
    walk(plan, Nil)
  }

  /** Iceberg's metadata tables over a partitioned table's commit log:
    * `history|snapshots|partitions|files|column_stats|refs`. All are
    * METADATA queries — commit-log and sidecar/footer reads, zero data
    * I/O (`filesDf` contract) — so they stay O(#versions + #files)
    * small reads at any table size. `committed_at`/`made_current_at`
    * are wall-clock and belong in no deterministic gate (same contract
    * as `versionAsOf`). A cataloged-but-never-written table has no
    * commit log to answer from: that fails loudly, naming the table. */
  private def metadataTable(t: String, kind: String): DataFrame = {
    val path = tableDir(t).toString
    val cur = VersionedPartitioned.currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$t.$kind: table has no committed snapshots yet"))
    kind match {
      case "history" =>
        VersionedPartitioned.historyDf(spark, path)
          .withColumn("is_current", col("version") === cur)
      case "snapshots" =>
        VersionedPartitioned.historyDf(spark, path)
          .select(col("version").as("snapshot_id"),
            col("committed_at"), col("n_partitions"), col("tag"))
      case "partitions" => VersionedPartitioned.partitionsDf(spark, path)
      case "files" => VersionedPartitioned.filesDf(spark, path)
      case "column_stats" => VersionedPartitioned.columnStats(spark, path)
      case "refs" =>
        // main + every live branch pointer with its head snapshot, and
        // every tag — one dir listing each
        import spark.implicits._
        (("main", "BRANCH", cur) +:
          (VersionedPartitioned.branches(spark, path)
            .map { case (b, v) => (b, "BRANCH", v) } ++
            VersionedPartitioned.tags(spark, path)
              .map { case (t2, v) => (t2, "TAG", v) }))
          .toDF("name", "type", "snapshot_id")
    }
  }

  /** Current contents of a cataloged table. */
  def table(name: String): DataFrame = {
    val n = name.toLowerCase
    readTable(n, metaOf(n).getOrElse(
      throw new IllegalArgumentException(s"table $n does not exist")))
  }

  /** Cataloged table names (lowercase `schema.table`). */
  def tables(): Seq[String] = {
    val rootDir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(rootDir)) return Nil
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(rootDir).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .flatMap { sd =>
        java.nio.file.Files.list(sd).iterator().asScala
          .filter(td => java.nio.file.Files.exists(td.resolve(MetaFile)))
          .map(td => s"${sd.getFileName}.${td.getFileName}")
      }.toSeq.sorted
  }

  // ------------------------------------------------------------ verbs —

  private def createTable(name: String, colsBlock: String,
      partBy: Option[String], orReplace: Boolean,
      ifNotExists: Boolean): Unit = {
    val exists = metaOf(name).isDefined
    if (exists && ifNotExists) return
    if (exists && !orReplace)
      throw new IllegalArgumentException(s"table $name already exists " +
        "(use CREATE OR REPLACE TABLE or IF NOT EXISTS)")
    if (exists) dropTable(name)
    val schema = StructType.fromDDL(colsBlock)
    val storedPart = partBy.map(resolvePartitionSpec(_, schema.fieldNames))
    val dir = tableDir(name)
    java.nio.file.Files.createDirectories(dir)
    val meta = TableMeta(schema, storedPart)
    java.nio.file.Files.write(dir.resolve(MetaFile),
      meta.render.getBytes("UTF-8"))
  }

  /** Parse a PARTITIONED BY block: a single identity column, or
    * Iceberg's partition-transform DDL — `days(c)` / `months(c)` /
    * `bucket(n, c)` / `truncate(w, c)`, composable as a comma list
    * (`days(ts), bucket(16, id)` → `MultiOf`). Returns the STORED
    * partition column: the declared column for identity, the
    * transform-encoded physical key (`hp__…`) otherwise — the same
    * round-trip `HiddenPartition.transformOf` reads back, so every
    * manifest capability (travel, branches, WAP, pruning) applies to
    * transform-partitioned tables verbatim. Multiple identity columns
    * are not routed (the versioned format is single-key; Iceberg users
    * compose transforms instead). */
  private def resolvePartitionSpec(raw: String,
      fields: Seq[String]): String = {
    def declared(c: String): String = {
      val want = c.trim
      require(fields.map(_.toLowerCase).contains(want.toLowerCase),
        s"PARTITIONED BY ($want): no such column in the DDL")
      want.toLowerCase
    }
    val entries = splitTop(raw).map(_.trim).filter(_.nonEmpty)
    require(entries.nonEmpty, "PARTITIONED BY: empty spec")
    if (entries.length == 1 && !entries.head.contains("("))
      return declared(entries.head)
    def transformOf(e: String): graft.ops.PartitionTransform = e match {
      case TransformCallRe(fn, argsBlock) =>
        val args = argsBlock.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        def one(): String = {
          require(args.length == 1,
            s"PARTITIONED BY $e: expected 1 argument"); declared(args(0))
        }
        def two(): (Int, String) = {
          require(args.length == 2,
            s"PARTITIONED BY $e: expected (n, column)")
          (args(0).toInt, declared(args(1)))
        }
        fn.toLowerCase match {
          case "days" | "day" => graft.ops.DaysOf(one())
          case "months" | "month" => graft.ops.MonthsOf(one())
          case "bucket" => val (n, c) = two(); graft.ops.BucketOf(n, c)
          case "truncate" | "trunc" =>
            val (w, c) = two(); graft.ops.TruncateOf(w, c)
          case other => throw new IllegalArgumentException(
            s"PARTITIONED BY: unsupported transform $other(…) — have " +
              "days, months, bucket, truncate")
        }
      case ident if !ident.contains("(") =>
        throw new IllegalArgumentException(
          s"PARTITIONED BY ($raw): identity column '$ident' cannot " +
            "combine with transforms — the versioned format stores one " +
            "physical key (wrap it in truncate/days to compose)")
      case other => throw new IllegalArgumentException(
        s"PARTITIONED BY: cannot parse '$other'")
    }
    val ts = entries.map(transformOf)
    if (ts.length == 1) ts.head.physCol
    else graft.ops.MultiOf(ts).physCol
  }

  /** Hidden-partition transform of a cataloged table, when its stored
    * partition column is a transform-encoded physical key. */
  private def hiddenOf(meta: TableMeta): Option[graft.ops.PartitionTransform] =
    meta.partitionCol.filter(_.startsWith("hp__"))
      .map(graft.ops.PartitionTransform.parse)

  /** Re-derive the physical partition key on a frame carrying only
    * declared columns — every statement-routed write into a hidden-
    * partitioned table passes through here (a projection, not a
    * shuffle; the key is derived where the row already is). No-op for
    * identity-partitioned tables. */
  private def withPhysKey(df: DataFrame, meta: TableMeta): DataFrame =
    hiddenOf(meta).map(t => df.withColumn(
      meta.partitionCol.get, t.expr)).getOrElse(df)

  /** CREATE TABLE … [PARTITIONED BY (p)] AS <query> — CTAS: schema
    * inferred from the query result, then one append through the
    * normal write path (partitioned CTAS promotes per partition). A
    * replaced table that the body itself reads from is materialized
    * first, so `CREATE OR REPLACE t AS SELECT … FROM t` is safe. */
  private def createTableAs(name: String, partBy: Option[String],
      body: String, orReplace: Boolean, ifNotExists: Boolean): Unit = {
    val exists = metaOf(name).isDefined
    if (exists && ifNotExists) return
    if (exists && !orReplace)
      throw new IllegalArgumentException(s"table $name already exists " +
        "(use CREATE OR REPLACE TABLE or IF NOT EXISTS)")
    val src = query(body)
    val data = if (exists) src.localCheckpoint(true) else src
    if (exists) dropTable(name)
    val storedPart = partBy.map(resolvePartitionSpec(_, data.columns.toSeq))
    val dir = tableDir(name)
    java.nio.file.Files.createDirectories(dir)
    val meta = TableMeta(data.schema, storedPart)
    java.nio.file.Files.write(dir.resolve(MetaFile),
      meta.render.getBytes("UTF-8"))
    appendRows(name, meta, data)
  }

  /** CREATE [OR REPLACE] VIEW — a named statement text in the catalog
    * (`<schema>/<view>.graft_view.sql`), resolved lazily at query time
    * against the then-current tables. Views may reference tables and
    * other views in any definition order; a cycle fails when a query
    * reads it, naming the views in it. */
  private def createView(name: String, body: String,
      orReplace: Boolean): Unit = {
    require(metaOf(name).isEmpty,
      s"CREATE VIEW $name: a table of that name exists")
    val f = viewFile(name)
    if (!orReplace)
      require(!java.nio.file.Files.exists(f),
        s"view $name already exists (use CREATE OR REPLACE VIEW)")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, body.trim.getBytes("UTF-8"))
    ()
  }

  private def dropView(name: String): Unit = {
    java.nio.file.Files.deleteIfExists(viewFile(name))
    ()
  }

  /** Cataloged view names (lowercase `schema.view`). */
  def views(): Seq[String] = {
    val rootDir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(rootDir)) return Nil
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(rootDir).iterator().asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .flatMap { sd =>
        java.nio.file.Files.list(sd).iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.endsWith(ViewFileSuffix))
          .map(f => s"${sd.getFileName}.${f.stripSuffix(ViewFileSuffix)}")
      }.toSeq.sorted
  }

  /** DESCRIBE — the declared schema plus the partition key marker, as
    * a DataFrame (the interactive-session introspection surface). */
  private def describe(name: String): DataFrame = {
    import spark.implicits._
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"DESCRIBE $name: no such table"))
    meta.schema.fields.toSeq.map(f => (f.name, f.dataType.sql.toLowerCase,
        if (meta.partitionCol.exists(_.equalsIgnoreCase(f.name)))
          "partition key" else ""))
      .toDF("col_name", "data_type", "comment")
  }

  /** SHOW PARTITIONS — Spark's output shape (one `partition` column of
    * `col=value` strings, sorted): a pure manifest read, zero data
    * I/O, O(#partitions) driver rows — the census is metadata by
    * definition. */
  private def showPartitions(name: String): DataFrame = {
    import spark.implicits._
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"SHOW PARTITIONS $name: no such table"))
    require(meta.partitionCol.isDefined,
      s"SHOW PARTITIONS $name: table is not partitioned")
    val path = tableDir(name).toString
    val dirs = // dir names already carry the col=value form Spark shows
      if (VersionedPartitioned.currentVersion(spark, path).isDefined)
        VersionedPartitioned.partitions(spark, path)
      else Nil
    dirs.sorted.toDF("partition")
  }

  /** SHOW CREATE TABLE — the catalog entry rendered back as the DDL
    * text this router accepts (round-trippable by construction). */
  private def showCreateTable(name: String): DataFrame = {
    import spark.implicits._
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"SHOW CREATE TABLE $name: no such table"))
    val partClause =
      meta.partitionCol.map(p => s"\nPARTITIONED BY ($p)").getOrElse("")
    Seq(s"CREATE TABLE $name (${meta.schema.toDDL})" +
      s"\nUSING ICEBERG$partClause").toDF("createtab_stmt")
  }

  /** CALL `system.<procedure>(...)` — Iceberg's stored-procedure
    * maintenance surface routed onto the manifest format's existing
    * verbs. Positional or `name => value` named arguments, catalog
    * prefixes before `system.` ignored (Iceberg texts write
    * `CALL catalog.system.proc(...)`). Supported:
    *  - `rollback_to_snapshot(table, version)` /
    *    `set_current_snapshot(table, version)` → `rollbackTo` (a NEW
    *    commit pointing at the old state — history is append-only,
    *    time travel over the bad commit still works until vacuum).
    *  - `expire_snapshots(table, retain_last)` → `vacuum` (keep the
    *    last n versions, reclaim unreferenced snapshot dirs).
    *  - `rewrite_data_files(table)` → `compact` (live state rewritten
    *    as one fresh snapshot; MoR delete refs materialized).
    * Each returns a one-row result frame, like Iceberg's procedures. */
  private def callProcedure(proc: String, argBlock: String): DataFrame = {
    import spark.implicits._
    val args = splitTop(argBlock).map { a =>
      CallArgRe.findFirstMatchIn(a) match {
        case Some(m) => (Option(m.group(1)).map(_.toLowerCase),
          Option(m.group(2)).getOrElse(m.group(3)).trim)
        case None => (None, a.trim)
      }
    }
    // positional fallback resolves by the argument's ABSOLUTE slot in
    // the call (Iceberg's convention), not its index among only the
    // positional args — a mixed call like (table => 's.t', 1, 2) keeps
    // 1 in slot 1 and 2 in slot 2 instead of sliding both down and
    // silently mis-slotting them
    def posArg(pos: Int): Option[String] =
      args.lift(pos).collect { case (None, v) => v }
    def arg(names: Seq[String], pos: Int): String =
      args.collectFirst { case (Some(n), v) if names.contains(n) => v }
        .orElse(posArg(pos))
        .getOrElse(throw new IllegalArgumentException(
          s"CALL system.$proc: missing argument ${names.head}"))
    val table = arg(Seq("table"), 0).toLowerCase
    require(metaOf(table).isDefined, s"CALL system.$proc: no table $table")
    val path = tableDir(table).toString
    proc match {
      case "rollback_to_snapshot" | "set_current_snapshot" =>
        val to = arg(Seq("version", "snapshot_id"), 1).toLong
        val v = VersionedPartitioned.rollbackTo(spark, path, to)
        Seq((table, to, v)).toDF("table", "rolled_back_to", "current_version")
      case "expire_snapshots" =>
        val keep = arg(Seq("retain_last"), 1).toInt
        val dryRun = args.collectFirst {
          case (Some("dry_run"), v) => v.toBoolean }.getOrElse(false)
        if (dryRun) {
          // the safety preview: one row per dir a real expire with the
          // same retention would reclaim RIGHT NOW — zero writes
          val plan = VersionedPartitioned.vacuumPlan(spark, path,
            keepLast = keep, orphanMinAgeMs = 0L)
          plan.map(d => (table, d)).toDF("table", "would_delete_location")
        } else {
          val removed = VersionedPartitioned.vacuum(spark, path,
            keepLast = keep, orphanMinAgeMs = 0L)
          Seq((table, removed)).toDF("table", "deleted_data_files_count")
        }
      case "rewrite_data_files" =>
        val v = VersionedPartitioned.compact(spark, path)
        Seq((table, v)).toDF("table", "current_version")
      case "fast_forward" =>
        // Iceberg: fast_forward(table, branch, to) advances `branch`
        // to `to`'s head. The versioned format's only writable ref is
        // main, so the 3-arg form requires branch = 'main'; the 2-arg
        // shorthand fast_forward(table, audit_branch) means the same.
        // Metadata-only (`publish`); the branch pointer survives for
        // re-audits until ALTER TABLE … DROP BRANCH.
        val named = args.flatMap(_._1)
        val threeArg = named.contains("to") || args.length >= 3
        val src =
          if (threeArg) arg(Seq("to"), 2) else arg(Seq("branch", "to"), 1)
        if (threeArg) {
          val target = arg(Seq("branch"), 1)
          require(target.equalsIgnoreCase("main"),
            s"CALL system.fast_forward: only 'main' can be " +
              s"fast-forwarded (got '$target')")
        }
        val v = VersionedPartitioned.publish(spark, path, src, drop = false)
        Seq((table, src, v))
          .toDF("table", "published_branch", "current_version")
      case "create_changelog_view" =>
        // Iceberg's CDC procedure: register `<table>_changes`, the
        // row-level change feed of (from_version, to_version]. Without
        // `identifier_columns`, identity is the FULL ROW (every
        // declared column, plus the physical partition key for hidden
        // tables so moves classify per partition) — Iceberg's default
        // when no identifier fields are declared: an updated row
        // appears as its old row deleted + its new row inserted. WITH
        // `identifier_columns => 'k1,k2'`, identity is those keys and
        // a changed row classifies as `update` (the partition column
        // is added implicitly — it must pin rows, the readRowChanges
        // contract). The view is a plain temp view over
        // `readRowChanges` — queryable through this door like any
        // table, zero data copied.
        val from = arg(Seq("from_version", "start_snapshot_id"), 1).toLong
        // optional end version: same named-or-absolute-slot resolution
        // as every required argument (a mixed call must not silently
        // widen the change window by dropping a mis-slotted bound)
        val to = args.collectFirst {
          case (Some(n), v)
              if Seq("to_version", "end_snapshot_id").contains(n) =>
            v.toLong
        }.orElse(posArg(2).map(_.toLong))
        val meta = metaOf(table).get
        val pcol = meta.partitionCol.getOrElse(
          throw new IllegalArgumentException(
            "CALL system.create_changelog_view: the change feed rides " +
              s"the versioned (partitioned) format — $table is " +
              "unpartitioned"))
        val identifiers = args.collectFirst {
          case (Some("identifier_columns"), v) =>
            v.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { c =>
              meta.schema.fields.find(_.name.equalsIgnoreCase(c))
                .getOrElse(throw new IllegalArgumentException(
                  s"CALL system.create_changelog_view: no column $c " +
                    s"in $table")).name
            }
        }
        val keys = identifiers match {
          case Some(ids) => (pcol +: ids).distinct
          case None => (pcol +: meta.schema.fieldNames.toSeq).distinct
        }
        val changes = VersionedPartitioned
          .readRowChanges(spark, path, keys, from, to)
          .drop(if (pcol.startsWith("hp__")) pcol else "")
        val vn = table.split("\\.")(1) + "_changes"
        changes.createOrReplaceTempView(vn)
        Seq((table, vn, from)).toDF("table", "changelog_view", "from_version")
      case other => throw new IllegalArgumentException(
        s"CALL system.$other: unsupported procedure (have " +
          "rollback_to_snapshot, set_current_snapshot, expire_snapshots, " +
          "rewrite_data_files, fast_forward, create_changelog_view)")
    }
  }

  /** `COPY INTO t FROM '<path>' [FILEFORMAT = PARQUET]` — Databricks'
    * idempotent file-ingest verb: load exactly the source files not
    * yet loaded into `t`, tracked in a per-table ledger
    * (`_graft_copy_ledger`, one absolute file path per line, updated
    * by atomic rename). Re-running a completed COPY INTO is a no-op;
    * files appearing later in the directory load incrementally. The
    * ledger write is ordered AFTER the data commit, so the one
    * failure window is a crash between the two — that batch re-loads
    * on retry (at-least-once across crashes, exactly-once across
    * completed runs; full transactional file tracking is the Scala
    * pipeline's epoch-tag territory). Files are read with the
    * DECLARED schema: extra columns in a file are ignored, missing
    * ones read NULL — the append-only evolution contract. Returns the
    * one-row result frame Databricks returns (files/rows loaded). */
  private def copyInto(name: String, from: String): DataFrame = {
    import spark.implicits._
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"COPY INTO $name: no such table"))
    val (fs, p) = Versioned.fsOf(spark, from)
    require(fs.exists(p), s"COPY INTO $name: source path $from not found")
    val files =
      (if (fs.getFileStatus(p).isDirectory)
         fs.listStatus(p).toSeq.filter(s => s.isFile &&
             !s.getPath.getName.startsWith("_") &&
             !s.getPath.getName.startsWith("."))
           .map(_.getPath.toString)
       else Seq(p.toString)).sorted
    val ledger = tableDir(name).resolve(CopyLedgerFile)
    val loaded: Set[String] =
      if (java.nio.file.Files.exists(ledger))
        new String(java.nio.file.Files.readAllBytes(ledger), "UTF-8")
          .linesIterator.filter(_.nonEmpty).toSet
      else Set.empty
    val fresh = files.filterNot(loaded)
    if (fresh.nonEmpty) {
      val rows = spark.read.schema(meta.schema).parquet(fresh: _*)
      val n = rows.count()
      appendRows(name, meta, rows)
      val tmp = ledger.resolveSibling(CopyLedgerFile + ".tmp")
      java.nio.file.Files.write(tmp,
        ((loaded ++ fresh).toSeq.sorted.mkString("\n") + "\n")
          .getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, ledger,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Seq((name, fresh.size.toLong, n))
        .toDF("table", "num_files_loaded", "num_rows_loaded")
    } else
      Seq((name, 0L, 0L)).toDF("table", "num_files_loaded", "num_rows_loaded")
  }

  private def insert(name: String, body: String): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"INSERT INTO $name: no such table"))
    appendRows(name, meta, insertSource(name, meta, body))
  }

  /** Parse an INSERT body — optional (col, …) list, then VALUES … or a
    * query — and conform it to the target's declared schema. Shared by
    * the main INSERT route and the branch staging routes. */
  private def insertSource(name: String, meta: TableMeta,
      body: String): DataFrame = {
    // body = optional (col, ...) column list, then VALUES ... or a query
    val (colList, rest) = body.trim match {
      case ColListRe(cols, r) =>
        (Some(cols.split(",").map(_.trim.toLowerCase).toSeq), r)
      case r => (None, r)
    }
    val src0 =
      if (rest.trim.toUpperCase.startsWith("VALUES"))
        query(s"SELECT * FROM (${rest.trim}) AS __v")
      else query(rest)
    // explicit column list: positional tuple/query columns take the
    // listed names; unnamed → conform below decides by name vs position
    colList match {
      case Some(cols) =>
        require(src0.columns.length == cols.length,
          s"INSERT INTO $name: ${cols.length} columns listed, " +
            s"${src0.columns.length} provided")
        val unknown = cols.filterNot(meta.schema.fieldNames
          .map(_.toLowerCase).contains(_))
        require(unknown.isEmpty,
          s"INSERT INTO $name lists columns the table does not have: " +
            s"${unknown.mkString(", ")} (reference bug #2.14/1 — the " +
            "phantom `timestamp` column — fails fast here)")
        // unlisted columns fill with NULL, every column cast to its
        // declared type
        graft.model.Schemas.evolve(src0.toDF(cols: _*), meta.schema)
      case None => conform(src0, meta.schema, name)
    }
  }

  /** `ALTER TABLE t CREATE|DROP BRANCH b` — the WAP loop's ref verbs
    * over the versioned format's branch pointers (metadata-only both
    * ways; `VersionedPartitioned.createBranch` forks at main's CURRENT
    * manifest). */
  private def alterBranch(name: String, verb: String, branch: String): Unit = {
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"ALTER TABLE $name $verb BRANCH: no such table"))
    require(meta.partitionCol.isDefined,
      s"ALTER TABLE $name $verb BRANCH: branches ride the partitioned " +
        "(versioned) format — unpartitioned tables have no commit log")
    val path = tableDir(name).toString
    verb.toUpperCase match {
      case "CREATE" =>
        require(VersionedPartitioned.currentVersion(spark, path).isDefined,
          s"ALTER TABLE $name CREATE BRANCH $branch: no committed data " +
            "to fork from")
        VersionedPartitioned.createBranch(spark, path, branch)
      case "DROP" =>
        // fail loudly on a missing branch, like every other DDL route
        // (and Iceberg's own DROP BRANCH) — a silent no-op here would
        // let a typo'd WAP cleanup leave the real audit branch live
        require(VersionedPartitioned.branchExists(spark, path, branch),
          s"ALTER TABLE $name DROP BRANCH $branch: no such branch")
        VersionedPartitioned.dropBranch(spark, path, branch); ()
    }
  }

  /** `ALTER TABLE t CREATE [OR REPLACE]|DROP TAG name [AS OF VERSION
    * n]` — Iceberg's named-ref surface for the versioned format: a tag
    * is an immutable pointer into main's commit history (default: the
    * current head), readable as `t VERSION AS OF '<name>'` and listed
    * in the `refs` metadata table; `vacuum` retains tagged commits and
    * their snapshots past any retention window. */
  private def alterTag(name: String, verb: String, tag: String,
      asOf: Option[Long]): Unit = {
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"ALTER TABLE $name $verb TAG: no such table"))
    require(meta.partitionCol.isDefined,
      s"ALTER TABLE $name $verb TAG: tags ride the partitioned " +
        "(versioned) format — unpartitioned tables have no commit log")
    val path = tableDir(name).toString
    verb.toUpperCase.replaceAll("\\s+", " ") match {
      case "CREATE" =>
        VersionedPartitioned.createTag(spark, path, tag, asOf)
      case "CREATE OR REPLACE" =>
        VersionedPartitioned.createTag(spark, path, tag, asOf,
          replace = true)
      case "DROP" =>
        require(asOf.isEmpty,
          s"ALTER TABLE $name DROP TAG $tag: AS OF makes no sense here")
        VersionedPartitioned.dropTag(spark, path, tag)
    }
    ()
  }

  /** `INSERT INTO|OVERWRITE t.branch_<b> …` — staging writes on a
    * branch, main untouched: INSERT folds overlapping branch-visible
    * partitions (true insert, `insertIntoBranch`); OVERWRITE stages a
    * partition merge that REPLACES the written partitions on the
    * branch head (`promoteToBranch` — the WAP audit-rewrite shape). */
  private def insertToBranch(name: String, branch: String, body: String,
      overwrite: Boolean): Unit = {
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"INSERT INTO $name.branch_$branch: no such table"))
    val pcol = meta.partitionCol.getOrElse(
      throw new IllegalArgumentException(
        s"INSERT INTO $name.branch_$branch: branches ride the " +
          "partitioned (versioned) format"))
    val path = tableDir(name).toString
    require(VersionedPartitioned.currentVersion(spark, path).isDefined,
      s"INSERT INTO $name.branch_$branch: the table has no committed " +
        "data — branches fork from main's manifest")
    val rows = insertSource(name, meta, body)
    if (overwrite) {
      VersionedPartitioned.promoteToBranch(withPhysKey(rows, meta), path,
        branch, pcol)
    } else {
      VersionedPartitioned.insertIntoBranch(withPhysKey(rows, meta), path,
        branch, pcol)
    }
    ()
  }

  /** BY NAME when the source columns are exactly the target's (any
    * order), else positional with an arity check — then cast to DDL
    * types. */
  private def conform(src: DataFrame, schema: StructType,
      name: String): DataFrame = {
    val bySet = src.columns.map(_.toLowerCase).toSet
    val want = schema.fieldNames.map(_.toLowerCase).toSet
    val named =
      if (bySet == want && src.columns.length == schema.fields.length) src
      else {
        require(src.columns.length == schema.fields.length,
          s"INSERT INTO $name: table has ${schema.fields.length} columns, " +
            s"query produced ${src.columns.length}")
        src.toDF(schema.fieldNames: _*)
      }
    named.select(schema.fields.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
  }

  private def appendRows(name: String, meta: TableMeta,
      rows: DataFrame): Unit = {
    requireNotMview(name, "INSERT INTO")
    meta.partitionCol match {
    case Some(p) =>
      // true INSERT semantics on the partition-overwrite format:
      // write-snapshot-first, partitions discovered from the written
      // dirs, current rows of overlapping partitions folded in —
      // O(day) data touched, and exactly ONE Spark job on the
      // reference's DELETE-day-then-INSERT sequence (see
      // VersionedPartitioned.insertInto)
      VersionedPartitioned.insertInto(withPhysKey(rows, meta),
        tableDir(name).toString, p, bloomCols = meta.bloomCols,
        statsCols = meta.statsCols, clusterBy = meta.writeOrder,
        maxRecordsPerFile = meta.maxRecsPerFile, tag = txnTag)
      ()
    case None =>
      val dataDir = tableDir(name).resolve(DataDir).toString
      val cur = readUnpartitioned(meta, dataDir)
      Exchange.swapTable(cur.unionByName(rows), dataDir)
    }
  }

  private def deletePartition(name: String, colName: String,
      d: String): Unit = {
    requireNotMview(name, "DELETE FROM")
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"DELETE FROM $name: no such table"))
    val p = meta.partitionCol.getOrElse(
      throw new IllegalArgumentException(s"DELETE FROM $name: table is " +
        "unpartitioned — the SQL front door supports partition-targeted " +
        "deletes; use VersionedPartitioned.deleteWhere for row deletes"))
    require(p == colName, s"DELETE FROM $name WHERE $colName: " +
      s"table is partitioned by $p — only partition-targeted deletes " +
      "route through the SQL front door")
    val path = tableDir(name).toString
    if (VersionedPartitioned.currentVersion(spark, path).isDefined) {
      meta.schema(meta.schema.fieldNames
          .find(_.equalsIgnoreCase(p)).get).dataType match {
        // a whole-partition delete on a DATE/STRING key is Iceberg's
        // metadata-delete fast path: the entry leaves the manifest,
        // zero data I/O, zero Spark jobs (the literal normalizes to
        // the on-disk partition value directly)
        case org.apache.spark.sql.types.DateType =>
          VersionedPartitioned.deletePartitionValues(spark, path,
            Set(java.sql.Date.valueOf(d).toString), txnTag)
        case org.apache.spark.sql.types.StringType =>
          VersionedPartitioned.deletePartitionValues(spark, path, Set(d),
            txnTag)
        // other key types: literal typed by the declared type, routed
        // through the copy-on-write row delete (value normalization to
        // dir names is type-specific; the rewrite stays O(partition))
        case dt =>
          VersionedPartitioned.deleteWhere(spark, path,
            col(s"`$p`") === lit(d).cast(dt), txnTag)
      }
      ()
    }
  }

  /** General row-level DELETE — any predicate `expr()` parses.
    * Partitioned tables route to `VersionedPartitioned.deleteWhere`
    * (copy-on-write of ONLY the partitions holding matching rows, a
    * fully-emptied partition dropped in the same commit); staging
    * tables filter-and-swap. SQL DELETE's three-valued rule (a NULL
    * predicate keeps its row) is enforced by both paths. */
  private def deleteRows(name: String, predText: String): Unit = {
    requireNotMview(name, "DELETE FROM")
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"DELETE FROM $name: no such table"))
    val pred = expr(predText)
    meta.partitionCol match {
      case Some(_) =>
        val path = tableDir(name).toString
        if (VersionedPartitioned.currentVersion(spark, path).isDefined) {
          VersionedPartitioned.deleteWhere(spark, path, pred, txnTag)
          ()
        }
      case None =>
        val dataDir = tableDir(name).resolve(DataDir).toString
        val cur = readUnpartitioned(meta, dataDir)
        Exchange.swapTable(cur.where(not(coalesce(pred, lit(false)))), dataDir)
    }
  }

  /** UPDATE t SET c = <expr>, … [WHERE <pred>] — copy-on-write row
    * update. Every SET right-hand side is a Spark SQL expression over
    * the OLD row (standard UPDATE semantics: all assignments read the
    * pre-update values), cast to the column's declared type. Write-back
    * is partition-scoped: only partitions holding matching rows — plus
    * any partition an updated row MOVES INTO when an assignment changes
    * the partition column — are rewritten (`overwritePartitions`, which
    * also drops a partition whose rows all migrated away); the rest of
    * the table is inherited by manifest reference. */
  private def update(name: String, setBlock: String,
      predText: Option[String]): Unit = {
    requireNotMview(name, "UPDATE")
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"UPDATE $name: no such table"))
    val assigns: Seq[(String, org.apache.spark.sql.Column)] =
      splitTop(setBlock).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"UPDATE $name: cannot parse assignment '$a'")
        val cn = a.take(i).trim
        val field = meta.schema.fields.find(_.name.equalsIgnoreCase(cn))
          .getOrElse(throw new IllegalArgumentException(
            s"UPDATE $name SET $cn: no such column"))
        field.name -> expr(a.drop(i + 1).trim).cast(field.dataType)
      }
    // NULL predicate keeps the row UNCHANGED (WHERE semantics)
    val pred = coalesce(predText.map(expr).getOrElse(lit(true)), lit(false))
    def applyTo(df: DataFrame): DataFrame =
      df.select(meta.schema.fieldNames.map { c =>
        assigns.find(_._1.equalsIgnoreCase(c)) match {
          case Some((_, v)) => when(pred, v).otherwise(col(s"`$c`")).as(c)
          case None => col(s"`$c`").as(c)
        }
      }: _*)
    meta.partitionCol match {
      case Some(p) =>
        val path = tableDir(name).toString
        if (VersionedPartitioned.currentVersion(spark, path).isEmpty) return
        // hidden-partitioned: frames carry only declared columns, so
        // re-derive the physical key wherever partition values are
        // inspected or written (withPhysKey is a projection)
        val live = withPhysKey(VersionedPartitioned.read(spark, path)
          .select(meta.schema.fieldNames.map(c => col(s"`$c`")): _*), meta)
        def partsOf(df: DataFrame): Set[String] =
          df.select(col(s"`$p`").cast("string")).distinct()
            .collect().map(_.getString(0)).toSet
        val oldParts = partsOf(live.where(pred))
        if (oldParts.isEmpty) return
        // an assignment to the partition column (or, for a hidden
        // table, any transform SOURCE column) can move rows into
        // partitions the predicate never touched — widen the rewrite
        // set to every landing partition
        val partSources = hiddenOf(meta)
          .map(_.sourceCol.split(",").toSeq).getOrElse(Seq(p))
        val newParts =
          if (assigns.exists(a => partSources.exists(a._1.equalsIgnoreCase)))
            partsOf(withPhysKey(applyTo(live.where(pred)), meta))
          else Set.empty[String]
        val affected = oldParts ++ newParts
        val cur = VersionedPartitioned.readPartitionsWhere(spark, path,
            affected.contains)
          .select(meta.schema.fieldNames.map(c => col(s"`$c`")): _*)
        VersionedPartitioned.overwritePartitions(
          withPhysKey(applyTo(cur), meta), path, affected.contains,
          tag = txnTag,
          bloomCols = meta.bloomCols, statsCols = meta.statsCols,
          clusterBy = meta.writeOrder,
          maxRecordsPerFile = meta.maxRecsPerFile)
        ()
      case None =>
        val dataDir = tableDir(name).resolve(DataDir).toString
        Exchange.swapTable(applyTo(readUnpartitioned(meta, dataDir)), dataDir)
    }
  }

  /** MERGE INTO — the Iceberg/Delta upsert verb as statement text,
    * routed onto `Merge`. Supported clause shapes (others raise,
    * pointing at the Scala API):
    *   WHEN MATCHED THEN UPDATE SET *            — full-row update
    *   WHEN MATCHED THEN UPDATE SET c = s.c, …   — column-level update
    *   WHEN NOT MATCHED THEN INSERT *            — required insert arm
    *   WHEN NOT MATCHED BY SOURCE THEN DELETE    — optional prune arm
    * ON must be a conjunction of `t.k = s.k` equalities naming the
    * same column on both sides; USING takes a (subquery) or a table
    * name; aliases are required. The source must be full-row (it
    * conforms to the target schema by name or position, like INSERT).
    *
    * Write-back is partition-scoped unless the statement carries the
    * BY SOURCE delete arm (whose semantics are table-wide by
    * definition): affected = the source rows' partitions ∪ the
    * partitions of matched target rows — and when the partition
    * column is itself a merge key the second set is a subset of the
    * first, so the matched-partition probe is skipped entirely (the
    * `mergePromote` fast-path argument). `overwritePartitions` then
    * rewrites exactly that set in one commit, dropping any partition
    * whose rows all migrated away. */
  private def mergeInto(sqlText: String, evolve: Boolean = false): Unit = {
    val text = sqlText.trim.stripSuffix(";")
    val head = MergeHeadRe.findPrefixMatchOf(text).getOrElse(
      throw new IllegalArgumentException(
        "cannot parse MERGE INTO: expected MERGE INTO <schema.table> " +
          "[AS] <alias> USING …"))
    val target = head.group(1).toLowerCase
    requireNotMview(target, "MERGE INTO")
    val tAlias = head.group(2)
    val meta0 = metaOf(target).getOrElse(
      throw new IllegalArgumentException(s"MERGE INTO $target: no such table"))
    val rest = text.substring(head.end).trim
    val (srcText, srcIsQuery, afterSrc) =
      if (rest.startsWith("(")) {
        val close = matchingParen(rest, 0)
        (rest.substring(1, close).trim, true, rest.substring(close + 1))
      } else {
        val sp = rest.indexWhere(_.isWhitespace)
        require(sp > 0, "cannot parse MERGE INTO: USING needs a source")
        (rest.take(sp), false, rest.drop(sp))
      }
    // the source frame resolves BEFORE clause parsing so that WITH
    // SCHEMA EVOLUTION can widen the target first — a SET referencing
    // a brand-new column must resolve against the evolved schema
    val src0 =
      if (srcIsQuery) query(srcText)
      else if (srcText.contains(".") &&
          metaOf(srcText.toLowerCase).isDefined) table(srcText)
      else query(s"SELECT * FROM $srcText")
    // MERGE WITH SCHEMA EVOLUTION (Iceberg/Delta syntax): source
    // columns the target lacks become metadata-only ADD COLUMNs (typed
    // from the source schema; existing rows read NULL, zero data I/O)
    // before the merge routes. The statement form supports the
    // source-superset shape — the source must still carry every
    // existing target column (a narrower source silently nulling
    // matched rows is the Scala API's explicit-defaults territory).
    val meta = if (!evolve) meta0 else {
      val lacking = meta0.schema.fieldNames.filterNot(c =>
        src0.columns.exists(_.equalsIgnoreCase(c)))
      require(lacking.isEmpty,
        s"MERGE WITH SCHEMA EVOLUTION INTO $target: the source must " +
          s"carry every existing target column (missing: " +
          s"${lacking.mkString(", ")})")
      val missing = src0.schema.fields.filterNot(f =>
        meta0.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      missing.foreach(f =>
        alterAddColumn(target, f.name, f.dataType.sql, None))
      if (missing.isEmpty) meta0 else metaOf(target).get
    }
    val (sAlias, onText, clausesText) = afterSrc.trim match {
      case MergeTailRe(a, o, c) => (a, o, c)
      case _ => throw new IllegalArgumentException(
        "cannot parse MERGE INTO: expected USING <source> [AS] <alias> " +
          "ON <cond> WHEN …")
    }
    // ON: conjunction of t.k = s.k equalities, same column both sides
    val keys = onText.split("(?i)\\s+AND\\s+").toSeq.map {
      case OnEqRe(a1, c1, a2, c2) =>
        val (tc, sc) =
          if (a1.equalsIgnoreCase(tAlias) && a2.equalsIgnoreCase(sAlias))
            (c1, c2)
          else if (a1.equalsIgnoreCase(sAlias) && a2.equalsIgnoreCase(tAlias))
            (c2, c1)
          else throw new IllegalArgumentException(
            s"ON '$c1 = $c2': aliases must be $tAlias/$sAlias")
        require(tc.equalsIgnoreCase(sc),
          s"ON $tAlias.$tc = $sAlias.$sc: the front door routes equi-key " +
            "merges naming the same column on both sides")
        meta.schema.fields.find(_.name.equalsIgnoreCase(tc)).getOrElse(
          throw new IllegalArgumentException(
            s"MERGE INTO $target ON $tc: no such column")).name
      case c => throw new IllegalArgumentException(
        s"cannot parse ON conjunct '$c' — expected t.col = s.col")
    }
    val updateClause = UpdateSetClauseRe.findFirstMatchIn(clausesText)
    // a WHEN MATCHED clause the UPDATE-SET regex did not consume (a
    // second clause, or WHEN MATCHED THEN DELETE) must raise, never
    // silently drop
    require(WhenMatchedRe.findAllIn(clausesText).size ==
        updateClause.size,
      "the MERGE front door routes at most one WHEN MATCHED [AND cond] " +
        "THEN UPDATE SET clause — matched-DELETE and multi-clause " +
        "merges go through the Merge Scala API")
    val matchedCond = updateClause.flatMap(m => Option(m.group(1)))
      .map(_.trim)
    val updateSet = updateClause.map(_.group(2).trim)
    val insertClause = InsertAllClauseRe.findFirstMatchIn(clausesText)
    val insertAll = insertClause.isDefined
    val insertCond = insertClause.flatMap(m => Option(m.group(1)))
      .map(_.trim)
    val deleteClause = DeleteBySourceClauseRe.findFirstMatchIn(clausesText)
    val deleteBySource = deleteClause.isDefined
    val deleteCond = deleteClause.flatMap(m => Option(m.group(1)))
      .map(_.trim)
    // every SET assignment parsed as (declared target column, rhs text);
    // an rhs of exactly `sAlias.sameCol` is the simple shape the
    // column-level Merge.merge carries — anything else (a value
    // expression over t./s.) routes through Merge.mergeExpr
    def resolveCol(tc: String): String =
      meta.schema.fields.find(_.name.equalsIgnoreCase(tc)).getOrElse(
        throw new IllegalArgumentException(
          s"MERGE INTO $target SET $tc: no such column")).name
    val assignPairs: Seq[(String, String)] = updateSet match {
      case Some(block) if block != "*" => splitTop(block).map {
        case MergeAssignLhsRe(ta, tc, rhs) =>
          require(ta == null || ta.equalsIgnoreCase(tAlias),
            s"SET $ta.$tc: left side must be the target ($tAlias)")
          resolveCol(tc) -> rhs.trim
        case a => throw new IllegalArgumentException(
          s"cannot parse SET assignment '$a' — expected [t.]col = <expr>")
      }
      case _ => Nil
    }
    def isSimple(colName: String, rhs: String): Boolean =
      "^(\\w+)\\.(\\w+)$".r.findFirstMatchIn(rhs).exists(m =>
        m.group(1).equalsIgnoreCase(sAlias) &&
          m.group(2).equalsIgnoreCase(colName))
    val needsExpr = matchedCond.isDefined || deleteCond.isDefined ||
      insertCond.isDefined ||
      assignPairs.exists { case (c, rhs) => !isSimple(c, rhs) }
    // an EXPRESSION assigned to the partition column (or, for a
    // hidden-partitioned table, a transform SOURCE column) could move
    // a row into a partition outside the rewrite scope (affected =
    // source ∪ matched partitions covers `s.p` but not arbitrary
    // expressions) — refuse rather than lose the row
    meta.partitionCol.foreach { p =>
      val partSources = hiddenOf(meta)
        .map(_.sourceCol.split(",").toSeq).getOrElse(Seq(p))
      require(assignPairs.forall { case (c, rhs) =>
        !partSources.exists(c.equalsIgnoreCase) || isSimple(c, rhs) },
        s"MERGE INTO $target: assigning an expression to partition " +
          s"column '$p' is not routed (the row could move outside the " +
          "partition-scoped rewrite) — use UPDATE or the Merge Scala API")
    }
    // alias-qualified references in conditions/value expressions are
    // rewritten to the join's internal t./s. aliases (outside string
    // literals) in ONE pass — sequential replaceAll would let a source
    // alias of literally 't' re-capture the just-rewritten target
    // references and resolve target columns against the source;
    // unqualified ambiguous names fail resolution loudly
    require(!tAlias.equalsIgnoreCase(sAlias),
      s"MERGE INTO: target and source aliases must differ (both '$tAlias')")
    val aliasRe = ("(?i)\\b(" + java.util.regex.Pattern.quote(tAlias) +
      "|" + java.util.regex.Pattern.quote(sAlias) + ")\\.").r
    def rewriteAliases(e: String): String =
      mapOutsideLiterals(e, seg => aliasRe.replaceAllIn(seg, m =>
        if (m.group(1).equalsIgnoreCase(tAlias)) "t." else "s."))
    val src = conform(src0, meta.schema, target)
    def doMerge(cur: DataFrame): DataFrame =
      if (needsExpr) {
        require(insertAll, "the MERGE front door requires the " +
          "WHEN NOT MATCHED THEN INSERT * arm")
        val assignCols: Seq[(String, org.apache.spark.sql.Column)] =
          updateSet match {
            case Some("*") => meta.schema.fieldNames.toSeq
              .filterNot(keys.contains).map(c => c -> col(s"s.`$c`"))
            case Some(_) => assignPairs.map { case (c, rhs) =>
              val dt = meta.schema(c).dataType
              c -> expr(rewriteAliases(rhs)).cast(dt)
            }
            case None => Nil
          }
        Merge.mergeExpr(cur, src, keys, assignCols,
          matchedCond.map(c => expr(rewriteAliases(c))),
          if (deleteBySource)
            Some(deleteCond.map(c => expr(rewriteAliases(c)))
              .getOrElse(lit(true)))
          else None,
          insertCond.map(c => expr(rewriteAliases(c))))
      } else (updateSet, insertAll, deleteBySource) match {
        case (Some("*"), true, false) => Merge.upsert(cur, src, keys)
        case (Some("*"), true, true) =>
          Merge.merge(cur, src, keys, Nil, Some(lit(true)))
        case (Some(_), true, del) =>
          Merge.merge(cur, src, keys, assignPairs.map(_._1),
            if (del) Some(lit(true)) else None)
        case (None, true, false) =>
          cur.unionByName(
            src.join(cur.select(keys.map(c => col(s"`$c`")): _*).distinct(),
              keys, "left_anti"))
        case _ => throw new IllegalArgumentException(
          "the MERGE front door supports WHEN MATCHED [AND cond] THEN " +
            "UPDATE SET */assignments, WHEN NOT MATCHED THEN INSERT * " +
            "(required), and WHEN NOT MATCHED BY SOURCE [AND cond] THEN " +
            "DELETE — other clause combinations route through the Merge " +
            "Scala API")
      }
    meta.partitionCol match {
      case None =>
        val dataDir = tableDir(target).resolve(DataDir).toString
        val cur = readUnpartitioned(meta, dataDir)
        Exchange.swapTable(conform(doMerge(cur), meta.schema, target), dataDir)
      case Some(p) =>
        val path = tableDir(target).toString
        if (VersionedPartitioned.currentVersion(spark, path).isEmpty) {
          // empty target: nothing matches — the result is the insert
          // arm (filtered by its condition when the clause carries one)
          val ins = insertCond.map(c =>
            src.alias("s").where(expr(rewriteAliases(c)))).getOrElse(src)
          if (insertAll && ins.take(1).nonEmpty) {
            VersionedPartitioned.promote(withPhysKey(ins, meta), path, p,
              tag = txnTag,
              bloomCols = meta.bloomCols, statsCols = meta.statsCols,
              clusterBy = meta.writeOrder,
              maxRecordsPerFile = meta.maxRecsPerFile)
          }
          return
        }
        def partsOf(df: DataFrame): Set[String] =
          df.select(col(s"`$p`").cast("string")).distinct()
            .collect().map(_.getString(0)).toSet
        if (deleteBySource) {
          val cur = readTable(target, meta)
          VersionedPartitioned.overwritePartitions(
            withPhysKey(conform(doMerge(cur), meta.schema, target), meta),
            path, _ => true, tag = txnTag, bloomCols = meta.bloomCols,
            statsCols = meta.statsCols, clusterBy = meta.writeOrder,
            maxRecordsPerFile = meta.maxRecsPerFile)
        } else {
          val srcParts = partsOf(withPhysKey(src, meta))
          val matchedParts =
            if (keys.exists(_.equalsIgnoreCase(p))) Set.empty[String]
            else partsOf(withPhysKey(readTable(target, meta)
              .join(src.select(keys.map(c => col(s"`$c`")): _*).distinct(),
                keys, "left_semi"), meta))
          val affected = srcParts ++ matchedParts
          if (affected.isEmpty) return
          val cur = VersionedPartitioned.readPartitionsWhere(spark, path,
              affected.contains)
            .select(meta.schema.fieldNames.map(c => col(s"`$c`")): _*)
          VersionedPartitioned.overwritePartitions(
            withPhysKey(conform(doMerge(cur), meta.schema, target), meta),
            path, affected.contains, tag = txnTag,
            bloomCols = meta.bloomCols,
            statsCols = meta.statsCols, clusterBy = meta.writeOrder,
            maxRecordsPerFile = meta.maxRecsPerFile)
        }
        ()
    }
  }

  /** ALTER TABLE … ADD COLUMN name TYPE [DEFAULT <expr>] — Iceberg's
    * metadata-only add-column: on a committed partitioned table this
    * is ONE manifest commit (`evolveAddColumnMetaOnly`; no data file
    * is touched, readers fill the default per row for pre-evolution
    * files, later INSERTs carry the column physically), plus the
    * catalog schema gains the field so conform/INSERT resolve it. The
    * default expression may reference other columns; absent, it is
    * NULL of the declared type. Unpartitioned staging tables rewrite
    * in place (they are small and transient by contract). */
  private def alterAddColumn(name: String, colName: String,
      colType: String, default: Option[String]): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"ALTER TABLE $name: no such table"))
    require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(colName)),
      s"ALTER TABLE $name ADD COLUMN $colName: column already exists")
    val field = StructType.fromDDL(s"$colName $colType").fields.head
    val defaultSql = default
      .map(d => s"CAST((${d.trim.stripPrefix("(").stripSuffix(")")}) AS $colType)")
      .getOrElse(s"CAST(NULL AS $colType)")
    meta.partitionCol match {
      case Some(_) =>
        val path = tableDir(name).toString
        if (VersionedPartitioned.currentVersion(spark, path).isDefined) {
          VersionedPartitioned.evolveAddColumnMetaOnly(spark, path,
            field.name, defaultSql)
          ()
        }
      case None =>
        val dataDir = tableDir(name).resolve(DataDir).toString
        val cur = readUnpartitioned(meta, dataDir)
        Exchange.swapTable(cur.withColumn(field.name, expr(defaultSql)),
          dataDir)
    }
    writeMeta(name, meta.copy(schema = StructType(meta.schema.fields :+ field)))
  }

  /** ALTER TABLE … DROP COLUMN — metadata-only on the partitioned
    * format (`evolveDropColumnMetaOnly`: one manifest commit, zero
    * data I/O; time travel still sees the column). Unpartitioned
    * staging tables rewrite in place (small and transient by
    * contract). The catalog schema loses the field either way. */
  private def alterDropColumn(name: String, colName: String): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"ALTER TABLE $name: no such table"))
    val field = meta.schema.fieldNames.find(_.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(
        s"ALTER TABLE $name DROP COLUMN $colName: no such column"))
    require(!meta.partitionCol.exists(_.equalsIgnoreCase(colName)),
      s"ALTER TABLE $name DROP COLUMN $colName: cannot drop the " +
        "partition column")
    meta.partitionCol match {
      case Some(_) =>
        val path = tableDir(name).toString
        if (VersionedPartitioned.currentVersion(spark, path).isDefined) {
          VersionedPartitioned.evolveDropColumnMetaOnly(spark, path, field)
          ()
        }
      case None =>
        val dataDir = tableDir(name).resolve(DataDir).toString
        val cur = readUnpartitioned(meta, dataDir)
        Exchange.swapTable(cur.drop(field), dataDir)
    }
    writeMeta(name, meta.copy(schema =
      StructType(meta.schema.fields.filterNot(_.name == field)),
      bloomCols = meta.bloomCols.filterNot(_ == field),
      statsCols = meta.statsCols.filterNot(_ == field),
      writeOrder = meta.writeOrder.filterNot(_ == field)))
  }

  /** ALTER TABLE … ALTER COLUMN c TYPE t — metadata-only lossless
    * type widening on the partitioned format
    * (`evolveWidenColumnMetaOnly`: int→bigint, float→double, decimal
    * precision growth; anything else raises); staging tables rewrite
    * in place. The catalog schema takes the wide type, so later
    * INSERTs conform-cast to it. */
  /** `ALTER TABLE t SET TBLPROPERTIES ('graft.statsColumns'='c1,c2')` —
    * Delta's `delta.dataSkippingStatsColumns` shape: the named columns
    * are recorded in the table META, and every SUBSEQUENT write emits
    * per-file min/max/count(/sum for integral+decimal) stats for them
    * into the snapshot's `_stats` sidecar. Those stats feed file-level
    * skipping (`prunedFilesWhere`) and metadata-only aggregation
    * (`StatsAgg`/`aggregateFromStats`); existing snapshots index on
    * their next rewrite (`OPTIMIZE`), exactly like the bloom-index
    * verb. `UNSET` removes the property; existing sidecars ride out
    * with their snapshots. Unknown property keys fail loudly — a
    * silently ignored storage property is a debugging trap. */
  /** `ALTER TABLE t WRITE ORDERED BY (c1, …)` / `WRITE UNORDERED` —
    * Iceberg's SortOrder surface: the columns are recorded in META and
    * every subsequent partitioned write clusters + sorts its rows by
    * them inside each partition. Combined with
    * `'graft.maxRecordsPerFile'` (so the writer rolls files along the
    * sort) and `'graft.statsColumns'`, each partition's files carry
    * DISJOINT [min,max] ranges on the order columns — the Z-order-lite
    * layout `promote(clusterBy = …)` established, now declared once on
    * the table instead of threaded through every write call. Existing
    * files re-lay-out on their next rewrite (`OPTIMIZE`). */
  private def alterWriteOrder(name: String, cols: Seq[String]): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"ALTER TABLE $name: no such table"))
    require(meta.partitionCol.isDefined,
      s"ALTER TABLE $name WRITE ORDERED BY: write order rides the " +
        "partitioned (versioned) format's snapshot writer")
    val resolved = cols.map(c =>
      meta.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE $name WRITE ORDERED BY $c: no such column")).name)
    require(!resolved.exists(c => meta.partitionCol.exists(_ == c)),
      s"ALTER TABLE $name WRITE ORDERED BY: the partition column is " +
        "already the outer clustering — order by data columns")
    writeMeta(name, meta.copy(writeOrder = resolved.distinct))
  }

  /** `SHOW TBLPROPERTIES t` — the read side of the property verbs:
    * one (key, value) row per set storage property, including the ones
    * declared through their own DDL (bloom index, write order) so a
    * user can audit a table's whole declared layout in one statement. */
  private def showTblProps(name: String): DataFrame = {
    import spark.implicits._
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"SHOW TBLPROPERTIES $name: no such table"))
    val rows = Seq(
      Option.when(meta.statsCols.nonEmpty)(
        "graft.statsColumns" -> meta.statsCols.mkString(",")),
      Option.when(meta.maxRecsPerFile > 0)(
        "graft.maxRecordsPerFile" -> meta.maxRecsPerFile.toString),
      Option.when(meta.bloomCols.nonEmpty)(
        "graft.bloomIndexColumns" -> meta.bloomCols.mkString(",")),
      Option.when(meta.writeOrder.nonEmpty)(
        "graft.writeOrderedBy" -> meta.writeOrder.mkString(","))).flatten
    rows.toDF("key", "value")
  }

  private def alterTblProps(name: String, set: Boolean,
      propsBlock: String): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"ALTER TABLE $name: no such table"))
    val props: Seq[(String, Option[String])] =
      TblPropRe.findAllMatchIn(propsBlock).map { m =>
        (m.group(1).replace("''", "'"),
          Option(m.group(2)).map(_.replace("''", "'")))
      }.toSeq
    require(props.nonEmpty,
      s"ALTER TABLE $name ${if (set) "SET" else "UNSET"} TBLPROPERTIES: " +
        "no properties parsed")
    var cur = meta
    for ((k, v) <- props) k match {
      case "graft.statsColumns" =>
        if (set) {
          val cols = v.getOrElse(throw new IllegalArgumentException(
            s"ALTER TABLE $name SET TBLPROPERTIES: '$k' needs a value"))
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val resolved = cols.map(c =>
            cur.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
              throw new IllegalArgumentException(
                s"ALTER TABLE $name SET TBLPROPERTIES '$k': " +
                  s"no such column $c")).name)
          cur = cur.copy(statsCols = resolved.distinct)
        } else cur = cur.copy(statsCols = Nil)
      case "graft.maxRecordsPerFile" =>
        if (set) {
          val n = v.flatMap(_.trim.toLongOption).filter(_ > 0).getOrElse(
            throw new IllegalArgumentException(
              s"ALTER TABLE $name SET TBLPROPERTIES: '$k' needs a " +
                "positive integer value"))
          cur = cur.copy(maxRecsPerFile = n)
        } else cur = cur.copy(maxRecsPerFile = 0L)
      case other => throw new IllegalArgumentException(
        s"ALTER TABLE $name: unsupported table property '$other' — " +
          "supported: 'graft.statsColumns', 'graft.maxRecordsPerFile'")
    }
    writeMeta(name, cur)
  }

  private def alterWidenColumn(name: String, colName: String,
      colType: String): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"ALTER TABLE $name: no such table"))
    val field = meta.schema.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(
        s"ALTER TABLE $name ALTER COLUMN $colName: no such column"))
    require(!meta.partitionCol.exists(_.equalsIgnoreCase(colName)),
      s"ALTER TABLE $name ALTER COLUMN $colName: cannot widen the " +
        "partition column")
    val newType = org.apache.spark.sql.types.DataType.fromDDL(colType)
    meta.partitionCol match {
      case Some(_) =>
        val path = tableDir(name).toString
        if (VersionedPartitioned.currentVersion(spark, path).isDefined) {
          VersionedPartitioned.evolveWidenColumnMetaOnly(spark, path,
            field.name, newType)
          ()
        } else require(
          VersionedPartitioned.isLosslessWidening(field.dataType, newType),
          s"ALTER COLUMN ${field.name} TYPE $colType: not a lossless " +
            s"widening of ${field.dataType.sql}")
      case None =>
        require(
          VersionedPartitioned.isLosslessWidening(field.dataType, newType),
          s"ALTER COLUMN ${field.name} TYPE $colType: not a lossless " +
            s"widening of ${field.dataType.sql}")
        val dataDir = tableDir(name).resolve(DataDir).toString
        val cur = readUnpartitioned(meta, dataDir)
        Exchange.swapTable(
          cur.withColumn(field.name, col(s"`${field.name}`").cast(newType)),
          dataDir)
    }
    writeMeta(name, meta.copy(schema = StructType(meta.schema.fields.map(f =>
      if (f.name == field.name) f.copy(dataType = newType) else f))))
  }

  /** ALTER TABLE … RENAME COLUMN a TO b — metadata-only on the
    * partitioned format (`evolveRenameColumnMetaOnly`); staging
    * tables rewrite in place. Type and position survive the rename. */
  private def alterRenameColumn(name: String, from: String,
      to: String): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"ALTER TABLE $name: no such table"))
    val field = meta.schema.fieldNames.find(_.equalsIgnoreCase(from))
      .getOrElse(throw new IllegalArgumentException(
        s"ALTER TABLE $name RENAME COLUMN $from: no such column"))
    require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"ALTER TABLE $name RENAME COLUMN $from TO $to: '$to' already exists")
    require(!meta.partitionCol.exists(_.equalsIgnoreCase(from)),
      s"ALTER TABLE $name RENAME COLUMN $from: cannot rename the " +
        "partition column")
    meta.partitionCol match {
      case Some(_) =>
        val path = tableDir(name).toString
        if (VersionedPartitioned.currentVersion(spark, path).isDefined) {
          VersionedPartitioned.evolveRenameColumnMetaOnly(spark, path,
            field, to)
          ()
        }
      case None =>
        val dataDir = tableDir(name).resolve(DataDir).toString
        val cur = readUnpartitioned(meta, dataDir)
        Exchange.swapTable(cur.withColumnRenamed(field, to), dataDir)
    }
    // index/stats properties follow the rename: future writes emit
    // sidecar entries under the NEW name (existing sidecars keep the
    // old one — readers treat missing coverage as keep-all/bail)
    writeMeta(name, meta.copy(
      schema = StructType(meta.schema.fields.map(f =>
        if (f.name == field) f.copy(name = to) else f)),
      bloomCols = meta.bloomCols.map(c => if (c == field) to else c),
      statsCols = meta.statsCols.map(c => if (c == field) to else c),
      writeOrder = meta.writeOrder.map(c => if (c == field) to else c)))
  }

  /** TRUNCATE TABLE — metadata-only on the partitioned format (one
    * commit omitting every partition entry; time travel still reaches
    * the old rows, `vacuum` reclaims the bytes), an empty swap on
    * staging tables. */
  /** ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS a, b | FOR ALL
    * COLUMNS] — one aggregation pass storing per-column CBO stats next
    * to the current version (`VersionedPartitioned.analyzeColumns`).
    * Bare COMPUTE STATISTICS analyzes the partition column only (row
    * count + file bytes are what the planner needs; the per-column
    * detail is the FOR COLUMNS surface). Read back via the
    * `t.column_stats` metadata suffix; consumed by the query door's
    * stats-driven broadcast hint. */
  private def analyzeTable(name: String, allColumns: Boolean,
      colsBlock: Option[String]): Unit = {
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"ANALYZE TABLE $name: no such table"))
    val pcol = meta.partitionCol.getOrElse(
      throw new IllegalArgumentException(
        s"ANALYZE TABLE $name: only partitioned tables carry stats"))
    val path = tableDir(name).toString
    require(VersionedPartitioned.currentVersion(spark, path).isDefined,
      s"ANALYZE TABLE $name: table has no committed data")
    val cols =
      if (allColumns) meta.schema.fieldNames.toSeq
      else colsBlock match {
        // requested names resolve case-insensitively to the DECLARED
        // field names (SQL identifier semantics; analyzeColumns
        // validates with the schema's exact spelling)
        case Some(block) => splitTop(block).map { raw =>
          val want = raw.trim
          meta.schema.fieldNames.find(_.equalsIgnoreCase(want)).getOrElse(
            throw new IllegalArgumentException(
              s"ANALYZE TABLE $name FOR COLUMNS $want: no such column"))
        }
        case None => Seq(pcol)
      }
    VersionedPartitioned.analyzeColumns(spark, path, cols)
  }

  private def truncateTable(name: String): Unit = {
    requireNotMview(name, "TRUNCATE TABLE")
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"TRUNCATE TABLE $name: no such table"))
    meta.partitionCol match {
      case Some(_) =>
        val path = tableDir(name).toString
        if (VersionedPartitioned.currentVersion(spark, path).isDefined) {
          val parts = VersionedPartitioned.partitions(spark, path)
          if (parts.nonEmpty) {
            VersionedPartitioned.dropPartitions(spark, path, parts)
            ()
          }
        }
      case None =>
        Exchange.swapTable(emptyDf(meta.schema),
          tableDir(name).resolve(DataDir).toString)
    }
  }

  /** INSERT OVERWRITE — dynamic partition overwrite semantics (the
    * Spark/Iceberg contract): exactly the partitions present in the
    * query result are replaced wholesale, everything else is inherited
    * by manifest reference; an unpartitioned table is replaced in
    * full. The idempotent alternative to the reference's DELETE-day +
    * INSERT pair, in one statement and one commit. */
  private def insertOverwrite(name: String, body: String): Unit = {
    requireNotMview(name, "INSERT OVERWRITE")
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"INSERT OVERWRITE $name: no such table"))
    val src = conform(query(body), meta.schema, name)
    meta.partitionCol match {
      case Some(p) =>
        VersionedPartitioned.promote(withPhysKey(src, meta),
          tableDir(name).toString, p, bloomCols = meta.bloomCols,
          statsCols = meta.statsCols, clusterBy = meta.writeOrder,
          maxRecordsPerFile = meta.maxRecsPerFile, tag = txnTag)
        ()
      case None =>
        Exchange.swapTable(src, tableDir(name).resolve(DataDir).toString)
    }
  }

  /** OPTIMIZE t [WHERE <partitionCol> = '<v>'] ZORDER BY (c1, …) —
    * Delta's table-maintenance verb routed onto
    * `VersionedPartitioned.optimizeZOrderWhere`. `ZOrder.zkey` wants
    * range-mapped dimensions, which a statement text cannot supply, so
    * the router derives them: one aggregate pass collects each z
    * column's min/max and the dimension becomes
    * ⌊(v − min)/(max − min) · (2ᵇ − 1)⌋ — numeric/date/timestamp
    * columns only (dictionary-coding strings is the Scala API's job).
    * Stats sidecars are re-derived on the z columns so the rewrite
    * makes `readPruned` selective on every dimension. */
  private def optimizeTable(name: String, whereCol: Option[String],
      whereVal: Option[String], zCols: Seq[String], bits: Int): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"OPTIMIZE $name: no such table"))
    val p = meta.partitionCol.getOrElse(throw new IllegalArgumentException(
      s"OPTIMIZE $name: staging tables have no snapshot layout to optimize"))
    whereCol.foreach(c => require(c == p,
      s"OPTIMIZE $name WHERE $c: only partition-targeted optimize routes " +
        s"through the statement form (table is partitioned by $p)"))
    val path = tableDir(name).toString
    if (VersionedPartitioned.currentVersion(spark, path).isEmpty) return
    val resolved = zCols.map { c =>
      meta.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"OPTIMIZE $name ZORDER BY $c: no such column")).name
    }
    val live = VersionedPartitioned.read(spark, path)
    val boundsRow = live.select(resolved.flatMap(c =>
      Seq(min(col(s"`$c`").cast("double")), max(col(s"`$c`").cast("double")))): _*)
      .head()
    val zExprs = resolved.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (boundsRow.getDouble(2 * i), boundsRow.getDouble(2 * i + 1))
      if (hi == lo) lit(0L)
      else floor((col(s"`$c`").cast("double") - lit(lo)) / lit(hi - lo) *
        lit(((1L << bits) - 1).toDouble)).cast("long")
    }
    val keep: String => Boolean = whereVal match {
      case Some(v) => _ == v
      case None => _ => true
    }
    VersionedPartitioned.optimizeZOrderWhere(spark, path, zExprs, bits,
      statsCols = (resolved ++ meta.statsCols).distinct, keep = keep,
      bloomCols = meta.bloomCols)
    ()
  }

  /** Plain `OPTIMIZE t [WHERE <partitionCol> = '<v>']` (no ZORDER) —
    * Delta's compaction verb: rewrite the kept partitions' live state
    * as one fresh snapshot honoring the table's DECLARED layout
    * properties (`WRITE ORDERED BY` clustering, `graft.statsColumns`
    * sidecars, bloom indexes, `graft.maxRecordsPerFile` rolling).
    * This is how files written before an `ALTER TABLE … WRITE ORDERED
    * BY` / `SET TBLPROPERTIES` re-lay-out: small files compact,
    * merge-on-read delete refs materialize, and every declared stat
    * starts covering the rewritten files. O(kept partitions), like the
    * z-order form. */
  private def optimizePlainTable(name: String, whereCol: Option[String],
      whereVal: Option[String]): Unit = {
    val meta = metaOf(name).getOrElse(
      throw new IllegalArgumentException(s"OPTIMIZE $name: no such table"))
    val p = meta.partitionCol.getOrElse(throw new IllegalArgumentException(
      s"OPTIMIZE $name: staging tables have no snapshot layout to optimize"))
    whereCol.foreach(c => require(c == p,
      s"OPTIMIZE $name WHERE $c: only partition-targeted optimize routes " +
        s"through the statement form (table is partitioned by $p)"))
    val path = tableDir(name).toString
    if (VersionedPartitioned.currentVersion(spark, path).isEmpty) return
    val keep: String => Boolean = whereVal match {
      case Some(v) => _ == v
      case None => _ => true
    }
    val cur = VersionedPartitioned.readPartitionsWhere(spark, path, keep)
      .select(meta.schema.fieldNames.map(c => col(s"`$c`")): _*)
    VersionedPartitioned.overwritePartitions(withPhysKey(cur, meta),
      path, keep, statsCols = meta.statsCols, bloomCols = meta.bloomCols,
      clusterBy = meta.writeOrder,
      maxRecordsPerFile = meta.maxRecsPerFile)
    ()
  }

  /** `CREATE BLOOMFILTER INDEX ON TABLE t FOR COLUMNS (c1, …)` —
    * Databricks' point-lookup index verb, with Databricks' semantics:
    * the index columns are recorded in the table META, and every
    * SUBSEQUENT write (INSERT / INSERT OVERWRITE / MERGE / UPDATE /
    * OPTIMIZE) emits a per-file `bloom_<c>` filter into its stats
    * sidecar; existing files index on their next rewrite (`OPTIMIZE`).
    * Routed point statements (`WHERE c = 'v'` / `IN (…)`) then skip
    * files whose bloom provably lacks the value — the case min/max
    * stats cannot discriminate on a scattered high-cardinality id.
    * DROP removes the meta entry; existing sidecars stay (ignored once
    * no statement asks for point skipping — they ride out with their
    * snapshots). */
  private def bloomIndex(name: String, colsBlock: Option[String]): Unit = {
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"BLOOMFILTER INDEX ON $name: no such table"))
    require(meta.partitionCol.isDefined,
      s"BLOOMFILTER INDEX ON $name: only partitioned tables carry " +
        "file-level sidecars")
    colsBlock match {
      case Some(block) =>
        val cols = splitTop(block).map { raw =>
          val want = raw.trim
          meta.schema.fieldNames.find(_.equalsIgnoreCase(want)).getOrElse(
            throw new IllegalArgumentException(
              s"BLOOMFILTER INDEX ON $name FOR COLUMNS $want: no such column"))
        }
        writeMeta(name, meta.copy(bloomCols = cols))
      case None =>
        writeMeta(name, meta.copy(bloomCols = Nil))
    }
  }

  private def dropTable(name: String): Unit = {
    require(mviewDefOf(name).isEmpty,
      s"DROP TABLE $name: it is a MATERIALIZED VIEW — " +
        "use DROP MATERIALIZED VIEW")
    uncacheTable(name)
    val dir = tableDir(name)
    if (java.nio.file.Files.exists(dir)) {
      val (fs, p) = Versioned.fsOf(spark, dir.toString)
      fs.delete(p, true)
      ()
    }
  }

  // ------------------------------------------------- materialized views —

  private def mviewDefOf(name: String): Option[graft.ops.Mview.Def] = {
    val f = tableDir(name).resolve(Mview.DefFile)
    if (!java.nio.file.Files.exists(f)) None
    else Some(Mview.Def.parse(java.nio.file.Files.readString(f)))
  }

  /** Write routes call this: a materialized view's state is DERIVED —
    * the only legal mutations are REFRESH (fold the source's delta)
    * and DROP. */
  private def requireNotMview(name: String, verb: String): Unit =
    require(mviewDefOf(name).isEmpty,
      s"$verb $name: it is a MATERIALIZED VIEW — its state is derived " +
        "from its source; REFRESH MATERIALIZED VIEW to update it")

  /** `CREATE MATERIALIZED VIEW mv AS SELECT <groups>, count(*)/sum(c)
    * /min(c)/max(c)/avg(c)/var_samp(c)/stddev(c) AS … FROM <versioned
    * table> [WHERE <pred>] GROUP BY <groups>` (or fact JOIN dim) — the
    * door face of `Mview`/`IncrementalAgg.fold` delta maintenance: the
    * view materializes ONCE at the source's current version, and
    * `REFRESH MATERIALIZED VIEW` folds only the partitions the source
    * touched since (O(changed), never O(table)), exactly-once via the
    * state+cursor atomic swap. Any other aggregate is rejected loudly
    * (the Scala API's maintained top-k/quantile shapes ride the change
    * feed — `Streaming.maintainTopK` and friends). */
  private def createMview(name: String, body: String): Unit = {
    require(metaOf(name).isEmpty,
      s"CREATE MATERIALIZED VIEW $name: a table with this name exists")
    // two-relation form first (the single-table regex cannot match a
    // JOIN body): fact ⋈ dim on same-named equi-keys, maintained by
    // the two-sided delta rule with a composite cursor
    val (selectList, src, dimOpt, keys, whereOpt, groupByList) =
      body.trim match {
        case MvJoinBodyRe(sl, f, dm, using, on, g) =>
          val ks =
            if (using != null)
              using.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            else splitTop(on).map(_.trim).map {
              case MvOnEqRe(a, b) =>
                require(a.equalsIgnoreCase(b),
                  s"CREATE MATERIALIZED VIEW $name: join keys must be " +
                    s"same-named on both sides, got $a = $b")
                a
              case other => throw new IllegalArgumentException(
                s"CREATE MATERIALIZED VIEW $name: unsupported join " +
                  s"condition '$other' — use t.k = u.k equi-keys or " +
                  "USING (k, …)")
            }
          (sl, f.toLowerCase, Some(dm.toLowerCase), ks,
            Option.empty[String], g)
        case MvBodyRe(sl, s2, w, g) =>
          (sl, s2.toLowerCase, None, Seq.empty[String], Option(w), g)
        case _ => throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: body must be SELECT " +
            "<cols+aggs> FROM <table> [JOIN <table> ON|USING …] " +
            "[WHERE <pred>] GROUP BY <cols>")
      }
    def metaFor(t: String): TableMeta = {
      val m = metaOf(t).getOrElse(throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW $name: no such table $t"))
      require(m.partitionCol.isDefined,
        s"CREATE MATERIALIZED VIEW $name: source $t must be a " +
          "partitioned (versioned) table — the refresh delta is " +
          "partition-grained")
      m
    }
    val srcMeta = metaFor(src)
    val dimMeta = dimOpt.map(metaFor)
    // resolve against fact ∪ dim; a non-key name living on both sides
    // would be ambiguous in the join — refuse
    def resolve(c: String, what: String): String = {
      val inF = srcMeta.schema.fields.find(_.name.equalsIgnoreCase(c))
      val inD = dimMeta.flatMap(
        _.schema.fields.find(_.name.equalsIgnoreCase(c)))
      (inF, inD) match {
        case (Some(f), Some(_)) if keys.exists(_.equalsIgnoreCase(c)) =>
          f.name
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: $what $c exists on both " +
            "join sides and is not a join key — ambiguous")
        case (Some(f), None) => f.name
        case (None, Some(f)) => f.name
        case (None, None) => throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW $name: $what $c is not a column " +
            s"of ${(src +: dimOpt.toSeq).mkString(" or ")}")
      }
    }
    val resolvedKeys = keys.map(resolve(_, "join key"))
    resolvedKeys.foreach { k =>
      require(srcMeta.schema.fieldNames.exists(_.equalsIgnoreCase(k)) &&
        dimMeta.exists(_.schema.fieldNames.exists(_.equalsIgnoreCase(k))),
        s"CREATE MATERIALIZED VIEW $name: join key $k must exist on " +
          "both sides")
    }
    val out = splitTop(selectList).map(_.trim).map {
      case MvCountItemRe(alias) => Mview.OutCol("count", "*", alias)
      case MvSumItemRe(c, alias) =>
        Mview.OutCol("sum", resolve(c, "SUM column"), alias)
      case MvMinItemRe(c, alias) =>
        Mview.OutCol("min", resolve(c, "MIN column"), alias)
      case MvMaxItemRe(c, alias) =>
        Mview.OutCol("max", resolve(c, "MAX column"), alias)
      case MvAvgItemRe(c, alias) =>
        Mview.OutCol("avg", resolve(c, "AVG column"), alias)
      case MvVarItemRe(c, alias) =>
        Mview.OutCol("var", resolve(c, "VAR_SAMP column"), alias)
      case MvStdItemRe(c, alias) =>
        Mview.OutCol("stddev", resolve(c, "STDDEV column"), alias)
      case MvGroupItemRe(c, alias) =>
        val rc = resolve(c, "group column")
        Mview.OutCol("group", rc, Option(alias).getOrElse(rc))
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW $name: unsupported select item " +
          s"'$other' — supported: <col> [AS a], COUNT(*) AS a, " +
          "SUM/MIN/MAX/AVG/VAR_SAMP/STDDEV(col) AS a (count/sum/avg/" +
          "var/stddev fold by the delta rule; min/max by " +
          "affected-group rescan)")
    }
    val groups = groupByList.split(",").map(_.trim).filter(_.nonEmpty)
      .map(resolve(_, "GROUP BY column")).toSeq
    val groupOuts = out.collect { case Mview.OutCol("group", c, _) => c }
    require(groupOuts.toSet == groups.toSet,
      s"CREATE MATERIALIZED VIEW $name: selected plain columns " +
        s"${groupOuts.mkString(",")} must equal the GROUP BY list " +
        groups.mkString(","))
    val sums = out.collect { case Mview.OutCol("sum", c, _) => c }.distinct
    val mins = out.collect { case Mview.OutCol("min", c, _) => c }.distinct
    val maxs = out.collect { case Mview.OutCol("max", c, _) => c }.distinct
    val avgs = out.collect { case Mview.OutCol("avg", c, _) => c }.distinct
    val vars = out.collect {
      case Mview.OutCol("var" | "stddev", c, _) => c }.distinct
    val d = Mview.Def(src, groups, sums, whereOpt.map(_.trim), out,
      dimOpt, resolvedKeys, mins, maxs, avgs, vars)
    // the visible schema comes from projecting a typed empty state
    val emptyState = Mview.stateShape(d,
      readTable(src, srcMeta).where(lit(false)),
      dimMeta.map(dm => readTable(dimOpt.get, dm).where(lit(false))))
    val visible = Mview.project(d, emptyState).schema
    java.nio.file.Files.createDirectories(tableDir(name))
    // initialize FIRST, catalog after: if the initial materialization
    // refuses (e.g. the source has no committed version to pin a
    // cursor to), nothing is cataloged — a def/meta written before a
    // failed initialize would leave a half-created view whose SELECTs
    // fail on the missing state and whose name blocks re-CREATE
    Mview.initialize(spark, d, tableDir(src).toString,
      tableDir(name).resolve(DataDir).toString,
      dimOpt.map(t => tableDir(t).toString))
    java.nio.file.Files.writeString(tableDir(name).resolve(Mview.DefFile),
      d.render)
    writeMeta(name, TableMeta(StructType(visible.fields), None))
    ()
  }

  private def refreshMview(name: String, full: Boolean): Unit = {
    val d = mviewDefOf(name).getOrElse(throw new IllegalArgumentException(
      s"REFRESH MATERIALIZED VIEW $name: no such materialized view"))
    Mview.refresh(spark, d, tableDir(d.source).toString,
      tableDir(name).resolve(DataDir).toString, full,
      d.dim.map(t => tableDir(t).toString))
    ()
  }

  private def dropMview(name: String): Unit = {
    require(mviewDefOf(name).isDefined,
      s"DROP MATERIALIZED VIEW $name: no such materialized view")
    mviewSubs.remove(name).foreach(_.stop())
    val (fs, p) = Versioned.fsOf(spark, tableDir(name).toString)
    fs.delete(p, true)
    ()
  }

  /** Auto-refresh subscriptions started by `ALTER MATERIALIZED VIEW …
    * SET AUTO REFRESH`, by view name — stopped by UNSET or DROP. */
  private val mviewSubs = scala.collection.mutable
    .Map.empty[String, org.apache.spark.sql.streaming.StreamingQuery]

  /**
   * `ALTER MATERIALIZED VIEW mv SET AUTO REFRESH [EVERY n SECONDS]` —
   * the Databricks-style schedule spelling over
   * `Streaming.maintainedMview`: a checkpoint-free StreamingQuery
   * polls the source on the given cadence (default 60 s) and folds
   * the delta each tick; a tick where no source advanced is a pure
   * metadata no-op. Delivery state is the view's own state+cursor
   * atomic swap, so stop/restart (UNSET then SET, or a new session)
   * resumes exactly from the swapped cursor — nothing double-applies.
   * `UNSET AUTO REFRESH` stops the subscription; re-issuing SET
   * replaces the running one. Subscriptions live in the SparkSession:
   * dropping the door object does not stop them, UNSET/DROP does.
   */
  private def alterMviewAutoRefresh(name: String, set: Boolean,
      everySecs: Option[Long]): Unit = {
    val d = mviewDefOf(name).getOrElse(throw new IllegalArgumentException(
      s"ALTER MATERIALIZED VIEW $name: no such materialized view"))
    val existing = mviewSubs.remove(name)
    existing.foreach(_.stop())
    if (set) {
      val interval = everySecs.getOrElse(60L)
      require(interval > 0,
        s"ALTER MATERIALIZED VIEW $name: EVERY must be positive")
      val q = graft.pipeline.Streaming.maintainedMview(spark, d,
        tableDir(d.source).toString,
        tableDir(name).resolve(DataDir).toString,
        d.dim.map(t => tableDir(t).toString),
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(s"$interval seconds"))
      mviewSubs.put(name, q)
      ()
    } else require(existing.isDefined,
      s"ALTER MATERIALIZED VIEW $name UNSET AUTO REFRESH: no auto " +
        "refresh is set")
  }

  // ----------------------------------------------- transactions (Txn) —

  /** Statement texts buffered between BEGIN and COMMIT; None = no
    * transaction open. */
  private var txnBuffer: Option[scala.collection.mutable.ArrayBuffer[
    (String, String)]] = None // (statement, target table)

  /** The `txn:<id>:<k>of<n>` tag the CURRENT statement's commit must
    * carry — set only while COMMIT replays the buffer. */
  private var txnTag: Option[String] = None

  private def beginTxn(): Unit = {
    require(txnBuffer.isEmpty, "BEGIN: a transaction is already open " +
      "(nested transactions are not supported)")
    txnBuffer = Some(scala.collection.mutable.ArrayBuffer.empty)
  }

  /** Validate + buffer one statement of an open transaction. Only
    * single-commit write verbs on PARTITIONED (versioned) tables may
    * participate — the transaction guarantee is built on commit-log
    * tags, which staging tables and DDL do not have. The buffer is
    * per-DOOR-INSTANCE state under the documented single-writer
    * discipline: one door writes a root at a time — two doors in one
    * JVM keep independent buffers (no interleaving), but their COMMIT
    * replays racing on the same tables would interleave position
    * tags, exactly as any two concurrent writers race promotes.
    * Reads issued
    * mid-transaction (`query`) are NOT buffered: they see the
    * pre-transaction state — snapshot isolation, not read-your-writes.
    * Statements run at COMMIT in order, so LATER statements of the
    * same transaction DO see earlier ones' writes (the reference's
    * cumulate reads the production rows its own transaction just
    * promoted, dags/dag.py:292-311 then :336-354). */
  private def bufferTxnStatement(s: String): Unit = {
    val target = s match {
      case InsertOverwriteRe(name, _) => name.toLowerCase
      case InsertRe(name, _) => name.toLowerCase
      case DeletePartRe(name, _, _) => name.toLowerCase
      case DeleteRowsRe(name, _) => name.toLowerCase
      case UpdateRe(name, _, _) => name.toLowerCase
      case MergeEvolveRe(_) => throw new IllegalArgumentException(
        "transaction body: MERGE WITH SCHEMA EVOLUTION may add " +
          "metadata-only column commits before the merge — not " +
          "single-commit; evolve the schema outside the transaction")
      case MergeStmtRe() =>
        MergeHeadRe.findPrefixMatchOf(s.trim.stripSuffix(";")) match {
          case Some(m) => m.group(1).toLowerCase
          case None => throw new IllegalArgumentException(
            "transaction body: cannot parse MERGE INTO target — " +
              "expected MERGE INTO <schema.table> [AS] <alias> USING …")
        }
      case _ => throw new IllegalArgumentException(
        "transaction body: only INSERT INTO / INSERT OVERWRITE / " +
          "DELETE FROM / UPDATE / MERGE INTO route through " +
          s"BEGIN…COMMIT, got: ${s.take(80)}")
    }
    val meta = metaOf(target).getOrElse(throw new IllegalArgumentException(
      s"transaction body: no such table $target"))
    require(meta.partitionCol.isDefined,
      s"transaction body: $target is unpartitioned — transactions ride " +
        "the versioned commit log")
    requireNotMview(target, "transactional write to")
    txnBuffer.get += ((s, target))
  }

  /**
   * COMMIT: replay the buffered statements in order, each one's
   * version commit tagged `txn:<id>:<k>of<n>` (`ops/Txn`'s WAL-style
   * contract). A statement that no-ops (the reference's idempotent
   * DELETE-day on its first run) still occupies its position with a
   * data-less tagged commit — recovery would otherwise read the
   * transaction as incomplete forever. A CRASH mid-replay leaves a
   * tagged PREFIX that `Txn.recover` — run on every door open — rolls
   * back. A statement FAILURE mid-replay (no crash) rolls the landed
   * prefix back HERE, before the exception propagates: recover only
   * runs on door OPEN, so without this the same live session's later
   * reads would see the partial transaction — and any subsequent
   * write would commit over the tagged head, making it permanent
   * (recover leaves non-head tagged commits alone by design). Either
   * way, `Txn.readAll` readers never observe a partial transaction.
   */
  private def commitTxn(): Unit = {
    val stmts = txnBuffer.getOrElse(
      throw new IllegalStateException("COMMIT without BEGIN")).toSeq
    txnBuffer = None
    if (stmts.isEmpty) return
    val id = java.util.UUID.randomUUID().toString
    val n = stmts.size
    // pre-transaction head per table: the in-session rollback target
    val preTxn: Seq[(String, Long)] = stmts.map(_._2).distinct.map { t =>
      t -> VersionedPartitioned
        .currentVersion(spark, tableDir(t).toString).getOrElse(0L)
    }
    try {
      stmts.zipWithIndex.foreach { case ((stmt, target), i) =>
        val path = tableDir(target).toString
        txnTag = Some(s"${Txn.TagPrefix}$id:${i + 1}of$n")
        val before =
          VersionedPartitioned.currentVersion(spark, path).getOrElse(0L)
        execute(stmt)
        val after =
          VersionedPartitioned.currentVersion(spark, path).getOrElse(0L)
        require(after <= before + 1, s"transaction statement committed " +
          s"${after - before} versions — not single-commit: $stmt")
        if (after == before) {
          VersionedPartitioned.emptyCommit(spark, path,
            metaOf(target).flatMap(_.partitionCol).getOrElse(""), txnTag)
          ()
        }
      }
    } catch {
      case e: Throwable =>
        txnTag = None
        // restore-forward each touched table to its pre-transaction
        // head (Iceberg-rollback style — the audit trail keeps the
        // aborted attempt); a rollback failure is suppressed onto the
        // original error, and the door-open recover remains the
        // backstop for whatever this pass could not undo
        try preTxn.foreach { case (t, v) =>
          val path = tableDir(t).toString
          val cur =
            VersionedPartitioned.currentVersion(spark, path).getOrElse(0L)
          if (cur > v) {
            if (v >= 1L) VersionedPartitioned.rollbackTo(spark, path, v)
            else VersionedPartitioned.emptyCommit(spark, path,
              metaOf(t).flatMap(_.partitionCol).getOrElse(""),
              Some(s"rollback-${Txn.TagPrefix}$id"), dropAll = true)
            ()
          }
        } catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    } finally txnTag = None
  }

  // ---------------------------------------------------------- caching —

  /** CACHE TABLE state: name → (persisted frame, the snapshot version
    * it materialized). Version-checked at every read, so the cache can
    * never serve stale rows: any write bumps the table version and the
    * next read drops + unpersists the entry (lazy invalidation — no
    * write verb needs to know about the cache). */
  private val cachedTables =
    scala.collection.mutable.Map.empty[String, (DataFrame, Long)]

  /** `CACHE [LAZY] TABLE t` — Spark's verb with Spark's eager
    * default: the CURRENT snapshot materializes in executor memory
    * (one count() forces it; LAZY defers to first use) and every
    * subsequent routed statement over `t` reuses the in-memory
    * relation instead of re-reading parquet, until a write bumps the
    * version. Partitioned (snapshot-versioned) tables only:
    * versioning is what makes invalidation provable. */
  private def cacheTable(name: String, eager: Boolean = true): Unit = {
    val meta = metaOf(name).getOrElse(throw new IllegalArgumentException(
      s"CACHE TABLE $name: no such table"))
    require(meta.partitionCol.isDefined,
      s"CACHE TABLE $name: only partitioned (snapshot-versioned) tables " +
        "cache — staging tables have no version to invalidate on")
    uncacheTable(name)
    val path = tableDir(name).toString
    val v = VersionedPartitioned.currentVersion(spark, path).getOrElse(0L)
    val df = readTable(name, meta).persist()
    if (eager) df.count()
    cachedTables.put(name, (df, v))
    ()
  }

  private def uncacheTable(name: String): Unit =
    cachedTables.remove(name).foreach { case (df, _) =>
      df.unpersist()
      ()
    }

  // ---------------------------------------------------------- reading —

  /** Contents of a cataloged table. A partitioned table's head comes
    * from one listing and one commit read, and the version read is the
    * version checked against the CACHE TABLE pin and, when `hinted`,
    * by the ANALYZE broadcast decision. */
  private def readTable(name: String, meta: TableMeta,
      hinted: Boolean = false): DataFrame =
    meta.partitionCol match {
      case Some(_) =>
        val path = tableDir(name).toString
        val head = VersionedPartitioned.latestManifest(spark, path)
        val version = head.map(_._1)
        val df = cachedTables.get(name) match {
          case Some((df, v)) if version.contains(v) => df
          case cached =>
            // the table advanced past the cached snapshot: drop +
            // unpersist (CACHE TABLE pins a snapshot, not a
            // subscription — re-CACHE to pin the new head)
            if (cached.isDefined) uncacheTable(name)
            // a truncated table has a manifest with zero live
            // partitions — the format read refuses (schema unknowable
            // from data), but the catalog knows the declared schema
            head.map(_._2).filter(_.entries.nonEmpty) match {
              case Some(m) =>
                // a snapshot without a recorded `_schema` (written
                // before schemas were recorded) falls back to
                // partition-value inference, which can type a dir value
                // more eagerly than the declaration (a date-parseable
                // STRING key reads back DATE); the CATALOG is the
                // contract, so mismatched columns conform by cast.
                // Matching columns — every table in the gates — select
                // untouched, so plans (and the metadata-fold/prune
                // walks) are unchanged there; a conformed column's
                // statements degrade to the scan, correct-but-slower,
                // never mistyped.
                val raw = VersionedPartitioned.readManifest(spark, path, m)
                val rawTypes = raw.schema.fields
                  .map(f => f.name.toLowerCase -> f.dataType).toMap
                raw.select(meta.schema.fields.map { f =>
                  val c = col(s"`${f.name}`")
                  if (rawTypes.get(f.name.toLowerCase).contains(f.dataType)) c
                  else c.cast(f.dataType).as(f.name)
                }: _*)
              case None => emptyDf(meta.schema)
            }
        }
        if (hinted && version.exists(statsSaysBroadcast(path, _)))
          df.hint("broadcast")
        else df
      case None =>
        mviewDefOf(name) match {
          case Some(d) =>
            // a materialized view reads as its visible projection of
            // the swapped internal state (group cols + n_rows + sum_*)
            Mview.project(d, Mview.rawState(spark,
                tableDir(name).resolve(DataDir).toString))
              .select(meta.schema.fieldNames.map(c => col(s"`$c`")): _*)
          case None =>
            readUnpartitioned(meta,
              tableDir(name).resolve(DataDir).toString)
        }
    }

  private def readUnpartitioned(meta: TableMeta, dataDir: String): DataFrame = {
    val (fs, p) = Versioned.fsOf(spark, dataDir)
    if (fs.exists(p))
      spark.read.schema(meta.schema).parquet(dataDir)
        .select(meta.schema.fieldNames.map(c => col(s"`$c`")): _*)
    else emptyDf(meta.schema)
  }

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  // ---------------------------------------------------------- catalog —

  private def schemaDir(name: String) =
    java.nio.file.Paths.get(root, name.toLowerCase)

  private def tableDir(name: String) = {
    val parts = name.split("\\.")
    require(parts.length == 2,
      s"table name must be schema-qualified (schema.table), got $name")
    java.nio.file.Paths.get(root, parts(0), parts(1))
  }

  private def viewFile(name: String) = {
    val parts = name.split("\\.")
    require(parts.length == 2,
      s"view name must be schema-qualified (schema.view), got $name")
    java.nio.file.Paths.get(root, parts(0), parts(1) + ViewFileSuffix)
  }

  private def writeMeta(name: String, meta: TableMeta): Unit = {
    java.nio.file.Files.write(tableDir(name).resolve(MetaFile),
      meta.render.getBytes("UTF-8"))
    ()
  }

  private def metaOf(name: String): Option[TableMeta] = {
    val f = tableDir(name).resolve(MetaFile)
    if (java.nio.file.Files.exists(f))
      Some(TableMeta.parse(
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")))
    else None
  }

  /** Stats-driven broadcast decision — the CBO use of the ANALYZE
    * surface: a partitioned table whose read `version` has committed
    * stats under the size threshold reads with a broadcast hint, so
    * any join against it in the query door plans as a broadcast join
    * even when `spark.sql.autoBroadcastJoinThreshold` is off
    * (size-unknown scans are exactly why users turn it off — analyzed
    * sizes are known). Stats of an older version (any commit since the
    * analyze) are IGNORED, never trusted: the decision degrades to
    * Spark's defaults rather than broadcasting a table that has since
    * grown. The check is file metadata only (a dir listing, then one
    * footer-sized read for analyzed tables); threshold conf
    * `spark.graft.analyze.broadcastThreshold` (bytes, ≤0 disables),
    * default 10 MB — Spark's own auto-broadcast default. */
  private def statsSaysBroadcast(path: String, version: Long): Boolean = {
    val threshold = spark.conf
      .getOption("spark.graft.analyze.broadcastThreshold")
      .map(_.toLong).getOrElse(10L * 1024 * 1024)
    threshold > 0 && VersionedPartitioned
      .statsBytesIfCurrent(spark, path, version).exists(_ <= threshold)
  }

  // WAL discipline on DOOR OPEN: roll back any cataloged table whose
  // head carries an incomplete transaction (a crash inside a COMMIT
  // replay) BEFORE any new work — the standard recovery point.
  // Idle cost is one driver-side head-manifest read per partitioned
  // table (Txn.recover's cheap guard); no Spark job runs unless a
  // txn-tagged head is actually found.
  Txn.recover(spark, tables().filter(n =>
    metaOf(n).exists(_.partitionCol.isDefined))
    .map(n => tableDir(n).toString))
}

object SqlLifecycle {
  private val MetaFile = "_graft_table.meta"
  private val CopyLedgerFile = "_graft_copy_ledger"
  private val DataDir = "data"
  private val ViewFileSuffix = ".graft_view.sql"

  private final case class TableMeta(schema: StructType,
      partitionCol: Option[String], bloomCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, writeOrder: Seq[String] = Nil,
      maxRecsPerFile: Long = 0L) {
    def render: String =
      s"partition=${partitionCol.getOrElse("-")}\nddl=${schema.toDDL}\n" +
        (if (bloomCols.isEmpty) "" else s"bloom=${bloomCols.mkString(",")}\n") +
        (if (statsCols.isEmpty) ""
         else s"stats=${statsCols.mkString(",")}\n") +
        (if (writeOrder.isEmpty) ""
         else s"order=${writeOrder.mkString(",")}\n") +
        (if (maxRecsPerFile <= 0) "" else s"maxrecs=$maxRecsPerFile\n")
  }

  private object TableMeta {
    def parse(s: String): TableMeta = {
      val kv = s.linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
        .toMap
      TableMeta(StructType.fromDDL(kv("ddl")),
        Some(kv("partition")).filter(_ != "-"),
        kv.get("bloom").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("stats").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("order").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("maxrecs").flatMap(_.toLongOption).getOrElse(0L))
    }
  }

  /** Single-quoted SQL string literal, `''` escaping included. */
  private val LiteralRe = "'(?:[^']|'')*'".r

  /** Apply `f` to the stretches of `sql` OUTSIDE string literals,
    * leaving literal bytes untouched. */
  private def mapOutsideLiterals(sql: String, f: String => String): String = {
    val sb = new StringBuilder
    var last = 0
    for (m <- LiteralRe.findAllMatchIn(sql)) {
      sb.append(f(sql.substring(last, m.start))).append(m.matched)
      last = m.end
    }
    sb.append(f(sql.substring(last)))
    sb.toString
  }

  /** Strip `-- line` and slash-star block comments, literal-aware
    * (the reference texts are comment-heavy): a comment opener inside
    * a '…' string is data and ships intact; a quote or semicolon
    * inside a comment is comment text and never flips scanner state
    * (the old line-oriented strip corrupted literals containing `--`
    * and let apostrophes in comments poison every downstream
    * paren/quote scanner). `''` escaping is handled explicitly; a line
    * comment keeps its newline, a block comment collapses to one
    * space so the tokens around it stay separate. */
  private[ops] def stripComments(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (ch == '\'') {
        // copy the whole literal, doubled-quote escapes included
        sb += ch; i += 1
        var closed = false
        while (i < sql.length && !closed) {
          val c = sql.charAt(i); sb += c; i += 1
          if (c == '\'') {
            if (i < sql.length && sql.charAt(i) == '\'') {
              sb += '\''; i += 1
            } else closed = true
          }
        }
      } else if (ch == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') i += 1
      } else if (ch == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < sql.length &&
          !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
        i = math.min(i + 2, sql.length)
        sb += ' '
      } else { sb += ch; i += 1 }
    }
    sb.toString
  }

  private val CreateSchemaRe =
    """(?is)^\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w]+)\s*;?\s*$""".r
  // column block = greedy to the last ')' before USING; PARTITIONED BY
  // and COMMENT optional, in the reference's order
  private val CreateTableRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.]+)\s*\((.*)\)\s*USING\s+\w+""" +
      """(?:\s+PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\))?""" +
      """(?:\s+COMMENT\s+'[^']*')?\s*;?\s*$""").r
  private val DeletePartRe =
    ("""(?is)^\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+([\w]+)\s*=\s*""" +
      """(?:DATE\s*)?'([^']+)'\s*;?\s*$""").r
  // general row-level DELETE: any predicate Spark's expr() can parse
  private val DeleteRowsRe =
    """(?is)^\s*DELETE\s+FROM\s+([\w.]+)\s+WHERE\s+(.+?)\s*;?\s*$""".r
  private val UpdateRe =
    ("""(?is)^\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)""" +
      """(?:\s+WHERE\s+(.+?))?\s*;?\s*$""").r
  // dispatcher (full-statement) and parser head for MERGE INTO
  private val MergeStmtRe = """(?is)^\s*MERGE\s+INTO\s+.*$""".r
  // Iceberg/Delta's evolve variant: MERGE WITH SCHEMA EVOLUTION INTO …
  private val MergeEvolveRe =
    """(?is)^\s*MERGE\s+WITH\s+SCHEMA\s+EVOLUTION\s+INTO\s+(.*)$""".r
  private val MergeHeadRe =
    """(?is)^\s*MERGE\s+INTO\s+([\w.]+)\s+(?:AS\s+)?(\w+)\s+USING\s+""".r
  private val MergeTailRe =
    """(?is)^(?:AS\s+)?(\w+)\s+ON\s+(.+?)\s+(WHEN\s+.*)$""".r
  private val OnEqRe = """(?i)\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*""".r
  private val UpdateSetClauseRe =
    ("""(?is)WHEN\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+""" +
      """(.+?)\s*(?=WHEN\s|$)""").r
  private val InsertAllClauseRe =
    ("""(?is)WHEN\s+NOT\s+MATCHED\s+(?:BY\s+TARGET\s+)?""" +
      """(?:AND\s+(.+?)\s+)?THEN\s+INSERT\s+\*""").r
  private val DeleteBySourceClauseRe =
    ("""(?is)WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+""" +
      """(?:AND\s+(.+?)\s+)?THEN\s+DELETE""").r
  private val MergeAssignRe =
    """(?i)\s*(?:(\w+)\.)?(\w+)\s*=\s*(\w+)\.(\w+)\s*""".r
  /** LHS of one SET assignment: `[alias.]col = <any rhs>`. */
  private val MergeAssignLhsRe =
    """(?is)^\s*(?:(\w+)\.)?(\w+)\s*=\s*(.+?)\s*$""".r
  private val WhenMatchedRe = """(?is)WHEN\s+MATCHED[\s(]""".r

  /** Split on top-level commas (outside parens and '…' strings) — the
    * assignment-list splitter for UPDATE SET / MERGE SET blocks. */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; val sb = new StringBuilder
    for (ch <- s) ch match {
      case '\'' => inStr = !inStr; sb += ch
      case '(' if !inStr => depth += 1; sb += ch
      case ')' if !inStr => depth -= 1; sb += ch
      case ',' if !inStr && depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    if (sb.nonEmpty) out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Index of the ')' matching the '(' at `open` (string-literal
    * aware) — isolates the USING (subquery) block of a MERGE. */
  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var inStr = false
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parentheses in USING (…)")
  }
  private val AlterTagRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+""" +
      """(CREATE(?:\s+OR\s+REPLACE)?|DROP)\s+TAG\s+([A-Za-z0-9_.]+)""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""").r
  private val WriteOrderRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+WRITE\s+""" +
      """(?:ORDERED\s+BY\s+\(?\s*([\w\s,]+?)\s*\)?|(UNORDERED))""" +
      """\s*;?\s*$""").r
  private val InsertRe =
    """(?is)^\s*INSERT\s+INTO\s+([\w.]+)\s+(.*)$""".r
  // Spark's snapshot-pinning cache verbs (LAZY defers materialization
  // to first use, Spark's own modifier); UNCACHE of a never-cached
  // table is a no-op like Spark's IF EXISTS spelling
  private val CacheTableRe =
    """(?is)^\s*CACHE\s+(LAZY\s+)?TABLE\s+([\w.]+)\s*;?\s*$""".r
  private val UncacheTableRe =
    """(?is)^\s*UNCACHE\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  private val RefreshTableRe =
    """(?is)^\s*REFRESH\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  // Databricks' point-lookup index verbs: CREATE records the columns
  // in the table meta (new writes emit bloom sidecars), DROP removes
  private val CreateBloomIdxRe =
    ("""(?is)^\s*CREATE\s+BLOOMFILTER\s+INDEX\s+ON\s+TABLE\s+([\w.]+)\s+""" +
      """FOR\s+COLUMNS\s*\(([^)]*)\)\s*;?\s*$""").r
  private val DropBloomIdxRe =
    """(?is)^\s*DROP\s+BLOOMFILTER\s+INDEX\s+ON\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  // Databricks' idempotent file-ingest verb; any FILEFORMAT matches so
  // non-PARQUET rejects with the table named, not an unroutable error
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+([\w.]+)\s+FROM\s+'([^']+)'""" +
      """(?:\s+FILEFORMAT\s*=\s*(\w+))?\s*;?\s*$""").r
  private val AlterAddColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS?\s+\(?\s*(\w+)\s+""" +
      """([\w]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\s*<[^>]*>)?)""" +
      """(?:\s+DEFAULT\s+(.+?))?\s*\)?\s*;?\s*$""").r
  private val AlterDropColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMNS?\s+""" +
      """\(?\s*(\w+)\s*\)?\s*;?\s*$""").r
  private val AlterRenameColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+""" +
      """(\w+)\s+TO\s+(\w+)\s*;?\s*$""").r
  private val AlterColTypeRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+""" +
      """(?:SET\s+DATA\s+)?TYPE\s+""" +
      """([\w]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*;?\s*$""").r
  private val AlterTblPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+(SET|UNSET)\s+""" +
      """TBLPROPERTIES\s*\(\s*(.*?)\s*\)\s*;?\s*$""").r
  private val TblPropRe =
    """(?s)'((?:[^']|'')*)'(?:\s*=\s*'((?:[^']|'')*)')?""".r
  private val TruncateRe =
    """(?is)^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  private val BeginTxnRe =
    """(?is)^\s*(?:BEGIN|START)(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val CommitTxnRe =
    """(?is)^\s*COMMIT(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val RollbackTxnRe =
    """(?is)^\s*ROLLBACK(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val CreateTableAsRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """([\w.]+)(?:\s+USING\s+\w+)?""" +
      """(?:\s+PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\))?""" +
      """\s+AS\s+((?:SELECT|WITH)\s.*)$""").r
  private val CreateMviewRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+AS\s+""" +
      """(SELECT\s+.*?)\s*;?\s*$""").r
  private val RefreshMviewRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)(\s+FULL)?\s*;?\s*$""".r
  private val DropMviewRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*$""".r
  private val AlterMviewAutoRe =
    ("""(?is)^\s*ALTER\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s+(SET|UNSET)""" +
      """\s+AUTO\s+REFRESH(?:\s+EVERY\s+(\d+)\s+SECONDS?)?\s*;?\s*$""").r
  private val MvBodyRe =
    ("""(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.]+)""" +
      """(?:\s+WHERE\s+(.*?))?\s+GROUP\s+BY\s+([\w\s,]+?)\s*$""").r
  private val MvJoinBodyRe =
    ("""(?is)^SELECT\s+(.*?)\s+FROM\s+([\w.]+)\s+JOIN\s+([\w.]+)\s+""" +
      """(?:USING\s*\(\s*([\w\s,]+?)\s*\)|ON\s+(.+?))""" +
      """\s+GROUP\s+BY\s+([\w\s,]+?)\s*$""").r
  private val MvOnEqRe =
    """(?i)^\s*[\w.]+\.(\w+)\s*=\s*[\w.]+\.(\w+)\s*$""".r
  private val MvGroupItemRe = """(?is)^(\w+)(?:\s+AS\s+(\w+))?$""".r
  private val MvCountItemRe = """(?is)^COUNT\(\s*\*\s*\)\s+AS\s+(\w+)$""".r
  private val MvSumItemRe = """(?is)^SUM\(\s*(\w+)\s*\)\s+AS\s+(\w+)$""".r
  private val MvMinItemRe = """(?is)^MIN\(\s*(\w+)\s*\)\s+AS\s+(\w+)$""".r
  private val MvMaxItemRe = """(?is)^MAX\(\s*(\w+)\s*\)\s+AS\s+(\w+)$""".r
  private val MvAvgItemRe = """(?is)^AVG\(\s*(\w+)\s*\)\s+AS\s+(\w+)$""".r
  private val MvVarItemRe =
    """(?is)^(?:VAR_SAMP|VARIANCE)\(\s*(\w+)\s*\)\s+AS\s+(\w+)$""".r
  private val MvStdItemRe =
    """(?is)^(?:STDDEV_SAMP|STDDEV)\(\s*(\w+)\s*\)\s+AS\s+(\w+)$""".r
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.*)$""".r
  private val DropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  private val ShowTablesRe = """(?is)^\s*SHOW\s+TABLES\s*;?\s*$""".r
  private val ShowTblPropsRe =
    """(?is)^\s*SHOW\s+TBLPROPERTIES\s+([\w.]+)\s*;?\s*$""".r
  private val ExplainRe =
    ("""(?is)^\s*EXPLAIN(?:\s+(SIMPLE|EXTENDED|CODEGEN|COST|FORMATTED))?""" +
      """\s+((?:SELECT|WITH|VALUES)\s.*)$""").r
  private val ShowPartitionsRe =
    """(?is)^\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*;?\s*$""".r
  private val ShowCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  private val CallRe =
    """(?is)^\s*CALL\s+(?:[\w]+\.)*system\.(\w+)\s*\((.*)\)\s*;?\s*$""".r
  // one CALL argument: optional `name =>`, then a 'quoted' or bare value
  private val CallArgRe =
    """(?s)^\s*(?:(\w+)\s*=>\s*)?(?:'([^']*)'|([^\s].*?))\s*$""".r
  // Iceberg's metadata tables, read as `schema.table.<name>`
  private val MetaTables =
    Set("history", "snapshots", "partitions", "files", "column_stats", "refs")
  private val AnalyzeRe =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+([\w.]+)\s+COMPUTE\s+STATISTICS""" +
      """(?:\s+FOR\s+(ALL)\s+COLUMNS|\s+FOR\s+COLUMNS\s+(.+?))?\s*;?\s*$""").r
  private val AlterBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+(CREATE|DROP)\s+BRANCH\s+""" +
      """(\w+)\s*;?\s*$""").r
  private val InsertBranchRe =
    """(?is)^\s*INSERT\s+INTO\s+([\w]+\.[\w]+)\.branch_(\w+)\s+(.*)$""".r
  private val InsertOverwriteBranchRe =
    ("""(?is)^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?""" +
      """([\w]+\.[\w]+)\.branch_(\w+)\s+(.*)$""").r
  private val DescribeRe =
    """(?is)^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*$""".r
  private val InsertOverwriteRe =
    """(?is)^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s+(.*)$""".r
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+([\w.]+)""" +
      """(?:\s+WHERE\s+([\w]+)\s*=\s*'([^']*)')?""" +
      """\s+ZORDER\s+BY\s*\(([^)]*)\)""" +
      """(?:\s+BITS\s+(\d+))?\s*;?\s*$""").r
  private val OptimizePlainRe =
    ("""(?is)^\s*OPTIMIZE\s+([\w.]+)""" +
      """(?:\s+WHERE\s+([\w]+)\s*=\s*'([^']*)')?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*$""").r
  private val DropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  // leading (col, col, ...) list of an INSERT body
  private val ColListRe = """(?s)^\(([^)]*)\)\s*(.*)$""".r
  // one PARTITIONED BY transform call: days(ts), bucket(16, id), ...
  private val TransformCallRe = """(?s)^(\w+)\s*\(\s*([^)]*)\s*\)$""".r
}
