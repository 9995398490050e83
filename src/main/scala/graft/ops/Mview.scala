package graft.ops

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Materialized views with INCREMENTAL, exactly-once refresh — the
 * door-level face of `IncrementalAgg` + `VersionedPartitioned.
 * changedSides` (delta-rule view maintenance; see IncrementalAgg's
 * header for the provenance and exactness argument).
 *
 * A view is `SELECT <group cols>, count(*)/sum(c)/min(c)/max(c)/avg(c)
 * /var_samp(c)/stddev(c) AS … FROM <versioned partitioned table>
 * [WHERE <pred>] GROUP BY <group cols>`. State is stored in an
 * `IncrementalAgg.Shape` (group cols + `n_rows` + `sum_<c>`) —
 * extended with `cnt_<c>` (non-null counts, for NULL-exact sums and
 * exact averages), `min_/max_<c>` and `sumsq_<c>` when the def carries
 * min/max/avg/var (`Def.shape`) — as one atomically-swapped parquet
 * dir whose `_mv_cursor` marker — written INTO the swap — records the
 * source version the state equals. REFRESH reads only the partitions
 * the source touched since the cursor (`changedSides` — O(changed),
 * never O(table)) plus, for min/max views only, the rows of groups a
 * delete MIGHT have de-extremed (`IncrementalAgg.fold`), folds the
 * delta, and swaps state + new cursor in one rename:
 *   - crash before the swap: nothing moved, re-REFRESH re-does the
 *     same window;
 *   - crash inside the swap: `Exchange.recoverSwap` restores the
 *     previous state+cursor pair;
 *   - the cursor can never disagree with the state it rode in with —
 *     a delta can neither double-apply nor be lost.
 * The WHERE predicate commutes with the delta rule (filter before
 * aggregate on both sides), so any deterministic row predicate is
 * legal. `n_rows` is always maintained even when the view does not
 * expose a count — group death (a group's last row deleted) is decided
 * by the maintained count reaching 0, exactly as a recompute would
 * drop the group.
 *
 * At 100 TB this is the difference between re-scanning the fact table
 * on every dashboard refresh and folding one day's partitions.
 */
object Mview {

  val CursorMarker = "_mv_cursor"
  val DefFile = "_graft_mview.def"

  /** One output column of the view: `kind` ∈ {group, count, sum, min,
    * max, avg}, `src` the source column ("*" for count), `out` the
    * visible name. */
  final case class OutCol(kind: String, src: String, out: String)

  /** `dim`/`keys` present = a two-relation JOIN view (fact ⋈ dim on
    * same-named equi-keys) maintained by `IncrementalAgg.maintainJoin`
    * with a composite fact-version,dim-version cursor.
    *
    * `mins`/`maxs`/`avgs`/`vars` present = the EXTENDED state shape
    * (`shape`): the state additionally carries `min_`/`max_` per
    * extreme column, a non-null count `cnt_` per sum/avg/var column
    * and `sumsq_` per var column, all maintained by
    * `IncrementalAgg.fold`. An extended JOIN view folds the JOINED
    * relation's true changed row sets (see `refresh`'s join branch). */
  final case class Def(source: String, groups: Seq[String],
      sums: Seq[String], where: Option[String], out: Seq[OutCol],
      dim: Option[String] = None, keys: Seq[String] = Nil,
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      avgs: Seq[String] = Nil, vars: Seq[String] = Nil) {

    /** min/max/avg/var/stddev present → the extended state shape. */
    def extended: Boolean =
      mins.nonEmpty || maxs.nonEmpty || avgs.nonEmpty || vars.nonEmpty

    /** Columns needing `sum_`/`cnt_` state (sum ∪ avg ∪ var). */
    def sumCnt: Seq[String] = (sums ++ avgs ++ vars).distinct

    /** Columns needing `min_`/`max_` state (min ∪ max — both kept:
      * an extra aggregate-sized column is cheaper than two shapes). */
    def minMax: Seq[String] = (mins ++ maxs).distinct

    /** Columns needing `sumsq_` state (var ∪ stddev). Unlike min/max,
      * the sum of squares is SUBTRACTABLE — variance maintenance never
      * triggers the affected-group rescan. */
    def sumSq: Seq[String] = vars.distinct

    /** The state shape: counts and sums for a plain view (no `cnt_`,
      * as every plain state on disk has it), the extended columns
      * otherwise. */
    def shape: IncrementalAgg.Shape =
      if (extended)
        IncrementalAgg.Shape(groups, sumCnt, counted = true, minMax, sumSq)
      else IncrementalAgg.Shape(groups, sums)

    def render: String =
      s"source=$source\ngroups=${groups.mkString(",")}\n" +
        s"sums=${sums.mkString(",")}\n" +
        // the WHERE predicate is the one free-text field: a multi-line
        // statement (MvBodyRe is (?is)) must round-trip through the
        // line-oriented def file, so newlines/backslashes are escaped —
        // an unescaped render truncated the predicate to its first line
        // and every later REFRESH folded with a DIFFERENT filter
        s"where=${where.map(Def.enc).getOrElse("-")}\n" +
        s"out=${out.map(o => s"${o.kind}:${o.src}:${o.out}").mkString(",")}\n" +
        s"dim=${dim.getOrElse("-")}\nkeys=${keys.mkString(",")}\n" +
        s"mins=${mins.mkString(",")}\nmaxs=${maxs.mkString(",")}\n" +
        s"avgs=${avgs.mkString(",")}\nvars=${vars.mkString(",")}\n"
  }

  object Def {
    private[Mview] def enc(s: String): String =
      s.replace("\\", "\\\\").replace("\r", "\\r").replace("\n", "\\n")

    private def dec(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case _ => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    private val Known = Set("source", "groups", "sums", "where", "out",
      "dim", "keys", "mins", "maxs", "avgs", "vars")

    def parse(s: String): Def = {
      // every line must attribute to a known key — silently dropping a
      // line would refresh the view under a truncated definition
      val kv = s.linesIterator.filter(_.nonEmpty).map { l =>
        val i = l.indexOf('=')
        require(i > 0 && Known.contains(l.take(i)),
          s"materialized-view def: unattributable line '$l' — " +
            "the def file is corrupt; DROP and re-CREATE the view")
        (l.take(i), l.drop(i + 1))
      }.toMap
      Def(kv("source"),
        kv("groups").split(",").filter(_.nonEmpty).toSeq,
        kv("sums").split(",").filter(_.nonEmpty).toSeq,
        Some(kv("where")).filter(_ != "-").map(dec),
        kv("out").split(",").filter(_.nonEmpty).toSeq.map { t =>
          val Array(k, src, outName) = t.split(":", 3)
          OutCol(k, src, outName)
        },
        kv.get("dim").filter(_ != "-"),
        kv.get("keys").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("mins").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("maxs").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("avgs").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
        kv.get("vars").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
    }
  }

  private def filtered(d: Def, rows: DataFrame): DataFrame =
    d.where.map(w => rows.where(expr(w))).getOrElse(rows)

  /** The state of the source `rows` (joined with `dimRows` for a join
    * view) in the def's shape. Over typed empty frames this is the
    * typed empty state the door derives the visible schema from at
    * CREATE. */
  def stateShape(d: Def, rows: DataFrame,
      dimRows: Option[DataFrame] = None): DataFrame =
    IncrementalAgg.buildState(
      filtered(d, dimRows.fold(rows)(rows.join(_, d.keys))), d.shape)

  /** The visible projection of a raw state frame. */
  def project(d: Def, state: DataFrame): DataFrame =
    state.select(d.out.map {
      case OutCol("group", src, outName) => col(s"`$src`").as(outName)
      case OutCol("count", _, outName) => col("n_rows").as(outName)
      case OutCol("sum", src, outName) =>
        // extended state stores a maintained 0 where a direct
        // aggregate stores NULL; cnt_ decides which the scan would say
        if (d.extended)
          when(col(s"`cnt_$src`") > 0, col(s"`sum_$src`")).as(outName)
        else col(s"`sum_$src`").as(outName)
      case OutCol("min", src, outName) => col(s"`min_$src`").as(outName)
      case OutCol("max", src, outName) => col(s"`max_$src`").as(outName)
      case OutCol("avg", src, outName) =>
        // exact mean from the exact maintained pair — one division,
        // Spark's own sum/count division semantics per input type
        when(col(s"`cnt_$src`") > 0,
          col(s"`sum_$src`") / col(s"`cnt_$src`")).as(outName)
      case OutCol(k @ ("var" | "stddev"), src, outName) =>
        // sample variance from the maintained (cnt, sum, sumsq)
        // triple: (Σx² − (Σx)²/n) / (n−1), NULL below two non-null
        // values exactly like VAR_SAMP/STDDEV_SAMP; the greatest(…, 0)
        // clamps the one-rounding negative an all-equal group can
        // produce so stddev's sqrt never sees −ε
        val n = col(s"`cnt_$src`")
        val s = col(s"`sum_$src`").cast("double")
        val v = greatest(
          (col(s"`sumsq_$src`") - s * s / n) / (n - 1), lit(0d))
        when(n > 1, if (k == "var") v else sqrt(v)).as(outName)
      case other => throw new IllegalStateException(s"bad out col $other")
    }: _*)

  /** Build the initial state pinned at the source's CURRENT version
    * and swap it in with its cursor. Returns the cursor version. An
    * empty source table (zero live partitions) still works — the
    * aggregate over its typed empty read is a typed empty state — but
    * a source with NO commit log at all is refused at the call site
    * (there is no version to pin a cursor to). */
  def initialize(spark: SparkSession, d: Def, sourceRoot: String,
      stateDir: String, dimRoot: Option[String] = None): Long = {
    def pin(root: String): Long =
      VersionedPartitioned.currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(
          s"materialized view over $root: the source has no " +
            "committed version to pin the cursor to — insert first"))
    val v0 = pin(sourceRoot)
    dimRoot match {
      case None =>
        writeState(spark, d, stateDir,
          stateShape(d, VersionedPartitioned.readAt(spark, sourceRoot, v0)),
          v0.toString)
      case Some(dr) =>
        val vd = pin(dr)
        val state = stateShape(d,
          VersionedPartitioned.readAt(spark, sourceRoot, v0),
          Some(VersionedPartitioned.readAt(spark, dr, vd)))
        writeState(spark, d, stateDir, state, s"$v0,$vd")
    }
    v0
  }

  /** Incremental refresh: fold the source's changes since the cursor
    * into the state; no-op when the source has not advanced. With
    * `full = true`, recompute from scratch at the current version (the
    * escape hatch for a definition the delta rule cannot carry, e.g.
    * after destructive source surgery). Returns the new cursor. */
  def refresh(spark: SparkSession, d: Def, sourceRoot: String,
      stateDir: String, full: Boolean = false,
      dimRoot: Option[String] = None): Long = {
    Exchange.recoverSwap(spark, stateDir)
    val cur = VersionedPartitioned.currentVersion(spark, sourceRoot)
      .getOrElse(0L)
    val cursors = readCursors(spark, stateDir)
    val cursor = cursors.head
    dimRoot match {
      case None =>
        if (full) {
          require(cur > 0L, s"REFRESH FULL: $sourceRoot has no commits")
          // a fully-retracted source (zero live partitions) recomputes
          // to an empty view; the format read refuses an empty
          // manifest, so reuse the state's own (stable) schema
          val next =
            if (VersionedPartitioned
                .partitions(spark, sourceRoot, Some(cur)).isEmpty)
              rawState(spark, stateDir).where(lit(false))
            else stateShape(d,
              VersionedPartitioned.readAt(spark, sourceRoot, cur))
          writeState(spark, d, stateDir, next, cur.toString)
          return cur
        }
        if (cur == cursor) return cursor
        require(cur > cursor,
          s"materialized-view cursor $cursor is AHEAD of source version " +
            s"$cur — the source history was rewritten under the view; " +
            "REFRESH ... FULL to rebuild")
        val (oldSide, newSide) =
          VersionedPartitioned.changedSides(spark, sourceRoot, cursor,
            Some(cur))
        // min/max need the affected-group rescan at the window's own
        // end version; counts/sums ride the same pass. A source with
        // ZERO live partitions at `cur` (everything retracted) has
        // nothing to rescan — the format read refuses an empty
        // manifest, so hand it an empty frame
        val srcAtTo =
          if (d.minMax.isEmpty) None
          else if (VersionedPartitioned
              .partitions(spark, sourceRoot, Some(cur)).isEmpty)
            Some(newSide.where(lit(false)))
          else Some(VersionedPartitioned.readAt(spark, sourceRoot, cur))
        val maintained = IncrementalAgg.fold(d.shape,
          rawState(spark, stateDir), filtered(d, oldSide),
          filtered(d, newSide), srcAtTo.map(filtered(d, _)))
        writeState(spark, d, stateDir, maintained, cur.toString)
        cur
      case Some(dr) =>
        // two-relation delta rule: ΔF ⋈ D_new + F_old ⋈ ΔD, composite
        // (factVersion, dimVersion) cursor riding the same atomic swap
        val dimCursor = cursors.lift(1).getOrElse(
          throw new IllegalStateException(
            s"join-view cursor under $stateDir lacks its dim component"))
        val curD = VersionedPartitioned.currentVersion(spark, dr)
          .getOrElse(0L)
        if (full) {
          require(cur > 0L && curD > 0L,
            s"REFRESH FULL: a join-view source has no commits")
          // a fully-retracted side recomputes to an empty view; the
          // format read refuses an empty manifest, so reuse the
          // state's own (stable) schema
          val next =
            if (VersionedPartitioned
                  .partitions(spark, sourceRoot, Some(cur)).isEmpty ||
                VersionedPartitioned.partitions(spark, dr, Some(curD))
                  .isEmpty)
              rawState(spark, stateDir).where(lit(false))
            else stateShape(d,
              VersionedPartitioned.readAt(spark, sourceRoot, cur),
              Some(VersionedPartitioned.readAt(spark, dr, curD)))
          writeState(spark, d, stateDir, next, s"$cur,$curD")
          return cur
        }
        if (cur == cursor && curD == dimCursor) return cursor
        require(cur >= cursor && curD >= dimCursor,
          s"join-view cursor ($cursor,$dimCursor) is AHEAD of sources " +
            s"($cur,$curD) — history rewritten; REFRESH ... FULL")
        val (oldF, newF) = VersionedPartitioned.changedSides(spark,
          sourceRoot, cursor, Some(cur))
        val (oldD, newD) = VersionedPartitioned.changedSides(spark,
          dr, dimCursor, Some(curD))
        val maintained =
          if (d.extended) {
            // extended (min/max/avg) join views maintain the
            // single-table split rule over the JOINED relation's TRUE
            // changed row sets — NOT maintainJoin's signed terms:
            //   ΔJ_old = ΔF_old ⋈ D_old  ∪  F_unch ⋈ ΔD_old
            //   ΔJ_new = ΔF_new ⋈ D_new  ∪  F_unch ⋈ ΔD_new
            // F_unch (fact partitions untouched in the window) is
            // identical at both versions, so each union is a disjoint
            // partition split and J_old ∖ ΔJ_old = J_new ∖ ΔJ_new —
            // exactly the fold's deleted/inserted contract. The signed
            // cancellation counts/sums ride on would feed least/
            // greatest values that are NOT in the final join (a
            // deleted fact row joined to the new dim rides
            // maintainJoin's plus term F_old ⋈ ΔD_new), so min/max
            // maintenance needs membership precision. Cost shape is
            // maintainJoin's: the F_unch ⋈ ΔD terms restrict the
            // unchanged fact to changed dim keys (broadcast-sized dim
            // deltas at scale), and the rescan-on-doubt branch over
            // J_new collapses via AQE when no group is affected.
            def orEmpty(root: String, v: Long, proto: DataFrame)
                : DataFrame =
              if (v <= 0L || VersionedPartitioned
                    .partitions(spark, root, Some(v)).isEmpty)
                proto.where(lit(false))
              else VersionedPartitioned.readAt(spark, root, v)
            val dimOld = orEmpty(dr, dimCursor, newD)
            val dimNew = orEmpty(dr, curD, newD)
            val factUnch = VersionedPartitioned
              .unchangedSide(spark, sourceRoot, cursor, Some(cur))
              .getOrElse(newF.where(lit(false)))
            val jOld = oldF.join(dimOld, d.keys)
              .unionByName(factUnch.join(oldD, d.keys))
            val jNew = newF.join(dimNew, d.keys)
              .unionByName(factUnch.join(newD, d.keys))
            val srcAtTo =
              if (d.minMax.isEmpty) None
              else Some(orEmpty(sourceRoot, cur, newF).join(dimNew, d.keys))
            IncrementalAgg.fold(d.shape, rawState(spark, stateDir),
              jOld, jNew, srcAtTo)
          }
          else IncrementalAgg.maintainJoin(
            rawState(spark, stateDir),
            oldFact = VersionedPartitioned.readAt(spark, sourceRoot, cursor),
            oldFactChanged = oldF, newFactChanged = newF,
            newDim = VersionedPartitioned.readAt(spark, dr, curD),
            oldDimChanged = oldD, newDimChanged = newD,
            d.keys, d.groups, d.sums)
        writeState(spark, d, stateDir, maintained, s"$cur,$curD")
        cur
    }
  }

  /** The raw (IncrementalAgg-shaped) state. The schema comes from the
    * `_schema` every state write records (`Exchange.swapTableWith`
    * swaps it in with the state and cursor), so a refresh or SELECT,
    * in this process or another, runs no footer-inference job. */
  def rawState(spark: SparkSession, stateDir: String): DataFrame = {
    Exchange.recoverSwap(spark, stateDir)
    Versioned.readDir(spark, stateDir)
  }

  def readCursor(spark: SparkSession, stateDir: String): Long =
    readCursors(spark, stateDir).head

  /** The cursor components (one for a single-table view; fact,dim for
    * a join view). */
  def readCursors(spark: SparkSession, stateDir: String): Seq[Long] = {
    Exchange.recoverSwap(spark, stateDir)
    val (fs, p) = Versioned.fsOf(spark, stateDir)
    val m = new HPath(p, CursorMarker)
    require(fs.exists(m), s"no $CursorMarker under $stateDir — not a " +
      "materialized-view state dir")
    val in = fs.open(m)
    try {
      val buf = new Array[Byte](fs.getFileStatus(m).getLen.toInt)
      in.readFully(0, buf)
      new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim
        .split(",").toSeq.map(_.trim.toLong)
    } finally in.close()
  }

  private def writeState(spark: SparkSession, d: Def, stateDir: String,
      state: DataFrame, cursor: String): Unit =
    Exchange.swapTableWith(state, stateDir,
      Map(CursorMarker -> cursor))
}
