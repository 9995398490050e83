package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Incremental maintenance of a materialized COUNT/SUM aggregate — the
 * classic delta-rule view maintenance (count and sum are
 * self-maintainable distributive aggregates; the formulation goes back
 * to Gupta/Mumick's view-maintenance surveys) specialized to the
 * partition-replacement change shape `VersionedPartitioned` commits:
 * a version window touches a set of partitions, and the new aggregate
 * is
 *
 *   state' = state − aggregate(old rows of touched partitions)
 *                  + aggregate(new rows of touched partitions)
 *
 * applied per group. The whole-history recompute a naive consumer runs
 * after every promote reads the FULL table; maintenance reads only the
 * touched partitions' two sides (`VersionedPartitioned.changedSides`)
 * — at 100 TB with daily partition promotes, that is the difference
 * between scanning years and scanning a day.
 *
 * Exactness: counts are longs; sums should be DECIMAL columns
 * (caller casts) so add/subtract is associative and exact — a double
 * sum would drift from the recompute by re-association. A group whose
 * maintained count reaches 0 disappears, exactly as a recompute would
 * drop it; groups appearing in the delta only are inserted.
 *
 * Scale shape: `buildState` is one map-combined hash aggregation;
 * `fold` — the one delta rule every count/sum/min/max/variance view
 * maintains by — is the same single hash aggregation over the tagged
 * union of the state rows (aggregate-sized, ≪ data) and the RAW
 * deleted and inserted rows, plus, for min/max only, a rescan of the
 * groups a delete may have de-extremed. Nothing row-level ever joins
 * the state.
 */
object IncrementalAgg {

  /** The state shape of a maintained aggregate: the group columns,
    * `n_rows`, then `sum_<c>` per sum column (each followed by its
    * non-null count `cnt_<c>` when `counted`), `min_<c>`/`max_<c>` per
    * extreme column and `sumsq_<c>` per variance column. */
  final case class Shape(groups: Seq[String], sums: Seq[String] = Nil,
      counted: Boolean = false, minMax: Seq[String] = Nil,
      sumSq: Seq[String] = Nil) {
    require(groups.nonEmpty, "at least one group column")

    /** Each non-group state column with the aggregate that builds it,
      * every input passed through `in` first (the fold restricts them
      * to one tagged side). The non-null count `cnt_` keeps sum/avg
      * NULL-exact under maintenance; the sum of squares is taken in
      * DOUBLE — exact (hence exactly subtractable) for integer-valued
      * columns whose squares sum below 2^53, with the same last-ulp
      * caveat as a double SUM. */
    private[IncrementalAgg] def aggs(in: Column => Column)
        : Seq[(String, Column)] = {
      def v(name: String) = in(qcol(name))
      ("n_rows" -> count(in(lit(1)))) +:
        (sums.flatMap(c => (s"sum_$c" -> sum(v(c))) +:
            (if (counted) Seq(s"cnt_$c" -> count(v(c))) else Nil)) ++
          minMax.flatMap(c =>
            Seq(s"min_$c" -> min(v(c)), s"max_$c" -> max(v(c)))) ++
          sumSq.map(c =>
            s"sumsq_$c" -> sum(v(c).cast("double") * v(c).cast("double"))))
    }

    /** The state's column names, in the order `buildState` writes. */
    def columns: Seq[String] = groups ++ aggs(identity).map(_._1)
  }

  private def qcol(name: String): Column = col(s"`$name`")

  /** The state of `rows` in `shape`: one map-combined hash aggregation. */
  def buildState(rows: DataFrame, shape: Shape): DataFrame = {
    val aggs = shape.aggs(identity).map { case (n, a) => a.as(n) }
    rows.groupBy(shape.groups.map(qcol): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The plain count/sum state: groupCols, `n_rows`, and `sum_<c>` per
    * sum column. */
  def aggregate(df: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame =
    buildState(df, Shape(groupCols, sumCols))

  /**
   * Fold one change window into a maintained state: `deleted` and
   * `inserted` are the window's raw rows leaving and entering the
   * aggregated relation (either may be empty). Returns the state equal
   * to `buildState` over the post-change relation, every column cast
   * to the state's own type — a fold never widens a DECIMAL sum.
   *
   * ONE hash aggregation over the tagged union of the state rows
   * (≤1 per group, surfaced through `max(when(s))`) and the two raw
   * sides (aggregated directly by `when(tag)`-filtered count/sum/min/
   * max — an absent side yields NULL). Then per group:
   *
   *  - `n_rows` / `cnt_` / `sum_` / `sumsq_` are subtractable:
   *    state + inserted − deleted. A counted `sum_` may keep a 0 where
   *    a recompute says NULL — `cnt_` decides at projection;
   *  - `min_`/`max_` are NOT subtractable: inserts merge for free
   *    (least/greatest skip nulls), and only groups whose deletes MIGHT
   *    have de-extremed a candidate — a deleted value tying or bounding
   *    the merged extreme, or any comparison undecidable from nulls —
   *    are RESCANNED from `source` (the relation at the window's own
   *    end version), restricted to exactly those groups by a null-safe
   *    broadcast semi-join. The rescan rebuilds the WHOLE cell.
   *
   * A group whose count reaches 0 leaves the state. Steady state:
   * O(changed rows) + O(affected groups' rows), never O(table); a
   * window with no affected group leaves the semi-join's build side
   * empty and AQE's empty-relation propagation skips the source scan.
   */
  def fold(shape: Shape, state: DataFrame, deleted: DataFrame,
      inserted: DataFrame, source: Option[DataFrame] = None): DataFrame = {
    require(shape.minMax.isEmpty || source.isDefined,
      "a min/max fold needs the source to rescan affected groups from")
    val gcols = shape.groups.map(qcol)
    val sCols = shape.columns.drop(shape.groups.size)
    val sTagged = state.select((gcols :+ lit("s").as("__tag")) ++
      sCols.map(n => qcol(n).as(s"__s_$n")): _*)
    val valueCols = (shape.sums ++ shape.minMax ++ shape.sumSq).distinct
    def raw(df: DataFrame, tag: String): DataFrame =
      df.select((gcols :+ lit(tag).as("__tag")) ++ valueCols.map(qcol): _*)
    // the state side is ≤1 row per group, so max(when(s)) surfaces it
    // losslessly; each raw side gets buildState's own aggregates over
    // its tagged rows — per-side values equal separate aggregations,
    // without their two extra exchanges
    def tagged(t: String): Column => Column = when(col("__tag") === t, _)
    val aggs =
      sCols.map(n => max(tagged("s")(qcol(s"__s_$n"))).as(s"__s_$n")) ++
        Seq("i", "d").flatMap(t => shape.aggs(tagged(t))
          .map { case (n, a) => a.as(s"__${t}_$n") })
    val merged = sTagged
      .unionByName(raw(inserted, "i"), allowMissingColumns = true)
      .unionByName(raw(deleted, "d"), allowMissingColumns = true)
      .groupBy(gcols: _*)
      .agg(aggs.head, aggs.tail: _*)
    def nz(x: Column) = coalesce(x, lit(0))
    def part(side: String, n: String) = qcol(s"__${side}_$n")
    // the next value of state column `n`: extremes merge the inserts
    // (least/greatest skip nulls); every other column is subtractable,
    // state + inserted − deleted, and an uncounted sum stays NULL
    // exactly when every contributing side is
    def next(n: String): Column = {
      def net = nz(part("s", n)) + nz(part("i", n)) - nz(part("d", n))
      if (n.startsWith("min_")) least(part("s", n), part("i", n))
      else if (n.startsWith("max_")) greatest(part("s", n), part("i", n))
      else if (n.startsWith("sum_") && !shape.counted)
        when(Seq("s", "i", "d").map(part(_, n).isNotNull).reduce(_ || _),
          net)
      else net
    }
    // a group rescans iff it has deletes and either was never in the
    // state (an insert+delete churn window) or a deleted value ties or
    // bounds a candidate extreme; the outer coalesce makes an
    // undecidable comparison rescan, never drop
    val rescan =
      if (shape.minMax.isEmpty) lit(false)
      else nz(part("d", "n_rows")) > 0 &&
        coalesce(part("s", "n_rows").isNull || shape.minMax.map(v =>
          part("d", s"min_$v") <= next(s"min_$v") ||
            part("d", s"max_$v") >= next(s"max_$v")).reduce(_ || _),
          lit(true))
    val nNext = next("n_rows")
    val kept = merged.where(!rescan && nNext > 0)
      .select(gcols ++ sCols.map(n => next(n).as(n)): _*)
    val out =
      if (shape.minMax.isEmpty) kept
      else {
        val src = source.get
        val affected = merged.where(rescan).select(gcols: _*)
        // null-safe semi-join: a NULL group key is a group too — a
        // plain equi-join would never match it and its rescan would
        // drop it
        kept.unionByName(buildState(src.join(broadcast(affected),
          shape.groups.map(g => src(g) <=> affected(g)).reduce(_ && _),
          "left_semi"), shape))
      }
    val types = state.schema.fields.map(f => f.name -> f.dataType).toMap
    out.select(shape.columns.map(n => qcol(n).cast(types(n)).as(n)): _*)
  }

  /**
   * Apply one change window to a materialized count/sum aggregate:
   * `oldChanged` / `newChanged` are the touched partitions' rows before
   * and after (either may be empty). Returns the maintained aggregate,
   * equal to `aggregate` over the post-change table.
   */
  def maintain(state: DataFrame, oldChanged: DataFrame,
      newChanged: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame =
    fold(Shape(groupCols, sumCols), state, oldChanged, newChanged)

  // --------------------------------------------- JOIN VIEWS (delta rule) —
  //
  // MV = aggregate(fact ⋈ dim) with group columns from EITHER side (the
  // revenue-by-dim-attribute view every star schema materializes). The
  // two-relation delta rule (Gupta/Mumick again) with ΔF = F_new − F_old
  // and ΔD = D_new − D_old as signed multisets:
  //
  //   Δ(F ⋈ D) = ΔF ⋈ D_new  +  F_old ⋈ ΔD
  //
  // (expand: ΔF⋈D_new = F_new⋈D_new − F_old⋈D_new and F_old⋈ΔD =
  // F_old⋈D_new − F_old⋈D_old — the cross term cancels exactly.)
  // Under partition-replacement changes, ΔF is the fact's changedSides
  // pair (untouched partitions cancel; unchanged rows WITHIN a touched
  // partition appear identically on both sides and cancel in the
  // aggregate), and ΔD likewise on the dim's own partitioning.
  //
  // Scale shape: the ΔF terms scan only the fact's touched partitions
  // against the (typically broadcast) dim. The F_old ⋈ ΔD terms are the
  // expensive direction in principle — but the INNER JOIN itself
  // restricts F_old to rows matching the changed dim keys, so with the
  // dim delta broadcast this is one semi-join-shaped scan of the old
  // fact (prune it further with readPruned/bloom on the join key when
  // the fact is key-clustered); a dim that does not change contributes
  // nothing and the terms vanish. Nothing aggregate-sized ever joins at
  // row grain on the state side.

  /** The materialized join-view shape: `aggregate` over fact ⋈ dim on
    * equi-keys. Group columns may come from either input. */
  def joinAggregate(fact: DataFrame, dim: DataFrame, joinKeys: Seq[String],
      groupCols: Seq[String], sumCols: Seq[String]): DataFrame =
    aggregate(fact.join(dim, joinKeys), groupCols, sumCols)

  /**
   * Maintain a materialized join aggregate under one change window on
   * EACH side (either may be a no-op: pass empty frames for an
   * unchanged side's delta and the terms vanish).
   *
   *  - `oldFact`: the FULL fact as of the old version (time travel —
   *    `VersionedPartitioned.readAt`); only rows joining the dim delta
   *    are ever kept, so feed a key-pruned read at scale.
   *  - `oldFactChanged`/`newFactChanged`: the fact's changedSides pair.
   *  - `newDim`: the full dim as of the new version.
   *  - `oldDimChanged`/`newDimChanged`: the dim's changedSides pair.
   *
   * The minus terms are the fold's deleted rows and the plus terms its
   * inserted rows — joined at row grain, aggregated once with the
   * state. Returns the maintained view, equal to `joinAggregate` over
   * the two post-change tables — the `incremental_join` gate
   * hash-compares it against a from-scratch recompute in DuckDB.
   */
  def maintainJoin(state: DataFrame,
      oldFact: DataFrame, oldFactChanged: DataFrame,
      newFactChanged: DataFrame, newDim: DataFrame,
      oldDimChanged: DataFrame, newDimChanged: DataFrame,
      joinKeys: Seq[String], groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val used = (groupCols ++ sumCols).distinct.map(qcol)
    def term(f: DataFrame, d: DataFrame): DataFrame =
      f.join(d, joinKeys).select(used: _*)
    fold(Shape(groupCols, sumCols), state,
      deleted = term(oldFactChanged, newDim)
        .unionByName(term(oldFact, oldDimChanged)),
      inserted = term(newFactChanged, newDim)
        .unionByName(term(oldFact, newDimChanged)))
  }

  // --------------------------------------- COUNT DISTINCT via sketches —
  //
  // COUNT DISTINCT is not subtractable — `state − old + new` has no
  // inverse for set cardinality, so the delta rule above cannot carry
  // it. The standard MV answer is PARTITION-GRAINED partial sketches:
  // keep one mergeable HLL sketch per (partition, group) cell
  // (Datasketches HLL via Spark's `hll_sketch_agg`), and maintain under
  // partition replacement by dropping the touched partitions' cells and
  // re-sketching only the NEW rows (O(day), never O(table)); the
  // per-group estimate re-unions the surviving cells — an
  // aggregate-sized pass (`hll_union_agg`), never a data scan. The
  // estimate is exact while a group's true cardinality is far below
  // 2^lgK (the sketch stays in exact coupon mode) and ±~1.6%/√(2^lgK)
  // beyond — AggSpec pins merge-of-partials ≡ whole-input and
  // exactness vs countDistinct at gate cardinalities; estimates are
  // deliberately not oracle-gated (precedent: Profile.numericApprox).

  /** Default Datasketches lgConfigK: 2^12 registers ≈ 1.6 kB dense,
    * <1% relative error — the Spark default. */
  val DefaultLgK = 12

  /** Partition-grained sketch state: one row per (partitionCol ×
    * groupCols) cell carrying an `hll_<c>` binary sketch per distinct
    * column. One map-combined hash aggregation; the shuffle carries
    * sketches (≤ ~1.6 kB each at lgK 12), never row values. */
  def sketchState(df: DataFrame, partitionCol: String,
      groupCols: Seq[String], distinctCols: Seq[String],
      lgK: Int = DefaultLgK): DataFrame = {
    require(distinctCols.nonEmpty, "at least one distinct column")
    val aggs = distinctCols.map(c =>
      hll_sketch_agg(col(c), lit(lgK)).as(s"hll_$c"))
    df.groupBy((partitionCol +: groupCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Collapse partition-grained sketch state to per-group approximate
    * distinct counts (`approx_distinct_<c>`): union the cells' sketches
    * per group, then estimate. Aggregate-sized input — this is the
    * read path of the maintained COUNT DISTINCT view. */
  def distinctCounts(state: DataFrame, groupCols: Seq[String],
      distinctCols: Seq[String]): DataFrame = {
    val aggs = distinctCols.map(c =>
      hll_sketch_estimate(hll_union_agg(col(s"hll_$c")))
        .as(s"approx_distinct_$c"))
    state.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Maintain partition-grained cell state — sketch, quantile, min/max
   * or top-k cells — under one partition-replacement change window:
   * cells of the touched partitions (either side) are dropped and
   * `cellsOf` rebuilds them from the NEW rows — equal to `cellsOf` over
   * the post-change table, cell for cell. Only `newChanged` is scanned
   * at row grain; the state join is aggregate-sized (anti-join on the
   * partition key).
   */
  def replaceCells(state: DataFrame, oldChanged: DataFrame,
      newChanged: DataFrame, partitionCol: String)(
      cellsOf: DataFrame => DataFrame): DataFrame = {
    val touched = oldChanged.select(col(partitionCol))
      .unionByName(newChanged.select(col(partitionCol))).distinct()
    state.join(touched, Seq(partitionCol), "left_anti")
      .unionByName(cellsOf(newChanged))
  }

  // ------------------------------------------ PERCENTILES via sketches —
  //
  // Percentiles are not subtractable either, and unlike COUNT DISTINCT
  // they have no Spark-built-in mergeable sketch column. The maintained
  // view here keeps a LOG-BUCKET HISTOGRAM per (partition × group) cell
  // — the DDSketch construction (Masson/Rim/Lee, VLDB'19): value v > 0
  // lands in bucket ⌈ln v / ln γ⌉ with γ = (1+α)/(1−α), which bounds
  // the relative error of any quantile read by α. The state is plain
  // (cell, bucket, n) count rows, so "merging sketches" is the most
  // trivially-correct operation possible — integer addition under
  // groupBy — and maintenance is the same `replaceCells` step. Bucket
  // count per cell is bounded by the DATA'S DYNAMIC RANGE, not its
  // size: ln(10¹²)/ln(γ) ≈ 1 400
  // buckets at α = 1% for values spanning 12 decades — aggregate-sized
  // at 100 TB.
  //
  // Verification: the whole pipeline — bucket math, cumulative walk,
  // midpoint estimate — is deterministic double arithmetic that DuckDB
  // replays exactly (the `incremental_quantile` gate hash-compares the
  // maintained view against a from-scratch SQL recompute), a STRONGER
  // story than the HLL columns (whose estimator is not portable);
  // AggSpec additionally pins the α relative-error bound against exact
  // percentiles.

  /** Default relative-error target α = 1 % (γ ≈ 1.0202). */
  val DefaultAlpha = 0.01

  private def gammaOf(alpha: Double): Double = (1 + alpha) / (1 - alpha)

  /** Sentinel bucket for v = 0 (ln is undefined there; DDSketch keeps
    * a separate zero count — the far-left bucket serves the same role
    * and keeps the state single-column). */
  private val ZeroBucket = Int.MinValue

  private def bucketExpr(valueCol: String, gamma: Double) = {
    val v = col(valueCol).cast("double")
    when(v === 0d, lit(ZeroBucket))
      .otherwise(ceil(log(v) / lit(math.log(gamma))).cast("int"))
  }

  /** Partition-grained quantile-sketch state for a positive-domain
    * value column: one count row per (partitionCol × groupCols ×
    * log-bucket). One map-combined hash aggregation; the shuffle
    * carries bucket ids and counts, never values. Negative inputs are
    * a contract violation (shift the measure first) — they would land
    * in ln(|v|) buckets silently, so they are rejected per-row. */
  /** The guarded log-bucket column itself — public so FEED-maintained
    * quantile state (`Streaming.maintainQuantile`) can bucketize
    * change windows with the exact arithmetic the batch state uses.
    * Negative inputs are rejected per-row, same contract as
    * `quantileState`. */
  def bucketColumn(valueCol: String,
      alpha: Double = DefaultAlpha): org.apache.spark.sql.Column =
    when(col(valueCol).cast("double") < 0d,
        raise_error(lit(s"quantile bucket($valueCol): negative value — " +
          "the log-bucket sketch is positive-domain; shift the measure")))
      .otherwise(bucketExpr(valueCol, gammaOf(alpha)))

  def quantileState(df: DataFrame, partitionCol: String,
      groupCols: Seq[String], valueCol: String,
      alpha: Double = DefaultAlpha): DataFrame = {
    df.select((partitionCol +: groupCols).map(col) :+
        bucketColumn(valueCol, alpha).as("bucket"): _*)
      .groupBy((partitionCol +: groupCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("n"))
  }

  /**
   * Collapse quantile-sketch state to per-group estimates for each
   * requested quantile (rows: group, q, bucket, est): buckets merge
   * across partitions by count addition, a cumulative walk finds the
   * first bucket covering rank ⌊q·(N−1)⌋+1, and the estimate is the
   * bucket's γ-midpoint 2γᵇ/(γ+1) — within α relative error of the
   * exact quantile by construction. The selected `bucket` index is
   * exposed alongside: it is the integer-exact part of the read (the
   * oracle gate compares on it; `est` is its fixed function, accuracy
   * spec-pinned). Aggregate-sized input throughout; the walk is one
   * window over bucket order per group.
   */
  def quantileValues(state: DataFrame, groupCols: Seq[String],
      qs: Seq[Double], alpha: Double = DefaultAlpha): DataFrame = {
    require(qs.nonEmpty, "at least one quantile")
    val gamma = gammaOf(alpha)
    val spark = state.sparkSession
    import spark.implicits._
    val merged = state.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("n")).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("bucket"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val walked = merged
      .withColumn("__cum", sum(col("n")).over(w))
      .withColumn("__total", sum(col("n")).over(wAll))
    val qdf = qs.toDF("q")
    walked.crossJoin(qdf)
      .where(col("__cum") >= floor(col("q") * (col("__total") - 1)) + 1)
      .groupBy((groupCols :+ "q").map(col): _*)
      .agg(min(col("bucket")).as("bucket"))
      .select(groupCols.map(col) :+ col("q") :+ col("bucket") :+
        when(col("bucket") === ZeroBucket, lit(0d))
          .otherwise(lit(2d) * pow(lit(gamma), col("bucket")) / (gamma + 1))
          .as("est"): _*)
  }

  // ----------------------------- MIN/MAX + TOP-K via partition cells —
  //
  // MIN/MAX and top-k rows are not subtractable either (deleting the
  // current max invalidates `state − old + new`), but under partition-
  // replacement windows both are maintainable EXACTLY with the same
  // partition-grained-cell shape as the sketches above — and unlike
  // HLL these cells are lossless, so the read equals a from-scratch
  // recompute bit for bit. Each (partition × group) cell keeps its own
  // min/max (resp. its own k best rows); a change window replaces only
  // the touched partitions' cells; the read re-aggregates cells per
  // group. Exact because every row lives in exactly one partition:
  // the global extreme is the extreme of per-cell extremes, and every
  // global top-k row is inside its own cell's top-k (at most k of a
  // group's winners can come from one partition).
  //
  // The classic distributed pitfall this design deliberately DODGES:
  // top-k of PER-KEY AGGREGATES is not cell-decomposable — a key just
  // below k-th place in every cell can be global #1 — so `topKState`
  // ranks physical ROWS only. For aggregate top-k, maintain the full
  // key aggregate (`maintain`) and rank at read; it is group-count-
  // sized, not data-sized, so that read stays cheap.
  //
  // Scale shape: state is O(#partitions × #groups) rows (× k for
  // top-k), maintenance scans only the new side of the window at row
  // grain, and the state-side join is an aggregate-sized broadcast
  // anti-join on the partition key. Nothing row-grained ever joins.

  /** Partition-grained min/max state: one row per (partitionCol ×
    * groupCols) cell with `min_<c>`/`max_<c>` per value column. */
  def minMaxState(df: DataFrame, partitionCol: String,
      groupCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "at least one value column")
    val aggs = valueCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy((partitionCol +: groupCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Collapse min/max cells to per-group extremes — min of mins, max
    * of maxes; the read path of the maintained view. */
  def minMaxValues(state: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.flatMap(c =>
      Seq(min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c")))
    state.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Read path of a FEED-maintained exact COUNT DISTINCT view
    * (`Streaming.maintainDistinct`): the state is the distinct-support
    * relation — one row per (group × value) with multiplicity
    * `n_rows` — so the per-group distinct count is the group's
    * support-ROW count. Aggregate-sized input; exact (a value leaves
    * the support exactly when its multiplicity reaches zero). */
  def supportDistinctCounts(state: DataFrame, groupCols: Seq[String],
      distinctCol: String): DataFrame =
    state.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(s"distinct_$distinctCol"))

  /** `quantileValues` over a FEED-maintained (count-rule) quantile
    * state, whose bucket-count column is `n_rows` rather than the
    * batch cells' `n`. */
  def feedQuantileValues(state: DataFrame, groupCols: Seq[String],
      qs: Seq[Double], alpha: Double = DefaultAlpha): DataFrame =
    quantileValues(state.withColumnRenamed("n_rows", "n"),
      groupCols, qs, alpha)

  /** Partition-grained top-k-rows state: for each (partitionCol ×
    * groupCols) cell, the k best rows by (`orderCol` DESC, `idCol`
    * ASC — the id breaks ties deterministically). State rows carry
    * (partition, groups, id, order value). */
  def topKState(df: DataFrame, partitionCol: String,
      groupCols: Seq[String], orderCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((partitionCol +: groupCols).map(col): _*)
      .orderBy(col(orderCol).desc, col(idCol).asc)
    df.select((partitionCol +: groupCols :+ idCol :+ orderCol).map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Collapse top-k cells to the per-group global top-k with ranks —
    * a window over the aggregate-sized cell union, the read path of
    * the maintained view. Equal to ranking the full table because the
    * cells are lossless for the top-k question. */
  def topKValues(state: DataFrame, groupCols: Seq[String],
      orderCol: String, idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol).desc, col(idCol).asc)
    state.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select((groupCols :+ "rank" :+ idCol :+ orderCol).map(col): _*)
  }
}
