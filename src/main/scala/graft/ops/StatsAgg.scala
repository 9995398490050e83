package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/**
 * Metadata-only aggregate answering for the SQL front door — the
 * plan-shape side of `VersionedPartitioned.aggregateFromStats`.
 *
 * Iceberg/Delta answer `SELECT count(*) FROM fact WHERE <partition
 * predicate>` from manifests alone; this object does the same for the
 * sidecar format. After `SqlLifecycle.query` resolves a routed
 * statement, the OPTIMIZED plan is inspected: if it is exactly one
 * ungrouped (or partition-grouped) Aggregate of
 * count(*) / count(c) / min(c) / max(c) / sum(c) / avg(c) over ONE
 * cataloged partitioned table, filtered — if at all — by a predicate
 * the partition VALUE alone decides (identity values, days()/months()
 * time intervals, truncate(w) string-prefix intervals), the answer
 * folds from the per-file `_stats` sidecars: O(metadata), zero data
 * I/O. At 100 TB that turns a full-table scan into a planning-sized
 * job. avg folds as its exact (sum, non-null count) pair — one
 * division at the end, typed like Spark's own Average.
 *
 * The safety argument mirrors `ScanPrune` but is strictly tighter:
 * pruning needs conjuncts to be NECESSARY conditions; an exact answer
 * needs the walked subtree to be the WHOLE row pipeline. The walk
 * therefore admits only Filter / pass-through Project / the table
 * frame's own Union, and every filter conjunct must reference the
 * partition column alone, be deterministic, and be subquery-free —
 * anything else returns None and the caller runs the real scan. Rows
 * can then only be dropped by partition-value-decidable predicates,
 * which `aggregateFromStats` re-applies per manifest entry, and the
 * fold's own legality gates (pending MoR deletes, sidecar coverage,
 * schema-evolution replay) bail the rest. A None is never wrong, a
 * Some is never an estimate.
 *
 * Kill switch: `spark.graft.sql.statsAgg=false` (checked by the
 * caller) routes every statement through the scan path unchanged.
 */
object StatsAgg {

  private final case class AggItem(func: String, inId: Option[ExprId],
      outName: String, outType: org.apache.spark.sql.types.DataType)
  private sealed trait OutItem
  private final case class GroupOut(outName: String) extends OutItem
  private final case class AggOut(item: AggItem) extends OutItem

  /** One admitted leaf: its relation, the manifest index it scans,
    * the filter conjuncts accumulated down to it (leaf-attr terms), and
    * the needed top-level ids resolved to leaf attributes. */
  private final case class LeafInfo(rel: LogicalRelation,
      index: ManifestFileIndex, conjuncts: Seq[Expression],
      resolve: Map[ExprId, Attribute])

  /** Try to answer `df`'s optimized plan from stats sidecars. */
  def tryAnswer(spark: SparkSession, df: DataFrame): Option[DataFrame] =
    try answer(spark, df)
    catch { case scala.util.control.NonFatal(_) => None }

  private def answer(spark: SparkSession, df: DataFrame): Option[DataFrame] = {
    val plan = df.queryExecution.optimizedPlan
    // a global ORDER BY over the aggregate's own outputs re-applies on
    // the folded frame — sorting O(partitions) metadata rows
    val (agg, sortOrder) = plan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if s.global => s.child match {
        case a: Aggregate
            if s.order.forall(_.child.isInstanceOf[AttributeReference]) =>
          (a, s.order)
        case _ => return None
      }
      case a: Aggregate => (a, Seq.empty[SortOrder])
      case _ => return None
    }
    val groupAttr: Option[AttributeReference] = agg.groupingExpressions match {
      case Nil => None
      case Seq(a: AttributeReference) => Some(a)
      case _ => return None
    }
    // classify the output list; bail on anything but the supported
    // aggregate shapes and the grouping column itself.
    // avg over a small-precision decimal arrives REWRITTEN by the
    // DecimalAggregates optimizer rule as
    //   Cast(Divide(Average(UnscaledValue(c)), 10^s as double), dt) —
    // the scan averages the unscaled longs in double and descales
    // once; the fold reproduces that exact expression over the exact
    // folded unscaled sum (`avgScale` records s per output)
    val avgScale = scala.collection.mutable.Map.empty[String, Int]
    val items: Seq[OutItem] = agg.aggregateExpressions.map {
      case al @ Alias(Cast(Divide(ae: AggregateExpression, sl: Literal,
          _), _, _, _), n)
          if !ae.isDistinct && ae.filter.isEmpty &&
            ae.aggregateFunction.isInstanceOf[Average] =>
        ae.aggregateFunction.asInstanceOf[Average].child match {
          case uv: UnscaledValue => uv.child match {
            case a: AttributeReference
                if a.dataType.isInstanceOf[
                  org.apache.spark.sql.types.DecimalType] =>
              val s = a.dataType
                .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale
              // the divisor must be exactly the rule's own 10^s; any
              // other shape is not the rewrite we understand — bail
              if (sl.value != math.pow(10.0, s)) return None
              avgScale.put(n, s)
              AggOut(AggItem("avg_unscaled", Some(a.exprId), n,
                al.dataType))
            case _ => return None
          }
          case _ => return None
        }
      case a: AttributeReference
          if groupAttr.exists(_.exprId == a.exprId) => GroupOut(a.name)
      case al @ Alias(a: AttributeReference, n)
          if groupAttr.exists(_.exprId == a.exprId) => GroupOut(n)
      case al @ Alias(ae: AggregateExpression, n)
          if ae.isDistinct && ae.filter.isEmpty =>
        // count(DISTINCT <partition col>) = the kept-dir census; the
        // spec builder below rejects any other distinct target
        ae.aggregateFunction match {
          case c: Count => c.children match {
            case Seq(a: AttributeReference) =>
              AggOut(AggItem("count_distinct_part", Some(a.exprId), n,
                LongType))
            case _ => return None
          }
          case _ => return None
        }
      case al @ Alias(ae: AggregateExpression, n)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val item = ae.aggregateFunction match {
          case c: Count => c.children match {
            case Seq(l: Literal) if l.value != null =>
              AggItem("count_star", None, n, LongType)
            case Seq(a: AttributeReference) =>
              AggItem("count", Some(a.exprId), n, LongType)
            case _ => return None
          }
          case m: Min => m.child match {
            case a: AttributeReference =>
              AggItem("min", Some(a.exprId), n, al.dataType)
            case _ => return None
          }
          case m: Max => m.child match {
            case a: AttributeReference =>
              AggItem("max", Some(a.exprId), n, al.dataType)
            case _ => return None
          }
          case s: Sum => s.child match {
            case a: AttributeReference =>
              AggItem("sum", Some(a.exprId), n, al.dataType)
            case _ => return None
          }
          case av: Average => av.child match {
            case a: AttributeReference =>
              AggItem("avg", Some(a.exprId), n, al.dataType)
            case _ => return None
          }
          case _ => return None
        }
        AggOut(item)
      case _ => return None
    }
    val aggItems = items.collect { case AggOut(i) => i }
    // no aggregate functions is only meaningful as SELECT DISTINCT
    // <partition col> (a grouped projection) — bail otherwise
    if (aggItems.isEmpty && groupAttr.isEmpty) return None
    val needIds: Set[ExprId] =
      aggItems.flatMap(_.inId).toSet ++ groupAttr.map(_.exprId)
    // strict walk of the aggregate's child
    val leaves = walk(agg.child, Nil, needIds.map(id => id -> id).toMap)
      match {
      case Some(ls) if ls.nonEmpty => ls
      case _ => return None
    }
    // every leaf scans one read of one manifest (its evolution groups),
    // each partition through exactly one leaf — a table read twice
    // (a self-union) would count its rows twice
    val m = leaves.head.index.manifest
    if (!leaves.forall(_.index.manifest eq m)) return None
    val dirs = leaves.flatMap(_.index.entries.keys)
    if (dirs.distinct.length != dirs.length) return None
    val partitionCol = m.partitionCol
    val transform = Some(partitionCol).filter(_.startsWith("hp__"))
      .map(PartitionTransform.parse)
    // conjunct exactness per leaf: deterministic, subquery-free, and
    // either referencing ONLY the partition column (identity
    // partitioning — dir-value substitution decides every predicate)
    // or, on a days()/months() hidden-partitioned table, ONLY the
    // transform's source column in interval-decidable comparison
    // shapes (a partition IS a time interval; a bound either contains
    // it, excludes it, or straddles it — straddling bails)
    val keepEvals: Map[String, KeepEval] = leaves.flatMap { l =>
      val ke = keepEvalFor(spark, l, partitionCol, transform)
        .getOrElse(return None)
      l.index.entries.keys.map(VersionedPartitioned.partitionValue(_) -> ke)
    }.toMap
    // needed columns must resolve to the SAME stored name (and type)
    // in every leaf
    def storedAttr(id: ExprId)
        : Option[(String, org.apache.spark.sql.types.DataType)] = {
      val attrs = leaves.map(_.resolve.get(id).map(a => (a.name, a.dataType)))
        .distinct
      attrs match { case Seq(Some(p)) => Some(p); case _ => None }
    }
    def storedName(id: ExprId): Option[String] = storedAttr(id).map(_._1)
    // AVG folds as its exact (sum, non-null count) sidecar pair and
    // divides ONCE at the end — childType drives the division typing
    val avgChild = scala.collection.mutable.Map
      .empty[String, org.apache.spark.sql.types.DataType]
    val specs = aggItems.flatMap { i =>
      val stored = i.inId match {
        case Some(id) => storedAttr(id) match {
          case Some(p) => Some(p)
          case None => return None
        }
        case None => None
      }
      // the distinct census only answers for the partition column
      // itself (any other column needs real data)
      if (i.func == "count_distinct_part" &&
        !stored.exists(_._1.equalsIgnoreCase(partitionCol))) return None
      i.func match {
        case "avg" | "avg_unscaled" =>
          val (cn, ct) = stored.get
          // only exactly-summable inputs (integrals, decimals — the
          // types the sidecar carries sums for at all): an FP sum is
          // write-order-dependent, so an FP avg never folds
          val sumFold: org.apache.spark.sql.types.DataType = ct match {
            case d: org.apache.spark.sql.types.DecimalType =>
              // Spark's Average sums decimals in bounded(p+10, s)
              // (DecimalType.bounded is private — min against the max
              // precision is its whole body); folding in the same type
              // makes the final division reproduce the scan's typing
              // and rounding exactly
              org.apache.spark.sql.types.DecimalType(
                math.min(d.precision + 10,
                  org.apache.spark.sql.types.DecimalType.MAX_PRECISION),
                d.scale)
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType =>
              // integral sums fold in DecimalType(38,0), NOT LongType:
              // a true sum beyond Long range would wrap SILENTLY in a
              // long fold (Spark's own Average accumulates integrals
              // in double, which saturates but never wraps) — the
              // decimal fold is exact at any realistic scale and the
              // division below casts it to double once, the same
              // single rounding as before
              org.apache.spark.sql.types.DecimalType(38, 0)
            case _ => return None
          }
          avgChild.put(i.outName, ct)
          Seq(
            VersionedPartitioned.StatsAggSpec("sum", Some(cn),
              s"__avg_sum_${i.outName}", sumFold),
            VersionedPartitioned.StatsAggSpec("count", Some(cn),
              s"__avg_cnt_${i.outName}", LongType))
        case f =>
          Seq(VersionedPartitioned.StatsAggSpec(f, stored.map(_._1),
            i.outName, i.outType))
      }
    }
    // grouping must be BY the partition column itself (dir-derivable)
    val groupSpec: Option[(String, org.apache.spark.sql.types.DataType)] =
      groupAttr match {
        case Some(ga) =>
          storedName(ga.exprId) match {
            case Some(n) if n.equalsIgnoreCase(partitionCol) =>
              val outName = items.collectFirst {
                case GroupOut(n2) => n2
              }.getOrElse(return None)
              Some((outName, ga.dataType))
            case _ => return None
          }
        case None =>
          if (items.exists(_.isInstanceOf[GroupOut])) return None
          None
      }
    // per-value keep: substitute the parsed partition value into the
    // conjuncts of the leaf that reads it and evaluate; a partition no
    // surviving leaf reads was optimized away as empty/contradicted
    val anyFilter = leaves.exists(_.conjuncts.nonEmpty)
    val keep: Option[(String, String) => Option[Boolean]] =
      Some { (value, _) =>
        keepEvals.get(value) match {
          // a partition with no surviving leaf: under a filter the
          // optimizer contradicted it away (rows provably excluded);
          // with NO filter a missing branch is unexplained — bail
          case None => if (anyFilter) Some(false) else None
          case Some(ke) => evalKeep(ke, value)
        }
      }
    // every ORDER BY key must be one of the aggregate's own outputs —
    // resolved to a sortable Column BEFORE the fold runs
    val outNames: Map[ExprId, String] =
      agg.aggregateExpressions.map(ne => ne.exprId -> ne.name).toMap
    val sortCols: Seq[org.apache.spark.sql.Column] = sortOrder.map { so =>
      val name = outNames.get(
        so.child.asInstanceOf[AttributeReference].exprId) match {
        case Some(n) => n
        case None => return None
      }
      val c = col(s"`$name`")
      (so.direction, so.nullOrdering) match {
        case (Ascending, NullsFirst) => c.asc_nulls_first
        case (Ascending, NullsLast) => c.asc_nulls_last
        case (Descending, NullsFirst) => c.desc_nulls_first
        case (Descending, NullsLast) => c.desc_nulls_last
      }
    }
    VersionedPartitioned.aggregateFromStats(spark,
      leaves.head.index.root.toString, m, specs, keep, groupSpec)
      .map { folded =>
      // reorder/rename to the statement's own output shape and cast to
      // its exact types (nullability differences are benign)
      val cols = items.map {
        case GroupOut(n) => col(s"`$n`")
        case AggOut(i) if i.func == "avg_unscaled" =>
          // the DecimalAggregates scan shape, replayed over the exact
          // folded sum: unscale exactly in decimal space (38 digits),
          // round to double ONCE, then the rule's own divisions
          val s = avgScale(i.outName)
          val sumC = col(s"`__avg_sum_${i.outName}`")
          val cntC = col(s"`__avg_cnt_${i.outName}`")
          val unscaled = (sumC * org.apache.spark.sql.functions.lit(
              new java.math.BigDecimal(java.math.BigInteger.TEN.pow(s))))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))
            .cast(org.apache.spark.sql.types.DoubleType)
          (unscaled / cntC.cast(org.apache.spark.sql.types.DoubleType) /
            org.apache.spark.sql.functions.lit(math.pow(10.0, s)))
            .cast(i.outType)
        case AggOut(i) if i.func == "avg" =>
          // one division over the exact folded pair. Decimals follow
          // Average's own expression shape (sum(p+10,s) ÷ count cast
          // decimal(20,0), then cast to the avg result type) — same
          // DecimalPrecision typing, same HALF_UP rounding, so the
          // fold equals the scan bit for bit. Integrals divide the
          // EXACT decimal(38,0) sum as one double division: the
          // correctly-rounded mean (and wrap-proof beyond Long range),
          // where the scan's own double accumulation is
          // partition-order-dependent in the last ulp — the fold is
          // the deterministic member of that rounding family (and
          // exactly the scan's value whenever the accumulation stays
          // exact, i.e. sums within 2^53).
          val sumC = col(s"`__avg_sum_${i.outName}`")
          val cntC = col(s"`__avg_cnt_${i.outName}`")
          avgChild(i.outName) match {
            case _: org.apache.spark.sql.types.DecimalType =>
              (sumC / cntC.cast(
                org.apache.spark.sql.types.DecimalType(20, 0)))
                .cast(i.outType)
            case _ =>
              (sumC.cast(org.apache.spark.sql.types.DoubleType) /
                cntC.cast(org.apache.spark.sql.types.DoubleType))
                .cast(i.outType)
          }
        case AggOut(i) => col(s"`${i.outName}`").cast(i.outType)
      }
      val named = folded.select(cols: _*).toDF(df.columns: _*)
      if (sortCols.isEmpty) named else named.orderBy(sortCols: _*)
    }
  }

  /** How one leaf's conjuncts map partition-dir values to keeps. */
  private sealed trait KeepEval
  private case object AllRows extends KeepEval
  /** Identity partitioning (or days() over a DATE column — one day IS
    * one date): substitute the typed dir value into the conjuncts. */
  private final case class ByValue(attr: Attribute,
      conjuncts: Seq[Expression]) extends KeepEval
  /** days()/months() over a time column: each partition covers the
    * half-open interval [lo, hi) in the column's own integer space
    * (days for DATE, micros for TIMESTAMP); each comparison either
    * contains the interval, excludes it, or straddles it (bail). */
  private final case class ByInterval(kind: String, isDate: Boolean,
      cmps: Seq[(String, Long)]) extends KeepEval
  /** truncate(w) over a STRING column: a partition value P of length
    * w holds exactly the strings with prefix P — the string interval
    * [P, next-prefix); a SHORTER P holds exactly the string P itself
    * (truncate is identity there, fully decidable). Comparisons are
    * evaluated in UTF8String binary order — Spark's own string order —
    * and prefixes taken with UTF8String code-point semantics, so the
    * decision can never disagree with the scan's comparison. */
  private final case class ByPrefix(w: Int,
      cmps: Seq[(String, String)]) extends KeepEval

  /** True iff `spark`'s timezone — the session whose plan is folded,
    * whichever session is active on the calling thread — is fixed-offset
    * UTC (any spelling: UTC, Etc/UTC, Z, +00:00); an unparseable id is
    * treated as non-UTC — bail-on-doubt like every other gate here. */
  private def sessionTzIsUtc(spark: SparkSession): Boolean =
    try java.time.ZoneId
      .of(spark.sessionState.conf.sessionLocalTimeZone)
      .normalized() == java.time.ZoneOffset.UTC
    catch { case scala.util.control.NonFatal(_) => false }

  private def keepEvalFor(spark: SparkSession, l: LeafInfo,
      partitionCol: String,
      transform: Option[PartitionTransform]): Option[KeepEval] = {
    if (l.conjuncts.isEmpty) return Some(AllRows)
    for (c <- l.conjuncts) {
      if (!c.deterministic) return None
      if (c.exists(_.isInstanceOf[PlanExpression[_]])) return None
    }
    val refIds = l.conjuncts.flatMap(_.references).map(_.exprId).toSet
    val pAttr = l.rel.output.find(_.name.equalsIgnoreCase(partitionCol))
    pAttr match {
      case Some(p) if refIds == Set(p.exprId) =>
        return Some(ByValue(p, l.conjuncts))
      case _ =>
    }
    transform match {
      case Some(t @ (DaysOf(_) | MonthsOf(_))) =>
        val src = l.rel.output.find(
          _.name.equalsIgnoreCase(t.sourceCol)).getOrElse(return None)
        if (refIds != Set(src.exprId)) return None
        val kind = t match {
          case _: DaysOf => "days"
          case _ => "months"
        }
        src.dataType match {
          case org.apache.spark.sql.types.DateType if kind == "days" =>
            // `days(d)` over a DATE column is identity: the dir value
            // IS the date, so full substitution stays exact for ANY
            // deterministic predicate
            Some(ByValue(src, l.conjuncts))
          case org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType =>
            val isDate =
              src.dataType == org.apache.spark.sql.types.DateType
            // TIMESTAMP interval bounds are computed in UTC epoch
            // micros, but the writer derived partition values via
            // date_format in the SESSION timezone — embedded in a
            // non-UTC session, a bound not day-aligned in local time
            // could keep a partition's out-of-bound early hours and
            // answer WRONGLY from metadata. Dates are timezone-free;
            // timestamps fold only under a UTC session, else bail to
            // the scan.
            if (!isDate && !sessionTzIsUtc(spark)) return None
            val cmps = l.conjuncts.map(c =>
              intervalCmpOf(src, c).getOrElse(return None))
            Some(ByInterval(kind, isDate, cmps))
          case _ => None
        }
      case Some(t @ TruncateOf(w, _)) =>
        val src = l.rel.output.find(
          _.name.equalsIgnoreCase(t.sourceCol)).getOrElse(return None)
        if (refIds != Set(src.exprId)) return None
        src.dataType match {
          case org.apache.spark.sql.types.StringType =>
            val cmps = l.conjuncts.map(c =>
              prefixCmpOf(src, c).getOrElse(return None))
            Some(ByPrefix(w, cmps))
          case _ => None
        }
      case _ => None
    }
  }

  /** One prefix-decidable comparison against a string literal: (op ∈
    * {>=, >, <, <=, =, notnull, isnull}, literal). */
  private def prefixCmpOf(src: Attribute,
      e: Expression): Option[(String, String)] = {
    def lv(l: Literal): Option[String] =
      if (l.dataType != org.apache.spark.sql.types.StringType) None
      else Option(l.value).map(_.toString)
    def at(a: Expression): Boolean = a match {
      case ar: AttributeReference => ar.exprId == src.exprId
      case _ => false
    }
    e match {
      case GreaterThanOrEqual(a, l: Literal) if at(a) => lv(l).map((">=", _))
      case GreaterThan(a, l: Literal) if at(a) => lv(l).map((">", _))
      case LessThan(a, l: Literal) if at(a) => lv(l).map(("<", _))
      case LessThanOrEqual(a, l: Literal) if at(a) => lv(l).map(("<=", _))
      case EqualTo(a, l: Literal) if at(a) => lv(l).map(("=", _))
      case GreaterThanOrEqual(l: Literal, a) if at(a) => lv(l).map(("<=", _))
      case GreaterThan(l: Literal, a) if at(a) => lv(l).map(("<", _))
      case LessThan(l: Literal, a) if at(a) => lv(l).map((">", _))
      case LessThanOrEqual(l: Literal, a) if at(a) => lv(l).map((">=", _))
      case EqualTo(l: Literal, a) if at(a) => lv(l).map(("=", _))
      // a truncated dir holds only rows whose source produced its
      // value — never null there; the null partition is HIVE_DEFAULT
      case IsNotNull(a) if at(a) => Some(("notnull", ""))
      case IsNull(a) if at(a) => Some(("isnull", ""))
      case _ => None
    }
  }

  /** One interval-decidable comparison: (op ∈ {>=, >, <, <=, =},
    * literal in the column's integer space). The literal must already
    * carry the column's exact type — Catalyst normalizes comparisons
    * that way; anything else bails. */
  private def intervalCmpOf(src: Attribute,
      e: Expression): Option[(String, Long)] = {
    def lv(l: Literal): Option[Long] =
      if (l.dataType != src.dataType) None
      else l.value match {
        case i: java.lang.Integer => Some(i.toLong)
        case i: java.lang.Long => Some(i.longValue)
        case _ => None
      }
    def at(a: Expression): Boolean = a match {
      case ar: AttributeReference => ar.exprId == src.exprId
      case _ => false
    }
    e match {
      case GreaterThanOrEqual(a, l: Literal) if at(a) => lv(l).map((">=", _))
      case GreaterThan(a, l: Literal) if at(a) => lv(l).map((">", _))
      case LessThan(a, l: Literal) if at(a) => lv(l).map(("<", _))
      case LessThanOrEqual(a, l: Literal) if at(a) => lv(l).map(("<=", _))
      case EqualTo(a, l: Literal) if at(a) => lv(l).map(("=", _))
      case GreaterThanOrEqual(l: Literal, a) if at(a) => lv(l).map(("<=", _))
      case GreaterThan(l: Literal, a) if at(a) => lv(l).map(("<", _))
      case LessThan(l: Literal, a) if at(a) => lv(l).map((">", _))
      case LessThanOrEqual(l: Literal, a) if at(a) => lv(l).map((">=", _))
      case EqualTo(l: Literal, a) if at(a) => lv(l).map(("=", _))
      // null predicates (the optimizer injects isnotnull under every
      // comparison): a DATED partition holds only rows whose transform
      // produced its value — the source is never null there; the null
      // partition is the HIVE_DEFAULT dir, decided in evalKeep
      case IsNotNull(a) if at(a) => Some(("notnull", 0L))
      case IsNull(a) if at(a) => Some(("isnull", 0L))
      case _ => None
    }
  }

  private def evalKeep(ke: KeepEval, value: String): Option[Boolean] =
    ke match {
      case AllRows => Some(true)
      case ByValue(attr, conjuncts) =>
        parseValue(value, attr.dataType) match {
          case None => None
          case Some(v) =>
            val lit = Literal.create(v, attr.dataType)
            Some(conjuncts.forall { c =>
              c.transform {
                case a: AttributeReference if a.exprId == attr.exprId =>
                  lit
              }.eval() == true
            })
        }
      case ByPrefix(w, cmps) =>
        // the writer's null partition: exactly the NULL-source rows
        if (value == "__HIVE_DEFAULT_PARTITION__")
          return Some(cmps.forall(_._1 == "isnull"))
        val pU = org.apache.spark.unsafe.types.UTF8String.fromString(value)
        // a dir value SHORTER than w is the row itself (truncate is
        // identity there): every comparison decides exactly. A full-
        // width value P holds the string interval [P, next-prefix):
        // the min row is P; the sup is open above within the prefix.
        val exact = pU.numChars() < w
        val decisions = cmps.map { case (op, lRaw) =>
          op match {
            case "notnull" => Some(true) // truncated dir: never null
            case "isnull" => Some(false)
            case _ =>
              val lU =
                org.apache.spark.unsafe.types.UTF8String.fromString(lRaw)
              val c0 = pU.compareTo(lU)
              if (exact) op match {
                case ">=" => Some(c0 >= 0)
                case ">" => Some(c0 > 0)
                case "<" => Some(c0 < 0)
                case "<=" => Some(c0 <= 0)
                case "=" => Some(c0 == 0)
                case _ => None
              } else {
                // cp: P vs the literal's own width-w prefix. lp > P ⇒
                // every P-prefixed row sorts below L; lp == P ⇒ the
                // bound falls INSIDE the partition (straddle, bail)
                val cp = pU.compareTo(lU.substringSQL(1, w))
                op match {
                  case ">=" => if (c0 >= 0) Some(true)
                    else if (cp < 0) Some(false) else None
                  case ">" => if (c0 > 0) Some(true)
                    else if (cp < 0) Some(false) else None
                  case "<" => if (cp < 0) Some(true)
                    else if (c0 >= 0) Some(false) else None
                  case "<=" => if (cp < 0) Some(true)
                    else if (c0 > 0) Some(false) else None
                  case "=" => if (cp != 0) Some(false) else None
                  case _ => None
                }
              }
          }
        }
        if (decisions.contains(Some(false))) Some(false)
        else if (decisions.forall(_ == Some(true))) Some(true)
        else None
      case ByInterval(kind, isDate, cmps) =>
        // the writer's null partition: its rows are exactly the
        // NULL-source rows — comparisons and IS NOT NULL drop them,
        // a pure IS NULL keeps them
        if (value == "__HIVE_DEFAULT_PARTITION__")
          return Some(cmps.forall(_._1 == "isnull"))
        val bounds: Option[(Long, Long)] =
          try {
            val (loDay, hiDay) =
              if (kind == "days") {
                val d = java.time.LocalDate.parse(value)
                (d.toEpochDay, d.toEpochDay + 1)
              } else {
                val d = java.time.LocalDate.parse(value + "-01")
                (d.toEpochDay, d.plusMonths(1).toEpochDay)
              }
            Some(
              if (isDate) (loDay, hiDay)
              else (loDay * 86400000000L, hiDay * 86400000000L))
          } catch { case _: java.time.format.DateTimeParseException => None }
        bounds match {
          case None => None // unparseable dir: cannot decide — bail
          case Some((lo, hi)) =>
            // rows in this partition span [lo, hi); decide each bound
            val decisions = cmps.map { case (op, c) =>
              op match {
                case ">=" =>
                  if (lo >= c) Some(true)
                  else if (hi <= c) Some(false) else None
                case ">" =>
                  if (lo > c) Some(true)
                  else if (hi <= c + 1) Some(false) else None
                case "<" =>
                  if (hi <= c) Some(true)
                  else if (lo >= c) Some(false) else None
                case "<=" =>
                  if (hi <= c + 1) Some(true)
                  else if (lo > c) Some(false) else None
                case "=" =>
                  if (c < lo || c >= hi) Some(false) else None
                case "notnull" => Some(true) // dated dir: never null
                case "isnull" => Some(false)
                case _ => None
              }
            }
            if (decisions.contains(Some(false))) Some(false)
            else if (decisions.forall(_ == Some(true))) Some(true)
            else None // a straddling bound: metadata cannot decide
        }
    }

  /** Partition dir VALUE string → typed value; None = unparseable
    * (bail), Some(null) = the writer's null partition. */
  private def parseValue(v: String,
      dt: org.apache.spark.sql.types.DataType): Option[Any] =
    if (v == "__HIVE_DEFAULT_PARTITION__") Some(null)
    else {
      val parsed = Cast(
        Literal.create(org.apache.spark.unsafe.types.UTF8String.fromString(v),
          org.apache.spark.sql.types.StringType), dt,
        Some(java.time.ZoneOffset.UTC.getId), EvalMode.TRY).eval()
      if (parsed == null) None else Some(parsed)
    }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Strict descent: Filter / pass-through Project / Union only, with
    * positional attribute remapping at Union boundaries. `need` maps
    * each top-level id to its id at the current level. Returns None
    * the moment any node could change rows or values in a way the
    * metadata fold cannot reproduce. */
  private def walk(p: LogicalPlan, conj: Seq[Expression],
      need: Map[ExprId, ExprId]): Option[Seq[LeafInfo]] = p match {
    case f: Filter =>
      walk(f.child, conj ++ splitAnd(f.condition), need)
    case pr: Project =>
      val passThrough: Map[ExprId, AttributeReference] =
        pr.projectList.collect {
          case a: AttributeReference => a.exprId -> a
          case al @ Alias(ar: AttributeReference, _) => al.exprId -> ar
        }.toMap
      val computed: Set[ExprId] = pr.projectList.collect {
        case al @ Alias(e, _) if !e.isInstanceOf[AttributeReference] =>
          al.exprId
      }.toSet
      val needMapped = need.map { case (top, cur) =>
        passThrough.get(cur).map(ar => top -> ar.exprId)
      }
      if (needMapped.exists(_.isEmpty)) return None
      val conjMapped = conj.map(_.transformUp {
        case a: AttributeReference if passThrough.contains(a.exprId) =>
          passThrough(a.exprId)
      })
      if (conjMapped.exists(_.references.exists(r =>
        computed.contains(r.exprId)))) return None
      walk(pr.child, conjMapped, needMapped.flatten.toMap)
    case u: Union =>
      val results = u.children.map { ch =>
        val pos: Map[ExprId, Attribute] =
          u.output.map(_.exprId).zip(ch.output).toMap
        val needMapped = need.flatMap { case (top, cur) =>
          pos.get(cur).map(a => top -> a.exprId)
        }
        if (needMapped.size != need.size) return None
        val conjMapped = conj.map(_.transformUp {
          case a: AttributeReference if pos.contains(a.exprId) =>
            pos(a.exprId)
        })
        walk(ch, conjMapped, needMapped)
      }
      if (results.exists(_.isEmpty)) None
      else Some(results.flatMap(_.get))
    case rel: LogicalRelation =>
      val outIds = rel.output.map(_.exprId).toSet
      if (!conj.forall(_.references.forall(a => outIds.contains(a.exprId))))
        return None
      val resolve: Map[ExprId, Attribute] = need.flatMap {
        case (top, cur) => rel.output.find(_.exprId == cur).map(top -> _)
      }
      if (resolve.size != need.size) return None
      // a manifest read, not narrowed to a file list (stats cover
      // whole partitions)
      rel match {
        case ManifestFileIndex.Scan(_, ix) if ix.keepFiles.isEmpty =>
          Some(Seq(LeafInfo(rel, ix, conj, resolve)))
        case _ => None
      }
    case _ => None
  }
}
