package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * Statement-to-manifest predicate bridge for the SQL front door
 * (`SqlLifecycle.query`). The reference pipeline's core access pattern
 * is a partition-targeted SELECT — `WHERE date = DATE '{{ ds }}'`
 * (reference `dags/dag.py:211,294,436`) — and through the Scala API
 * those reads prune at the MANIFEST level (`readPartitionsWhere`,
 * `HiddenPartition.readMultiWhere`). A routed statement resolves its
 * tables to reads of the FULL current manifest; without narrowing, at
 * 100 TB every routed SELECT would plan (and for hidden-partitioned
 * tables, SCAN) the whole table.
 *
 * This object extracts, from an analyzed-and-OPTIMIZED Catalyst plan,
 * the filter conjuncts that sit directly above each `ManifestFileIndex`
 * scan leaf; the door then swaps that leaf's index for a narrowed one
 * (`ManifestFileIndex.narrowed`). Working on the optimized plan is the safety argument: by
 * the time we look, Catalyst's own pushdown rules have already moved
 * every conjunct as close to its scan as is semantically legal
 * (outer-join null traps, nondeterminism, correlation — all handled
 * by the optimizer, not re-derived here). A conjunct directly above a
 * leaf is therefore a NECESSARY condition on that leaf's rows, and
 * any partition that provably cannot satisfy it can drop out of the
 * manifest read. Pruning is always a SUPERSET operation — the
 * statement's own WHERE still executes on top — so an unmappable
 * conjunct degrades to "no pruning", never to a wrong answer.
 */
object ScanPrune {

  /** One manifest scan inside a plan: the leaf's output attributes,
    * the filter conjuncts directly above it (empty = unfiltered), the
    * scan's `BaseRelation` INSTANCE — reference identity tells scans
    * apart (the door gives every scan of its analyzed plan its own
    * instance, so two scans of a self-joined table differ, while a CTE
    * body inlined twice keeps one) — and the index it reads. */
  final case class Leaf(output: Seq[Attribute], conjuncts: Seq[Expression],
      relation: HadoopFsRelation, index: ManifestFileIndex)

  /** All `ManifestFileIndex` scan leaves under `plan`, each with the
    * conjuncts of the Filter/Project chain directly above it.
    * Conjuncts crossing a Project are rewritten through pass-through
    * aliases; a conjunct referencing a COMPUTED projection is dropped
    * (it constrains a derived value, not a stored column). Only
    * deterministic conjuncts referencing the leaf's own attributes
    * survive. */
  def leavesUnder(plan: LogicalPlan): Seq[Leaf] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[Leaf]
    def descend(p: LogicalPlan, conj: Seq[Expression]): Unit = p match {
      case f: Filter =>
        descend(f.child, conj ++ split(f.condition))
      case pr: Project =>
        // rewrite conjuncts through pass-through aliases; drop any
        // conjunct that reaches a computed column
        val subst: Map[ExprId, Expression] = pr.projectList.collect {
          case a @ Alias(child, _) => a.exprId -> child
          case a: AttributeReference => a.exprId -> a
        }.toMap
        val mapped = conj.flatMap { c =>
          val rewritten = c.transformUp {
            case a: AttributeReference if subst.contains(a.exprId) =>
              subst(a.exprId)
          }
          val stillComputed = rewritten.exists {
            case _: Alias => true
            case _ => false
          }
          if (stillComputed) None
          else rewritten match {
            case r if r.references.forall(_.isInstanceOf[AttributeReference]) =>
              Some(r)
            case _ => None
          }
        }
        descend(pr.child, mapped)
      case rel @ ManifestFileIndex.Scan(fs, ix) =>
        val outIds = rel.output.map(_.exprId).toSet
        acc += Leaf(rel.output, conj.filter(c =>
          c.deterministic && c.references.nonEmpty &&
            c.references.forall(a => outIds.contains(a.exprId))), fs, ix)
      case other =>
        // any other node breaks the direct chain: restart with no
        // carried conjuncts (the optimizer already pushed what's safe)
        other.children.foreach(descend(_, Nil))
        other.subqueries.foreach(descend(_, Nil))
    }
    descend(plan, Nil)
    acc.toSeq
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case other => Seq(other)
  }

  /** Typed bounds a leaf's conjuncts impose on column `name`:
    * equality literals (None = unconstrained), lower and upper bounds
    * with inclusiveness. Literals are Catalyst `Literal`s — they carry
    * their own type, which after optimization matches the column's
    * (Catalyst inserts the cast on the literal side). Returns None
    * when no conjunct constrains the column. */
  final case class Bounds(eqs: Option[Seq[Literal]],
      lo: Option[(Literal, Boolean)], hi: Option[(Literal, Boolean)])

  def boundsFor(conjuncts: Seq[Expression], name: String): Option[Bounds] = {
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase(name)
      case _ => false
    }
    var eqs: Option[Seq[Literal]] = None
    var lo: Option[(Literal, Boolean)] = None
    var hi: Option[(Literal, Boolean)] = None
    def addEq(vs: Seq[Literal]): Unit =
      eqs = Some(eqs.map(_.filter(e => vs.exists(_.semanticEquals(e))))
        .getOrElse(vs))
    // first bound wins; further ANDed bounds only narrow, so keeping
    // the first is still a superset — pruning may only ever widen
    def tightenLo(v: Literal, incl: Boolean): Unit =
      if (lo.isEmpty) lo = Some((v, incl))
    def tightenHi(v: Literal, incl: Boolean): Unit =
      if (hi.isEmpty) hi = Some((v, incl))
    conjuncts.foreach {
      case EqualTo(c, l: Literal) if isCol(c) && l.value != null =>
        addEq(Seq(l))
      case EqualTo(l: Literal, c) if isCol(c) && l.value != null =>
        addEq(Seq(l))
      case EqualNullSafe(c, l: Literal) if isCol(c) && l.value != null =>
        addEq(Seq(l))
      case In(c, vs) if isCol(c) && vs.forall {
          case l: Literal => l.value != null; case _ => false } =>
        addEq(vs.collect { case l: Literal => l })
      case InSet(c, vs) if isCol(c) && !vs.contains(null) =>
        addEq(vs.toSeq.map(v => Literal(v, c.dataType)))
      case GreaterThan(c, l: Literal) if isCol(c) && l.value != null =>
        tightenLo(l, incl = false)
      case GreaterThanOrEqual(c, l: Literal) if isCol(c) && l.value != null =>
        tightenLo(l, incl = true)
      case LessThan(c, l: Literal) if isCol(c) && l.value != null =>
        tightenHi(l, incl = false)
      case LessThanOrEqual(c, l: Literal) if isCol(c) && l.value != null =>
        tightenHi(l, incl = true)
      case GreaterThan(l: Literal, c) if isCol(c) && l.value != null =>
        tightenHi(l, incl = false)
      case GreaterThanOrEqual(l: Literal, c) if isCol(c) && l.value != null =>
        tightenHi(l, incl = true)
      case LessThan(l: Literal, c) if isCol(c) && l.value != null =>
        tightenLo(l, incl = false)
      case LessThanOrEqual(l: Literal, c) if isCol(c) && l.value != null =>
        tightenLo(l, incl = true)
      case _ => ()
    }
    if (eqs.isEmpty && lo.isEmpty && hi.isEmpty) None
    else Some(Bounds(eqs, lo, hi))
  }

  /** External-value `[lo, hi]` SUPERSET of `b` — the file-skipping
    * form fed to `VersionedPartitioned.prunedFilesWhere`: an equality
    * set collapses to its min/max (typed ordering, never string),
    * strict bounds widen to inclusive, and a contradictory (empty)
    * equality set degrades to unbounded — pruning may only ever
    * widen. Values come back as external Scala objects so `lit(...)`
    * against the stats sidecar compares in the column's own type. */
  def rangeOf(b: Bounds): (Option[Any], Option[Any]) = {
    def ext(l: Literal): Any = org.apache.spark.sql.catalyst
      .CatalystTypeConverters.convertToScala(l.value, l.dataType)
    b.eqs match {
      case Some(vs) if vs.nonEmpty =>
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(vs.head.dataType)
        val sorted = vs.sortWith((a, c) => ord.compare(a.value, c.value) < 0)
        (Some(ext(sorted.head)), Some(ext(sorted.last)))
      case Some(_) => (None, None)
      case None => (b.lo.map(p => ext(p._1)), b.hi.map(p => ext(p._1)))
    }
  }

  /**
   * Join-derived (DPP-shaped) conjuncts for a leaf: when the optimized
   * plan joins the leaf's side to another subtree with an equality on
   * one of `cols` (the partition column, or a hidden transform's
   * source columns), and the other side is small and deterministic,
   * evaluate the other side's DISTINCT join keys NOW (one bounded
   * planning-time job) and synthesize `col IN (keys)` — the existing
   * literal keep machinery (`plainKeepFor` / `boundsFor`) then maps it
   * to a manifest keep exactly like a written IN list. This is what
   * Spark's own dynamic partition pruning does for catalog tables; the
   * manifest reads resolve outside the catalog, so the bridge
   * re-derives it at the statement level.
   *
   * Safety: only null-intolerant `EqualTo` key pairs are used, and
   * only for join types where dropping fact-side rows whose key is
   * absent from the dim side provably cannot change the result —
   * Inner/LeftSemi (either side), the NON-preserved side of an outer
   * join, and the RIGHT side of an anti join (a right row whose key no
   * left row carries matches nothing either way). The leaf must also be
   * REACHABLE from the join's fact side through row-multiset-safe
   * operators only (Filter, pass-through Project, Sort, Join on the
   * key-carrying side, Aggregate grouped on the key): an exprId passes
   * unchanged through Limit/Window/Sample, but pruning BELOW such a
   * node changes which rows it sees (a pre-limit prune picks a
   * different 10 rows), so any other node on the path abandons the
   * prune — the same reachability rule Spark's own PartitionPruning
   * applies. The dim subtree must be deterministic (re-evaluating it
   * must see the same keys) and under `MaxDimBytes` estimated (64 MB —
   * a side cheap enough to evaluate twice);
   * more than `spark.graft.dpp.maxKeys` distinct keys (default 1000,
   * partition counts are metadata-sized) abandons the prune (null keys
   * are filtered BEFORE the counting limit so a sampled null can never
   * mask truncation). Everything here degrades to "no extra conjunct",
   * never to a wrong answer.
   */
  /** Largest estimated dim side a join-derived prune evaluates. */
  private val MaxDimBytes = 64L << 20

  /** Count of ACTUAL dim-probe evaluations (cache misses) — spec
    * observability for the probe-reuse cache. */
  private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicLong

  /** Session-lifetime LRU of probe outcomes, keyed by (canonical dim
    * plan shape, the dim leaves' snapshot paths, projected-column
    * position). The SNAPSHOT paths pin the data version: a view over
    * the manifest format resolves to immutable `snap-<uuid>` dirs, so
    * a table advancing produces new paths and a fresh probe — no
    * explicit invalidation needed. Value None = the probe ran and was
    * abandoned (too many keys), cached so a dashboard replaying the
    * same statement doesn't re-pay the abandoned probe either.
    * Bounded (64 entries × ≤maxKeys values) and synchronized — the
    * probe itself dwarfs any lock cost. */
  private val probeCache =
    new java.util.LinkedHashMap[String, Option[Seq[Any]]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[Seq[Any]]]): Boolean =
        size() > 64
    }

  private def dimCacheKey(dim: LogicalPlan, da: AttributeReference): String = {
    // the CONCRETE file list, not root paths: an unpartitioned table's
    // root dir is stable across swap-rewrites while its part files get
    // fresh uuids — keying on files makes any data change a new key
    val paths = dim.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.inputFiles.sorted.mkString(",")
        case other => other.getClass.getName
      }
    }.mkString(";")
    val pos = dim.output.indexWhere(_.exprId == da.exprId)
    s"${dim.canonicalized.toString}|$paths|$pos"
  }

  private[graft] def clearProbeCache(): Unit =
    probeCache.synchronized { probeCache.clear() }

  def dppConjuncts(plan: LogicalPlan, leaf: Leaf, cols: Seq[String],
      spark: org.apache.spark.sql.SparkSession): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.plans._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val conf = spark.conf
    if (!conf.getOption("spark.graft.dpp.enabled").forall(_.toBoolean))
      return Nil
    val maxKeys = conf.getOption("spark.graft.dpp.maxKeys")
      .map(_.toInt).getOrElse(1000)
    val wanted: Map[ExprId, AttributeReference] = cols.flatMap(c =>
      leaf.output.collectFirst {
        case a: AttributeReference if a.name.equalsIgnoreCase(c) => a
      }).map(a => a.exprId -> a).toMap
    if (wanted.isEmpty) return Nil
    // Pruning the leaf's partitions is only legal when every operator
    // between the join's fact side and the leaf preserves the
    // row-per-key mapping: removing leaf rows with key k must remove
    // (or null-out, for intermediate outer joins — null fails the
    // null-intolerant top equality) ONLY key-k rows at the join input.
    // Filter/Sort/pass-through Project qualify; a Join recurses into
    // whichever side carries the key attribute; an Aggregate qualifies
    // only when the key is one of its grouping attributes (pruning
    // removes exactly the pruned groups). Limit/Window/Sample/Generate
    // and anything else changes RETAINED rows — bail.
    def safeReach(p: LogicalPlan, faId: ExprId): Boolean = p match {
      case rel: LogicalRelation => rel.relation eq leaf.relation
      case f: Filter => safeReach(f.child, faId)
      case pr: Project => safeReach(pr.child, faId)
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
        safeReach(s.child, faId)
      case jj: Join =>
        (jj.left.outputSet.exists(_.exprId == faId) &&
          safeReach(jj.left, faId)) ||
        (jj.right.outputSet.exists(_.exprId == faId) &&
          safeReach(jj.right, faId))
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        ag.groupingExpressions.exists {
          case a: AttributeReference => a.exprId == faId
          case _ => false
        } && safeReach(ag.child, faId)
      case _ => false
    }
    val done = scala.collection.mutable.Set.empty[ExprId]
    val out = scala.collection.mutable.ArrayBuffer.empty[Expression]
    plan.foreach {
      case j: Join if j.condition.isDefined =>
        val eqs = split(j.condition.get).collect {
          case EqualTo(a: AttributeReference, b: AttributeReference) => (a, b)
        }
        for ((x, y) <- eqs; (fa, da) <- Seq((x, y), (y, x))
            if wanted.contains(fa.exprId) && !done(fa.exprId)) {
          val factLeft =
            j.left.outputSet.contains(fa) && j.right.outputSet.contains(da)
          val factRight =
            j.right.outputSet.contains(fa) && j.left.outputSet.contains(da)
          val prunable = (factLeft || factRight) && (j.joinType match {
            case Inner | LeftSemi => true
            case LeftOuter | LeftAnti => factRight // only the non-preserved /
            case RightOuter => factLeft           // probe side may narrow
            case _ => false
          })
          val fact = if (factLeft) j.left else j.right
          val dim = if (factLeft) j.right else j.left
          val dimOk = prunable &&
            dim.stats.sizeInBytes <= BigInt(MaxDimBytes) &&
            dim.find(p => p.expressions.exists(e =>
              e.exists(!_.deterministic))).isEmpty &&
            safeReach(fact, fa.exprId)
          if (dimOk) {
            // maxKeys is part of the key: a cached abandonment at one
            // cap must not mask a raised cap (and vice versa)
            val ck = s"$maxKeys|${dimCacheKey(dim, da)}"
            val cached = probeCache.synchronized {
              Option(probeCache.get(ck))
            }
            val keys = cached.getOrElse {
              // nulls are filtered BEFORE the counting limit (a null
              // key matches nothing under EqualTo), so `length >
              // maxKeys` detects truncation exactly — a sampled null
              // can never shrink the post-filter count back under the
              // cap and sneak a truncated (wrongly-pruning) key set
              // through
              probeRuns.incrementAndGet()
              val computed = (try {
                Some(org.apache.spark.sql.graft.Internals
                  .ofRows(spark, Project(Seq(da), Filter(IsNotNull(da), dim)))
                  .distinct().limit(maxKeys + 1).collect()
                  .map(_.get(0)).toSeq)
              } catch { case scala.util.control.NonFatal(_) => None })
                .filter(_.length <= maxKeys)
              probeCache.synchronized { probeCache.put(ck, computed); () }
              computed
            }
            // an empty key set legitimately prunes EVERY partition —
            // the join's result is empty either way
            keys.foreach { ks =>
              val leafAttr = wanted(fa.exprId)
              out += In(leafAttr,
                ks.map(v => Literal.create(v, leafAttr.dataType)))
              done += fa.exprId
            }
          }
        }
      case _ =>
    }
    out.toSeq
  }

  /** A Catalyst-internal literal as a Column (external value form), so
    * plan-extracted bounds can flow into DataFrame-side expressions
    * (the hidden-transform literal mapping). */
  def literalColumn(l: Literal): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions
      .lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(l.value, l.dataType))
      .cast(l.dataType)

  /** OR-combine per-leaf keeps: a partition survives if ANY leaf of
    * the scan needs it (a CTE body inlined twice is one scan). */
  def anyOf(keeps: Seq[String => Boolean]): String => Boolean =
    v => keeps.exists(_(v))

  /** Partition keep for a PLAIN table derived directly from the leaf's
    * conjuncts — the Bounds path generalized to DISJUNCTIONS:
    * `date = 'a' OR date = 'b'` (and any and/or tree whose leaves are
    * comparisons of the partition column against literals) maps to the
    * union of the branch keeps. An OR with an unmappable branch yields
    * no constraint for that conjunct (the branch could admit any
    * partition); an AND keeps whichever sides map (each is a necessary
    * condition alone). Every mapped leaf is null-intolerant, so the
    * writer's null partition is always excluded. Returns None when no
    * conjunct constrains the column. */
  def plainKeepFor(conjuncts: Seq[Expression],
      name: String): Option[String => Boolean] = {
    def isCol(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase(name)
      case _ => false
    }
    // TRY eval mode: under the ANSI default a malformed value THROWS
    // from Cast — the keep-on-doubt contract needs null, not a crash
    def parse(s: String,
        dt: org.apache.spark.sql.types.DataType): Option[Any] = Option(Cast(
      Literal.create(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType), dt,
      Some(java.time.ZoneOffset.UTC.getId), EvalMode.TRY).eval())
    // None = unparseable partition value: keep, never drop on doubt
    def cmp(s: String, l: Literal): Option[Int] = parse(s, l.dataType).map {
      pv => org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(l.dataType).compare(pv, l.value)
    }
    def leaf(rel: Literal => Int => Boolean)(l: Literal): String => Boolean =
      v => cmp(v, l).forall(rel(l))
    def keepOf(e: Expression): Option[String => Boolean] = e match {
      case EqualTo(c, l: Literal) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ == 0)(l))
      case EqualTo(l: Literal, c) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ == 0)(l))
      case EqualNullSafe(c, l: Literal) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ == 0)(l))
      case In(c, vs) if isCol(c) && vs.forall {
          case l: Literal => l.value != null; case _ => false } =>
        val ls = vs.collect { case l: Literal => l }
        Some(v => ls.exists(l => cmp(v, l).forall(_ == 0)))
      case InSet(c, vs) if isCol(c) && !vs.contains(null) =>
        val ls = vs.toSeq.map(x => Literal(x, c.dataType))
        Some(v => ls.exists(l => cmp(v, l).forall(_ == 0)))
      case GreaterThan(c, l: Literal) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ > 0)(l))
      case GreaterThanOrEqual(c, l: Literal) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ >= 0)(l))
      case LessThan(c, l: Literal) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ < 0)(l))
      case LessThanOrEqual(c, l: Literal) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ <= 0)(l))
      case GreaterThan(l: Literal, c) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ < 0)(l))
      case GreaterThanOrEqual(l: Literal, c) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ <= 0)(l))
      case LessThan(l: Literal, c) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ > 0)(l))
      case LessThanOrEqual(l: Literal, c) if isCol(c) && l.value != null =>
        Some(leaf(_ => _ >= 0)(l))
      case Or(a, b) =>
        for (ka <- keepOf(a); kb <- keepOf(b)) yield (v => ka(v) || kb(v))
      case And(a, b) => (keepOf(a), keepOf(b)) match {
        case (Some(x), Some(y)) => Some(v => x(v) && y(v))
        case (one, other) => one.orElse(other)
      }
      case _ => None
    }
    val ks = conjuncts.flatMap(keepOf(_))
    if (ks.isEmpty) None
    else Some(v =>
      v != "__HIVE_DEFAULT_PARTITION__" && ks.forall(_(v)))
  }
}
