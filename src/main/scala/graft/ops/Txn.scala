package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Multi-table transactions over the file-based commit logs — the
 * Iceberg REST-catalog transaction shape (one commit spanning several
 * tables) re-derived without a catalog server. The reference pipeline's
 * natural use is its promote+cumulate pair (`dags/dag.py:292-311` then
 * `:322-354`): production and cumulative must move TOGETHER or a
 * consumer between the two sees a day's bars without its rolling
 * metrics.
 *
 * A transaction publishes its tables in a FIXED order, each commit
 * tagged `txn:<id>:<k>of<n>` (the tag rides the table's own commit
 * log — vacuum-safe, restart-proof, zero extra files). Because the
 * pointers are per-table files, the inter-publish window is the one
 * non-atomic moment, and both sides of it are closed:
 *
 *  - CRASH in the window: a prefix of the tables carries an id the
 *    suffix never completed. [[recover]] detects exactly that — an id
 *    whose position set does not cover 1..n — and rolls the prefix
 *    heads back (restore-forward commits, so the audit trail keeps the
 *    aborted attempt, Iceberg-rollback style). Run it before new
 *    writes, the same discipline as every WAL recovery.
 *  - CONCURRENT READERS: [[readAll]] walks each table's head past
 *    exactly the commits of INCOMPLETE transaction ids and reads
 *    there — the state a crash-free recover would expose, without
 *    writing — so a partial transaction is never observable even
 *    while it (or its recovery) is mid-flight. Completed transactions
 *    and ordinary commits are acknowledged history and read at head.
 *
 * Scale shape: everything here is commit-log metadata, and the scans
 * are BOUNDED: [[readAll]]/[[recover]] read each table's commit log
 * newest-first through a lazy tag scanner and stop at the first
 * non-transactional (or complete-transaction) commit — a table whose
 * head is untagged costs ONE commit-file read, regardless of how many
 * epoch commits a year of streaming appended. Only deciding a
 * transaction id actually found in a head run deepens the scan (to
 * locate its other positions), and only an id that never completes
 * within the scanned logs — ABORTED (post-crash), or IN-FLIGHT
 * concurrent with the call — pushes that to the full history; a live
 * writer mid-publish therefore makes concurrent readers pay the full
 * metadata scan until its last position lands. No data I/O beyond
 * the promotes themselves and the final pinned reads.
 */
object Txn {

  val TagPrefix = "txn:"

  /** One table's write inside a transaction; `cluster` as in
    * `VersionedPartitioned.promote`. */
  final case class Write(df: DataFrame, root: String, partitionCol: String,
      cluster: Boolean = true)

  private val TagRe = """txn:([0-9a-f-]+):(\d+)of(\d+)""".r

  /**
   * Publish all writes under one transaction id, in order. Returns the
   * committed version per table. All-or-nothing modulo the crash
   * window `recover` closes; readers using `readAll` never observe a
   * partial transaction either way.
   */
  def commit(writes: Seq[Write]): Seq[Long] = {
    require(writes.nonEmpty, "empty transaction")
    val id = java.util.UUID.randomUUID().toString
    val n = writes.size
    writes.zipWithIndex.map { case (w, i) =>
      VersionedPartitioned.promote(w.df, w.root, w.partitionCol,
        tag = Some(s"$TagPrefix$id:${i + 1}of$n"), cluster = w.cluster)
    }
  }

  /**
   * Bounded newest-first tag scanner over the roots' commit logs: one
   * directory listing per root up front, then ONE commit-file read per
   * consumed element, deepening only as far as a decision needs. This
   * replaces the full-history collects readAll/recover used to pay on
   * EVERY call — a streaming table accumulates 10⁵–10⁶ epoch commits a
   * year, and scanning them all just to learn "no transaction is in
   * flight" was the metadata bottleneck (round-18 verdict). The
   * steady-state costs: untagged head → one read; txn tags at the
   * heads (the normal post-COMMIT state — every position IS at a
   * head run) → O(run lengths); only an id whose positions are buried
   * (aborted, or interleaved with later non-txn writes) deepens
   * further, bounded by the depth of its oldest position.
   */
  private final class TagScan(spark: SparkSession, roots: Seq[String]) {
    private val its = roots.map(r =>
      r -> VersionedPartitioned.tagsNewestFirst(spark, r)).toMap
    /** Consumed (version, parsed txn tag) per root, newest-first. */
    private val seen = roots.map(r => r -> scala.collection.mutable
      .ArrayBuffer.empty[(Long, Option[(String, Int, Int)])]).toMap
    private val decided =
      scala.collection.mutable.Map.empty[String, Boolean]

    /** Read one more (older) commit of `r`; false when exhausted. */
    private def advance(r: String): Boolean = {
      val it = its(r)
      if (!it.hasNext) false
      else {
        val (v, t) = it.next()
        seen(r) += ((v, t.collect {
          case TagRe(id, k, n) => (id, k.toInt, n.toInt) }))
        true
      }
    }

    /** Entry at depth `i` (0 = head) of `r`, advancing as needed;
      * None when the log has fewer than i+1 commits. */
    def at(r: String, i: Int): Option[(Long, Option[(String, Int, Int)])] = {
      while (seen(r).length <= i && advance(r)) {}
      seen(r).lift(i)
    }

    /** Is `id` ACKNOWLEDGED — safe to read/keep at head? True when its
      * tagged positions cover 1..n across the roots (a completed
      * transaction). Deepens ALL roots in lockstep until the cover is
      * found or every log is exhausted. On EXHAUSTION WITHOUT COVER the
      * id is still acknowledged if any of its positions is BURIED —
      * some root carries a commit newer than that position that is not
      * itself transaction-tagged — because later acknowledged writes
      * prove the system moved past it (the missing counterparts were
      * vacuumed, or the caller passed a subset of the spanned roots);
      * walking past or rolling back would discard committed history.
      * Only an id whose every visible position sits in a head RUN of
      * txn-tagged commits is incomplete: that is exactly the
      * crash-window shape recover must undo. Memoized — all outcomes
      * are final for a given scan.
      *
      * Cost note: an id that cannot be completed within the scanned
      * logs — aborted, in-flight CONCURRENT with this call, or missing
      * its cover — deepens every root to its full log before deciding.
      * The header's O(run) claim is the steady state (heads untagged or
      * completed); a live writer mid-publish makes concurrent readAll
      * calls pay the full metadata scan until its COMMIT lands. */
    def decide(id: String): Boolean = decided.getOrElseUpdate(id, {
      def complete: Boolean = {
        val hits = roots.flatMap(r => seen(r).flatMap(_._2))
          .filter(_._1 == id)
        hits.headOption.exists(h => hits.map(_._2).toSet == (1 to h._3).toSet)
      }
      var progress = true
      while (!complete && progress)
        progress = roots.map(advance).exists(identity)
      complete || {
        // exhausted without cover: acknowledged unless head-run-only
        val headRunOnly = roots.forall { r =>
          val s = seen(r)
          val run = s.indexWhere(_._2.isEmpty) match {
            case -1 => s.length
            case i => i
          }
          s.zipWithIndex.forall { case ((_, t), d) =>
            !t.exists(_._1 == id) || d < run
          }
        }
        !headRunOnly
      }
    })

    /** The newest version of `r` not written by an INCOMPLETE
      * transaction — what a crash-free recover would leave as head.
      * None = every retained commit is an aborted-transaction commit
      * (or the log is empty). */
    def target(r: String): Option[Long] = {
      var i = 0
      while (true) {
        at(r, i) match {
          case None => return None
          case Some((_, Some((id, _, _)))) if !decide(id) => i += 1
          case Some((v, _)) => return Some(v)
        }
      }
      None // unreachable
    }
  }

  /**
   * Roll back any table whose HEAD commits carry an INCOMPLETE
   * transaction id — the crash-window cleanup. A transaction may have
   * written one table SEVERAL times (several positions — the door's
   * DELETE-day-then-INSERT pair), and a crash during a previous
   * recovery can stack runs, so the rollback walks past the table's
   * whole head RUN of incomplete-transaction commits, not just one. A
   * table whose entire history is aborted-transaction commits closes
   * with one clean empty commit. Heads that have since been committed
   * over are left alone: the partial write is already part of
   * acknowledged history, and destroying newer commits would be worse
   * than the anomaly — run recover before new writes, like any WAL.
   *
   * CONTRACT: `roots` must cover EVERY table the transactions at the
   * scanned heads span (pass the whole table set the txn system
   * manages, as the SQL door does). With a subset, a completed
   * transaction whose counterpart positions live on an unpassed root
   * is indistinguishable from a crashed one; the one guard rail is
   * that an id with a position already buried under acknowledged
   * history is never rolled back (see [[TagScan.decide]]).
   *
   * Cost when idle (the common case — e.g. every SQL-door open): one
   * driver-side head-manifest read per root, zero jobs — rollback only
   * ever touches heads, so an untagged head proves there is nothing to
   * do on that root, and no txn-tagged head anywhere skips the full
   * history scan entirely.
   */
  def recover(spark: SparkSession, roots: Seq[String]): Seq[String] = {
    if (!roots.exists(r => VersionedPartitioned.headTag(spark, r)
        .exists(_.startsWith(TagPrefix)))) return Nil
    val scan = new TagScan(spark, roots)
    roots.flatMap { r =>
      scan.at(r, 0).flatMap { case (head, _) =>
        scan.target(r) match {
          case Some(v) if v == head => None // head is clean
          case Some(v) =>
            VersionedPartitioned.rollbackTo(spark, r, v)
            Some(r)
          case None =>
            // every retained commit is aborted: close with one clean
            // empty commit (partitionCol is read from the existing
            // manifest — a head exists here — so the placeholder is
            // never used)
            VersionedPartitioned.emptyCommit(spark, r, "",
              Some(s"rollback-$TagPrefix$head"), dropAll = true)
            Some(r)
        }
      }
    }
  }

  /**
   * Snapshot-consistent cross-table read: every root reads at its
   * newest version NOT written by an incomplete transaction — the
   * state a crash-free recover would expose, without writing anything.
   * The only cross-table anomaly transactions introduce is observing a
   * PARTIAL one (some tables carrying an in-flight/crashed id's writes,
   * others not yet); walking each head past exactly the incomplete-id
   * runs excludes it, while completed transactions and ordinary
   * (non-transactional) commits read at head as acknowledged history.
   * One frame per root, in input order; a root whose entire retained
   * history is aborted-transaction commits reads EMPTY (what recover
   * would leave). Cost: one commit-file read per untagged-head root —
   * see [[TagScan]] for the deepening bounds and the in-flight-writer
   * caveat.
   *
   * CONTRACT: like [[recover]], `roots` must cover every table the
   * head transactions span and the logs must retain their commits
   * (don't vacuum one side of a pair past the other's head). An id
   * that cannot complete within the passed logs is read past ONLY
   * when its positions are confined to head runs — the crash shape;
   * an id with any position buried under acknowledged history reads
   * at head rather than actively skipping committed data.
   */
  def readAll(spark: SparkSession, roots: Seq[String]): Seq[DataFrame] = {
    val scan = new TagScan(spark, roots)
    roots.map { r =>
      scan.at(r, 0) match {
        case None | Some((_, None)) =>
          // no commits (the format read stays loud, as before) or a
          // non-transactional head: the head IS the consistent state
          VersionedPartitioned.read(spark, r)
        case Some((head, Some(_))) =>
          scan.target(r) match {
            case Some(v) if v == head => VersionedPartitioned.read(spark, r)
            case Some(v) => VersionedPartitioned.readAt(spark, r, v)
            case None => VersionedPartitioned.read(spark, r)
              .where(org.apache.spark.sql.functions.lit(false))
          }
      }
    }
  }
}
