package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity}
import graft.ops.Txn

/** `corpus_dedup`: a closed loop with one caller alternating a full
  * near-duplicate dedup pass with one batch of top-k similarity queries. */
object CorpusRun {
  final case class Sizes(docs: Int, clusters: Int, clusterSize: Int,
      vecs: Int, dim: Int, centres: Int, batches: Int, batchSize: Int,
      passS: Double, minPasses: Int) {
    /** Fixed work per run, as in `DailyRun.Sizes`: `passS` is a pass's
      * nominal time with its query batch on a 4-core box. */
    def passes(seconds: Double): Int =
      math.max(minPasses, math.ceil(seconds / passS).toInt)
  }

  final case class Pass(edges: Set[(Long, Long)], kept: Set[Long])

  def run(ctx: RunCtx, sizes: Sizes): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val out = new Outcome
    val K = 10

    def dedupPass(docs: DataFrame, op: String): Pass =
      tr.span("Dedup.nearDups", op) {
        val edges = Dedup.minhashNearDupEdges(docs, "doc_id", "text").cache()
        val e = edges.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val kept = Dedup.dedupByPairsBest(docs, edges, "doc_id", col("quality"))
          .select("doc_id").collect().map(_.getLong(0)).toSet
        edges.unpersist()
        Dedup.releaseCaches(spark)
        Pass(e, kept)
      }
    def query(root: String, vecs: DataFrame, q: DataFrame, op: String)
        : Seq[(Long, Long, Int)] =
      tr.span("Similarity.indexedIvfPqTopK", op) {
        Similarity.indexedIvfPqTopK(spark, root, vecs, q, "id", "vec", K)
          .select("query_id", "neighbor_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      }

    // set-up: input generation, cached inputs, the IVF-PQ build
    val t0s = System.nanoTime()
    val (cg, vg, docs, vecs, batches) = tr.span("bench.setup", "inputs") {
      val cg = new CorpusGen(ctx.seed, sizes.docs, sizes.clusters, sizes.clusterSize)
      val vg = new VecGen(ctx.seed, sizes.vecs, sizes.dim, sizes.centres,
        sizes.batches, sizes.batchSize)
      val docs = cg.frame(spark).cache()
      val vecs = vg.frame(spark).cache()
      docs.count(); vecs.count()
      (cg, vg, docs, vecs, (0 until sizes.batches).map(vg.batch(spark, _)))
    }
    val indexDir = ctx.workRoot("corpus")
    val root = indexDir.resolve("ivfpq").toString
    tr.span("Similarity.buildIvfPqIndex", "setup") {
      Similarity.buildIvfPqIndex(vecs, "id", "vec", root)
    }
    out.setupS = (System.nanoTime() - t0s) / 1e9

    // warm-up: one pass and one batch, untimed; the pass is checked with the others
    val passes = mutable.ArrayBuffer.empty[Pass]
    val answers = mutable.Map.empty[Int, Seq[(Long, Long, Int)]]
    val w0 = System.nanoTime()
    passes += dedupPass(docs, "warmup")
    answers(0) = query(root, vecs, batches(0), "warmup")
    out.warmupS = (System.nanoTime() - w0) / 1e9

    val sampler = ctx.sampler()
    val jvm0 = JvmCounters.now()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    val n = sizes.passes(ctx.seconds)
    while (i < n && elapsed < ctx.hardStopS) {
      var p: Pass = null
      if (out.op(out.days, out.dayCpu) { p = dedupPass(docs, s"pass$i") }) {
        passes += p
        out.rows += sizes.docs
      }
      val b = i % sizes.batches
      out.op(out.reads, null) { answers(b) = query(root, vecs, batches(b), s"pass$i") }
      out.queries += sizes.batchSize
      i += 1
    }
    out.loopS = elapsed
    out.jvm = JvmCounters.now() - jvm0
    out.driverBy = sampler.map(_.stop()).getOrElse(Map.empty)
    out.heapMb = JvmCounters.retainedHeapMb()
    out.spaceAmp = tr.span("bench.check", "space")(Space.amp(Seq(indexDir),
      Txn.readAll(spark, Seq(Similarity.IvfCellsTable, Similarity.IvfCentroidsTable,
        Similarity.IvfPqCodebookTable).map(t => s"$root/$t"))))

    val shingles = cg.docs.map(d => CorpusGen.shingles(d.text))
    // planted ground truth: cluster pairs at or above the 0.5 threshold
    val planted = (0 until sizes.clusters).flatMap { c =>
      val ids = c * sizes.clusterSize until (c + 1) * sizes.clusterSize
      for (a <- ids; b <- ids if a < b &&
        CorpusGen.jaccard(shingles(a), shingles(b)) >= 0.5) yield (a.toLong, b.toLong)
    }.toSet
    tr.span("bench.check", "truth") {
      passes.headOption.foreach { p0 =>
        if (passes.exists(_ != p0)) out.fail("dedup passes disagree with each other")
        p0.edges.filter { case (a, b) => !(a < b && a >= 0 && b < sizes.docs &&
            CorpusGen.jaccard(shingles(a.toInt), shingles(b.toInt)) >= 0.5) }
          .take(3).foreach(e => out.fail(s"edge $e is not a near-duplicate pair"))
        out.dedupRecall = (p0.edges intersect planted).size.toDouble / planted.size
        val want = keepBest(cg, p0.edges)
        if (p0.kept != want)
          out.fail(s"keep-best kept ${p0.kept.size} docs, expected ${want.size}")
      }
      if (passes.isEmpty) out.fail("no dedup pass completed")
      // ANN ground truth: exact cosine top-10 over the generated vectors
      var hit = 0L; var total = 0L
      answers.foreach { case (b, rows) =>
        val byQ = rows.groupBy(_._1)
        (b * sizes.batchSize until (b + 1) * sizes.batchSize).foreach { q =>
          val got = byQ.getOrElse(vg.queryIdBase + q, Nil)
          if (got.map(_._3).sorted != (1 to K))
            out.fail(s"query $q: ranks ${got.map(_._3).sorted}")
          if (got.exists { case (_, n, _) => n < 0 || n >= sizes.vecs })
            out.fail(s"query $q: neighbour outside the corpus")
          hit += (got.map(_._2).toSet intersect vg.bruteForceTopK(q, K).toSet).size
          total += K
        }
      }
      out.readRecall = if (total == 0) 0.0 else hit.toDouble / total
    }
    if (tr.enabled) tr.span("bench.candidates", "lsh") {
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      val cands = Dedup.lshCandidatePairs(sigs, "doc_id", 16).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      out.candidates = cands.size
      out.usefulCandidates = (cands intersect planted).size
      Dedup.releaseCaches(spark)
    }
    out
  }

  /** The survivors keep-best must return for `edges`: per connected
    * component the highest-quality document (ties to the lower id), plus
    * every document no edge touches. */
  def keepBest(cg: CorpusGen, edges: Set[(Long, Long)]): Set[Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inGraph = parent.keySet.toSet
    val best = inGraph.groupBy(find).values.map(_.maxBy { id =>
      (cg.docs(id.toInt).quality, -id) }).toSet
    cg.docs.map(_.id).filterNot(inGraph).toSet ++ best
  }
}
