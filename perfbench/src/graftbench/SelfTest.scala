package graftbench

import java.nio.file.{Files, Path}

/**
 * Checks of the benchmark itself: seeded generators are byte-identical
 * for one seed and differ across seeds; both daily doors pass the output
 * checks and reach hash-equal tables for one seed; and a corrupted
 * expectation makes the checks fail.
 */
object SelfTest {
  private var failures = 0
  private def check(name: String, ok: Boolean): Unit = {
    println(s"[${if (ok) "PASS" else "FAIL"}] $name")
    if (!ok) failures += 1
  }
  private def same(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.equals(a, b)

  def run(work: Path): Int = {
    generators()
    val spark = Main.session()
    val tracer = new Tracer(spark, enabled = false, work)
    def ctx(name: String) =
      new RunCtx(spark, tracer, 11L, 0.0, Files.createDirectories(work.resolve(name)))
    val sizes = DailyRun.Sizes(tickers = 60, stepS = 1.0, minSteps = 6)
    val daily = DailyRun.run(ctx("daily"), sizes)
    daily.failures.foreach(f => println(s"  daily: $f"))
    check("daily passes its output checks through both doors", daily.failures.isEmpty)
    check("the DataFrame and SQL doors reach hash-equal tables",
      daily.notes.exists(_.startsWith("final digests")) &&
        !daily.failures.exists(_.startsWith("the doors end with different tables")))
    // one corrected cent in one expected bar must fail the checks
    val corrupt = (g: BarGen) => new BarGen(g.seed, g.nTickers) {
      override def kept(t: Int, day: Int, ver: Int): Bar = {
        val b = super.kept(t, day, ver)
        if (t == 3 && day == 2) b.copy(close = b.close + 1) else b
      }
    }
    val bad = DailyRun.run(ctx("daily_bad"), sizes, corrupt)
    check("a corrupted daily expectation fails the checks of both doors",
      Seq("DataFrame door production", "SQL door production")
        .forall(p => bad.failures.exists(_.startsWith(p))))

    val cs = CorpusRun.Sizes(docs = 600, clusters = 30, clusterSize = 4,
      vecs = 2000, dim = 16, centres = 8, batches = 2, batchSize = 16,
      passS = 1.0, minPasses = 2)
    val corpus = CorpusRun.run(ctx("corpus"), cs)
    corpus.failures.foreach(f => println(s"  corpus_dedup: $f"))
    check("corpus_dedup passes its output checks", corpus.failures.isEmpty)
    check("planted pairs are found", corpus.dedupRecall > 0.8)
    check("ANN recall@10 is measured", corpus.readRecall > 0.5)
    val cg = new CorpusGen(11L, cs.docs, cs.clusters, cs.clusterSize)
    val edges = (0 until cs.clusters).map(c => (c * 4L, c * 4L + 1)).toSet
    val flipped = new CorpusGen(11L, cs.docs, cs.clusters, cs.clusterSize) {
      override def doc(id: Int): Doc = { val d = super.doc(id); d.copy(quality = -d.quality) }
    }
    check("a corrupted keep-best expectation fails the check",
      CorpusRun.keepBest(cg, edges) != CorpusRun.keepBest(flipped, edges))
    spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }

  private def generators(): Unit = {
    val (a, b, c) = (new BarGen(5, 300), new BarGen(5, 300), new BarGen(6, 300))
    check("bars: same seed, byte-identical feeds",
      a.steps.take(12).forall(s => same(a.canonicalBytes(s.day, s.ver),
        b.canonicalBytes(s.day, s.ver))))
    check("bars: another seed, different feeds",
      a.steps.take(12).forall(s => !same(a.canonicalBytes(s.day, s.ver),
        c.canonicalBytes(s.day, s.ver))))
    check("bars: planted duplicates, late bars and corrections occur",
      a.steps.take(12).exists(s => a.feed(s.day, s.ver).size > 300) &&
        a.steps.exists(_.ver == 1))
    val corpus = (s: Long) => new CorpusGen(s, 2000, 50, 5).canonicalBytes
    check("corpus: same seed, byte-identical", same(corpus(5), corpus(5)))
    check("corpus: another seed, different", !same(corpus(5), corpus(6)))
    val vecs = (s: Long) => new VecGen(s, 2000, 16, 8, 2, 16).canonicalBytes
    check("embeddings: same seed, byte-identical", same(vecs(5), vecs(5)))
    check("embeddings: another seed, different", !same(vecs(5), vecs(6)))
  }
}
