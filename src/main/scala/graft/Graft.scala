package graft

import org.apache.spark.sql.SparkSession

/**
 * Library facade: one place to get a correctly-configured session and
 * reach every operator family. A user of the reference pipeline
 * switches by building a session here and composing the `ops`/`ext`
 * operators (or registering the SQL kernels) — see README for the
 * module map and SURVEY.md §8 for the operator ↔ verification matrix.
 *
 * {{{
 *   val spark = Graft.session("my-app", "local[8]")
 *   val bars  = graft.ops.Ingest.dailyBars(feed, Seq("ticker"), "ts", "price", "id")
 *   val roll  = graft.ops.Rolling.forDay(bars, ds, Seq("ticker"), "date", ...)
 *   val dupes = graft.ext.Dedup.minhashNearDups(docs, "doc_id", "text", 128, 32, 3, 0.5)
 * }}}
 */
object Graft {

  /** The codegen settings `session` applies so that generated classes
    * are reused across runs. The 1000-entry cache is over twice the
    * working set measured on the repo benchmark: a whole `daily` run
    * (set-up and five steps through both doors and their reads)
    * compiles 326 distinct classes, and a whole `corpus_dedup` run
    * (index build, five dedup passes and their query batches) 162. */
  val codegenReuse: Map[String, String] = Map(
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /**
   * Build (or extend) a session with the engine's recommended settings:
   *  - native kernels injected via `GraftExtensions` (norm_tokens,
   *    token_shingles, token_stats, winnow_fingerprint, vec_dot,
   *    sign_band_buckets, bloom_might_contain available in SQL/expr on
   *    every session);
   *  - UTC session timezone (oracle/dataset portability);
   *  - caller-sized shuffle partitions (set this to ~2-3× total
   *    executor cores on a real cluster; Spark's 200 default is wrong
   *    in both directions — too many for laptops, too few at 100 TB);
   *  - percentile routing ON
   *    (`spark.graft.approx.percentileAccuracy=10000`): exact
   *    percentile aggregates are rewritten to the bounded-state
   *    `approx_percentile` sketch (rank error ≤ n/10000) by the
   *    injected `plans.ApproxRouting` rule — the exact form buffers
   *    every group value on one reducer, which is the wrong default
   *    for a 100 TB pipeline session. Opt back into exact semantics
   *    per session with
   *    `spark.conf.unset("spark.graft.approx.percentileAccuracy")` (the
   *    correctness-gate harnesses build raw sessions and stay exact).
   *  - generated-class reuse (`codegenReuse`): whole-stage codegen
   *    class names carry no stage id, and the JVM-wide Janino class
   *    cache holds a daily run's and a dedup pass's classes. With
   *    Spark's defaults a warm JVM recompiles almost every class on
   *    every run: a stage whose code is identical misses the cache when
   *    its stage id shifts (a read that unions one more snapshot), and
   *    the default 100 entries are fewer than one day's classes, so the
   *    two front doors, and the stages within one dedup pass, evict
   *    each other. The compiles run inside tasks, so they show up as
   *    job time, not driver time. Primitive literals are still inlined
   *    into generated code, so a day's new `ds` or load timestamp
   *    compiles a few fresh classes. The cache size is a static,
   *    JVM-wide setting read once, at the first codegen: it applies
   *    only when this call creates the JVM's first session. The
   *    class-name setting is per session and always applies.
   * AQE stays on (Spark 4 default): runtime coalescing, skew-join
   * splitting and broadcast re-planning are load-bearing at scale.
   */
  def session(appName: String, master: String = "",
      shufflePartitions: Int = 0): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new functions.GraftExtensions())
      .config("spark.sql.session.timeZone", "UTC")
      .config(plans.ApproxRouting.PercentileAccuracyKey, "10000")
      .config(codegenReuse)
    val b1 = if (master.nonEmpty) b.master(master) else b
    val b2 = if (shufflePartitions > 0)
      b1.config("spark.sql.shuffle.partitions", shufflePartitions) else b1
    b2.getOrCreate()
  }

  /** Register the native SQL kernels on a session built elsewhere
    * (the driver-contract path — extensions cannot be injected into an
    * already-constructed session). Idempotent. */
  def registerFunctions(spark: SparkSession): Unit = {
    functions.TextExprs.register(spark)
    functions.VectorExprs.register(spark)
    functions.Subword.register(spark)
    ops.BloomPrune.register(spark)
  }
}
