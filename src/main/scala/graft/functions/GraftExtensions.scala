package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Session-builder injection of the native graft kernels — the idiomatic
 * deployment path for a cluster where the session is built once by the
 * platform:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
 *   // or
 *   SparkSession.builder().withExtensions(new GraftExtensions()) ...
 * }}}
 *
 * Every session (and every cloned session of the same context) then
 * resolves `norm_tokens`, `token_shingles`, `token_stats`,
 * `winnow_fingerprint`, `vec_dot`, `sign_band_buckets` and
 * `bloom_might_contain` in SQL and
 * `expr(...)` without any per-session `register` call. The per-session
 * `TextExprs.register` / `VectorExprs.register` path stays available for
 * sessions the caller did not build (the driver contract hands this
 * library an already-constructed SparkSession, where `spark.sql.extensions`
 * can no longer take effect).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (TextExprs.injections ++ VectorExprs.injections ++
        Subword.injections ++ graft.ops.BloomPrune.injections).foreach {
      case (id, info, builder) => ext.injectFunction((id, info, builder))
    }
    // approximate routing: a no-op until a session sets its keys
    ext.injectOptimizerRule(graft.plans.ApproxRouting)
  }
}
