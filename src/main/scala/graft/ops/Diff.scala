package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * CDC-style snapshot diff — classify every key of two same-schema table
 * snapshots as insert / delete / update (the change feed a downstream
 * consumer replays, and the regression gate of a backfill: "the rewrite
 * changed exactly these rows and no others").
 *
 * Plan: ONE full-outer join on the key; the non-key columns ride as a
 * single struct per side and change detection is one codegen'd
 * null-safe struct comparison (`<=>`) — no per-column shuffle, no
 * column explosion. At 100 TB bucket both snapshots on the key
 * (`Bucketing.writeBucketed`) and the join runs exchange-free; the
 * output is change-sized, not table-sized, once `keepUnchanged=false`
 * (default) drops the matches.
 *
 * NULL semantics: the keys join null-safely (`<=>` per key column,
 * then one coalesced column per key), so a key holding NULL matches
 * the same NULL key on the other side — an unchanged row with a NULL
 * key column is unchanged, not a delete plus an insert. Presence is
 * detected with literal flags, not key nulls (same device as
 * `Merge.upsert`). NULL-valued fields compare equal to NULL via `<=>`,
 * so NULL→NULL is unchanged and NULL→value is an update.
 */
object Diff {

  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keyCols: Seq[String], keepUnchanged: Boolean = false): DataFrame = {
    require(oldDf.columns.toSeq == newDf.columns.toSeq,
      s"snapshot schemas differ: ${oldDf.columns.toSeq} vs ${newDf.columns.toSeq}")
    require(keyCols.nonEmpty && keyCols.forall(oldDf.columns.contains),
      s"key columns $keyCols must exist in both snapshots")
    val valCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    val ks = keyCols.indices
    def side(df: DataFrame, tag: String) = df.select(
      ks.map(i => col(keyCols(i)).as(s"__${tag}k$i")) ++
        Seq(struct(valCols.map(col): _*).as(s"__${tag}v"), lit(true).as(s"__${tag}p")): _*)
    val joined = side(oldDf, "o").join(side(newDf, "n"),
      ks.map(i => col(s"__ok$i") <=> col(s"__nk$i")).reduce(_ && _), "full_outer")
    val changeType =
      when(col("__op").isNull, lit("insert"))
        .when(col("__np").isNull, lit("delete"))
        .when(col("__ov") <=> col("__nv"), lit("unchanged"))
        .otherwise(lit("update"))
    val classified = joined.select(ks.map(i =>
      coalesce(col(s"__ok$i"), col(s"__nk$i")).as(keyCols(i))) :+
      changeType.as("change_type"): _*)
    if (keepUnchanged) classified
    else classified.where(col("change_type") =!= "unchanged")
  }
}
