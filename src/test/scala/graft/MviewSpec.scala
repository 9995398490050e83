package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SqlLifecycle

/**
 * Materialized views through the statement door (`CREATE/REFRESH/DROP
 * MATERIALIZED VIEW` → ops/Mview + IncrementalAgg delta maintenance):
 * every refresh folds only the changed partitions and the result
 * always hash-equals a from-scratch recompute — including through
 * partition overwrites, metadata partition deletes, merge-on-read row
 * deletes, and group death.
 */
class MviewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkLife(): (SqlLifecycle, String) = {
    val root = Files.createTempDirectory("graft_mview_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA mv")
    life.execute("CREATE TABLE mv.src (d DATE, grp STRING, amt " +
      "DECIMAL(10,2), flag BIGINT) USING ICEBERG PARTITIONED BY (d)")
    (life, root)
  }

  private def ins(life: SqlLifecycle, rows: (String, String, String, Long)*)
      : Unit =
    life.execute("INSERT INTO mv.src VALUES " + rows.map { case (d, g, a, f) =>
      s"(DATE'$d','$g',$a,$f)"
    }.mkString(","))

  /** The from-scratch recompute of the view, for equality checks. */
  private def recompute(life: SqlLifecycle) =
    life.query("SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
        "WHERE flag = 1 GROUP BY grp")
      .orderBy("grp").collect().toSeq

  private def mvRows(life: SqlLifecycle) =
    life.query("SELECT grp, n, total FROM mv.v")
      .orderBy("grp").collect().toSeq

  test("incremental refresh tracks inserts, overwrites, deletes, MoR deletes, group death") {
    val (life, _) = mkLife()
    ins(life, ("2024-01-01", "a", "10.00", 1), ("2024-01-01", "b", "5.00", 1),
      ("2024-01-02", "a", "2.50", 1), ("2024-01-02", "b", "1.00", 0))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    assert(mvRows(life) == recompute(life))

    // a no-op refresh is a no-op
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))

    // new partition + INSERT folding into an existing one
    ins(life, ("2024-01-03", "c", "7.00", 1), ("2024-01-01", "a", "3.00", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))

    // the view is a snapshot between refreshes: source moves, view
    // stays until the next refresh
    ins(life, ("2024-01-04", "a", "100.00", 1))
    val before = mvRows(life)
    assert(before != recompute(life))
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))

    // metadata partition delete (a whole day retracts)
    life.execute("DELETE FROM mv.src WHERE d = DATE'2024-01-04'")
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))

    // merge-on-read ROW delete: a delete-only commit rewrites no
    // files; the refresh must still see it (changedSides treats a
    // moved delete set as a touched partition)
    life.execute("DELETE FROM mv.src WHERE grp = 'b' AND flag = 1")
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))

    // group death: c's only row leaves; the group must disappear
    life.execute("DELETE FROM mv.src WHERE d = DATE'2024-01-03'")
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    val rows = mvRows(life)
    assert(rows == recompute(life))
    assert(!rows.exists(_.getString(0) == "c"))

    // double refresh with no source movement: idempotent
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))

    // FULL recompute agrees with the incremental state
    life.execute("REFRESH MATERIALIZED VIEW mv.v FULL")
    assert(mvRows(life) == recompute(life))
  }

  test("materialized views are read-only, drop by the matching verb, loud rejections") {
    val (life, _) = mkLife()
    ins(life, ("2024-01-01", "a", "1.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    // every mutation verb is rejected with the MV named
    for (stmt <- Seq(
      "INSERT INTO mv.v VALUES ('x', 1, 1.0)",
      "DELETE FROM mv.v WHERE grp = 'a'",
      "UPDATE mv.v SET n = 2 WHERE grp = 'a'",
      "TRUNCATE TABLE mv.v",
      "DROP TABLE mv.v")) {
      val e = intercept[Exception](life.execute(stmt))
      assert(e.getMessage != null && e.getMessage.contains("mv.v"), stmt)
    }
    // unsupported aggregate shapes are rejected at CREATE, loudly
    val bad = intercept[IllegalArgumentException](life.execute(
      "CREATE MATERIALIZED VIEW mv.bad AS SELECT grp, median(amt) AS a " +
        "FROM mv.src GROUP BY grp"))
    assert(bad.getMessage.contains("median(amt)"))
    // count(DISTINCT) is not delta-maintainable through this door
    val badD = intercept[IllegalArgumentException](life.execute(
      "CREATE MATERIALIZED VIEW mv.bad AS SELECT grp, " +
        "count(DISTINCT amt) AS a FROM mv.src GROUP BY grp"))
    assert(badD.getMessage.contains("unsupported"))
    // duplicate name / missing source / refresh of a non-view
    intercept[IllegalArgumentException](life.execute(
      "CREATE MATERIALIZED VIEW mv.v AS SELECT grp, count(*) AS n " +
        "FROM mv.src GROUP BY grp"))
    intercept[IllegalArgumentException](life.execute(
      "REFRESH MATERIALIZED VIEW mv.src"))
    life.execute("DROP MATERIALIZED VIEW mv.v")
    intercept[IllegalArgumentException](life.execute(
      "DROP MATERIALIZED VIEW mv.v"))
    // gone from reads too
    intercept[Exception](life.query("SELECT * FROM mv.v").collect())
  }

  test("join views: two-sided delta rule with a composite cursor") {
    val root = Files.createTempDirectory("graft_mviewj_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA mj")
    life.execute("CREATE TABLE mj.fact (d DATE, k BIGINT, amt " +
      "DECIMAL(10,2)) USING ICEBERG PARTITIONED BY (d)")
    life.execute("CREATE TABLE mj.dim (r STRING, k BIGINT) " +
      "USING ICEBERG PARTITIONED BY (r)")
    life.execute("INSERT INTO mj.fact VALUES (DATE'2024-01-01',1,10.00)," +
      "(DATE'2024-01-01',2,5.00),(DATE'2024-01-02',1,2.00)")
    life.execute("INSERT INTO mj.dim VALUES ('east',1),('west',2)")
    life.execute("CREATE MATERIALIZED VIEW mj.v AS " +
      "SELECT r, count(*) AS n, sum(amt) AS total " +
      "FROM mj.fact JOIN mj.dim ON mj.fact.k = mj.dim.k GROUP BY r")
    def recompute() = life.query(
      "SELECT r, count(*) AS n, sum(amt) AS total FROM mj.fact f " +
        "JOIN mj.dim dm ON f.k = dm.k GROUP BY r")
      .orderBy("r").collect().toSeq
    def mv() = life.query("SELECT r, n, total FROM mj.v")
      .orderBy("r").collect().toSeq
    assert(mv() == recompute())
    // fact-side delta only
    life.execute("INSERT INTO mj.fact VALUES (DATE'2024-01-03',2,7.00)")
    life.execute("REFRESH MATERIALIZED VIEW mj.v")
    assert(mv() == recompute())
    // dim-side delta only: key 2 migrates west → north (old group
    // loses its rows, a NEW group appears)
    life.execute("DELETE FROM mj.dim WHERE r = 'west'")
    life.execute("INSERT INTO mj.dim VALUES ('north',2)")
    life.execute("REFRESH MATERIALIZED VIEW mj.v")
    val rows = mv()
    assert(rows == recompute())
    assert(rows.exists(_.getString(0) == "north") &&
      !rows.exists(_.getString(0) == "west"))
    // both sides move in one window
    life.execute("INSERT INTO mj.fact VALUES (DATE'2024-01-04',3,1.00)")
    life.execute("INSERT INTO mj.dim VALUES ('south',3)")
    life.execute("REFRESH MATERIALIZED VIEW mj.v")
    assert(mv() == recompute())
    // USING form parses to the same definition
    life.execute("CREATE MATERIALIZED VIEW mj.v2 AS " +
      "SELECT r, count(*) AS n, sum(amt) AS total " +
      "FROM mj.fact JOIN mj.dim USING (k) GROUP BY r")
    assert(life.query("SELECT r, n, total FROM mj.v2")
      .orderBy("r").collect().toSeq == recompute())
    // ambiguous non-key columns are refused loudly
    val amb = intercept[IllegalArgumentException](life.execute(
      "CREATE MATERIALIZED VIEW mj.bad AS SELECT k, count(*) AS n " +
        "FROM mj.fact JOIN mj.dim ON mj.fact.amt = mj.dim.r GROUP BY k"))
    assert(amb.getMessage.contains("same-named") ||
      amb.getMessage.contains("join"))
  }

  test("a crash inside the state swap recovers: state and cursor stay paired") {
    val (life, root) = mkLife()
    ins(life, ("2024-01-01", "a", "1.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    ins(life, ("2024-01-02", "b", "2.00", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    val good = mvRows(life)
    assert(good == recompute(life))
    // simulate swapTable dying BETWEEN its two renames: live dir moved
    // to the hidden .old sibling, replacement never renamed in
    val stateDir = java.nio.file.Paths.get(root, "mv", "v", "data")
    val hidden = stateDir.resolveSibling("." + stateDir.getFileName + ".old")
    java.nio.file.Files.move(stateDir, hidden)
    assert(!java.nio.file.Files.exists(stateDir))
    // the next read/refresh first runs recoverSwap: the previous
    // state+cursor pair comes back intact — never a torn view
    assert(mvRows(life) == good)
    ins(life, ("2024-01-03", "c", "3.00", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))
  }

  test("streaming subscription: maintainedMview auto-refreshes, checkpoint-free") {
    val (life, root) = mkLife()
    ins(life, ("2024-01-01", "a", "1.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    ins(life, ("2024-01-02", "b", "2.00", 1), ("2024-01-03", "a", "3.00", 1))
    val d = graft.ops.Mview.Def.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "mv", "v",
        graft.ops.Mview.DefFile)))
    val q = graft.pipeline.Streaming.maintainedMview(spark, d,
      s"$root/mv/src", s"$root/mv/v/data")
    q.awaitTermination()
    assert(mvRows(life) == recompute(life))
    // a second AvailableNow run with no source movement is a no-op
    // restart (no checkpoint anywhere), and SHOW TBLPROPERTIES audits
    // a declared layout in one statement
    val q2 = graft.pipeline.Streaming.maintainedMview(spark, d,
      s"$root/mv/src", s"$root/mv/v/data")
    q2.awaitTermination()
    assert(mvRows(life) == recompute(life))
    life.execute("ALTER TABLE mv.src SET TBLPROPERTIES " +
      "('graft.statsColumns'='amt')")
    life.execute("ALTER TABLE mv.src WRITE ORDERED BY (amt)")
    val props = life.execute("SHOW TBLPROPERTIES mv.src").get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props == Map("graft.statsColumns" -> "amt",
      "graft.writeOrderedBy" -> "amt"))
  }

  test("extended views: min/max/avg maintained exactly through extremum churn") {
    val (life, _) = mkLife()
    ins(life, ("2024-01-01", "a", "10.00", 1), ("2024-01-01", "a", "2.00", 1),
      ("2024-01-01", "b", "5.00", 1), ("2024-01-02", "a", "7.50", 1),
      ("2024-01-02", "b", "1.00", 0))
    life.execute("CREATE MATERIALIZED VIEW mv.x AS " +
      "SELECT grp, count(*) AS n, min(amt) AS lo, max(amt) AS hi, " +
      "avg(amt) AS mean, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    // the recompute spells avg as the exact sum/count division — the
    // projection's own semantics, so equality is EXACT incl. types
    def recomputeX() = life.query("SELECT grp, count(*) AS n, " +
        "min(amt) AS lo, max(amt) AS hi, sum(amt)/count(amt) AS mean, " +
        "sum(amt) AS total FROM mv.src WHERE flag = 1 GROUP BY grp")
      .orderBy("grp").collect().toSeq
    def mvX() = life.query("SELECT grp, n, lo, hi, mean, total FROM mv.x")
      .orderBy("grp").collect().toSeq
    assert(mvX() == recomputeX())

    // pure inserts merge without any rescan (least/greatest)
    ins(life, ("2024-01-03", "a", "20.00", 1), ("2024-01-03", "b", "0.50", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.x")
    assert(mvX() == recomputeX())

    // delete the current MAX of group a (MoR row delete): the rescan
    // path must recompute a's extremes from the source
    life.execute("DELETE FROM mv.src WHERE amt = 20.00")
    life.execute("REFRESH MATERIALIZED VIEW mv.x")
    assert(mvX() == recomputeX())

    // delete strictly-inside values (7.50 is neither a's min nor max):
    // provably cannot de-extreme — still exact
    life.execute("DELETE FROM mv.src WHERE amt = 7.50")
    life.execute("REFRESH MATERIALIZED VIEW mv.x")
    assert(mvX() == recomputeX())

    // the semantic claim: mean tracks Spark's own avg() to rounding
    val viaAvg = life.query("SELECT grp, round(avg(amt), 6) AS m " +
        "FROM mv.src WHERE flag = 1 GROUP BY grp")
      .orderBy("grp").collect().map(r => (r.getString(0),
        Option(r.getDecimal(1)).map(_.doubleValue))).toSeq
    val viaMv = life.query(
        "SELECT grp, round(CAST(mean AS DOUBLE), 6) AS m FROM mv.x")
      .orderBy("grp").collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]))).toSeq
    assert(viaAvg.nonEmpty && viaAvg == viaMv)

    // whole-partition retraction kills day 1; group death must drop b
    // when its last flagged row leaves
    life.execute("DELETE FROM mv.src WHERE d = DATE'2024-01-01'")
    life.execute("REFRESH MATERIALIZED VIEW mv.x")
    assert(mvX() == recomputeX())
    life.execute("DELETE FROM mv.src WHERE grp = 'b'")
    life.execute("REFRESH MATERIALIZED VIEW mv.x")
    val rows = mvX()
    assert(rows == recomputeX())
    assert(!rows.exists(_.getString(0) == "b"))

    // FULL rebuild agrees with the maintained state
    life.execute("REFRESH MATERIALIZED VIEW mv.x FULL")
    assert(mvX() == recomputeX())

    // NULL exactness: a group whose non-null values all leave must
    // project NULL sum/avg while count(*) keeps counting
    life.execute("INSERT INTO mv.src VALUES " +
      "(DATE'2024-02-01','z',NULL,1),(DATE'2024-02-01','z',4.00,1)")
    life.execute("REFRESH MATERIALIZED VIEW mv.x")
    assert(mvX() == recomputeX())
    life.execute("DELETE FROM mv.src WHERE grp = 'z' AND amt = 4.00")
    life.execute("REFRESH MATERIALIZED VIEW mv.x")
    val z = mvX().find(_.getString(0) == "z").get
    assert(z.getLong(1) == 1L && z.isNullAt(2) && z.isNullAt(3) &&
      z.isNullAt(4) && z.isNullAt(5), s"all-NULL group must project NULLs: $z")
    assert(mvX() == recomputeX())

  }

  test("extended views: var_samp/stddev maintained by pure subtraction — no rescan") {
    val (life, _) = mkLife()
    ins(life, ("2024-05-01", "a", "10.00", 1), ("2024-05-01", "a", "2.00", 1),
      ("2024-05-01", "b", "5.00", 1), ("2024-05-02", "a", "7.00", 1),
      ("2024-05-02", "b", "9.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.sd AS " +
      "SELECT grp, count(*) AS n, var_samp(amt) AS v, stddev(amt) AS sd " +
      "FROM mv.src WHERE flag = 1 GROUP BY grp")
    // the recompute spells the projection's own algebra — the exact
    // (cnt, sum, sumsq) triple folded into one expression — so
    // equality is EXACT, not within-epsilon
    def recomputeSd() = life.query("SELECT grp, count(*) AS n, " +
        "CASE WHEN count(amt) > 1 THEN greatest(" +
        "(sum(CAST(amt AS DOUBLE) * CAST(amt AS DOUBLE)) - " +
        "CAST(sum(amt) AS DOUBLE) * CAST(sum(amt) AS DOUBLE) / count(amt))" +
        " / (count(amt) - 1), CAST(0 AS DOUBLE)) END AS v, " +
        "CASE WHEN count(amt) > 1 THEN sqrt(greatest(" +
        "(sum(CAST(amt AS DOUBLE) * CAST(amt AS DOUBLE)) - " +
        "CAST(sum(amt) AS DOUBLE) * CAST(sum(amt) AS DOUBLE) / count(amt))" +
        " / (count(amt) - 1), CAST(0 AS DOUBLE))) END AS sd " +
        "FROM mv.src WHERE flag = 1 GROUP BY grp")
      .orderBy("grp").collect().toSeq
    def mvSd() = life.query("SELECT grp, n, v, sd FROM mv.sd")
      .orderBy("grp").collect().toSeq
    assert(mvSd() == recomputeSd())
    // inserts AND the delete of a group's extreme value both fold by
    // subtraction — variance state never takes the min/max rescan
    ins(life, ("2024-05-03", "a", "20.00", 1), ("2024-05-03", "b", "0.50", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.sd")
    assert(mvSd() == recomputeSd())
    life.execute("DELETE FROM mv.src WHERE amt = 20.00")
    life.execute("REFRESH MATERIALIZED VIEW mv.sd")
    assert(mvSd() == recomputeSd())
    // semantic claim: the projection tracks Spark's own var_samp()
    val viaFn = life.query("SELECT grp, round(var_samp(amt), 6) AS m " +
        "FROM mv.src WHERE flag = 1 GROUP BY grp")
      .orderBy("grp").collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq
    val viaMv = life.query("SELECT grp, round(v, 6) AS m FROM mv.sd")
      .orderBy("grp").collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq
    assert(viaFn.nonEmpty && viaFn == viaMv)
    // a one-row group projects NULL exactly like VAR_SAMP; an all-equal
    // group projects exactly 0 (the greatest(…, 0) clamp)
    ins(life, ("2024-05-04", "solo", "3.00", 1),
      ("2024-05-04", "flat", "4.00", 1), ("2024-05-04", "flat", "4.00", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.sd")
    assert(mvSd() == recomputeSd())
    val rows = mvSd().map(r => r.getString(0) -> r).toMap
    assert(rows("solo").isNullAt(2) && rows("solo").isNullAt(3))
    assert(rows("flat").getDouble(2) == 0.0 && rows("flat").getDouble(3) == 0.0)
    // FULL rebuild agrees with the maintained state
    life.execute("REFRESH MATERIALIZED VIEW mv.sd FULL")
    assert(mvSd() == recomputeSd())
  }

  test("extended JOIN views: min/max/avg maintained through churn on EACH side") {
    val (life, _) = mkLife()
    ins(life, ("2024-03-01", "a", "10.00", 1), ("2024-03-01", "a", "3.00", 1),
      ("2024-03-02", "z", "8.00", 1), ("2024-03-02", "z", null, 1))
    life.execute("CREATE TABLE mv.dim (r STRING, grp STRING) " +
      "USING ICEBERG PARTITIONED BY (r)")
    life.execute("INSERT INTO mv.dim VALUES ('east','a'),('west','z')")
    life.execute("CREATE MATERIALIZED VIEW mv.jx AS " +
      "SELECT r, count(*) AS n, min(amt) AS lo, max(amt) AS hi, " +
      "avg(amt) AS mean, stddev(amt) AS sd " +
      "FROM mv.src JOIN mv.dim USING (grp) GROUP BY r")
    // stddev rides the join view's extended state too: sumsq subtracts
    // through the kept branch and recomputes through the rescan branch
    // — the recompute spells the projection's exact algebra
    def recomputeJ() = life.query("SELECT r, count(*) AS n, " +
        "min(amt) AS lo, max(amt) AS hi, sum(amt)/count(amt) AS mean, " +
        "CASE WHEN count(amt) > 1 THEN sqrt(greatest(" +
        "(sum(CAST(amt AS DOUBLE) * CAST(amt AS DOUBLE)) - " +
        "CAST(sum(amt) AS DOUBLE) * CAST(sum(amt) AS DOUBLE) / count(amt))" +
        " / (count(amt) - 1), CAST(0 AS DOUBLE))) END AS sd " +
        "FROM mv.src JOIN mv.dim USING (grp) GROUP BY r")
      .orderBy("r").collect().toSeq
    def mvJ() = life.query("SELECT r, n, lo, hi, mean, sd FROM mv.jx")
      .orderBy("r").collect().toSeq
    assert(mvJ() == recomputeJ())

    // fact-side insert raises a max: least/greatest merge, no rescan
    ins(life, ("2024-03-03", "a", "99.00", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.jx")
    assert(mvJ() == recomputeJ())

    // fact-side delete of that max: the affected-group rescan runs
    // over the JOINED relation at the window's end versions
    life.execute("DELETE FROM mv.src WHERE amt = 99.00")
    life.execute("REFRESH MATERIALIZED VIEW mv.jx")
    assert(mvJ() == recomputeJ())

    // dim-side insert fans z's rows into east too (F_unch ⋈ ΔD_new)
    life.execute("INSERT INTO mv.dim VALUES ('east','z')")
    life.execute("REFRESH MATERIALIZED VIEW mv.jx")
    assert(mvJ() == recomputeJ())

    // dim-side row delete strips group a from east — east keeps only
    // z's rows, so its extremes MUST de-extreme via the rescan
    life.execute("DELETE FROM mv.dim WHERE grp = 'a'")
    life.execute("REFRESH MATERIALIZED VIEW mv.jx")
    val afterDimDel = mvJ()
    assert(afterDimDel == recomputeJ())
    assert(afterDimDel.exists(_.getString(0) == "east"))

    // dim-side partition delete kills west entirely (group death)
    life.execute("DELETE FROM mv.dim WHERE r = 'west'")
    life.execute("REFRESH MATERIALIZED VIEW mv.jx")
    val rows2 = mvJ()
    assert(rows2 == recomputeJ())
    assert(!rows2.exists(_.getString(0) == "west"))

    // FULL rebuild agrees with the maintained state
    life.execute("REFRESH MATERIALIZED VIEW mv.jx FULL")
    assert(mvJ() == recomputeJ())
  }

  test("a multi-line WHERE predicate round-trips the def file intact") {
    val (life, root) = mkLife()
    ins(life, ("2024-01-01", "a", "10.00", 1), ("2024-01-01", "b", "5.00", 0))
    // the predicate spans lines (statements are not whitespace-
    // normalized); an unescaped def render would truncate it to its
    // first line and every REFRESH after would fold a DIFFERENT filter
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1\n  AND amt > 1.00\nGROUP BY grp")
    val reparsed = graft.ops.Mview.Def.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "mv", "v", graft.ops.Mview.DefFile)))
    assert(reparsed.where.exists(_.contains("amt > 1.00")),
      s"re-parsed predicate lost lines: ${reparsed.where}")
    ins(life, ("2024-01-02", "a", "0.50", 1), ("2024-01-02", "b", "2.00", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    val expect = life.query("SELECT grp, count(*) AS n, sum(amt) AS total " +
        "FROM mv.src WHERE flag = 1 AND amt > 1.00 GROUP BY grp")
      .orderBy("grp").collect().toSeq
    assert(mvRows(life) == expect)
    // a def file with an unattributable line fails LOUDLY, not silently
    val e = intercept[IllegalArgumentException](
      graft.ops.Mview.Def.parse("source=mv.src\ngarbage line\n"))
    assert(e.getMessage.contains("unattributable"))
  }

  test("a failed CREATE leaves nothing cataloged — the name stays creatable") {
    val (life, _) = mkLife()
    // the source has no committed version: initialize refuses, and
    // NOTHING may be cataloged (a half-created view would block
    // re-CREATE and fail every SELECT)
    val e = intercept[IllegalArgumentException](life.execute(
      "CREATE MATERIALIZED VIEW mv.v AS SELECT grp, count(*) AS n " +
        "FROM mv.src GROUP BY grp"))
    assert(e.getMessage.contains("no") && e.getMessage.contains("version"))
    intercept[Exception](life.query("SELECT * FROM mv.v").collect())
    // after the first insert the same name creates cleanly
    ins(life, ("2024-01-01", "a", "1.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    assert(mvRows(life) == recompute(life))
  }

  test("SET AUTO REFRESH: the door subscription folds promotes; UNSET/DROP stop it") {
    val (life, _) = mkLife()
    ins(life, ("2024-01-01", "a", "1.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    // reads can transiently lose a race with the subscription's
    // atomic swap (state files replaced between plan and read) —
    // retry, that is the poll loop's job
    def eventually(cond: => Boolean): Boolean = {
      var i = 0
      var ok = false
      while (i < 60 && !ok) {
        ok = try cond catch { case scala.util.control.NonFatal(_) => false }
        if (!ok) Thread.sleep(500)
        i += 1
      }
      ok
    }
    life.execute(
      "ALTER MATERIALIZED VIEW mv.v SET AUTO REFRESH EVERY 1 SECONDS")
    ins(life, ("2024-01-02", "b", "2.00", 1))
    assert(eventually(mvRows(life) == recompute(life)),
      "the subscription must fold the promote without a manual REFRESH")
    // UNSET stops the subscription: a later promote stays unfolded
    life.execute("ALTER MATERIALIZED VIEW mv.v UNSET AUTO REFRESH")
    ins(life, ("2024-01-03", "c", "3.00", 1))
    Thread.sleep(2500)
    assert(mvRows(life) != recompute(life),
      "after UNSET no subscription may fold")
    // re-SET resumes from the swapped cursor and catches up — nothing
    // double-applies (counts would show it)
    life.execute(
      "ALTER MATERIALIZED VIEW mv.v SET AUTO REFRESH EVERY 1 SECONDS")
    assert(eventually(mvRows(life) == recompute(life)))
    life.execute("ALTER MATERIALIZED VIEW mv.v UNSET AUTO REFRESH")
    // loud edges: double UNSET, not a view
    intercept[IllegalArgumentException](life.execute(
      "ALTER MATERIALIZED VIEW mv.v UNSET AUTO REFRESH"))
    intercept[IllegalArgumentException](life.execute(
      "ALTER MATERIALIZED VIEW mv.src SET AUTO REFRESH"))
    // DROP stops a running subscription with the view (count-based:
    // other suites may have their own active streams on this session)
    val before = spark.streams.active.length
    life.execute(
      "ALTER MATERIALIZED VIEW mv.v SET AUTO REFRESH EVERY 1 SECONDS")
    assert(spark.streams.active.length == before + 1)
    life.execute("DROP MATERIALIZED VIEW mv.v")
    assert(eventually(spark.streams.active.length == before),
      "DROP must stop the auto-refresh subscription")
  }

  test("refresh cost is delta-shaped: only changed partitions are read") {
    val (life, root) = mkLife()
    ins(life, ("2024-01-01", "a", "1.00", 1), ("2024-01-02", "a", "2.00", 1),
      ("2024-01-03", "a", "3.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    ins(life, ("2024-01-04", "a", "4.00", 1))
    // the delta read touches only the new day's partition
    val (oldS, newS) = graft.ops.VersionedPartitioned.changedSides(
      spark, s"$root/mv/src",
      graft.ops.Mview.readCursor(spark, s"$root/mv/v/data"))
    assert(oldS.inputFiles.isEmpty, "a pure-insert window has no old side")
    assert(newS.inputFiles.forall(_.contains("d=2024-01-04")),
      s"delta must touch only the new day: ${newS.inputFiles.toSeq}")
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(mvRows(life) == recompute(life))
  }

  test("a plain view's SELECT schema survives INSERT + REFRESH unchanged") {
    val (life, _) = mkLife()
    ins(life, ("2024-01-01", "a", "10.00", 1), ("2024-01-02", "b", "5.00", 1))
    life.execute("CREATE MATERIALIZED VIEW mv.v AS " +
      "SELECT grp, count(*) AS n, sum(amt) AS total FROM mv.src " +
      "WHERE flag = 1 GROUP BY grp")
    val created = life.query("SELECT * FROM mv.v").schema
    ins(life, ("2024-01-01", "a", "3.00", 1), ("2024-01-03", "c", "7.00", 1))
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(life.query("SELECT * FROM mv.v").schema == created)
    life.execute("DELETE FROM mv.src WHERE d = DATE'2024-01-02'")
    life.execute("REFRESH MATERIALIZED VIEW mv.v")
    assert(life.query("SELECT * FROM mv.v").schema == created)
    assert(mvRows(life) == recompute(life))
  }

  test("a plain view's refresh job count is pinned") {
    import graft.ops.{Mview, VersionedPartitioned}
    val root = Files.createTempDirectory("graft_mvjobs_").toString
    val (src, stateDir) = (s"$root/src", s"$root/state")
    def rows(d: String, rs: (String, String)*) = rs.map { case (g, a) =>
      (java.sql.Date.valueOf(d), g, new java.math.BigDecimal(a)) }
      .toDF("d", "grp", "amt")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
    val d = Mview.Def(src, Seq("grp"), Seq("amt"), None,
      Seq(Mview.OutCol("group", "grp", "grp"),
        Mview.OutCol("count", "*", "n"), Mview.OutCol("sum", "amt", "total")))
    VersionedPartitioned.promote(rows("2024-01-01", "a" -> "1.00",
      "b" -> "2.00").unionByName(rows("2024-01-02", "a" -> "3.00")), src, "d")
    Mview.initialize(spark, d, src, stateDir)
    // rewrite day 1 and add day 3: a window with both sides
    VersionedPartitioned.promote(rows("2024-01-01", "a" -> "4.00")
      .unionByName(rows("2024-01-03", "c" -> "5.00")), src, "d")
    val (_, jobs) = Jobs.during(spark)(Mview.refresh(spark, d, src, stateDir))
    assert(Mview.project(d, Mview.rawState(spark, stateDir))
      .orderBy("grp").as[(String, Long, java.math.BigDecimal)].collect()
      .map(r => (r._1, r._2, r._3.toPlainString)).toSeq ==
      Seq(("a", 2L, "7.00"), ("c", 1L, "5.00")))
    assert(jobs == 3, s"one plain-view refresh ran $jobs jobs")
  }
}
