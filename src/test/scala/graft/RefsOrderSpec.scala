package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SqlLifecycle, VersionedPartitioned}

/**
 * Named tags (immutable refs into main's commit history, Iceberg's
 * `CREATE TAG` surface) and declared write order (`WRITE ORDERED BY`,
 * Iceberg's SortOrder): tag reads pin exactly, vacuum retains tagged
 * commits past the retention window, and an ordered table's writes
 * produce files with disjoint stat ranges that routed range statements
 * skip.
 */
class RefsOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tags: create/replace/drop, tag reads, refs listing, vacuum retention") {
    val root = Files.createTempDirectory("graft_tags_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA tg")
    life.execute("CREATE TABLE tg.t (d DATE, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO tg.t VALUES (DATE'2024-01-01', 1)")
    life.execute("ALTER TABLE tg.t CREATE TAG rel_1.0")
    life.execute("INSERT INTO tg.t VALUES (DATE'2024-01-02', 2)")

    // the tag read pins the pre-second-insert state
    val atTag = life.query("SELECT v FROM tg.t VERSION AS OF 'rel_1.0'")
    assert(atTag.collect().toSeq == Seq(Row(1L)))
    assert(life.query("SELECT count(*) AS n FROM tg.t").head.getLong(0) == 2)

    // refs metadata lists the tag beside main
    val refs = life.query(
      "SELECT name, type, snapshot_id FROM tg.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.contains(("rel_1.0", "TAG", 1L)))
    assert(refs.exists { case (n, t, _) => n == "main" && t == "BRANCH" })

    // CREATE again fails; CREATE OR REPLACE moves the ref
    intercept[IllegalArgumentException](
      life.execute("ALTER TABLE tg.t CREATE TAG rel_1.0"))
    life.execute("ALTER TABLE tg.t CREATE OR REPLACE TAG rel_1.0 " +
      "AS OF VERSION 2")
    assert(life.query("SELECT count(*) AS n FROM tg.t " +
      "VERSION AS OF 'rel_1.0'").head.getLong(0) == 2)
    // ...and back to v1 for the vacuum check below
    life.execute(
      "ALTER TABLE tg.t CREATE OR REPLACE TAG rel_1.0 AS OF VERSION 1")

    // a tag to a nonexistent version fails loudly at CREATE time
    intercept[Exception](life.execute(
      "ALTER TABLE tg.t CREATE TAG boom AS OF VERSION 99"))
    // reading a nonexistent tag fails loudly
    val noTag = intercept[IllegalArgumentException](
      life.query("SELECT v FROM tg.t VERSION AS OF 'ghost'"))
    assert(noTag.getMessage.contains("ghost"))

    // vacuum(keepLast = 1) drops untagged old commits but RETAINS the
    // tagged version — its commit file and snapshot dirs survive
    life.execute("INSERT INTO tg.t VALUES (DATE'2024-01-03', 3)")
    val path = s"$root/tg/t"
    VersionedPartitioned.vacuum(spark, path, keepLast = 1,
      orphanMinAgeMs = 0L)
    assert(life.query("SELECT v FROM tg.t VERSION AS OF 'rel_1.0'")
      .collect().toSeq == Seq(Row(1L)))
    // the untagged middle version is gone
    intercept[Exception](
      life.query("SELECT v FROM tg.t VERSION AS OF 2").collect())

    // DROP TAG removes the ref; dropping a missing tag fails loudly
    life.execute("ALTER TABLE tg.t DROP TAG rel_1.0")
    intercept[IllegalArgumentException](
      life.execute("ALTER TABLE tg.t DROP TAG rel_1.0"))
  }

  test("SQL door: names resolve on the parsed plan — literals, backticks and struct fields stay what Spark parsed") {
    val root = Files.createTempDirectory("graft_names_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("CREATE TABLE s.t (d DATE, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO s.t VALUES (DATE'2024-01-01', 1)")
    // a double-quoted string is data, whatever it spells
    assert(life.query("""SELECT "s.t" AS x""").as[String].collect().toSeq ==
      Seq("s.t"))
    // backticked parts name the cataloged table
    assert(life.query("SELECT v FROM `s`.`t`").as[Long].collect().toSeq ==
      Seq(1L))
    // `s.t` on a struct column `s` is the field, not the table
    assert(life.query(
      "SELECT s.t AS f FROM (SELECT named_struct('t', 7) AS s)")
      .as[Int].collect().toSeq == Seq(7))
    // the read is aliased by its name: qualified columns resolve
    assert(life.query("SELECT s.t.v, t.v FROM s.t").collect().toSeq ==
      Seq(Row(1L, 1L)))
  }

  test("SQL door: a table read resolves the head it reads with one commit read") {
    val root = Files.createTempDirectory("graft_headread_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA hr")
    life.execute("CREATE TABLE hr.t (d DATE, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO hr.t VALUES (DATE'2024-01-01', 1)")
    life.execute("INSERT INTO hr.t VALUES (DATE'2024-01-02', 2)")
    val before = graft.ops.Versioned.commitFileReads.get()
    val df = life.query("SELECT v FROM hr.t")
    assert(graft.ops.Versioned.commitFileReads.get() - before == 1)
    assert(df.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("SQL door: pinned, branch, metadata and view reads register no temp view; a view cycle names its views") {
    val root = Files.createTempDirectory("graft_noviews_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA lk")
    life.execute("CREATE TABLE lk.t (d DATE, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO lk.t VALUES (DATE'2024-01-01', 1)")
    life.execute("INSERT INTO lk.t VALUES (DATE'2024-01-02', 2)")
    life.execute("ALTER TABLE lk.t CREATE TAG rel")
    life.execute("ALTER TABLE lk.t CREATE BRANCH audit")
    life.execute("CREATE VIEW lk.v AS SELECT v FROM lk.t WHERE v > 1")
    val now = java.time.Instant.now().toString
    val reads = Seq(
      "SELECT v FROM lk.t VERSION AS OF 1" -> Seq(1L),
      s"SELECT v FROM lk.t TIMESTAMP AS OF '$now'" -> Seq(1L, 2L),
      "SELECT v FROM lk.t VERSION AS OF 'rel'" -> Seq(1L, 2L),
      "SELECT v FROM lk.t.branch_audit" -> Seq(1L, 2L),
      "SELECT version AS v FROM lk.t.history" -> Seq(1L, 2L),
      "SELECT v FROM lk.v" -> Seq(2L))
    reads.foreach { case (q, want) =>
      assert(life.query(q).as[Long].collect().sorted.toSeq == want, q)
    }
    val views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).filter(_.contains("__"))
    assert(views.isEmpty, s"temp views left behind: ${views.mkString(", ")}")

    life.execute("CREATE VIEW lk.a AS SELECT * FROM lk.b")
    life.execute("CREATE VIEW lk.b AS SELECT * FROM lk.a")
    val cycle = intercept[IllegalArgumentException](
      life.query("SELECT * FROM lk.a"))
    assert(cycle.getMessage.contains("cycle") &&
      cycle.getMessage.contains("lk.a") && cycle.getMessage.contains("lk.b"),
      cycle.getMessage)
  }

  test("WRITE ORDERED BY: ordered writes give disjoint file ranges; routed ranges skip files") {
    val root = Files.createTempDirectory("graft_worder_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA wo")
    life.execute("CREATE TABLE wo.t (d DATE, k BIGINT, s STRING) " +
      "USING ICEBERG PARTITIONED BY (d)")
    life.execute("ALTER TABLE wo.t SET TBLPROPERTIES " +
      "('graft.statsColumns'='k', 'graft.maxRecordsPerFile'='100')")
    life.execute("ALTER TABLE wo.t WRITE ORDERED BY (k)")
    // 400 scattered keys into one partition → 4 files rolled along the
    // SORTED key, so each file's [min_k, max_k] is a disjoint quartile
    Seq.tabulate(400)(i =>
        (java.sql.Date.valueOf("2024-01-01"), ((i * 7919) % 400).toLong,
          s"r$i"))
      .toDF("d", "k", "s").createOrReplaceTempView("wo_src")
    life.execute("INSERT INTO wo.t SELECT * FROM wo_src")
    // a narrow range touches ~1 of the 4 files
    val narrow = life.query(
      "SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM " +
        "(SELECT * FROM wo.t WHERE k BETWEEN 10 AND 40)")
    assert(narrow.collect().toSeq == Seq(Row(31L, 10L, 40L)))
    val ranged = life.query("SELECT k, s FROM wo.t WHERE k BETWEEN 10 AND 40")
    val census = life.query("SELECT k, s FROM wo.t")
    assert(census.inputFiles.length >= 4,
      s"expected >=4 rolled files, got ${census.inputFiles.length}")
    assert(ranged.inputFiles.length < census.inputFiles.length,
      s"ordered layout must skip files: ${ranged.inputFiles.length} of " +
        s"${census.inputFiles.length}")
    assert(ranged.count() == 31)
    // UNORDERED clears the declared order
    life.execute("ALTER TABLE wo.t WRITE UNORDERED")
  }

  test("plain OPTIMIZE re-lays-out pre-existing files per the declared properties") {
    val root = Files.createTempDirectory("graft_optplain_").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA op")
    life.execute("CREATE TABLE op.t (d DATE, k BIGINT, s STRING) " +
      "USING ICEBERG PARTITIONED BY (d)")
    // files written BEFORE any layout declaration: no stats, unordered
    Seq.tabulate(400)(i =>
        (java.sql.Date.valueOf("2024-01-01"), ((i * 7919) % 400).toLong,
          s"r$i"))
      .toDF("d", "k", "s").createOrReplaceTempView("op_src")
    life.execute("INSERT INTO op.t SELECT * FROM op_src")
    val before = life.query("SELECT k FROM op.t WHERE k BETWEEN 10 AND 40")
    val beforeAll = life.query("SELECT k FROM op.t")
    assert(before.inputFiles.length == beforeAll.inputFiles.length,
      "without stats nothing can skip")
    // declare the layout, then OPTIMIZE: existing files rewrite into
    // sorted, stat-covered, size-rolled files — ranges now skip
    life.execute("ALTER TABLE op.t SET TBLPROPERTIES " +
      "('graft.statsColumns'='k', 'graft.maxRecordsPerFile'='100')")
    life.execute("ALTER TABLE op.t WRITE ORDERED BY (k)")
    life.execute("OPTIMIZE op.t")
    val after = life.query("SELECT k FROM op.t WHERE k BETWEEN 10 AND 40")
    val afterAll = life.query("SELECT k FROM op.t")
    assert(afterAll.inputFiles.length >= 4)
    assert(after.inputFiles.length < afterAll.inputFiles.length,
      s"OPTIMIZE must make ranges skip: ${after.inputFiles.length} of " +
        s"${afterAll.inputFiles.length}")
    // the rewrite is layout-only: same rows, and the metadata count
    // now answers from the fresh sidecars
    assert(after.collect().map(_.getLong(0)).sorted.toSeq ==
      (10L to 40L).toSeq)
    val n = life.query("SELECT count(*) AS n FROM op.t")
    assert(n.head.getLong(0) == 400L)
    assert(n.inputFiles.forall(_.contains("/_stats/")))
  }
}
