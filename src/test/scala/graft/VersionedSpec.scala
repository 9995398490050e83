package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Versioned, VersionedPartitioned}

/**
 * The mini table format's commit protocol: atomic visibility, snapshot
 * isolation for in-flight readers, time travel, optimistic-concurrency
 * retry, crash-orphan invisibility, and retention vacuum (SURVEY §8 —
 * the closeable part of the Iceberg-semantics gap).
 */
class VersionedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(values: Int*) = values.toSeq.toDF("v")

  test("commit/read/readAt: versions accumulate, latest wins, time travel works") {
    val root = Files.createTempDirectory("graft_ver").toString
    assert(Versioned.currentVersion(spark, root).isEmpty)
    assert(Versioned.commit(df(1, 2), root) == 1L)
    assert(Versioned.commit(df(3), root) == 2L)
    assert(Versioned.currentVersion(spark, root).contains(2L))
    assert(Versioned.read(spark, root).as[Int].collect().toSeq.sorted == Seq(3))
    assert(Versioned.readAt(spark, root, 1L)
      .as[Int].collect().toSeq.sorted == Seq(1, 2))
    intercept[IllegalArgumentException] {
      Versioned.readAt(spark, root, 99L)
    }
  }

  test("snapshot isolation: a frame resolved before a commit is unaffected by it") {
    val root = Files.createTempDirectory("graft_ver").toString
    Versioned.commit(df(1, 2), root)
    val pinned = Versioned.read(spark, root)
    Versioned.commit(df(7, 8, 9), root)
    // the pinned reader still scans its immutable snapshot dir
    assert(pinned.as[Int].collect().toSeq.sorted == Seq(1, 2))
    assert(Versioned.read(spark, root)
      .as[Int].collect().toSeq.sorted == Seq(7, 8, 9))
  }

  test("optimistic concurrency: a stolen version number is retried, both commits survive") {
    val root = Files.createTempDirectory("graft_ver").toString
    Versioned.commit(df(1), root)
    // another writer claims version 2 between our write and our commit:
    // simulate by pre-creating the commit file Versioned would want next
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap2 = "snap-rival"
    df(42).write.parquet(s"$root/$snap2")
    val out = fs.create(new HPath(root, f"_v${2L}%020d.commit"), false)
    try out.write(snap2.getBytes("UTF-8")) finally out.close()
    // our commit must land as version 3, not clobber version 2
    assert(Versioned.commit(df(5), root) == 3L)
    assert(Versioned.readAt(spark, root, 2L).as[Int].collect().toSeq == Seq(42))
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(5))
  }

  test("crash anatomy: orphan snapshots and empty commit claims are invisible") {
    val root = Files.createTempDirectory("graft_ver").toString
    Versioned.commit(df(1), root)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer died after the data write, before the commit create
    df(99).write.parquet(s"$root/snap-orphan")
    // writer died between commit create and content write
    fs.create(new HPath(root, f"_v${2L}%020d.commit"), false).close()
    assert(Versioned.currentVersion(spark, root).contains(1L))
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(1))
    // the burned version number is skipped by the next committer
    assert(Versioned.commit(df(2), root) == 3L)
  }

  test("versionedSink: one snapshot per epoch, restart appends epochs, replay is a no-op") {
    import graft.pipeline.Streaming
    val root = Files.createTempDirectory("graft_vsink").toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val table = s"$root/table"
    val schema = df(0).schema

    val ckpt = s"$root/ckpt"
    val cid = Streaming.checkpointId(ckpt)
    df(1, 2).write.mode("append").parquet(in)
    Streaming.versionedSink(spark.readStream.schema(schema).parquet(in),
      table, ckpt).awaitTermination()
    assert(Versioned.read(spark, table)
      .as[Int].collect().toSeq.sorted == Seq(1, 2))
    val h1 = Versioned.fullHistory(spark, table)
    assert(h1.map(_._3) == Seq(Some(s"epoch=$cid-0")))

    // restart on the same checkpoint: the new file is the next epoch
    df(3).write.mode("append").parquet(in)
    Streaming.versionedSink(spark.readStream.schema(schema).parquet(in),
      table, ckpt).awaitTermination()
    assert(Versioned.read(spark, table).as[Int].collect().toSeq == Seq(3))
    assert(Versioned.fullHistory(spark, table).map(_._3) ==
      Seq(Some(s"epoch=$cid-0"), Some(s"epoch=$cid-1")))

    // crash-replay of an already-committed epoch must not commit again
    assert(!Streaming.commitEpoch(df(3), table, ckpt, epoch = 1L))
    assert(Versioned.fullHistory(spark, table).size == 2)
    // …while a genuinely new epoch does
    assert(Streaming.commitEpoch(df(4), table, ckpt, epoch = 2L))
    assert(Versioned.read(spark, table).as[Int].collect().toSeq == Seq(4))
    // a FRESH checkpoint dir restarts epochs at 0 — its epoch 0 must
    // NOT be mistaken for the old stream's epoch 0 and dropped
    assert(Streaming.commitEpoch(df(5), table, s"$root/ckpt2", epoch = 0L))
    assert(Versioned.read(spark, table).as[Int].collect().toSeq == Seq(5))
    // …and the new stream's own replay still no-ops
    assert(!Streaming.commitEpoch(df(5), table, s"$root/ckpt2", epoch = 0L))
  }

  test("versionedPartitionedSink: each epoch replaces only its own partitions, replay is a no-op") {
    import graft.pipeline.Streaming
    val root = Files.createTempDirectory("graft_vpsink").toString
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val table = s"$root/table"
    val schema = pdf("x" -> 0).schema

    val ckpt = s"$root/ckpt"
    val cid = Streaming.checkpointId(ckpt)
    pdf("2024-01-01" -> 1, "2024-01-02" -> 2)
      .write.mode("append").parquet(in)
    Streaming.versionedPartitionedSink(
      spark.readStream.schema(schema).parquet(in),
      table, ckpt).awaitTermination()
    assert(state(VersionedPartitioned.read(spark, table)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 2))
    val day1Snap = VersionedPartitioned.history(spark, table)
      .last._2.entries("date=2024-01-01")
    assert(VersionedPartitioned.history(spark, table)
      .flatMap(_._2.tag) == Seq(s"epoch=$cid-0"))

    // restart: a late-data file for day 2 only — the next epoch
    // replaces day 2 and INHERITS day 1's snapshot by reference
    pdf("2024-01-02" -> 22).write.mode("append").parquet(in)
    Streaming.versionedPartitionedSink(
      spark.readStream.schema(schema).parquet(in),
      table, ckpt).awaitTermination()
    assert(state(VersionedPartitioned.read(spark, table)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22))
    assert(VersionedPartitioned.history(spark, table)
      .last._2.entries("date=2024-01-01") == day1Snap,
      "untouched partition must ride its original snapshot")

    // crash-replay of a committed epoch must not commit again
    assert(!Streaming.commitPartitionedEpoch(
      pdf("2024-01-02" -> 99), table, "date", ckpt, epoch = 1L))
    assert(VersionedPartitioned.history(spark, table).size == 2)
    assert(state(VersionedPartitioned.read(spark, table)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22))
    // …while a genuinely new epoch does
    assert(Streaming.commitPartitionedEpoch(
      pdf("2024-01-03" -> 3), table, "date", ckpt, epoch = 2L))
    assert(state(VersionedPartitioned.read(spark, table)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22, "2024-01-03" -> 3))
    // a fresh checkpoint's epoch 0 is NOT the old stream's epoch 0
    assert(Streaming.commitPartitionedEpoch(
      pdf("2024-01-04" -> 4), table, "date", s"$root/ckpt2", epoch = 0L))
    assert(!Streaming.commitPartitionedEpoch(
      pdf("2024-01-04" -> 44), table, "date", s"$root/ckpt2", epoch = 0L))
    assert(state(VersionedPartitioned.read(spark, table))
      .contains("2024-01-04" -> 4))
  }

  test("upsertSink + equalityDeleteSink: keyed CDC writes, exactly-once, MoR deletes") {
    import graft.pipeline.Streaming
    val root = Files.createTempDirectory("graft_upsink").toString
    val (in, table, ckpt) = (s"$root/in", s"$root/table", s"$root/ckpt")
    new java.io.File(in).mkdirs()
    def rows(t: (String, Long, Double)*) = t.toSeq.toDF("date", "k", "v")
    val schema = rows(("x", 0L, 0.0)).schema
    rows(("2024-01-01", 1L, 1.0), ("2024-01-01", 2L, 2.0),
      ("2024-01-02", 3L, 3.0)).write.mode("append").parquet(in)
    def runUpsert() = Streaming.upsertSink(
      spark.readStream.schema(schema).parquet(in),
      table, ckpt, "date", Seq("date", "k")).awaitTermination()
    runUpsert()
    def state() = VersionedPartitioned.read(spark, table)
      .select(col("date").cast("string"), col("k"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(state() == Set(("2024-01-01", 1L, 1.0),
      ("2024-01-01", 2L, 2.0), ("2024-01-02", 3L, 3.0)))

    // restart with a CDC batch: a new version of key (01,1) plus a
    // brand-new key — the old row leaves, day 02's key 3 is untouched
    rows(("2024-01-01", 1L, 10.0), ("2024-01-02", 4L, 4.0))
      .write.mode("append").parquet(in)
    runUpsert()
    assert(state() == Set(("2024-01-01", 1L, 10.0),
      ("2024-01-01", 2L, 2.0), ("2024-01-02", 3L, 3.0),
      ("2024-01-02", 4L, 4.0)))
    val cid = Streaming.checkpointId(ckpt)
    assert(VersionedPartitioned.history(spark, table)
      .flatMap(_._2.tag) == Seq(s"epoch=$cid-0", s"epoch=$cid-1"))

    // a no-new-data restart commits nothing (exactly-once idle)
    val v2 = VersionedPartitioned.currentVersion(spark, table)
    runUpsert()
    assert(VersionedPartitioned.currentVersion(spark, table) == v2)

    // keys must pin rows to their partition — loud otherwise
    intercept[IllegalArgumentException](VersionedPartitioned.upsertInto(
      rows(("2024-01-01", 1L, 0.0)), table, "date", Seq("k")))

    // equality-delete stream: keys only, one MoR sidecar commit per
    // epoch — ZERO partition rewrite (entries keep their snapshots)
    val delIn = s"$root/delin"
    new java.io.File(delIn).mkdirs()
    val delSchema = Seq(("x", 0L)).toDF("date", "k").schema
    Seq(("2024-01-01", 2L), ("2024-01-02", 3L)).toDF("date", "k")
      .write.mode("append").parquet(delIn)
    val entriesBefore =
      VersionedPartitioned.history(spark, table).last._2.entries
    def runDelete() = Streaming.equalityDeleteSink(
      spark.readStream.schema(delSchema).parquet(delIn),
      table, s"$root/ckptdel").awaitTermination()
    runDelete()
    assert(state() == Set(("2024-01-01", 1L, 10.0),
      ("2024-01-02", 4L, 4.0)))
    val after = VersionedPartitioned.history(spark, table).last._2
    assert(after.entries == entriesBefore,
      "an equality-delete commit must rewrite no partition")
    assert(after.deletes.nonEmpty, "the delete rides a MoR sidecar")
    // replay with no new key files: no commit
    val v3 = VersionedPartitioned.currentVersion(spark, table)
    runDelete()
    assert(VersionedPartitioned.currentVersion(spark, table) == v3)
  }

  test("Shred: JSON paths materialize typed, dirty docs yield NULL, shredded stats skip files") {
    import graft.ops.Shred
    val root = Files.createTempDirectory("graft_shred").toString
    val df = (1 to 2000).map(i =>
        (s"t${i % 2}", s"""{"k": ${i % 100}, "s": "x$i"}"""))
      .toDF("g", "props")
    val sh = Shred.shredded(df, "props", Seq(
      Shred.Field("$.k", "bigint", "props_k"),
      Shred.Field("$.s", "string", "props_s")))
    assert(sh.schema("props_k").dataType ==
      org.apache.spark.sql.types.LongType)
    val one = sh.where(col("props") === """{"k": 7, "s": "x7"}""")
      .select("props_k", "props_s").head()
    assert(one.getLong(0) == 7L && one.getString(1) == "x7")
    // total extraction: malformed JSON, missing path, mistyped value
    // all shred to NULL — ingestion never fails on dirty data
    val dirty = Seq("not json at all", """{"other": 1}""",
      """{"k": "not a number"}""").toDF("props").withColumn("g", lit("t0"))
    val shDirty = Shred.shredded(dirty, "props",
      Seq(Shred.Field("$.k", "bigint", "props_k")))
    assert(shDirty.where(col("props_k").isNull).count() == 3)

    // shredded stats sidecars skip files on the typed column: the
    // write-order clustering gives files disjoint props_k ranges
    VersionedPartitioned.promote(sh, root, "g",
      statsCols = Seq("props_k"), clusterBy = Seq("props_k"),
      maxRecordsPerFile = 200)
    val census = VersionedPartitioned.prunedFilesWhere(spark, root, Nil)
    val pruned = VersionedPartitioned.prunedFilesWhere(spark, root,
      Seq(("props_k", Some(10L), Some(19L))))
    assert(pruned.size < census.size,
      s"shredded range must skip files: ${pruned.size} of ${census.size}")
    val got = VersionedPartitioned.readPrunedWhere(spark, root,
        Seq(("props_k", Some(10L), Some(19L))))
      .where(col("props_k").between(10L, 19L)).count()
    assert(got == df.where(expr("CAST(get_json_object(props, '$.k') AS LONG)")
      .between(10L, 19L)).count())
  }

  test("readAsOf: timestamp resolves between commits, before-history raises, both formats agree") {
    val root = Files.createTempDirectory("graft_ver").toString
    val t0 = System.currentTimeMillis()
    Thread.sleep(25) // commit mtimes are ms-granular; keep instants distinct
    Versioned.commit(df(1), root)
    Thread.sleep(25)
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    Versioned.commit(df(2), root)
    Thread.sleep(25)
    val t2 = System.currentTimeMillis()
    // before any commit: loud failure, like readAt on a missing version
    intercept[IllegalArgumentException] { Versioned.versionAsOf(spark, root, t0) }
    // between v1 and v2 → v1; after v2 → v2 (Iceberg AS OF semantics)
    assert(Versioned.versionAsOf(spark, root, t1) == 1L)
    assert(Versioned.readAsOf(spark, root, t1).as[Int].collect().toSeq == Seq(1))
    assert(Versioned.versionAsOf(spark, root, t2) == 2L)
    assert(Versioned.readAsOf(spark, root, t2).as[Int].collect().toSeq == Seq(2))

    // partitioned format: same resolution through the shared protocol
    val proot = Files.createTempDirectory("graft_verp").toString
    val p1 = Seq((1, "a"), (2, "b")).toDF("v", "date")
    VersionedPartitioned.promote(p1, proot, "date")
    Thread.sleep(25)
    val pt = System.currentTimeMillis()
    Thread.sleep(25)
    VersionedPartitioned.promote(Seq((9, "a")).toDF("v", "date"), proot, "date")
    assert(VersionedPartitioned.readAsOf(spark, proot, pt)
      .select("v").as[Int].collect().toSeq.sorted == Seq(1, 2))
    assert(VersionedPartitioned.readAsOf(spark, proot, System.currentTimeMillis())
      .select("v").as[Int].collect().toSeq.sorted == Seq(2, 9))
  }

  test("vacuum epoch carry-forward: interleaved writers can't evict a stream's replay guard") {
    import graft.pipeline.Streaming
    // stream commits epoch 0 then 1; interleaved plain writers then push
    // both epoch-tagged commits below a keepLast=2 retention floor
    val root = Files.createTempDirectory("graft_ver").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    assert(Streaming.commitEpoch(df(10), root, ckpt, 0L))
    assert(Streaming.commitEpoch(df(11), root, ckpt, 1L))
    Versioned.commit(df(1), root)
    Versioned.commit(df(2), root)
    Versioned.commit(df(3), root)
    Versioned.vacuum(spark, root, keepLast = 2)
    // the newest epoch tag must survive on a retained commit…
    val prefix = s"epoch=${Streaming.checkpointId(ckpt)}-"
    assert(Versioned.latestTagWithPrefix(spark, root, prefix).map(_.toLong)
      .contains(1L), "newest epoch tag carried above the retention floor")
    // …so a crash-replay of epoch 1 is still a no-op, and table state is
    // the interleaved writers' latest, not the replayed batch
    assert(!Streaming.commitEpoch(df(11), root, ckpt, 1L))
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(3))
    // a genuinely new epoch still commits
    assert(Streaming.commitEpoch(df(12), root, ckpt, 2L))
  }

  test("vacuum: retention floor enforced, orphans swept, retained versions intact") {
    val root = Files.createTempDirectory("graft_ver").toString
    Versioned.commit(df(1), root)
    Versioned.commit(df(2), root)
    Versioned.commit(df(3), root)
    df(99).write.parquet(s"$root/snap-orphan")
    // a FRESH orphan looks exactly like a concurrent writer's in-flight
    // snapshot (dir exists, commit file not yet) — the age gate must
    // protect it from a racing vacuum
    val kept = Versioned.vacuum(spark, root, keepLast = 2)
    assert(kept == 1, "v1 snapshot only; fresh orphan survives the age gate")
    // past the age threshold the orphan is a crashed writer's leftover
    val removed = Versioned.vacuum(spark, root, keepLast = 2, orphanMinAgeMs = 0L)
    assert(removed == 1, "aged orphan dir")
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(3))
    assert(Versioned.readAt(spark, root, 2L).as[Int].collect().toSeq == Seq(2))
    intercept[IllegalArgumentException] {
      Versioned.readAt(spark, root, 1L)
    }
    intercept[IllegalArgumentException] {
      Versioned.vacuum(spark, root, keepLast = 0)
    }
  }

  test("file stats pruning: a range read skips files whose min/max can't match; full reads unchanged") {
    val root = Files.createTempDirectory("graft_ver").toString
    // 3 range-clustered files: [1..100], [101..200], [201..300]
    val data = (1 to 300).toDF("v").repartitionByRange(3, col("v"))
    Versioned.commit(data, root, statsCols = Seq("v"))
    assert(Versioned.fileStats(spark, root).get.count() == 3)
    // [150, 160] lives in exactly one file — the other two are skipped
    // at the FILE level (the scanned-file count, not just the rows)
    val kept = Versioned.prunedFiles(spark, root, "v", 150, 160)
    assert(kept.size == 1, s"expected 1 surviving file, got $kept")
    val pruned = Versioned.readPruned(spark, root, "v", 150, 160)
    assert(pruned.where(col("v").between(150, 160)).count() == 11)
    // conservative contract: the surviving file's other rows ride along
    assert(pruned.count() == 100)
    // an out-of-range predicate skips EVERY file and yields empty
    assert(Versioned.readPruned(spark, root, "v", 1000, 2000).count() == 0)
    // plain read / readAt are unaffected by the stats sidecar
    assert(Versioned.read(spark, root).count() == 300)
    assert(Versioned.readAt(spark, root, 1L).count() == 300)
    // a stats-less commit refuses pruning loudly
    Versioned.commit(data, root)
    intercept[IllegalArgumentException] {
      Versioned.prunedFiles(spark, root, "v", 1, 2)
    }
  }

  // --- VersionedPartitioned: the snapshot-isolated partitioned promote ---

  private def pdf(rows: (String, Int)*) =
    rows.toSeq.toDF("date", "v")

  private def state(frame: org.apache.spark.sql.DataFrame): Set[(String, Int)] =
    // partition discovery types date=… dirs as DATE; stringify for asserts
    frame.selectExpr("cast(date as string)", "v").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

  test("partitioned promote: incoming partitions replaced, others inherited by reference") {
    val root = Files.createTempDirectory("graft_vp").toString
    assert(VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), root) == 1L)
    // backfill day 2 only: day 1 must survive untouched (D6 idempotent
    // exchange semantics), via the OLD snapshot dir (manifest reuse)
    assert(VersionedPartitioned.promote(pdf("2024-01-02" -> 22), root) == 2L)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22))
    // time travel still sees the original day 2
    assert(state(VersionedPartitioned.readAt(spark, root, 1L)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 2))
    // re-run of the same backfill is idempotent (a new version, same rows)
    assert(VersionedPartitioned.promote(pdf("2024-01-02" -> 22), root) == 3L)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22))
  }

  test("partitioned promote: a reader concurrent with a multi-partition backfill sees all-old or all-new, never a mix") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), root)
    // a reader resolving BEFORE the backfill's commit-pointer flip is
    // pinned to the old manifest — even after the promote completes
    val pinned = VersionedPartitioned.read(spark, root)
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 11, "2024-01-02" -> 12), root)
    assert(state(pinned) == Set("2024-01-01" -> 1, "2024-01-02" -> 2),
      "pinned reader must see the entirely-old state")
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 11, "2024-01-02" -> 12),
      "post-commit reader must see the entirely-new state")
    // mid-promote (snapshot written, commit pointer NOT yet flipped):
    // simulate the window by dropping an uncommitted snapshot tree —
    // readers must not see it at all
    pdf("2024-01-01" -> 99).write.partitionBy("date")
      .parquet(s"$root/snap-inflight")
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 11, "2024-01-02" -> 12),
      "an in-flight snapshot is invisible until its commit file exists")
  }

  test("partitioned promote: lost commit race re-merges against the winner's manifest") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(pdf("2024-01-01" -> 1), root)
    // a rival claims version 2 with a manifest adding day 3 — simulate
    // by writing its snapshot + commit file directly
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    pdf("2024-01-03" -> 3).write.partitionBy("date")
      .parquet(s"$root/snap-rival")
    val prior = VersionedPartitioned.history(spark, root).last._2
    val content = (s"graft-manifest v1\tdate" +:
      (prior.entries + ("date=2024-01-03" -> "snap-rival")).toSeq.sorted
        .map { case (p, s) => s"$p\t$s" }).mkString("\n")
    val out = fs.create(new HPath(root, f"_v${2L}%020d.commit"), false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    // our promote of day 2 must land as v3 AND keep the rival's day 3
    assert(VersionedPartitioned.promote(pdf("2024-01-02" -> 2), root) == 3L)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 2, "2024-01-03" -> 3))
  }

  test("partitioned evolve: column added with default across all partitions atomically; time travel keeps the old schema") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), root)
    val v = VersionedPartitioned.evolveAddColumn(spark, root, "src",
      org.apache.spark.sql.functions.lit("poly"))
    assert(v == 2L)
    val evolved = VersionedPartitioned.read(spark, root)
    assert(evolved.columns.contains("src"))
    assert(evolved.select("src").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("poly"))
    assert(state(evolved) == Set("2024-01-01" -> 1, "2024-01-02" -> 2))
    // history as it was: version 1 has no src column
    assert(!VersionedPartitioned.readAt(spark, root, 1L)
      .columns.contains("src"))
    // double-add fails loudly
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveAddColumn(spark, root, "src",
        org.apache.spark.sql.functions.lit("x"))
    }
  }

  test("partitioned metadata-only evolve: zero data rewritten, readers fill the default, later promotes override physically") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), root)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapDirs() = fs.listStatus(new HPath(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
      .map(_.getPath.getName).toSet
    val before = snapDirs()
    val v = VersionedPartitioned.evolveAddColumnMetaOnly(
      spark, root, "src", "'poly'")
    assert(v == 2L)
    // metadata-only: not one new snapshot dir, not one rewritten file
    assert(snapDirs() == before)
    val evolved = VersionedPartitioned.read(spark, root)
    assert(evolved.select("src").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("poly"))
    assert(state(evolved) == Set("2024-01-01" -> 1, "2024-01-02" -> 2))
    // pre-evolution version: no such column
    assert(!VersionedPartitioned.readAt(spark, root, 1L)
      .columns.contains("src"))
    // a later promote carrying the column PHYSICALLY overrides the
    // default for its rows; old partitions keep answering with it
    VersionedPartitioned.promote(
      Seq(("2024-01-03", 3, "real")).toDF("date", "v", "src"), root)
    val after = VersionedPartitioned.read(spark, root)
      .selectExpr("cast(date as string) as date", "src").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(after == Set("2024-01-01" -> "poly", "2024-01-02" -> "poly",
      "2024-01-03" -> "real"))
    // the default expression may reference other columns: row-dependent
    // fills work because it is applied per row at read time
    VersionedPartitioned.evolveAddColumnMetaOnly(spark, root, "v2", "v * 10")
    assert(VersionedPartitioned.read(spark, root)
      .selectExpr("v", "v2").collect()
      .forall(r => r.getInt(1) == r.getInt(0) * 10))
    // double-add fails loudly, against both mechanisms
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveAddColumnMetaOnly(spark, root, "src", "'x'")
    }
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveAddColumnMetaOnly(spark, root, "v", "'x'")
    }
  }

  test("partitioned metadata-only DROP/RENAME COLUMN: zero data rewritten, time travel sees the old shape, drop-then-re-add starts blank") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      Seq(("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"))
        .toDF("date", "v", "src"), root)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapDirs() = fs.listStatus(new HPath(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
      .map(_.getPath.getName).toSet
    val before = snapDirs()
    // RENAME: metadata-only, old name gone, new name answers, time
    // travel pre-rename sees the old name
    VersionedPartitioned.evolveRenameColumnMetaOnly(spark, root, "src", "origin")
    assert(snapDirs() == before)
    val renamed = VersionedPartitioned.read(spark, root)
    assert(renamed.columns.toSet == Set("date", "v", "origin"))
    assert(renamed.select("origin").orderBy("v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(VersionedPartitioned.readAt(spark, root, 1L)
      .columns.toSet == Set("date", "v", "src"))
    // a post-rename promote carries the NEW name physically and reads
    // back untouched
    VersionedPartitioned.promote(
      Seq(("2024-01-03", 3, "c")).toDF("date", "v", "origin"), root)
    assert(VersionedPartitioned.read(spark, root)
      .select("origin").orderBy("v").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // DROP: metadata-only, column invisible, time travel still has it
    val afterPromote = snapDirs()
    VersionedPartitioned.evolveDropColumnMetaOnly(spark, root, "origin")
    assert(snapDirs() == afterPromote)
    val dropped = VersionedPartitioned.read(spark, root)
    assert(dropped.columns.toSet == Set("date", "v"))
    assert(VersionedPartitioned.readAt(spark, root, 3L)
      .columns.contains("origin"))
    // drop-then-re-add: the re-added column starts BLANK (default for
    // every row) — the old physical bytes must not resurrect
    VersionedPartitioned.evolveAddColumnMetaOnly(spark, root, "origin", "'fresh'")
    assert(VersionedPartitioned.read(spark, root)
      .select("origin").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("fresh"))
    // guards: partition column protected, unknown column raises,
    // rename-collision raises
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveDropColumnMetaOnly(spark, root, "date")
    }
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveDropColumnMetaOnly(spark, root, "nope")
    }
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveRenameColumnMetaOnly(spark, root, "v", "date")
    }
    // TYPE WIDENING: metadata-only int→bigint; old snapshots read back
    // as the wide type, time travel keeps the narrow one; narrowing
    // and partition-column widening raise
    val beforeWiden = snapDirs()
    val vW = VersionedPartitioned.evolveWidenColumnMetaOnly(spark, root,
      "v", org.apache.spark.sql.types.LongType)
    assert(snapDirs() == beforeWiden)
    val widened = VersionedPartitioned.read(spark, root)
    assert(widened.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(widened.select("v").orderBy("v").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(VersionedPartitioned.readAt(spark, root, vW - 1)
      .schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveWidenColumnMetaOnly(spark, root,
        "v", org.apache.spark.sql.types.IntegerType) // narrowing back
    }
    intercept[IllegalArgumentException] {
      VersionedPartitioned.evolveWidenColumnMetaOnly(spark, root,
        "date", org.apache.spark.sql.types.StringType)
    }
  }

  test("evolution rules are generation-scoped: promotes AFTER drop-then-re-add keep their real values; re-adding a renamed-away name never clobbers") {
    // the silent-data-loss scenario: DROP c, re-ADD c with a default,
    // then promote rows carrying REAL c values — an unscoped replay
    // would drop the real values and refill the default. The snapshot
    // generation recorded at write time must fence the older DropCol.
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      Seq(("2024-01-01", 1, "old1"), ("2024-01-02", 2, "old2"))
        .toDF("date", "v", "c"), root)
    VersionedPartitioned.evolveDropColumnMetaOnly(spark, root, "c")
    VersionedPartitioned.evolveAddColumnMetaOnly(spark, root, "c", "'dflt'")
    // post-re-add promote with genuine values
    VersionedPartitioned.promote(
      Seq(("2024-01-03", 3, "real3")).toDF("date", "v", "c"), root)
    val got = VersionedPartitioned.read(spark, root)
      .selectExpr("cast(date as string) as date", "c").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("2024-01-01" -> "dflt", "2024-01-02" -> "dflt",
      "2024-01-03" -> "real3"),
      s"post-re-add promote lost its real values: $got")
    // an INSERT-shaped write after the re-add keeps real values too
    VersionedPartitioned.insertInto(
      Seq(("2024-01-04", 4, "real4")).toDF("date", "v", "c"), root, "date")
    assert(VersionedPartitioned.read(spark, root)
      .where(col("date") === "2024-01-04").select("c").collect()
      .map(_.getString(0)).toSeq == Seq("real4"))
    // partition-scoped rewrite (deleteWhere) of a post-re-add
    // partition re-stamps the rewritten snapshot at the current
    // generation — values survive the round trip
    VersionedPartitioned.deleteWhere(spark, root, col("v") === 1)
    assert(VersionedPartitioned.read(spark, root)
      .where(col("date") === "2024-01-03").select("c").collect()
      .map(_.getString(0)).toSeq == Seq("real3"))
    // RENAME a → b, then re-ADD a: a post-re-add promote carrying BOTH
    // must keep them distinct (unscoped replay would rename the new
    // physical a over b)
    val root2 = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      Seq(("2024-01-01", 1, "av1")).toDF("date", "v", "a"), root2)
    VersionedPartitioned.evolveRenameColumnMetaOnly(spark, root2, "a", "b")
    VersionedPartitioned.evolveAddColumnMetaOnly(spark, root2, "a", "'na'")
    VersionedPartitioned.promote(
      Seq(("2024-01-02", 2, "bv2", "av2")).toDF("date", "v", "b", "a"), root2)
    val rows = VersionedPartitioned.read(spark, root2)
      .selectExpr("v", "a", "b").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1, "na", "av1"), (2, "av2", "bv2")),
      s"rename/re-add interplay clobbered columns: $rows")
    // old frames (gen 0) still replay everything: time travel to the
    // pre-evolution version sees the original shape
    assert(VersionedPartitioned.readAt(spark, root2, 1L)
      .columns.toSet == Set("date", "v", "a"))
  }

  test("partitioned deleteWhere: only matching partitions rewritten, emptied partitions leave the manifest, NULL predicate keeps its row, no-match is a no-op") {
    val root = Files.createTempDirectory("graft_vp").toString
    // day1: v 1..4 — partial delete; day2: v 101,102 — fully deleted;
    // day3: v 201 — untouched, must keep its ORIGINAL snapshot dir
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-01" -> 2, "2024-01-01" -> 3,
        "2024-01-01" -> 4, "2024-01-02" -> 101, "2024-01-02" -> 102,
        "2024-01-03" -> 201), root)
    val day3SnapBefore = VersionedPartitioned.history(spark, root)
      .last._2.entries("date=2024-01-03")
    val v = VersionedPartitioned.deleteWhere(spark, root,
      col("v") % 2 === 0 || col("v") > 100 && col("v") < 200)
    assert(v == 2L)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-01" -> 3, "2024-01-03" -> 201))
    // day2 emptied out → absent from the manifest entirely
    assert(!VersionedPartitioned.partitions(spark, root)
      .contains("date=2024-01-02"))
    // day3 had no matches → inherited by reference, not rewritten
    assert(VersionedPartitioned.history(spark, root)
      .last._2.entries("date=2024-01-03") == day3SnapBefore)
    // time travel still sees everything pre-delete
    assert(state(VersionedPartitioned.readAt(spark, root, 1L)).size == 7)
    // NULL predicate rows survive (SQL DELETE semantics)
    val root2 = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(Seq(("2024-01-01", Some(2)),
        ("2024-01-01", None), ("2024-01-01", Some(5)))
      .toDF("date", "v"), root2)
    VersionedPartitioned.deleteWhere(spark, root2, col("v") % 2 === 0)
    assert(VersionedPartitioned.read(spark, root2)
      .selectExpr("coalesce(v, -1)").collect()
      .map(_.getInt(0)).toSet == Set(-1, 5))
    // no-match delete commits nothing
    val before = VersionedPartitioned.currentVersion(spark, root2).get
    assert(VersionedPartitioned.deleteWhere(spark, root2,
      col("v") === 9999) == before)
    assert(VersionedPartitioned.currentVersion(spark, root2)
      .contains(before))
  }

  test("partitioned dropPartitions: metadata-only removal, time travel intact, unknown partition raises") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2, "2024-01-03" -> 3), root)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapDirs() = fs.listStatus(new HPath(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
      .map(_.getPath.getName).toSet
    val before = snapDirs()
    val v = VersionedPartitioned.dropPartitions(spark, root,
      Seq("date=2024-01-02"))
    assert(v == 2L)
    // zero data I/O: the snapshot dirs on disk are exactly as they were
    assert(snapDirs() == before)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-03" -> 3))
    assert(state(VersionedPartitioned.readAt(spark, root, 1L)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 2, "2024-01-03" -> 3))
    intercept[IllegalArgumentException] {
      VersionedPartitioned.dropPartitions(spark, root, Seq("date=2099-01-01"))
    }
  }

  test("propagateChanges: exactly-once table-to-table hop, cursor rides the dest commit tags, re-run no-ops, only changed partitions move") {
    val src = Files.createTempDirectory("graft_vp").toString
    val dst = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), src)
    // first hop: bootstrap-from-0 moves everything
    assert(VersionedPartitioned.propagateChanges(spark, src, dst)
      .contains((0L, 1L)))
    assert(state(VersionedPartitioned.read(spark, dst)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 2))
    // nothing new upstream → the hop is a no-op (this is also the
    // crash-replay case: the cursor IS the committed tag, so a re-run
    // after a crash-after-commit sees it and does nothing)
    assert(VersionedPartitioned.propagateChanges(spark, src, dst).isEmpty)
    assert(VersionedPartitioned.currentVersion(spark, dst).contains(1L))
    // upstream rewrites day 2 and adds day 3; day 1 must ride the
    // dest's ORIGINAL snapshot through the second hop
    VersionedPartitioned.promote(
      pdf("2024-01-02" -> 22, "2024-01-03" -> 3), src)
    val day1Before = VersionedPartitioned.history(spark, dst)
      .last._2.entries("date=2024-01-01")
    assert(VersionedPartitioned.propagateChanges(spark, src, dst)
      .contains((1L, 2L)))
    assert(state(VersionedPartitioned.read(spark, dst)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22, "2024-01-03" -> 3))
    assert(VersionedPartitioned.history(spark, dst)
      .last._2.entries("date=2024-01-01") == day1Before)
  }

  test("repartitionTable: atomic partition-spec evolution — same rows, new layout; old versions travel to the old spec; old-spec promotes rejected") {
    val root = Files.createTempDirectory("graft_vp").toString
    val rows = Seq(("2024-01-01", "us", 1), ("2024-01-01", "eu", 2),
      ("2024-01-02", "us", 3))
    VersionedPartitioned.promote(rows.toDF("date", "region", "v"), root)
    val pinned = VersionedPartitioned.read(spark, root) // pre-evolution reader

    val v2 = VersionedPartitioned.repartitionTable(spark, root, "region",
      statsCols = Seq("v"))
    assert(v2 == 2L)
    def rset(f: org.apache.spark.sql.DataFrame) =
      f.selectExpr("cast(date as string)", "cast(region as string)", "v")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // same rows, new addressing surface (region=… partition dirs)
    assert(rset(VersionedPartitioned.read(spark, root)) == rows.toSet)
    assert(VersionedPartitioned.partitions(spark, root) ==
      Seq("region=eu", "region=us"))
    // a reader resolved pre-evolution is pinned to the old layout; time
    // travel still reads the old spec's manifest
    assert(rset(pinned) == rows.toSet)
    assert(VersionedPartitioned.partitions(spark, root, Some(1L)) ==
      Seq("date=2024-01-01", "date=2024-01-02"))
    // the new spec governs writes: old-column promote rejected, new ok
    intercept[IllegalArgumentException] {
      VersionedPartitioned.promote(
        Seq(("2024-01-03", "us", 9)).toDF("date", "region", "v"), root)
    }
    VersionedPartitioned.promote(
      Seq(("2024-01-03", "ap", 9)).toDF("date", "region", "v"), root,
      partitionCol = "region")
    assert(rset(VersionedPartitioned.read(spark, root)) ==
      rows.toSet + (("2024-01-03", "ap", 9)))
    // stats rode the rewrite: file pruning works on the new layout
    assert(VersionedPartitioned.prunedFiles(spark, root, "v", 1, 2).nonEmpty)

    // conflict check (deterministic via the CAS base): the evolution is
    // computed AS OF expectedVersion; a commit that landed after it
    // must abort the claim rather than silently drop that writer's
    // partitions — the mid-rewrite race staged synchronously
    val root2 = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(rows.toDF("date", "region", "v"), root2)
    VersionedPartitioned.promote( // the "concurrent" commit (v2)
      Seq(("2024-01-09", "eu", 7)).toDF("date", "region", "v"), root2)
    val ex = intercept[IllegalStateException] {
      VersionedPartitioned.repartitionTable(spark, root2, "region",
        expectedVersion = Some(1L))
    }
    assert(ex.getMessage.contains("re-run repartitionTable"))
    // and the failed evolution left the table untouched
    assert(VersionedPartitioned.currentVersion(spark, root2).contains(2L))
    assert(VersionedPartitioned.partitions(spark, root2).forall(_.startsWith("date=")))
  }

  test("readPartitionsWhere: manifest pruned before planning — only in-range snapshots scanned") {
    val root = Files.createTempDirectory("graft_vp").toString
    // 6 single-day promotes → 6 snapshots, one partition each
    val days = (1 to 6).map(d => f"2024-01-$d%02d")
    days.foreach(d => VersionedPartitioned.promote(pdf(d -> d.takeRight(2).toInt), root))
    val pruned = VersionedPartitioned.readPartitionsWhere(spark, root,
      v => v >= "2024-01-03" && v <= "2024-01-05")
    assert(state(pruned) == Set("2024-01-03" -> 3, "2024-01-04" -> 4,
      "2024-01-05" -> 5))
    // the PLAN touches only the 3 surviving snapshots' files — the other
    // 3 snapshot dirs never enter the union
    val files = pruned.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(f =>
      f.contains("date=2024-01-03") || f.contains("date=2024-01-04") ||
        f.contains("date=2024-01-05")), files.mkString("\n"))
    // empty survivor set: schema-correct empty frame
    val none = VersionedPartitioned.readPartitionsWhere(spark, root,
      _ > "2025-01-01")
    assert(none.count() == 0 && none.columns.contains("v"))
  }

  test("IncrementalAgg.maintain equals recompute across rewrite, insert, and partition drop") {
    import graft.ops.IncrementalAgg
    val root = Files.createTempDirectory("graft_vp").toString
    def t3(rows: (String, Int, java.math.BigDecimal)*) =
      rows.toSeq.toDF("date", "k", "amt")
        .withColumn("amt", col("amt").cast("decimal(18,2)"))
    def d(s: String) = new java.math.BigDecimal(s)
    VersionedPartitioned.promote(t3(
      ("2024-01-01", 1, d("10.00")), ("2024-01-01", 2, d("5.50")),
      ("2024-01-02", 1, d("7.25")), ("2024-01-03", 3, d("1.00"))), root)
    val state = IncrementalAgg.aggregate(
      VersionedPartitioned.read(spark, root), Seq("date"), Seq("amt"))

    // v2: rewrite day 1 (one row gone, one repriced), add day 4
    VersionedPartitioned.promote(t3(
      ("2024-01-01", 1, d("20.00")), ("2024-01-04", 9, d("3.33"))), root)
    // v3: drop day 3 entirely (metadata-only)
    VersionedPartitioned.dropPartitions(spark, root, Seq("date=2024-01-03"))

    val (o, n) = VersionedPartitioned.changedSides(spark, root, 1L)
    val maintained = IncrementalAgg.maintain(state, o, n,
      Seq("date"), Seq("amt"))
    val recomputed = IncrementalAgg.aggregate(
      VersionedPartitioned.read(spark, root), Seq("date"), Seq("amt"))
    def canon(f: org.apache.spark.sql.DataFrame) =
      f.selectExpr("cast(date as string)", "n_rows",
        "cast(sum_amt as decimal(28,2))").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(canon(maintained) == canon(recomputed))
    // a fold keeps the recompute's types: sum_amt stays DECIMAL(28,2)
    assert(maintained.schema == recomputed.schema)
    // a state written with a wider sum (as older folds left it) keeps
    // its own type and values
    val wide = IncrementalAgg.maintain(
      state.withColumn("sum_amt", col("sum_amt").cast("decimal(38,2)")),
      o, n, Seq("date"), Seq("amt"))
    assert(wide.schema("sum_amt").dataType.sql == "DECIMAL(38,2)")
    assert(canon(wide) == canon(recomputed))
    // the dropped day's group is GONE, not zeroed
    assert(!canon(maintained).exists(_._1 == "2024-01-03"))
    // untouched day 2 still present with original values
    assert(canon(maintained).exists(t =>
      t._1 == "2024-01-02" && t._2 == 1L))
  }

  test("partitionStats: per-partition count/min/max from stats sidecars alone — answers survive data-file loss; stats-less snapshots degrade to a scoped scan") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      Seq(("2024-01-01", 1), ("2024-01-01", 5), ("2024-01-02", 7))
        .toDF("date", "v"), root, statsCols = Seq("v"))
    // rewrite day 2; day 1 inherits the first snapshot's sidecar
    VersionedPartitioned.promote(
      Seq(("2024-01-02", 9), ("2024-01-02", 2)).toDF("date", "v"),
      root, statsCols = Seq("v"))
    def stats() = VersionedPartitioned.partitionStats(spark, root, "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(stats() == Set(("2024-01-01", 2L, 1, 5),
      ("2024-01-02", 2L, 2, 9)))
    // metadata-only proof: delete every DATA file (keep the sidecars);
    // the stats answer must not change because nothing reads data
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new HPath(root)).filter(_.isDirectory).foreach { snap =>
      fs.listStatus(snap.getPath)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("date="))
        .foreach(d => fs.delete(d.getPath, true))
    }
    assert(stats() == Set(("2024-01-01", 2L, 1, 5),
      ("2024-01-02", 2L, 2, 9)))
    // a stats-less promote still answers — via a scan scoped to ITS
    // referenced partitions only (the sidecar-backed days have no data
    // files left, so any wider scan would throw)
    VersionedPartitioned.promote(Seq(("2024-01-03", 4)).toDF("date", "v"),
      root)
    assert(stats() == Set(("2024-01-01", 2L, 1, 5),
      ("2024-01-02", 2L, 2, 9), ("2024-01-03", 1L, 4, 4)))
  }

  test("readRowChanges: row-level CDC over only the changed partitions — bootstrap all-insert, rewrite classifies insert/update/delete, untouched partition absent, current window empty") {
    val root = Files.createTempDirectory("graft_vp").toString
    val kdf = Seq(("2024-01-01", 1, 10), ("2024-01-01", 2, 20),
      ("2024-01-02", 3, 30), ("2024-01-02", 4, 40)).toDF("date", "k", "v")
    val v1 = VersionedPartitioned.promote(kdf, root)
    def cdc(from: Long) = VersionedPartitioned
      .readRowChanges(spark, root, Seq("date", "k"), from)
      .selectExpr("cast(date as string)", "k", "change_type").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    // bootstrap-from-0: every key is an insert
    assert(cdc(0L) == Set(("2024-01-01", 1, "insert"),
      ("2024-01-01", 2, "insert"), ("2024-01-02", 3, "insert"),
      ("2024-01-02", 4, "insert")))
    // rewrite day 2: k=3 changes value, k=4 disappears, k=5 appears;
    // day 1 untouched — its rows must NOT appear (its partition is
    // never even read: the manifest diff excludes it)
    VersionedPartitioned.promote(
      Seq(("2024-01-02", 3, 99), ("2024-01-02", 5, 50)).toDF("date", "k", "v"),
      root)
    assert(cdc(v1) == Set(("2024-01-02", 3, "update"),
      ("2024-01-02", 4, "delete"), ("2024-01-02", 5, "insert")))
    // a dropped partition is all-delete
    val v2 = VersionedPartitioned.currentVersion(spark, root).get
    VersionedPartitioned.dropPartitions(spark, root, Seq("date=2024-01-01"))
    assert(cdc(v2) == Set(("2024-01-01", 1, "delete"),
      ("2024-01-01", 2, "delete")))
    // an unchanged window is empty, with the change-feed schema
    val cur = VersionedPartitioned.currentVersion(spark, root).get
    val none = VersionedPartitioned
      .readRowChanges(spark, root, Seq("date", "k"), cur)
    assert(none.columns.toSeq == Seq("date", "k", "change_type"))
    assert(none.count() == 0)
  }

  test("partitioned stats pruning: manifest drops superseded partitions, file stats skip the rest; stats-less snapshots stay conservative") {
    val root = Files.createTempDirectory("graft_vp").toString
    val day1 = (1 to 10).map(v => "2024-01-01" -> v)
    val day2 = (101 to 110).map(v => "2024-01-02" -> v)
    VersionedPartitioned.promote(pdf(day1 ++ day2: _*), root,
      statsCols = Seq("v"))
    // [1, 10] lives only in day 1's file — day 2's is skipped at the
    // FILE level, before any data is read
    val kept1 = VersionedPartitioned.prunedFiles(spark, root, "v", 1, 10)
    assert(kept1.map(_._2).forall(_.startsWith("date=2024-01-01/")) &&
      kept1.size == 1, s"expected day 1's single file, got $kept1")
    assert(state(VersionedPartitioned.readPruned(spark, root, "v", 1, 10)) ==
      day1.toSet)
    // backfill day 2 (201..210): its OLD file leaves via the manifest
    // (superseded partition), not via stats — [101, 110] matches nothing
    VersionedPartitioned.promote(
      pdf((201 to 210).map(v => "2024-01-02" -> v): _*), root,
      statsCols = Seq("v"))
    assert(VersionedPartitioned.prunedFiles(spark, root, "v", 101, 110)
      .isEmpty, "superseded day-2 file must not resurface")
    assert(VersionedPartitioned.readPruned(spark, root, "v", 101, 110)
      .count() == 0)
    val kept2 = VersionedPartitioned.prunedFiles(spark, root, "v", 201, 205)
    assert(kept2.size == 1 && kept2.head._2.startsWith("date=2024-01-02/"))
    // a stats-less promote prunes nothing of ITSELF but doesn't poison
    // the rest: day 3's file always survives, day 2's still leaves
    VersionedPartitioned.promote(
      pdf((301 to 310).map(v => "2024-01-03" -> v): _*), root)
    val kept3 = VersionedPartitioned.prunedFiles(spark, root, "v", 1, 10)
    assert(kept3.exists(_._2.startsWith("date=2024-01-01/")))
    assert(kept3.exists(_._2.startsWith("date=2024-01-03/")),
      "stats-less snapshot keeps its files conservatively")
    assert(!kept3.exists(_._2.startsWith("date=2024-01-02/")))
    // conservative contract: callers re-apply the real predicate on top
    assert(VersionedPartitioned.readPruned(spark, root, "v", 1, 10)
      .where(col("v").between(1, 10)).count() == 10)
    // full manifest reads are unaffected by the stats sidecars
    assert(VersionedPartitioned.read(spark, root).count() == 30)
  }

  test("clustered promote: range-sorted rolled files make stats skip most of a partition") {
    val root = Files.createTempDirectory("graft_vp").toString
    val rows = (1 to 100).map(v => "2024-01-01" -> v)
    VersionedPartitioned.promote(pdf(scala.util.Random.shuffle(rows): _*),
      root, statsCols = Seq("v"), clusterBy = Seq("v"),
      maxRecordsPerFile = 25L)
    // the writer rolled the sorted partition into 4 range-disjoint files
    val all = VersionedPartitioned.prunedFiles(spark, root, "v", 1, 100)
    assert(all.size == 4, s"expected 4 rolled files, got $all")
    // a narrow range now survives ONE file of the partition, not all 4
    val kept = VersionedPartitioned.prunedFiles(spark, root, "v", 10, 15)
    assert(kept.size == 1, s"expected 1 surviving file, got $kept")
    val got = VersionedPartitioned.readPruned(spark, root, "v", 10, 15)
      .where(col("v").between(10, 15))
    assert(got.count() == 6)
  }

  test("mergePromote: row-level MERGE rewrites only the touched partitions; untouched snapshots inherited by reference") {
    val root = Files.createTempDirectory("graft_vp").toString
    def kv(rows: (String, String, Int)*) =
      rows.toSeq.toDF("date", "k", "v")
        .withColumn("date", col("date").cast("date"))
    // first merge into an empty table is just a promote
    assert(VersionedPartitioned.mergePromote(
      kv(("2024-01-01", "a", 1), ("2024-01-02", "b", 2)), root,
      keys = Seq("date", "k")) == 1L)
    val day1Snap = VersionedPartitioned.history(spark, root)
      .last._2.entries("date=2024-01-01")
    // day-2-only merge: update b, insert c — day 1 must not be rewritten
    assert(VersionedPartitioned.mergePromote(
      kv(("2024-01-02", "b", 22), ("2024-01-02", "c", 3)), root,
      keys = Seq("date", "k")) == 2L)
    val rows = VersionedPartitioned.read(spark, root)
      .selectExpr("cast(date as string)", "k", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set(("2024-01-01", "a", 1),
      ("2024-01-02", "b", 22), ("2024-01-02", "c", 3)))
    assert(VersionedPartitioned.history(spark, root)
      .last._2.entries("date=2024-01-01") == day1Snap,
      "day 1 must ride its ORIGINAL snapshot dir, not a rewrite")
    // time travel sees the pre-merge day 2
    assert(VersionedPartitioned.readAt(spark, root, 1L)
      .where(col("k") === "b").selectExpr("v").collect()
      .map(_.getInt(0)).toSeq == Seq(2))
    // a merge key that can migrate partitions is rejected loudly
    intercept[IllegalArgumentException] {
      VersionedPartitioned.mergePromote(
        kv(("2024-01-02", "b", 0)), root, keys = Seq("k"))
    }
  }

  test("readChanges: incremental scan reads exactly the partitions a version window touched") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), root)          // v1
    VersionedPartitioned.promote(pdf("2024-01-02" -> 22), root) // v2
    VersionedPartitioned.promote(pdf("2024-01-03" -> 3), root)  // v3
    // from v0: everything (bootstrap)
    assert(state(VersionedPartitioned.readChanges(spark, root, 0L)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22, "2024-01-03" -> 3))
    // v1 → v2: only the rewritten day 2
    assert(state(VersionedPartitioned.readChanges(spark, root, 1L, Some(2L)))
      == Set("2024-01-02" -> 22))
    // v2 → v3: only the new day 3
    assert(state(VersionedPartitioned.readChanges(spark, root, 2L)) ==
      Set("2024-01-03" -> 3))
    // v1 → latest: day 2 (once, final state) + day 3; day 1 untouched
    assert(state(VersionedPartitioned.readChanges(spark, root, 1L)) ==
      Set("2024-01-02" -> 22, "2024-01-03" -> 3))
    // nothing changed: empty frame, schema intact
    val none = VersionedPartitioned.readChanges(spark, root, 3L)
    assert(none.count() == 0 && none.columns.contains("v"))
  }

  test("O(1) commit resolution: read/readAt/currentVersion open a bounded number of commit files on a long history") {
    val root = Files.createTempDirectory("graft_ver").toString
    (1 to 20).foreach(i => Versioned.commit(df(i), root))
    def delta(body: => Unit): Long = {
      val before = Versioned.commitFileReads.get()
      body
      Versioned.commitFileReads.get() - before
    }
    // latest-state read: one listing + ONE commit-file read
    assert(delta(Versioned.read(spark, root).count()) == 1)
    // time travel: one commit-file read
    assert(delta(Versioned.readAt(spark, root, 7L).count()) == 1)
    // version probe: pure listing, ZERO reads
    assert(delta(Versioned.currentVersion(spark, root)) == 0)

    // partitioned variant: 20 single-partition promotes, then assert
    // the hot paths don't re-read the whole commit history
    val proot = Files.createTempDirectory("graft_vp").toString
    (1 to 20).foreach(i =>
      VersionedPartitioned.promote(pdf(f"2024-01-$i%02d" -> i), proot))
    assert(delta(VersionedPartitioned.read(spark, proot).count()) <= 2,
      "partitioned read must resolve via the latest manifest only")
    assert(delta(VersionedPartitioned.readAt(spark, proot, 5L).count()) <= 2)
    assert(delta(VersionedPartitioned.currentVersion(spark, proot)) == 0)
    assert(delta(VersionedPartitioned.promote(
      pdf("2024-02-01" -> 99), proot)) <= 2,
      "promote's claim loop must merge against the latest manifest only")
    assert(delta(VersionedPartitioned.readRowChanges(
      spark, proot, Seq("date", "v"), 20L).count()) <= 3)
  }

  test("streaming-commit scale: metadata costs stay flat at 10,000 epoch commits") {
    // the table-format paths are O(1)-per-resolution by design; this
    // drives them at streaming-history scale (an epoch commit every
    // few seconds → 10⁵–10⁶ versions/year) so an accidental
    // whole-history read anywhere in resolution shows up as a count,
    // not a slow CI run
    val root = Files.createTempDirectory("graft_vpscale").toString
    VersionedPartitioned.promote(pdf("2024-01-01" -> 1), root)
    // synthesize the epoch commits directly (each is the v1 manifest
    // re-rendered with an epoch tag — exactly what emptyCommit writes;
    // the claim loop itself is O(1) reads per commit, but SIMULATING
    // 10k of them through it costs 10k directory listings)
    val v1 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, f"_v${1L}%020d.commit")), "UTF-8")
    val lines = v1.linesIterator.toSeq
    (2 to 10001).foreach { i =>
      val content =
        (lines.head +: s"tag:epoch:${i - 1}" +: lines.tail).mkString("\n")
      Files.write(
        java.nio.file.Paths.get(root, f"_v${i.toLong}%020d.commit"),
        content.getBytes("UTF-8"))
      ()
    }
    def delta(body: => Unit): Long = {
      val before = Versioned.commitFileReads.get()
      body
      Versioned.commitFileReads.get() - before
    }
    assert(delta(assert(VersionedPartitioned.currentVersion(spark, root)
      .contains(10001L))) == 0, "version probe must stay a pure listing")
    assert(delta(VersionedPartitioned.read(spark, root).count()) <= 2,
      "head read must resolve via the latest manifest only")
    assert(delta(VersionedPartitioned.readAt(spark, root, 4321L).count())
      <= 2, "time travel must be one exact-version read")
    assert(delta(VersionedPartitioned.headTag(spark, root)) <= 2)
    assert(delta(assert(VersionedPartitioned
      .latestTagWithPrefix(spark, root, "epoch:").contains("10000")))
      <= 2, "monotone tag resolution must stop at the newest match")
    // snapshot-consistent cross-table read: an epoch-tagged (non-txn)
    // head proves no transaction is in flight in ONE read
    assert(delta(graft.ops.Txn.readAll(spark, Seq(root)).head.count())
      <= 3)
    assert(delta(VersionedPartitioned.promote(pdf("2024-02-01" -> 2),
      root)) <= 3,
      "promote's claim loop must merge against the latest manifest only")
  }

  test("vacuumOlderThan: age-based retention keeps young commits and the retainLast floor") {
    val root = Files.createTempDirectory("graft_ver").toString
    Versioned.commit(df(1), root)
    Versioned.commit(df(2), root)
    Versioned.commit(df(3), root)
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // backdate v1 and v2 beyond the retention window
    val old = System.currentTimeMillis() - 10 * 3600 * 1000L
    Seq(1L, 2L).foreach { v =>
      fs.setTimes(new HPath(root, f"_v$v%020d.commit"), old, -1)
    }
    // 1h window: only v3 is young → v1, v2 expire
    assert(Versioned.vacuumOlderThan(spark, root, 3600 * 1000L,
      orphanMinAgeMs = 0L) == 2)
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(3))
    intercept[IllegalArgumentException] { Versioned.readAt(spark, root, 1L) }
    // everything old + retainLast floor: the newest commit always survives
    val root2 = Files.createTempDirectory("graft_ver").toString
    Versioned.commit(df(1), root2)
    Versioned.commit(df(2), root2)
    fs.listStatus(new HPath(root2))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".commit"))
      .foreach(s => fs.setTimes(s.getPath, old, -1))
    assert(Versioned.vacuumOlderThan(spark, root2, 3600 * 1000L,
      orphanMinAgeMs = 0L) == 1)
    assert(Versioned.read(spark, root2).as[Int].collect().toSeq == Seq(2))

    // partitioned variant: same arithmetic through its manifest vacuum —
    // an inherited partition's old snapshot must survive because the
    // RETAINED manifest references it
    val proot = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), proot)
    VersionedPartitioned.promote(pdf("2024-01-02" -> 22), proot)
    fs.setTimes(new HPath(proot, f"_v${1L}%020d.commit"), old, -1)
    VersionedPartitioned.vacuumOlderThan(spark, proot, 3600 * 1000L,
      orphanMinAgeMs = 0L)
    assert(state(VersionedPartitioned.read(spark, proot)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22),
      "day 1 rides the v1 snapshot the retained manifest references")
  }

  test("latestTagWithPrefix: newest match wins, and a steady-state lookup reads one commit file") {
    val root = Files.createTempDirectory("graft_ver").toString
    Versioned.commit(df(0), root, Some("cursor:41"))
    (1 to 10).foreach(i => Versioned.commit(df(i), root)) // untagged noise
    assert(Versioned.latestTagWithPrefix(spark, root, "cursor:")
      .contains("41"))
    // a newer tag supersedes the old one…
    Versioned.commit(df(99), root, Some("cursor:50"))
    def delta(body: => Unit): Long = {
      val before = Versioned.commitFileReads.get()
      body
      Versioned.commitFileReads.get() - before
    }
    // …and because it is the NEWEST commit, the scan stops at ONE read
    // (the O(#versions) committedTags scan would read all 12)
    assert(delta(assert(Versioned.latestTagWithPrefix(spark, root, "cursor:")
      .contains("50"))) == 1)
    assert(Versioned.latestTagWithPrefix(spark, root, "nope:").isEmpty)

    // partitioned variant, same contract
    val proot = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(pdf("2024-01-01" -> 1), proot,
      tag = Some("cursor:7"))
    (1 to 5).foreach(i =>
      VersionedPartitioned.promote(pdf("2024-01-02" -> i), proot))
    assert(VersionedPartitioned.latestTagWithPrefix(spark, proot, "cursor:")
      .contains("7"))
    VersionedPartitioned.promote(pdf("2024-01-03" -> 3), proot,
      tag = Some("cursor:9"))
    assert(delta(assert(VersionedPartitioned
      .latestTagWithPrefix(spark, proot, "cursor:").contains("9"))) == 1)
  }

  test("readRowChanges: keys omitting the partition column are rejected (cross-partition key migration hazard)") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      Seq(("2024-01-01", 1, 10)).toDF("date", "k", "v"), root)
    val e = intercept[IllegalArgumentException] {
      VersionedPartitioned.readRowChanges(spark, root, Seq("k"), 0L)
    }
    assert(e.getMessage.contains("partition column"))
  }

  test("partitionStats: sidecar and fallback paths emit identical partition values when Spark URL-escapes the dir name") {
    val root = Files.createTempDirectory("graft_vp").toString
    // ':' is escaped to %3A in partition dir names
    VersionedPartitioned.promote(
      Seq(("2024:01", 1), ("2024:01", 5)).toDF("date", "v"), root,
      statsCols = Seq("v"))
    // stats-less promote of a second escaped value → fallback scan path
    VersionedPartitioned.promote(
      Seq(("2024:02", 7)).toDF("date", "v"), root)
    val got = VersionedPartitioned.partitionStats(spark, root, "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got == Set(("2024:01", 2L, 1, 5), ("2024:02", 1L, 7, 7)),
      s"sidecar path must unescape dir names to the raw value form; got $got")
  }

  test("non-ASCII partition values: promote/read/stats/overwrite and the door's SHOW PARTITIONS round-trip") {
    // needs a UTF-8 process locale (build.sbt forks with LC_ALL=C.utf8;
    // an ASCII sun.jnu.encoding rejects the paths before Spark runs)
    assume(System.getProperty("sun.jnu.encoding", "")
      .toUpperCase.contains("UTF"))
    val root = Files.createTempDirectory("graft_vp").toString
    val vals = Seq("café", "中文", "naïve=x", "знак 7")
    VersionedPartitioned.promote(
      vals.zipWithIndex.map { case (s, i) => (s, i) }.toDF("date", "v"),
      root, statsCols = Seq("v"))
    assert(VersionedPartitioned.read(spark, root)
      .select("date", "v").as[(String, Int)].collect().toSet ==
      vals.zipWithIndex.toSet,
      "non-ASCII values must read back raw")
    // sidecar stats unescape to the raw value form too
    assert(VersionedPartitioned.partitionStats(spark, root, "v")
      .collect().map(_.getString(0)).toSet == vals.toSet)
    // partition-targeted overwrite touches exactly the named value
    VersionedPartitioned.promote(Seq(("中文", 99)).toDF("date", "v"), root)
    assert(VersionedPartitioned.read(spark, root)
      .select("date", "v").as[(String, Int)].collect().toSet ==
      (vals.zipWithIndex.toSet - (("中文", 1)) + (("中文", 99))))
    // the door: INSERT, SHOW PARTITIONS, and a pruned point read
    val droot = Files.createTempDirectory("graft_vp").toString
    val life = new graft.ops.SqlLifecycle(spark, droot)
    life.execute("CREATE SCHEMA u")
    life.execute(
      "CREATE TABLE u.t (d STRING, v BIGINT) USING ICEBERG PARTITIONED BY (d)")
    life.execute("INSERT INTO u.t VALUES ('café', 1), ('中文', 2), ('中文', 3)")
    assert(life.execute("SHOW PARTITIONS u.t").get.collect()
      .map(_.getString(0)).toSet == Set("d=café", "d=中文"),
      "SHOW PARTITIONS must render the raw values")
    assert(life.query("SELECT CAST(sum(v) AS BIGINT) AS s FROM u.t " +
      "WHERE d = '中文'").head.getLong(0) == 5L)
  }

  test("vacuum cursor protection: dropping the last src-version commit re-tags it; the next hop stays incremental") {
    val src = Files.createTempDirectory("graft_vp").toString
    val dst = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), src)
    assert(VersionedPartitioned.propagateChanges(spark, src, dst)
      .contains((0L, 1L)))
    // bury the cursor-bearing commit under untagged promotes, then
    // vacuum it below the retention floor
    VersionedPartitioned.promote(pdf("2024-01-03" -> 3), dst)
    VersionedPartitioned.promote(pdf("2024-01-04" -> 4), dst)
    VersionedPartitioned.vacuum(spark, dst, keepLast = 2)
    // the cursor survived as a carried-forward tag on a fresh commit
    assert(VersionedPartitioned.committedTags(spark, dst)
      .contains("src-version:1"))
    // nothing new upstream → the next hop must still no-op (a lost
    // cursor would re-propagate the WHOLE table here)
    assert(VersionedPartitioned.propagateChanges(spark, src, dst).isEmpty)
    // a genuinely new upstream change still flows, incrementally
    VersionedPartitioned.promote(pdf("2024-01-05" -> 5), src)
    assert(VersionedPartitioned.propagateChanges(spark, src, dst)
      .contains((1L, 2L)))
    assert(state(VersionedPartitioned.read(spark, dst))
      .contains("2024-01-05" -> 5))
  }

  test("compactIfNeeded: a long run of single-partition promotes keeps the manifest fan-in bounded without whole-table rewrites") {
    val root = Files.createTempDirectory("graft_vp").toString
    var rewrittenParts = 0
    (1 to 50).foreach { i =>
      VersionedPartitioned.promote(pdf(f"2024-${(i - 1) / 28 + 1}%02d-${(i - 1) % 28 + 1}%02d" -> i), root)
      val before = VersionedPartitioned.history(spark, root).last._2.entries
      if (VersionedPartitioned.compactIfNeeded(spark, root,
          maxSnapshots = 8).isDefined) {
        val after = VersionedPartitioned.history(spark, root).last._2.entries
        rewrittenParts += after.count { case (p, s) => before.get(p) != Some(s) }
      }
    }
    // without the policy this would be a 50-way union plan
    assert(VersionedPartitioned.referencedSnapshots(spark, root) <= 8,
      "fan-in must stay bounded by the compaction policy")
    assert(VersionedPartitioned.read(spark, root).count() == 50)
    // partition-targeted proof: a whole-state policy would rewrite the
    // full (growing) table at every trigger — ~1000+ partition
    // rewrites over this run; the targeted policy consolidates only
    // the smallest snapshot groups (LSM-style tiering, amortized
    // O(log n) rewrites per partition)
    assert(rewrittenParts < 200,
      s"expected targeted consolidation, rewrote $rewrittenParts partitions")
    // time travel below the compactions still replays history as it was
    assert(state(VersionedPartitioned.readAt(spark, root, 1L)).size == 1)
  }

  test("partitioned vacuum + compact: referenced snapshots survive, sprawl reclaimed") {
    val root = Files.createTempDirectory("graft_vp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), root)
    VersionedPartitioned.promote(pdf("2024-01-02" -> 22), root)
    // keepLast=1 retains manifest v2, which references BOTH snapshot
    // dirs (day 1 rides the v1 snapshot) — nothing may be deleted
    assert(VersionedPartitioned.vacuum(spark, root, keepLast = 1) == 0)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22))
    // compact rewrites the live state into one snapshot; the old two
    // are then unreferenced by the retained manifest and reclaimed
    VersionedPartitioned.compact(spark, root)
    assert(VersionedPartitioned.vacuum(spark, root, keepLast = 1) == 2)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22))
  }

  private def snapDirs(root: String): Set[String] = {
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new HPath(root)).toSet
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
      .map(_.getPath.getName)
  }

  test("WAP: branch commits are invisible to main; publish is a metadata-only fast-forward") {
    val root = Files.createTempDirectory("graft_wap").toString
    Versioned.commit(df(1, 2), root)
    Versioned.commitToBranch(df(10), root, "audit")
    assert(Versioned.commitToBranch(df(10, 11), root, "audit") == 2L)
    // main readers never see branch state
    assert(Versioned.read(spark, root).as[Int].collect().toSeq.sorted == Seq(1, 2))
    assert(Versioned.currentVersion(spark, root).contains(1L))
    // the audit read sees the branch HEAD
    assert(Versioned.readBranch(spark, root, "audit")
      .as[Int].collect().toSeq.sorted == Seq(10, 11))
    val before = snapDirs(root)
    assert(Versioned.publish(spark, root, "audit") == 2L)
    // metadata-only: publish created no new snapshot dir
    assert(snapDirs(root) == before)
    assert(Versioned.read(spark, root).as[Int].collect().toSeq.sorted == Seq(10, 11))
    // old main state is still time-travelable; branch pointers are gone
    assert(Versioned.readAt(spark, root, 1L)
      .as[Int].collect().toSeq.sorted == Seq(1, 2))
    intercept[IllegalArgumentException] {
      Versioned.readBranch(spark, root, "audit")
    }
  }

  test("WAP audit-reject: dropBranch leaves main untouched and vacuum reclaims the staged snapshot") {
    val root = Files.createTempDirectory("graft_wap").toString
    Versioned.commit(df(1), root)
    Versioned.commitToBranch(df(99), root, "audit")
    // while the branch lives, even an aggressive vacuum keeps its snapshot
    assert(Versioned.vacuum(spark, root, keepLast = 1, orphanMinAgeMs = 0) == 0)
    assert(Versioned.readBranch(spark, root, "audit")
      .as[Int].collect().toSeq == Seq(99))
    assert(Versioned.dropBranch(spark, root, "audit") == 1)
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(1))
    // now unreferenced: the orphan sweep reclaims exactly the staged dir
    assert(Versioned.vacuum(spark, root, keepLast = 1, orphanMinAgeMs = 0) == 1)
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(1))
  }

  test("partitioned WAP: branch forks from main, merges partitions, publishes metadata-only") {
    val root = Files.createTempDirectory("graft_wapp").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-02" -> 2), root)
    // fork: the branch's first promote merges onto main's manifest
    VersionedPartitioned.promoteToBranch(pdf("2024-01-02" -> 22), root, "audit")
    // second branch promote merges onto the BRANCH head, not main
    assert(VersionedPartitioned.promoteToBranch(
      pdf("2024-01-03" -> 3), root, "audit") == 2L)
    // main is untouched while the branch accumulates
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 2))
    assert(state(VersionedPartitioned.readBranch(spark, root, "audit")) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22, "2024-01-03" -> 3))
    val before = snapDirs(root)
    assert(VersionedPartitioned.publish(spark, root, "audit") == 2L)
    assert(snapDirs(root) == before) // metadata-only
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 22, "2024-01-03" -> 3))
    // day 1 is still served by the ORIGINAL main snapshot (by reference)
    assert(VersionedPartitioned.referencedSnapshots(spark, root) == 3)
  }

  test("partitioned WAP: vacuum keeps branch snapshots; audit-reject reclaims them") {
    val root = Files.createTempDirectory("graft_wapp").toString
    VersionedPartitioned.promote(pdf("2024-01-01" -> 1), root)
    VersionedPartitioned.promoteToBranch(pdf("2024-01-01" -> 99), root, "audit")
    assert(VersionedPartitioned.vacuum(spark, root,
      keepLast = 1, orphanMinAgeMs = 0) == 0)
    assert(state(VersionedPartitioned.readBranch(spark, root, "audit")) ==
      Set("2024-01-01" -> 99))
    assert(VersionedPartitioned.dropBranch(spark, root, "audit") == 1)
    assert(VersionedPartitioned.vacuum(spark, root,
      keepLast = 1, orphanMinAgeMs = 0) == 1)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1))
  }

  test("WAP: two writers racing the same branch both land (optimistic claim, head wins)") {
    val root = Files.createTempDirectory("graft_wapc").toString
    Versioned.commit(df(0), root)
    // race: both threads resolve the same next branch version and claim
    // concurrently; the create-exclusive loser must retry, not clobber
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val writes = Future.sequence(Seq(10, 20).map(v =>
        Future(Versioned.commitToBranch(df(v), root, "audit"))))
      val versions = Await.result(writes, 120.seconds)
      assert(versions.toSet == Set(1L, 2L), s"got $versions")
    } finally pool.shutdown()
    // the branch head is whichever claim landed second; publish works
    val head = Versioned.readBranch(spark, root, "audit")
      .as[Int].collect().toSeq
    assert(head == Seq(10) || head == Seq(20))
    Versioned.publish(spark, root, "audit")
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == head)
  }

  private def kdf(rows: (String, Int)*) =
    rows.toSeq.toDF("date", "v")

  test("deleteKeysMor: keys-only sidecar, read-time anti-join, rewrite drops the refs") {
    val root = Files.createTempDirectory("graft_mor").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-01" -> 2, "2024-01-02" -> 3), root)
    // delete (day1, v=1) by key — no partition rewrite
    val snapsBefore = VersionedPartitioned.referencedSnapshots(spark, root)
    VersionedPartitioned.deleteKeysMor(spark, root, kdf("2024-01-01" -> 1))
    assert(VersionedPartitioned.referencedSnapshots(spark, root)
      == snapsBefore, "MOR delete must not write a snapshot")
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 2, "2024-01-02" -> 3))
    // time travel BEFORE the delete still sees the row
    assert(state(VersionedPartitioned.readAt(spark, root, 1L)) ==
      Set("2024-01-01" -> 1, "2024-01-01" -> 2, "2024-01-02" -> 3))
    // a second sidecar stacks
    VersionedPartitioned.deleteKeysMor(spark, root, kdf("2024-01-02" -> 3))
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 2))
    // overwriting day1 drops its refs: the re-promoted row with the
    // SAME key as the deleted one is visible again (fresh rows are not
    // subject to pre-rewrite deletes)
    VersionedPartitioned.promote(pdf("2024-01-01" -> 1), root)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 1))
  }

  test("deleteKeysMor: the stats-pruned read resolves sidecar deletes too") {
    val root = Files.createTempDirectory("graft_mor_pruned").toString
    // stats-bearing promote so prunedFiles has min/max to skip on
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-01" -> 2, "2024-01-02" -> 3), root,
      statsCols = Seq("v"))
    VersionedPartitioned.deleteKeysMor(spark, root, kdf("2024-01-01" -> 1))
    // the deleted key's FILE survives pruning (its [min,max] covers 1),
    // but the row must not resurface through the pruned read — the
    // MoR anti-join applies to every read shape, not just the full one
    assert(state(VersionedPartitioned.readPruned(spark, root, "v", 1, 3)) ==
      Set("2024-01-01" -> 2, "2024-01-02" -> 3))
    // rewrite day1: refs drop, the fresh same-key row reads back
    VersionedPartitioned.promote(pdf("2024-01-01" -> 1), root,
      statsCols = Seq("v"))
    assert(state(VersionedPartitioned.readPruned(spark, root, "v", 1, 3)) ==
      Set("2024-01-01" -> 1, "2024-01-02" -> 3))
  }

  test("deleteKeysMor: compact materializes deletes and vacuum reclaims the sidecars") {
    val root = Files.createTempDirectory("graft_mor").toString
    VersionedPartitioned.promote(
      pdf("2024-01-01" -> 1, "2024-01-01" -> 2), root)
    VersionedPartitioned.deleteKeysMor(spark, root, kdf("2024-01-01" -> 1))
    // while the live manifest references the sidecar, vacuum keeps it
    assert(VersionedPartitioned.vacuum(spark, root,
      keepLast = 1, orphanMinAgeMs = 0) == 0)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 2))
    VersionedPartitioned.compact(spark, root)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 2))
    // post-compact the sidecar and the old snapshot are reclaimable
    assert(VersionedPartitioned.vacuum(spark, root,
      keepLast = 1, orphanMinAgeMs = 0) == 2)
    assert(state(VersionedPartitioned.read(spark, root)) ==
      Set("2024-01-01" -> 2))
    val fs = new HPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new HPath(root))
      .exists(_.getPath.getName.startsWith("del-")))
  }

  test("rollbackTo: metadata-only revert, history append-only, works on both formats") {
    val root = Files.createTempDirectory("graft_rb").toString
    Versioned.commit(df(1, 2), root)
    Versioned.commit(df(9), root) // the bad deploy
    val before = snapDirs(root)
    assert(Versioned.rollbackTo(spark, root, 1L) == 3L)
    assert(snapDirs(root) == before) // no data moved
    assert(Versioned.read(spark, root).as[Int].collect().toSeq.sorted == Seq(1, 2))
    // the bad version stays inspectable; the rollback is itself history
    assert(Versioned.readAt(spark, root, 2L).as[Int].collect().toSeq == Seq(9))
    // a keepLast=1 vacuum keeps the rolled-back head's snapshot alive
    Versioned.vacuum(spark, root, keepLast = 1, orphanMinAgeMs = 0)
    assert(Versioned.read(spark, root).as[Int].collect().toSeq.sorted == Seq(1, 2))

    val proot = Files.createTempDirectory("graft_rbp").toString
    VersionedPartitioned.promote(pdf("2024-01-01" -> 1), proot)
    VersionedPartitioned.promote(pdf("2024-01-01" -> 99), proot)
    assert(VersionedPartitioned.rollbackTo(spark, proot, 1L) == 3L)
    assert(state(VersionedPartitioned.read(spark, proot)) ==
      Set("2024-01-01" -> 1))
  }

  test("historyDf: the commit log reads back as a metadata table") {
    val root = Files.createTempDirectory("graft_hist").toString
    Versioned.commit(df(1), root)
    Versioned.commit(df(2), root, Some("epoch=ck-0"))
    Versioned.commit(df(3), root)
    val h = Versioned.historyDf(spark, root)
      .select("version", "tag")
      .as[(Long, Option[String])].collect().toSeq
    assert(h == Seq((1L, None), (2L, Some("epoch=ck-0")), (3L, None)))
    assert(Versioned.historyDf(spark, root)
      .where($"committed_at" <= 0L).count() == 0)

    // partitioned format: partition/snapshot counts ride along
    val proot = Files.createTempDirectory("graft_hist_p").toString
    def pdf(d: String, v: Int) =
      Seq((d, v)).toDF("date", "v")
    VersionedPartitioned.promote(pdf("2024-01-01", 1), proot, "date")
    VersionedPartitioned.promote(pdf("2024-01-02", 2), proot, "date")
    val ph = VersionedPartitioned.historyDf(spark, proot)
      .select("version", "n_partitions", "n_snapshots")
      .as[(Long, Int, Int)].collect().toSeq
    assert(ph == Seq((1L, 1, 1), (2L, 2, 2)))
  }

  test("WAP: branches are independent and publish appends to current main") {
    val root = Files.createTempDirectory("graft_wap").toString
    Versioned.commit(df(1), root)
    Versioned.commitToBranch(df(10), root, "a")
    Versioned.commitToBranch(df(20), root, "b")
    // main advances between stage and publish: publish fast-forwards on top
    Versioned.commit(df(2), root)
    assert(Versioned.publish(spark, root, "a") == 3L)
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(10))
    // branch b is unaffected by a's publish
    assert(Versioned.readBranch(spark, root, "b")
      .as[Int].collect().toSeq == Seq(20))
    assert(Versioned.publish(spark, root, "b") == 4L)
    assert(Versioned.read(spark, root).as[Int].collect().toSeq == Seq(20))
  }

  private def relations(frame: org.apache.spark.sql.DataFrame) =
    frame.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }

  test("a manifest read leaves the session conf alone and runs no job") {
    val root = Files.createTempDirectory("graft_vp").toString
    // 40 single-day promotes: 40 snapshots, 40 partitions
    (1 to 40).foreach(d => VersionedPartitioned.promote(
      pdf(java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString -> d), root))
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "32")
    try {
      val (frame, jobs) =
        Jobs.during(spark)(VersionedPartitioned.read(spark, root))
      assert(spark.conf.get(key) == "32", "a read must not retune the session")
      assert(jobs == 0)
      assert(frame.count() == 40)
    } finally spark.conf.unset(key)
  }

  test("plan width: one scan per evolution group at any history depth") {
    val root = Files.createTempDirectory("graft_vp").toString
    val days = (1 to 6).map(d => f"2024-01-$d%02d")
    days.foreach(d => VersionedPartitioned.promote(pdf(d -> d.takeRight(2).toInt), root))
    assert(relations(VersionedPartitioned.read(spark, root)).size == 1)
    assert(relations(VersionedPartitioned.readAt(spark, root, 4L)).size == 1)
    assert(state(VersionedPartitioned.readAt(spark, root, 4L)) ==
      days.take(4).map(d => d -> d.takeRight(2).toInt).toSet)
    // a metadata-only ADD COLUMN, then promotes carrying the column
    // physically: two groups (before / after), one scan each
    VersionedPartitioned.evolveAddColumnMetaOnly(spark, root, "src", "'old'")
    Seq("2024-01-07", "2024-01-08").foreach(d => VersionedPartitioned.promote(
      Seq((d, d.takeRight(2).toInt, "new")).toDF("date", "v", "src"), root))
    val evolved = VersionedPartitioned.read(spark, root)
    assert(relations(evolved).size == 2)
    assert(evolved.selectExpr("cast(date as string)", "v", "src").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet ==
      (days.map(d => (d, d.takeRight(2).toInt, "old")) ++
        Seq(("2024-01-07", 7, "new"), ("2024-01-08", 8, "new"))).toSet)
  }

  test("readPartitionsWhere: an empty survivor set lists no partition dir") {
    val root = Files.createTempDirectory("graft_vp").toString
    Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach(d =>
      VersionedPartitioned.promote(pdf(d -> d.takeRight(2).toInt), root))
    val schema = VersionedPartitioned.read(spark, root).schema
    // take the partition dirs away: a read that lists one fails
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(new HPath(root, "snap-*/date=*")).foreach(s =>
      assert(fs.delete(s.getPath, true)))
    val none = VersionedPartitioned.readPartitionsWhere(spark, root,
      _ > "2025-01-01")
    assert(none.schema == schema)
    assert(none.inputFiles.isEmpty)
    assert(none.count() == 0)
  }
}
