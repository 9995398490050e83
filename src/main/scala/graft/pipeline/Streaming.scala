package graft.pipeline

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas
import graft.ops.{Exchange, Ingest, Rolling, Versioned, VersionedPartitioned}

/**
 * Structured Streaming variant of the daily pipeline (SURVEY.md §2.11) —
 * the reference's Airflow-scheduled daily micro-batch
 * (reference `dags/dag.py:54-56`) re-expressed as a streaming query:
 *
 *  - file source (new bar files appear under `inputPath`) replaces the
 *    scheduled REST pull;
 *  - `withWatermark + dropDuplicates` replaces the full-partition-rewrite
 *    duplicate protection (reference `README.md:25-26`) with bounded
 *    streaming state: late duplicates beyond the watermark age out;
 *  - `Trigger.AvailableNow` gives the reference's run-to-completion batch
 *    cadence with streaming exactly-once bookkeeping (checkpointed);
 *  - `foreachBatch` promotes each micro-batch via the same idempotent
 *    dynamic-partition-overwrite `Exchange.promote` the batch path uses
 *    (reference DELETE+INSERT, `dags/dag.py:292-311`), then re-derives
 *    the cumulative partitions for exactly the dates the batch touched.
 *
 * Scale notes: dedup state is keyed by (ticker, date) — bounded by the
 * watermark horizon × key cardinality, not by history. The only
 * driver-side collect is the distinct DATE list of a micro-batch
 * (partition metadata, a handful of values). Re-derivation reads only
 * the trailing 8-day partition-pruned slice per touched date.
 */
object Streaming {

  /**
   * Start the streaming pipeline over a bar-file directory. The feed
   * schema must carry ticker/date/open/high/low/close/volume and
   * `event_ts` (epoch millis) for watermarking and in-day ordering.
   * Returns the started query; callers `awaitTermination()`.
   */
  def run(spark: SparkSession, inputPath: String, feedSchema: StructType,
      cfg: PipelineConfig, checkpointDir: String,
      watermark: String = "2 days",
      // AvailableNow = the reference's run-to-completion daily batch;
      // pass Trigger.ProcessingTime(...) for an always-on ingest that
      // keeps polling `inputPath` — same plan, same exactly-once
      // checkpointing, only the cadence changes (callers then stop()
      // rather than awaitTermination()).
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val raw = spark.readStream.schema(feedSchema).parquet(inputPath)
    // dropDuplicatesWithinWatermark bounds dedup state by the watermark
    // horizon (a plain dropDuplicates subset without the event-time
    // column would retain every (ticker, date) ever seen, forever).
    // It is a volume optimization only — CORRECTNESS does not depend on
    // which duplicate survives, because promoteBatch merges against the
    // already-promoted partition rows and deterministically keeps the
    // min-event_ts bar per (ticker, date).
    val deduped = raw
      .withColumn("__event_time", timestamp_millis(col("event_ts")))
      .withWatermark("__event_time", watermark)
      .dropDuplicatesWithinWatermark("ticker", "date")
      .drop("__event_time")

    deduped.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) promoteBatch(spark, batch, cfg)
        ()
      }
      .start()
  }

  /**
   * Watermarked tumbling-window aggregation over a raw event stream —
   * the streaming form of `Ingest.dailyBars`: per (key, day) OHLCV-style
   * aggregates that finalize once the watermark passes the window end.
   * Late events within `watermark` update their window; older ones are
   * dropped with their state (bounded by horizon × key cardinality).
   * Works on a streaming OR batch Dataset (same plan, batch emits all).
   */
  def windowedBars(events: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, idCol: String,
      watermark: String = "2 days"): DataFrame = {
    val v = col(valueCol)
    events
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), "1 day") +: keys.map(col)): _*)
      .agg(
        min_by(v, col(idCol)).as("open"),
        max(v).as("high"),
        min(v).as("low"),
        max_by(v, col(idCol)).as("close"),
        count(lit(1)).as("volume"))
      .withColumn("date", to_date(col("window.start")))
      .drop("window")
  }

  /**
   * Session-window aggregation — the streaming counterpart of the batch
   * `ops/Sessions` operator: events within `gapSeconds` of each other
   * merge into one session per key; a session closes (and, in streaming
   * append mode, emits) once the watermark passes its end. Works on a
   * batch frame too (same plan, all sessions emitted), which is how the
   * spec proves equivalence with the batch sessionizer.
   */
  def sessionStats(events: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, gapSeconds: Long,
      watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(events)(events.withWatermark(tsCol, _))
    in.groupBy(
        (session_window(col(tsCol), s"$gapSeconds seconds") +: keys.map(col)): _*)
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 4).as("value_sum"))
      .select((keys.map(col) :+
        col("session_window.start").as("session_start") :+
        col("n_events") :+ col("value_sum")): _*)
  }

  /**
   * Watermarked stream-stream interval join — the remaining stateful-
   * streaming operator family: rows of `left` matched to rows of `right`
   * with the same key whose event time falls in
   * `[leftTs, leftTs + maxDelaySeconds]` (the impression→click /
   * quote→trade attribution shape). Both sides carry a watermark, so the
   * join state an executor must buffer is bounded by
   * watermark-horizon × key cardinality — Spark evicts a side's rows as
   * soon as the other side's watermark proves no future match can
   * arrive. Without the time bound (a plain stream-stream equi-join)
   * state would grow forever; the interval condition is what makes the
   * join feasible on an unbounded stream, exactly as at 100 TB/day.
   *
   * Works on batch frames too (same plan, watermarks ignored), which is
   * how the spec pins streaming ≡ batch equivalence. Key columns are
   * emitted once (left side); both timestamp/payload columns survive, so
   * they must be named distinctly across the two inputs.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, maxDelaySeconds: Long,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val timeCond = r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $maxDelaySeconds SECONDS")
    keys.foldLeft(l.join(r, keyCond && timeCond, "inner"))(
      (df, k) => df.drop(r(k)))
  }

  /**
   * One micro-batch: MERGE against the already-promoted rows of the
   * touched date partitions, keep the first bar per (ticker, date) by
   * event_ts deterministically, overwrite those partitions, then
   * re-derive cumulative metrics for the touched dates.
   *
   * The merge is load-bearing for two correctness properties a naive
   * overwrite-the-batch loses: (a) a partial-date micro-batch (only
   * some tickers of a day) must not wipe the day's other tickers from
   * production; (b) the surviving bar for a re-sent (ticker, date) must
   * be chosen by min event_ts, not by which duplicate a streaming dedup
   * happened to keep. The read-back is pruned to the batch's date
   * partitions — O(touched days), not table size.
   */
  /**
   * Streaming corpus ingest with incremental near-dup dedup — the
   * training-data counterpart of `run`: each micro-batch of documents
   * is admitted against the standing admitted corpus (batch band keys
   * broadcast against the corpus index, lower-id-wins within the batch)
   * and only the NOVEL survivors are appended to `corpusPath`.
   *
   * The corpus table carries the PERSISTENT signature index — two
   * content-addressed columns (`Dedup.IndexBucketsCol`,
   * `Dedup.IndexShinglesCol`) written with every admitted row — so the
   * steady-state per-batch cost is O(batch) signature work plus one
   * corpus columnar scan of the index columns: the corpus text is never
   * re-shingled or re-signed per batch (it used to be, making the daily
   * admit O(corpus)). A pre-index corpus (or one built externally)
   * bootstraps transparently: the first batch against a corpus lacking
   * the index columns rebuilds them in-flight, and every batch from
   * then on reads the stored index. Doc-column consumers are unaffected
   * (select their columns; pruning skips the index).
   *
   * Exactly-once admits, two independent layers:
   *
   *  1. EPOCH LEDGER (primary): every committed batch drops a marker in
   *     `corpusPath/_epochs/` keyed by (checkpoint id, epoch) — the
   *     same txnAppId/txnVersion idempotence contract Delta's
   *     foreachBatch sinks document. A crash-replay of a committed
   *     epoch is detected by the tag and skipped outright: no dedup
   *     compute, no corpus scan, no reliance on content matching. The
   *     key includes the checkpoint id because a FRESH checkpoint
   *     restarts epoch numbering at 0 — a bare epoch key would wrongly
   *     skip new data. The `_`-prefixed dir is invisible to parquet
   *     scans of the corpus.
   *  2. SELF-DEDUP (backstop, closes the append→marker crash window):
   *     a replayed previously-admitted doc near-dups ITSELF in the
   *     corpus (identical shingle set → Jaccard 1.0 ≥ any threshold)
   *     and is dropped, and every previously-rejected doc still has
   *     its original partner — so even a replay the ledger has no
   *     marker for (crash after the append, before the marker create)
   *     admits nothing twice.
   *
   * State lives entirely in the corpus table; nothing accumulates in
   * streaming state. Storing the index ON the corpus table preserves
   * this: one append commits data + index together, where a sibling
   * index table could diverge on a crash between two writes.
   */
  def dedupIngest(spark: SparkSession, inputPath: String,
      docSchema: StructType, corpusPath: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5): StreamingQuery = {
    val raw = spark.readStream.schema(docSchema).parquet(inputPath)
    raw.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty)
          admitBatch(spark, batch, corpusPath, idCol, textCol, threshold,
            Some((checkpointDir, epoch)))
        ()
      }
      .start()
  }

  /** Stable id of a stream = content hash of its checkpoint path.
    * Epoch numbers are only unique WITHIN one checkpoint (a fresh
    * checkpoint dir restarts at 0), so every epoch-keyed idempotence
    * guard must scope on this id — a bare epoch number would make a
    * second stream (or a re-created checkpoint) collide with an
    * already-committed epoch and silently drop its batch. */
  private[graft] def checkpointId(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  /** Marker path for a committed (checkpoint, epoch) admit. */
  private def epochMarker(corpusPath: String, checkpointDir: String,
      epoch: Long): HPath =
    new HPath(corpusPath.stripSuffix("/") + "/_epochs",
      s"${checkpointId(checkpointDir)}-$epoch.commit")

  /**
   * Exactly-once VISIBLE streaming sink over the `Versioned` table
   * format: every non-empty micro-batch commits as one atomic snapshot
   * tagged with its checkpoint epoch, so the table's latest version is
   * always one complete epoch — readers never observe a partial or
   * duplicated batch, and every epoch stays time-travelable until
   * vacuumed.
   *
   * `foreachBatch` is at-least-once: after a crash the LAST epoch
   * replays with the same batchId. The epoch tag turns that replay into
   * a no-op (`commitEpoch` sees the tag among the retained commits and
   * skips), upgrading the sink to exactly-once visibility — the same
   * txnAppId/txnVersion idempotence contract Delta's foreachBatch sinks
   * document, carried here by the commit file itself so no side channel
   * can desync from the data. Retention note: Structured Streaming only
   * ever replays the most recent uncommitted epoch, and any
   * `Versioned.vacuum(keepLast >= 1)` retention keeps the guard intact
   * even with interleaved non-stream writers — vacuum re-tags each
   * stream's newest epoch onto a retained commit before deleting
   * anything (`Versioned.epochCarryTags`).
   *
   * Each epoch's snapshot REPLACES the table state (complete-refresh
   * semantics — the right grain for the dimension/index/manifest tables
   * `Versioned` targets); append-accumulating sinks union the previous
   * version inside `transform`.
   */
  def versionedSink(stream: DataFrame, root: String, checkpointDir: String,
      transform: DataFrame => DataFrame = identity): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty)
          commitEpoch(transform(batch), root, checkpointDir, epoch)
        ()
      }
      .start()

  /**
   * STREAMING MATERIALIZED VIEW: maintain a COUNT/SUM aggregate table
   * over an append-only stream by the delta rule
   * (`IncrementalAgg.maintain` — state + aggregate(batch) per group)
   * instead of re-aggregating history, with `versionedSink`'s
   * exactly-once epoch contract: each maintained state commits as one
   * atomic epoch-tagged `Versioned` snapshot, and an at-least-once
   * foreachBatch replay of a committed epoch no-ops, so a crash can
   * never double-count a batch into the view.
   *
   * This is the streaming-aggregation shape WITHOUT watermark state:
   * Spark's native streaming `groupBy.agg` holds every group in the
   * state store (or needs a watermark to evict); here the state IS the
   * output table — bounded by group cardinality, readable by any batch
   * consumer mid-stream, time-travelable per epoch, and the per-batch
   * work is O(batch + |groups|), never O(history). Sums should be
   * DECIMAL columns (exact delta arithmetic — the maintain-equals-
   * recompute guarantee does not survive double re-association).
   */
  def aggViewSink(stream: DataFrame, root: String, checkpointDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val state =
            if (Versioned.currentVersion(s, root).isDefined)
              Versioned.read(s, root)
            else // bootstrap: empty state with the aggregate schema
              graft.ops.IncrementalAgg.aggregate(batch.limit(0),
                groupCols, sumCols)
          val next = graft.ops.IncrementalAgg.maintain(state,
            batch.limit(0), batch, groupCols, sumCols)
          commitEpoch(next, root, checkpointDir, epoch)
        }
        ()
      }
      .start()

  /** Commit `batch` as epoch `epoch` OF `checkpointDir`'s stream unless
    * that (checkpoint, epoch) already committed; returns whether a
    * commit happened (false = replay). The tag carries the checkpoint
    * id because epoch numbers restart at 0 under a fresh checkpoint
    * dir — an unscoped `epoch=0` tag would match a PREVIOUS stream's
    * commit and silently drop the new stream's first batch. */
  private[graft] def commitEpoch(batch: DataFrame, root: String,
      checkpointDir: String, epoch: Long): Boolean = {
    // epochs of one checkpoint commit in strictly increasing order, so
    // the newest tag of this stream decides replay in O(1) steady-state
    // commit-file reads (full scan only on a stream's very first epoch)
    val prefix = s"epoch=${checkpointId(checkpointDir)}-"
    val latest = Versioned.latestTagWithPrefix(batch.sparkSession, root,
      prefix).map(_.toLong)
    if (latest.exists(_ >= epoch)) false
    else { Versioned.commit(batch, root, Some(s"$prefix$epoch")); true }
  }

  /**
   * Exactly-once streaming promote into a `VersionedPartitioned` FACT
   * table: each micro-batch replaces exactly the partitions it carries
   * (manifest merge — untouched partitions inherited by reference) as
   * one epoch-tagged atomic commit. The streaming counterpart of the
   * reference's per-day DELETE+INSERT exchange, with `versionedSink`'s
   * replay contract: foreachBatch's at-least-once redelivery of a
   * committed epoch finds its tag in the manifest history and no-ops,
   * so a crash between checkpoint write and commit cannot double-apply
   * a partition rewrite. Per epoch the work is O(batch partitions) —
   * a late-data trickle re-promotes one day, never the table.
   */
  def versionedPartitionedSink(stream: DataFrame, root: String,
      checkpointDir: String, partitionCol: String = "date",
      transform: DataFrame => DataFrame = identity): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty)
          commitPartitionedEpoch(transform(batch), root, partitionCol,
            checkpointDir, epoch)
        ()
      }
      .start()

  /**
   * Exactly-once streaming UPSERT into a `VersionedPartitioned` table:
   * each micro-batch lands via `VersionedPartitioned.upsertInto` — the
   * batch's rows in, existing rows sharing a batch key out, as ONE
   * atomic epoch-tagged commit (see upsertInto's header for why the
   * two-commit deleteKeysMor composition is rejected: a visible
   * partial window AND equality deletes would strike the replacement
   * rows). The CDC-ingestion shape: a change stream keyed on
   * (partition col + row key) keeps the table at
   * latest-version-per-key, exactly once — foreachBatch's
   * at-least-once replay of a committed epoch finds its tag and
   * no-ops. Per epoch the work is O(touched partitions), never
   * O(table).
   */
  def upsertSink(stream: DataFrame, root: String, checkpointDir: String,
      partitionCol: String, keyCols: Seq[String],
      transform: DataFrame => DataFrame = identity): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val b = transform(batch)
          val prefix = s"epoch=${checkpointId(checkpointDir)}-"
          val latest = VersionedPartitioned.latestTagWithPrefix(
            b.sparkSession, root, prefix).map(_.toLong)
          if (!latest.exists(_ >= epoch)) {
            VersionedPartitioned.upsertInto(b, root, partitionCol,
              keyCols, tag = Some(s"$prefix$epoch"))
            ()
          }
        }
        ()
      }
      .start()

  /**
   * Exactly-once streaming EQUALITY DELETE: each micro-batch of keys
   * (partition col + key cols, nothing else) lands as one
   * merge-on-read delete commit (`VersionedPartitioned.deleteKeysMor`
   * — a metadata-sized sidecar per batch, ZERO partition rewrite),
   * epoch-tagged under `versionedSink`'s replay contract. The GDPR /
   * bad-record retraction shape: a key stream keeps striking rows
   * from a 100 TB table at sidecar cost; compaction materializes the
   * deletes later. Delete-only streams dodge the equality-delete
   * upsert hazard by construction — there are no replacement rows to
   * strike.
   */
  def equalityDeleteSink(stream: DataFrame, root: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!batch.isEmpty) {
          val prefix = s"epoch=${checkpointId(checkpointDir)}-"
          val latest = VersionedPartitioned.latestTagWithPrefix(
            batch.sparkSession, root, prefix).map(_.toLong)
          if (!latest.exists(_ >= epoch)) {
            VersionedPartitioned.deleteKeysMor(batch.sparkSession, root,
              batch, tag = Some(s"$prefix$epoch"))
            ()
          }
        }
        ()
      }
      .start()

  /** `versionedPartitionedSink` under a HIDDEN partition transform
    * (ops/HiddenPartition): the stream carries only source columns and
    * each micro-batch derives the physical key on the way in, so
    * streaming ingestion lands day-bucketed (or hash-bucketed) without
    * the producer ever naming a partition key. Same exactly-once epoch
    * contract; `HiddenPartition.readRange`/`readEquals` prune the
    * result like any hidden table. */
  def hiddenPartitionedSink(stream: DataFrame, root: String,
      checkpointDir: String, t: graft.ops.PartitionTransform,
      transform: DataFrame => DataFrame = identity): StreamingQuery =
    versionedPartitionedSink(stream, root, checkpointDir, t.physCol,
      b => transform(b).withColumn(t.physCol, t.expr))

  /** `commitEpoch` at partition grain: promote unless the
    * (checkpoint, epoch) tag is already in the manifest history;
    * returns whether a commit happened. Checkpoint-scoped for the same
    * reason as `commitEpoch` — a fresh checkpoint restarts epochs at 0. */
  private[graft] def commitPartitionedEpoch(batch: DataFrame, root: String,
      partitionCol: String, checkpointDir: String, epoch: Long): Boolean = {
    val prefix = s"epoch=${checkpointId(checkpointDir)}-"
    val latest = VersionedPartitioned.latestTagWithPrefix(
      batch.sparkSession, root, prefix).map(_.toLong)
    if (latest.exists(_ >= epoch)) false
    else {
      VersionedPartitioned.promote(batch, root, partitionCol,
        Some(s"$prefix$epoch"))
      true
    }
  }

  private[graft] def admitBatch(spark: SparkSession, batch: DataFrame,
      corpusPath: String, idCol: String, textCol: String,
      threshold: Double, txn: Option[(String, Long)] = None): Unit = {
    import graft.ext.Dedup
    // exactly-once layer 1: a committed (checkpoint, epoch) admit is a
    // no-op replay — detected by the ledger tag alone, before any work
    val fs = new HPath(corpusPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = txn.map { case (ckpt, epoch) =>
      epochMarker(corpusPath, ckpt, epoch) }
    if (marker.exists(fs.exists)) return
    val indexCols = Seq(Dedup.IndexBucketsCol, Dedup.IndexShinglesCol)
    val existing =
      try Some(Exchange.table(spark, corpusPath))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        // a missing table may be a swap crash window, not an empty
        // corpus — recover the hidden previous contents before deciding
        if (Exchange.recoverSwap(spark, corpusPath))
          Some(Exchange.table(spark, corpusPath))
        else None
      }
    val indexed = existing match {
      case Some(c) if indexCols.forall(c.columns.contains) =>
        // steady state: the stored index IS the corpus-side input —
        // no text read, no re-shingling, no re-signing
        c.select((batch.columns ++ indexCols).map(col): _*)
      case Some(c) =>
        // one-time migration of a pre-index corpus: rebuild the index
        // for every row and SWAP the table (appending indexed rows to
        // unindexed files would mix schemas — old files would read NULL
        // index columns and their docs would silently stop blocking)
        Exchange.swapTable(
          Dedup.buildBandIndex(c.select(batch.columns.map(col): _*),
            idCol, textCol, numHashes = 128, bands = 32),
          corpusPath)
        Exchange.table(spark, corpusPath)
          .select((batch.columns ++ indexCols).map(col): _*)
      case None =>
        Dedup.buildBandIndex(
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), batch.schema),
          idCol, textCol, numHashes = 128, bands = 32)
    }
    val novel = Dedup.incrementalNearDupsIndexed(indexed, batch,
      idCol, textCol, numHashes = 128, bands = 32, threshold = threshold)
    // raw append outside the swap protocol: the first append records
    // the corpus schema, and every later batch must match it — a batch
    // of another shape would make the recorded schema lie about files
    val recorded = graft.ops.Versioned.recordedSchema(spark, corpusPath)
    val shape = graft.ops.Versioned.readBackShape(novel.schema)
    recorded.foreach(r => require(r == shape,
      s"admitBatch: batch schema ${shape.simpleString} differs from the " +
        s"schema recorded for corpus $corpusPath: ${r.simpleString}"))
    // the plan reads corpusPath while appending to it, which is safe
    // here: append never deletes or rewrites existing files, and the
    // scan's file index was fixed at planning time — new files are
    // invisible to in-flight (and retried) corpus-scan tasks
    novel.write.mode("append").parquet(corpusPath)
    if (recorded.isEmpty)
      graft.ops.Versioned.writeSchema(fs, new HPath(corpusPath), novel.schema)
    // exactly-once layer 2: stamp the ledger AFTER the append commits.
    // A crash in the append→marker window replays the batch without a
    // marker — the self-dedup backstop (every admitted doc Jaccard-1.0
    // matches itself) admits nothing twice (see dedupIngest doc).
    marker.foreach { m =>
      fs.mkdirs(m.getParent)
      try { val out = fs.create(m, false); out.close() }
      catch { case _: java.io.IOException if fs.exists(m) => () }
    }
  }

  private[pipeline] def promoteBatch(spark: SparkSession, batch: DataFrame,
      cfg: PipelineConfig): Unit = {
    val incoming = batch.select(
      Schemas.stockBar.fieldNames.filterNot(_ == "insertion_timestamp")
        .map(col): _*)

    // distinct dates of the batch: partition metadata, tiny by design
    val touched0 = incoming.select(col("date")).distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted
    val existing =
      try Exchange.table(spark, cfg.productionPath)
        .where(col("date").isin(touched0.map(java.sql.Date.valueOf): _*))
        .select(incoming.columns.map(col): _*)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), incoming.schema)
      }

    val staged = Ingest.stampInsertion(
      Ingest.firstPerKey(existing.unionByName(incoming),
        Seq("ticker", "date"), Seq("event_ts")))
    Exchange.promote(Schemas.conform(staged, Schemas.stockBar),
      cfg.productionPath)
    val touched = touched0
    val prod = Exchange.table(spark, cfg.productionPath)
    touched.foreach { ds =>
      val cum = Rolling.forDay(prod, ds, Seq("ticker"), "date",
          arrayCols = Seq("open", "high", "low", "close", "volume"),
          volumeCol = "volume", closeCol = "close")
        .select(col("ticker"), col("date"),
          col("last_7_days_open"), col("last_7_days_high"),
          col("last_7_days_low"), col("last_7_days_close"),
          col("last_7_days_volume"),
          col("avg_7_day_volume"), col("volatility_7_day"))
      Exchange.promote(
        Schemas.conform(cum.withColumn("updated_at", current_timestamp()),
          Schemas.cumulative),
        cfg.cumulativePath)
    }
  }

  // ---- CDC change-feed subscription (Iceberg's changelog read) ---------

  /** Tag prefix carrying the change-feed cursor on the DEST log's
    * commit history — same mechanism as `propagateChanges`' cursor
    * (monotone, vacuum-carried, restart-proof). */
  private[graft] val CdcSrcTag = "cdc-src-version:"

  /** The version column each delivered change row carries (also the
    * dest log's partition column, so every hop is one new partition —
    * an append-only log). NOT underscore-prefixed: Spark's file index
    * hides `_*` partition dirs. */
  val CommitVersionCol = "commit_version"

  /**
   * One exactly-once change-feed hop: deliver the SOURCE table's
   * row-level changes since the last delivered version into `destRoot`
   * — a CDC LOG table of `keys :+ change_type :+ commit_version` rows,
   * partitioned by the source version that produced each window
   * (Iceberg's `create_changelog_view` shape over the
   * `readRowChanges` classification the format already computes).
   *
   * Exactly-once across restarts and replays: the cursor is a
   * `cdc-src-version:<v>` tag on the DEST commit history, written
   * atomically WITH the delivered window (one promote) — a crash
   * between hops loses nothing, a replayed hop sees `to <= from` and
   * no-ops, and vacuum carries the newest tag forward
   * (`Versioned.epochCarryTags` contract). No checkpoint directory:
   * the log table IS the checkpoint.
   *
   * Scale: each hop reads only the partitions the version window
   * touched (`changedSides` is O(touched partitions)), classifies with
   * one full-outer join on the keys, and writes change-sized output.
   * The first hop (cursor 0) is the bootstrap: every current row
   * delivered as `insert`.
   *
   * Returns the delivered (fromVersion, toVersion] window, or None
   * when the feed is caught up.
   */
  def changeFeedHop(spark: SparkSession, sourceRoot: String,
      keys: Seq[String], destRoot: String): Option[(Long, Long)] = {
    val to = VersionedPartitioned.currentVersion(spark, sourceRoot)
      .getOrElse(return None)
    val from = VersionedPartitioned
      .latestTagWithPrefix(spark, destRoot, CdcSrcTag)
      .map(_.toLong).getOrElse(0L)
    if (to <= from) return None
    val changes = VersionedPartitioned
      .readRowChanges(spark, sourceRoot, keys, from, Some(to))
      .withColumn(CommitVersionCol, lit(to))
    VersionedPartitioned.promote(changes, destRoot, CommitVersionCol,
      tag = Some(s"$CdcSrcTag$to"))
    Some((from, to))
  }

  /** Consumer-side cursor tag for a maintained aggregate: the highest
    * LOG window (source commit version) folded into the state, carried
    * on the STATE table's own commit history — same restart-proof,
    * vacuum-carried mechanism as the feed's `cdc-src-version:`. */
  private[graft] val MvCursorTag = "mv-log-version:"

  /**
   * One exactly-once MAINTENANCE hop of a materialized aggregate fed
   * by a CDC log (`changeFeedHop`'s output shape): fold every log
   * window delivered after the view's own cursor into the state table
   * with the delta rule (`IncrementalAgg.maintain` — full-row-keyed
   * feeds carry only insert/delete rows, and count/sum deltas are
   * associative, so one fold over the whole (from, to] union is exact:
   * an insert-then-delete across windows cancels to zero). The new
   * state commits WITH the `mv-log-version:<to>` cursor in ONE atomic
   * commit — a crash between hops loses nothing, a replayed hop sees
   * `to <= from` and no-ops, and the state table needs no checkpoint:
   * it IS the checkpoint.
   *
   * Scale: the hop reads only the new log windows (partition-pruned on
   * `commit_version`), the state is aggregate-sized, and the fold is
   * one hash aggregation over the state and the raw window — a downstream
   * consumer's steady-state cost is O(changes), never O(source table).
   * The state table is partitioned by `groupCols.head`; a group whose
   * maintained count reaches zero leaves the table (its partition
   * drops when emptied, `overwritePartitions` semantics).
   *
   * Returns the folded (fromVersion, toVersion] window of SOURCE
   * commit versions, or None when the view is caught up.
   */
  def maintainAggregate(spark: SparkSession, logRoot: String,
      stateRoot: String, groupCols: Seq[String],
      sumCols: Seq[String]): Option[(Long, Long)] = {
    val (from, to, win) = pendingWindow(spark, logRoot, stateRoot)
      .getOrElse(return None)
    val bootstrap =
      VersionedPartitioned.currentVersion(spark, stateRoot).isEmpty
    val state =
      if (bootstrap)
        graft.ops.IncrementalAgg.aggregate(
          feedSide(win, "insert").where(lit(false)), groupCols, sumCols)
      else VersionedPartitioned.read(spark, stateRoot)
    val next = graft.ops.IncrementalAgg.maintain(state,
      feedSide(win, "delete"), feedSide(win, "insert"), groupCols, sumCols)
    commitState(spark, stateRoot, next, groupCols.head, to, bootstrap)
    Some((from, to))
  }

  /** The not-yet-folded (from, to] slice of a CDC log for a state
    * table: the log partitions above the state's cursor, with the
    * version column dropped (the fold is one signed pass over the
    * union — full-row feeds make insert/delete deltas associative
    * across windows). None when the view is caught up. */
  private def pendingWindow(spark: SparkSession, logRoot: String,
      stateRoot: String): Option[(Long, Long, DataFrame)] = {
    if (VersionedPartitioned.currentVersion(spark, logRoot).isEmpty)
      return None
    val delivered = VersionedPartitioned.partitions(spark, logRoot)
      .map(d => d.substring(d.indexOf('=') + 1).toLong)
    if (delivered.isEmpty) return None
    val to = delivered.max
    val from = VersionedPartitioned
      .latestTagWithPrefix(spark, stateRoot, MvCursorTag)
      .map(_.toLong).getOrElse(0L)
    if (to <= from) return None
    val win = VersionedPartitioned.readPartitionsWhere(spark, logRoot,
        v => { val n = v.toLong; n > from && n <= to })
      .drop(CommitVersionCol)
    Some((from, to, win))
  }

  private def feedSide(win: DataFrame, kind: String): DataFrame =
    win.where(col("change_type") === kind).drop("change_type")

  /** Commit a maintained state WITH its cursor in one atomic commit —
    * the exactly-once contract every maintained view shares. */
  private def commitState(spark: SparkSession, stateRoot: String,
      next: DataFrame, partitionCol: String, to: Long,
      bootstrap: Boolean, tagPrefix: String = MvCursorTag,
      tagValue: Option[String] = None): Unit = {
    val cursor = Some(tagPrefix + tagValue.getOrElse(to.toString))
    // writers = Some(0) (AQE-sized write): maintained state is
    // aggregate-sized by contract, so the fixed writer floor would
    // schedule mostly-empty tasks on every hop; AQE sizes the write
    // exchange by bytes instead (one task for a small state, real
    // parallelism if a state ever grows large).
    if (bootstrap) {
      // an empty bootstrap fold has no commit to carry the cursor —
      // harmless: the same empty windows re-fold to nothing next hop
      if (next.take(1).nonEmpty)
        VersionedPartitioned.promote(next, stateRoot, partitionCol,
          tag = cursor, writers = Some(0))
    } else
      VersionedPartitioned.overwritePartitions(next, stateRoot,
        _ => true, tag = cursor, writers = Some(0))
  }

  /**
   * CDC-fed maintenance of an EXACT COUNT DISTINCT view: the state is
   * the distinct-support relation — one row per (group × distinct
   * value) with its multiplicity — which IS a count aggregate keyed by
   * `groupCols :+ distinctCol`, so the count delta rule maintains it
   * exactly under deletes (a value leaves the support when its
   * maintained multiplicity reaches zero, precisely when it leaves the
   * table). Read with `IncrementalAgg.supportDistinctCounts`: the
   * per-group distinct count is the group's support-row count — an
   * aggregate-sized pass. This is the standard MV answer to COUNT
   * DISTINCT's non-subtractability: maintain the support, count at
   * read. State size is O(#distinct values), change cost O(changes) —
   * never O(source table).
   */
  def maintainDistinct(spark: SparkSession, logRoot: String,
      stateRoot: String, groupCols: Seq[String],
      distinctCol: String): Option[(Long, Long)] =
    maintainAggregate(spark, logRoot, stateRoot,
      groupCols :+ distinctCol, Nil)

  /**
   * CDC-fed maintenance of a QUANTILE-SKETCH view: bucketize the
   * window's value column into the DDSketch log-buckets
   * (`IncrementalAgg.bucketColumn` — α-relative-error by
   * construction), then maintain the (group × bucket) counts with the
   * same count delta rule — bucket counts ARE subtractable, so unlike
   * the partition-grained batch path no rescan is ever needed. Read
   * with `IncrementalAgg.feedQuantileValues`. State size is bounded by
   * the data's dynamic range (≈1 400 buckets/group at α=1% over 12
   * decades), change cost O(changes).
   */
  def maintainQuantile(spark: SparkSession, logRoot: String,
      stateRoot: String, groupCols: Seq[String], valueCol: String,
      alpha: Double = graft.ops.IncrementalAgg.DefaultAlpha)
      : Option[(Long, Long)] = {
    val (from, to, win) = pendingWindow(spark, logRoot, stateRoot)
      .getOrElse(return None)
    val keyed = win.select((groupCols.map(col) :+
      graft.ops.IncrementalAgg.bucketColumn(valueCol, alpha).as("bucket") :+
      col("change_type")): _*)
    val keyCols = groupCols :+ "bucket"
    val bootstrap =
      VersionedPartitioned.currentVersion(spark, stateRoot).isEmpty
    val state =
      if (bootstrap)
        graft.ops.IncrementalAgg.aggregate(
          feedSide(keyed, "insert").where(lit(false)), keyCols, Nil)
      else VersionedPartitioned.read(spark, stateRoot)
    val next = graft.ops.IncrementalAgg.maintain(state,
      feedSide(keyed, "delete"), feedSide(keyed, "insert"), keyCols, Nil)
    commitState(spark, stateRoot, next, groupCols.head, to, bootstrap)
    Some((from, to))
  }

  /**
   * CDC-fed maintenance of an exact MIN/MAX (+ row count) view by
   * `IncrementalAgg.fold`. Min/max is not subtractable — deleting the
   * current extremum invalidates `state − old + new` — so the fold
   * splits per group:
   *
   *  - inserts merge for free (`least`/`greatest` against the state);
   *  - a group whose deletes provably cannot reach the merged extremes
   *    (every deleted value strictly inside them) keeps the merged
   *    cells;
   *  - only groups a delete MIGHT have de-extremed are RESCANNED from
   *    the source — at the log's own `to` version (time travel), so
   *    the fold is exact even if the source has since advanced.
   *
   * The rescan reads only the affected groups' rows (null-safe
   * broadcast semi-join on the group keys, so a NULL group key is a
   * group like any other — partition-pruned further when the
   * group key is the source's partition column), so the steady-state
   * cost is O(changes) + O(affected groups' rows), never O(source
   * table). A group whose maintained count reaches zero leaves the
   * state, exactly as a recompute would drop it.
   *
   * Exactly-once like `maintainAggregate`: state + cursor commit
   * atomically; replays no-op; restarts resume from the cursor.
   */
  def maintainMinMax(spark: SparkSession, logRoot: String,
      stateRoot: String, sourceRoot: String, groupCols: Seq[String],
      valueCols: Seq[String]): Option[(Long, Long)] = {
    require(valueCols.nonEmpty, "at least one value column")
    val (from, to, win) = pendingWindow(spark, logRoot, stateRoot)
      .getOrElse(return None)
    val ins = feedSide(win, "insert")
    val shape = graft.ops.IncrementalAgg.Shape(groupCols, minMax = valueCols)
    val bootstrap =
      VersionedPartitioned.currentVersion(spark, stateRoot).isEmpty
    val state =
      if (bootstrap)
        graft.ops.IncrementalAgg.buildState(ins.where(lit(false)), shape)
      else VersionedPartitioned.read(spark, stateRoot)
    // the rescan reads the source at the log's own `to` version
    val next = graft.ops.IncrementalAgg.fold(shape, state,
      feedSide(win, "delete"), ins,
      Some(VersionedPartitioned.readAt(spark, sourceRoot, to)))
    commitState(spark, stateRoot, next, groupCols.head, to, bootstrap)
    Some((from, to))
  }

  /**
   * CDC-fed maintenance of an exact per-group TOP-K-rows view (rank by
   * `orderCol` DESC, ties broken by `idCol` ASC). The state keeps each
   * group's current top-≤k rows, which is lossless for every question
   * the view answers:
   *
   *  - window deltas net out by FULL ROW first (an insert+delete of
   *    the same row across folded windows cancels; an update is a
   *    delete of the old row + insert of the new, both surviving);
   *  - inserts only RAISE the bar: merging them into the state and
   *    re-ranking is exact;
   *  - a delete below the group's k-th row cannot surface (state
   *    holds k better rows) — ignored;
   *  - a delete hitting a FULL group's state row opens a slot whose
   *    refill row is not in state — that group alone is RESCANNED from
   *    the source at the window's `to` version. A group with fewer
   *    than k state rows holds ALL its rows, so its deletes apply
   *    in-state without rescan.
   *
   * Steady-state cost: O(changes) + O(affected groups' rows); state is
   * O(#groups × k). Exactly-once like `maintainAggregate`.
   */
  def maintainTopK(spark: SparkSession, logRoot: String,
      stateRoot: String, sourceRoot: String, groupCols: Seq[String],
      orderCol: String, idCol: String, k: Int): Option[(Long, Long)] = {
    require(k > 0, "k must be positive")
    val (from, to, win) = pendingWindow(spark, logRoot, stateRoot)
      .getOrElse(return None)
    val ins = feedSide(win, "insert")
    val del = feedSide(win, "delete")
    val stateCols = groupCols :+ idCol :+ orderCol
    def proj(df: DataFrame) = df.select(stateCols.map(col): _*)
    val netIns = proj(ins.exceptAll(del))
    val netDel = proj(del.exceptAll(ins))
    val bootstrap =
      VersionedPartitioned.currentVersion(spark, stateRoot).isEmpty
    // proj the persisted state too: the parquet read appends the
    // partition column last, and exceptAll below is POSITIONAL
    val state =
      if (bootstrap) proj(ins.where(lit(false)))
      else proj(VersionedPartitioned.read(spark, stateRoot))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol).desc, col(idCol).asc)
    def rank(df: DataFrame) = df
      .withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
      .drop("__rn")
    // groups needing a refill: FULL in state (k rows) AND a net delete
    // hit one of those rows (full-tuple match — a below-k delete never
    // appears in state and never rescans)
    val fullness = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val stateSized = state
      .withColumn("__gn", count(lit(1)).over(fullness))
    val hit = stateSized.join(netDel, stateCols, "left_semi")
    val affected = hit.where(col("__gn") >= k)
      .select(groupCols.map(col): _*).distinct()
    // survivors: state rows minus the deleted tuples, for groups NOT
    // being rescanned; merge the net inserts and re-rank
    val survivors = state.exceptAll(netDel)
      .join(broadcast(affected), groupCols, "left_anti")
    val merged = rank(survivors.unionByName(
      netIns.join(broadcast(affected), groupCols, "left_anti")))
    val rescanned = rank(proj(
      VersionedPartitioned.readAt(spark, sourceRoot, to)
        .join(broadcast(affected), groupCols, "left_semi")))
    val next = merged.unionByName(rescanned)
    commitState(spark, stateRoot, next, groupCols.head, to, bootstrap)
    Some((from, to))
  }

  /** Cursor tag for a maintained JOIN view — carries BOTH sides'
    * folded source versions as `<factV>:<dimV>`. */
  private[graft] val MvJoinCursorTag = "mv-join-version:"

  /**
   * CDC-fed maintenance of a materialized JOIN aggregate
   * (`IncrementalAgg.joinAggregate` over fact ⋈ dim) from TWO change
   * feeds — the two-relation delta rule Δ(F⋈D) = ΔF⋈D_new + F_old⋈ΔD
   * with both deltas read straight from the logs:
   *
   *  - ΔF/ΔD are the logs' pending insert/delete windows;
   *  - D_new is the dim at ITS window's `to` version, F_old the fact
   *    at its `from` (both time travel — exact even if the sources
   *    advance mid-fold; an empty fact cursor means F_old is empty and
   *    those terms vanish).
   *
   * The composite cursor `<factTo>:<dimTo>` commits atomically with
   * the state; either feed being caught up simply zeroes its delta
   * terms. Steady-state cost: the ΔF terms scan change-sized frames
   * against the (broadcastable) dim; the F_old⋈ΔD terms scan the old
   * fact restricted BY THE JOIN ITSELF to the changed dim keys — an
   * unchanged dim contributes nothing. Exactly-once like
   * `maintainAggregate`.
   */
  def maintainJoinView(spark: SparkSession, factLogRoot: String,
      dimLogRoot: String, factRoot: String, dimRoot: String,
      stateRoot: String, joinKeys: Seq[String], groupCols: Seq[String],
      sumCols: Seq[String]): Option[((Long, Long), (Long, Long))] = {
    def deliveredMax(logRoot: String): Long =
      if (VersionedPartitioned.currentVersion(spark, logRoot).isEmpty) 0L
      else VersionedPartitioned.partitions(spark, logRoot)
        .map(d => d.substring(d.indexOf('=') + 1).toLong)
        .foldLeft(0L)(math.max)
    val (fTo, dTo) = (deliveredMax(factLogRoot), deliveredMax(dimLogRoot))
    val (fFrom, dFrom) = VersionedPartitioned
      .latestTagWithPrefix(spark, stateRoot, MvJoinCursorTag)
      .map { s => val Array(a, b) = s.split(":"); (a.toLong, b.toLong) }
      .getOrElse((0L, 0L))
    if (fTo <= fFrom && dTo <= dFrom) return None
    def windowOf(logRoot: String, sourceRoot: String, from: Long,
        to: Long): DataFrame = {
      // an empty or caught-up log contributes an empty delta — built
      // from the log schema when one exists, else from the SOURCE's
      // (a consumer may start before the other side's feed bootstraps)
      if (VersionedPartitioned.currentVersion(spark, logRoot).isEmpty)
        VersionedPartitioned.read(spark, sourceRoot).where(lit(false))
          .withColumn("change_type", lit("insert"))
      else if (to <= from)
        VersionedPartitioned.read(spark, logRoot)
          .where(lit(false)).drop(CommitVersionCol)
      else VersionedPartitioned.readPartitionsWhere(spark, logRoot,
          v => { val n = v.toLong; n > from && n <= to })
        .drop(CommitVersionCol)
    }
    val fWin = windowOf(factLogRoot, factRoot, fFrom, fTo)
    val dWin = windowOf(dimLogRoot, dimRoot, dFrom, dTo)
    val oldFact =
      if (fFrom == 0L) VersionedPartitioned.read(spark, factRoot)
        .where(lit(false))
      else VersionedPartitioned.readAt(spark, factRoot, fFrom)
    val newDim =
      if (dTo == 0L) VersionedPartitioned.read(spark, dimRoot)
        .where(lit(false))
      else VersionedPartitioned.readAt(spark, dimRoot, dTo)
    val bootstrap =
      VersionedPartitioned.currentVersion(spark, stateRoot).isEmpty
    val state =
      if (bootstrap)
        graft.ops.IncrementalAgg.joinAggregate(
          feedSide(fWin, "insert").where(lit(false)), newDim,
          joinKeys, groupCols, sumCols)
      else VersionedPartitioned.read(spark, stateRoot)
    val next = graft.ops.IncrementalAgg.maintainJoin(state,
      oldFact, feedSide(fWin, "delete"), feedSide(fWin, "insert"),
      newDim, feedSide(dWin, "delete"), feedSide(dWin, "insert"),
      joinKeys, groupCols, sumCols)
    commitState(spark, stateRoot, next, groupCols.head, 0L, bootstrap,
      tagPrefix = MvJoinCursorTag, tagValue = Some(s"$fTo:$dTo"))
    Some(((fFrom, fTo), (dFrom, dTo)))
  }

  /**
   * Generic checkpoint-free maintenance SUBSCRIPTION: a
   * `StreamingQuery` that runs `hop` on `trigger`'s cadence — the
   * shape `maintainedAggregate` and `changeFeed` share, exposed so
   * EVERY maintained-view hop (`maintainMinMax`, `maintainTopK`,
   * `maintainDistinct`, `maintainQuantile`, `maintainJoinView`, or a
   * fan-out running several) has a streaming twin without a bespoke
   * wrapper. The rate source is only the clock: all delivery state
   * lives in each state table's own cursor tag, so the query needs no
   * checkpoint, stops and restarts anywhere, and `AvailableNow` gives
   * one catch-up tick while `ProcessingTime` polls continuously.
   */
  def maintained(spark: SparkSession,
      trigger: Trigger = Trigger.AvailableNow())(hop: () => Unit)
      : StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 1L).load()
      .writeStream.trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) => hop() }
      .start()

  /** The maintained aggregate as a STREAMING SUBSCRIPTION — the
    * consumer-side twin of `changeFeed`: a `StreamingQuery` that polls
    * the CDC log on `trigger`'s cadence and runs `maintainAggregate`
    * per tick. Delivery state lives entirely in the state table's
    * cursor tag, so the query needs no checkpoint and restarts
    * anywhere; composed with `changeFeed` this is source table →
    * exactly-once CDC log → exactly-once materialized aggregate, all
    * three restart-proof. */
  def maintainedAggregate(spark: SparkSession, logRoot: String,
      stateRoot: String, groupCols: Seq[String], sumCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintained(spark, trigger) { () =>
      maintainAggregate(spark, logRoot, stateRoot, groupCols, sumCols)
      ()
    }

  /** A materialized view (`ops/Mview`) as a STREAMING SUBSCRIPTION:
    * poll the source table(s) on `trigger`'s cadence and fold the
    * delta each tick — the auto-refresh twin of the door's `REFRESH
    * MATERIALIZED VIEW`. Delivery state is the view's own
    * state+cursor atomic swap, so the query needs no checkpoint and
    * restarts anywhere; a tick where no source advanced is a pure
    * metadata no-op. */
  def maintainedMview(spark: SparkSession, d: graft.ops.Mview.Def,
      sourceRoot: String, stateDir: String,
      dimRoot: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintained(spark, trigger) { () =>
      graft.ops.Mview.refresh(spark, d, sourceRoot, stateDir,
        full = false, dimRoot)
      ()
    }

  private[graft] val IvfCursorTag = "ivf-src-version:"

  /**
   * One ANN-index maintenance hop: fold into the persisted IVF (or
   * IVF-PQ) index every source-table row committed since the index's
   * source-version cursor. The cursor rides the cells table's own
   * commit tags (`ivf-src-version:<v>`), so the hop — like every
   * maintained view here — is checkpoint-free and restart-safe: kill
   * it anywhere and the next call resumes from the last committed
   * cursor; a replayed window is dropped by the append's id anti-join,
   * so at-least-once delivery still lands exactly-once rows.
   *
   * Per-tick cost: the changed partitions of the source window (never
   * the whole table — `changedSides` is O(touched partitions)), one
   * broadcast assignment pass over that window, the append's
   * column-pruned id-column scan of the index for the anti-join, and
   * a write of the new ids' rows alone (the append commits them in a
   * cells partition of their own; no index file is rewritten). An
   * overlap-heavy window (e.g. upsert-style source commits re-writing
   * partitions) re-reads those partitions' rows but appends only the
   * genuinely new ids. Returns the (from, to] source window folded,
   * None when caught up. The index must already exist
   * (`Similarity.buildIvfIndex` / `buildIvfPqIndex`) — centroids (and
   * the PQ codebook) are frozen at build time.
   */
  def maintainIndex(spark: SparkSession, sourceRoot: String,
      indexRoot: String, idCol: String, vecCol: String,
      pq: Boolean = false): Option[(Long, Long)] = {
    import graft.ext.Similarity
    val cellsRoot = s"$indexRoot/${Similarity.IvfCellsTable}"
    require(
      VersionedPartitioned.currentVersion(spark, cellsRoot).nonEmpty,
      s"maintainIndex: no persisted index at $indexRoot — build it first")
    val to = VersionedPartitioned.currentVersion(spark, sourceRoot)
      .getOrElse(return None)
    val from = VersionedPartitioned
      .latestTagWithPrefix(spark, cellsRoot, IvfCursorTag)
      .map(_.toLong).getOrElse(0L)
    if (to <= from) return None
    val (_, newSide) =
      VersionedPartitioned.changedSides(spark, sourceRoot, from, Some(to))
    val batch = newSide.select(col(idCol), col(vecCol))
    val tag = Some(s"$IvfCursorTag$to")
    if (pq) Similarity.appendToIvfPqIndex(spark, indexRoot, batch,
      idCol, vecCol, tag)
    else Similarity.appendToIvfIndex(spark, indexRoot, batch,
      idCol, vecCol, tag)
    // an all-duplicates window writes nothing — advance the cursor
    // with a data-less commit so the window is never rescanned
    if (VersionedPartitioned
        .latestTagWithPrefix(spark, cellsRoot, IvfCursorTag)
        .forall(_.toLong < to))
      VersionedPartitioned.emptyCommit(spark, cellsRoot, "__cell", tag)
    Some((from, to))
  }

  /** The persisted ANN index as a STREAMING SUBSCRIPTION — the
    * auto-maintenance twin of `maintainedMview` for `Similarity`'s
    * IVF/IVF-PQ indexes: poll the source table on `trigger`'s cadence
    * and run [[maintainIndex]] per tick. Delivery state lives entirely
    * in the cells table's cursor tag, so the query needs no
    * checkpoint, stops and restarts anywhere, and a tick where the
    * source didn't advance is a metadata-only no-op. */
  def maintainedIndex(spark: SparkSession, sourceRoot: String,
      indexRoot: String, idCol: String, vecCol: String,
      pq: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintained(spark, trigger) { () =>
      maintainIndex(spark, sourceRoot, indexRoot, idCol, vecCol, pq)
      ()
    }

  /** The change-feed as a STREAMING SUBSCRIPTION: a `StreamingQuery`
    * that polls the source commit log on `trigger`'s cadence and runs
    * `changeFeedHop` per tick. The rate source is only the clock —
    * delivery state lives entirely in the dest log's cursor tag, so
    * the query needs no checkpoint, stops and restarts anywhere, and
    * two concurrent subscribers to the same dest are serialized by the
    * promote claim loop. `Trigger.AvailableNow` gives one catch-up
    * tick (run-to-completion); `ProcessingTime` gives a continuous
    * poll. Downstream consumers compose: the dest log is a normal
    * versioned table, so `readPartitionsWhere(commit_version > n)`
    * reads just the new windows. */
  def changeFeed(spark: SparkSession, sourceRoot: String, keys: Seq[String],
      destRoot: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintained(spark, trigger) { () =>
      changeFeedHop(spark, sourceRoot, keys, destRoot)
      ()
    }
}
