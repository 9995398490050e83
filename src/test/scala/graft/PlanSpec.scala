package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan shape assertions — the scale properties SCALE.md claims
 * are pinned here so a refactor that silently loses one (a dropped
 * broadcast, a vanished rank-limit pushdown, a filter that stops
 * reaching the scan) fails a spec instead of surfacing as a 100×
 * regression on a real cluster. String-contains on the executed plan is
 * deliberately loose: operator names are stable, operand details are
 * not.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("driver contract: entry returns rows on sf0.001 and every query has an oracle") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1)
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o.diff(q)}")
    assert(q.subsetOf(o), s"queries without oracles (rows-only gate): ${q.diff(o)}")
  }

  test("driver contract: no registered query outputs array/map/struct/decimal columns") {
    // The driver's pandas-based oracle compare sorts cells and cannot
    // hash array values (r7: embed_quantize died on a raw ARRAY<INT>
    // column before any comparison). Gate outputs must flatten nested
    // shapes to scalars (array_join CSV — see SparkEntry packD/packL);
    // the in-engine APIs keep real arrays. DECIMAL output columns are
    // equally fatal (r8: shipping_priority): the driver renders the
    // Spark side as decimal.Decimal objects and the DuckDB oracle side
    // as float64 — same value, different rendered cell, hash mismatch.
    // Keep decimal arithmetic internal; emit round(...).cast("double").
    import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, q) =>
      q(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] ||
                  f.dataType.isInstanceOf[DecimalType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"nested/decimal-typed gate outputs (driver compare would die): $offenders")
  }

  test("Graft.codegenReuse: a stage whose code repeats under another stage id compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the runtime half of the settings; the cache size is static and
    // was fixed by the first session of this JVM
    val key = "spark.sql.codegen.useIdInClassName"
    spark.conf.set(key, Graft.codegenReuse(key))
    try {
      val a = spark.range(0, 1000, 1, 2).selectExpr("id * 7919 AS x").where("x % 7907 = 1")
      val b = spark.range(0, 1000, 1, 2).selectExpr("id + 7901 AS x").where("x % 7883 = 2")
      // UnionExec is no codegen stage: each side is its own stage, and
      // the two queries number the same two stages 1,2 and 2,1
      val first = a.union(b).collect().map(_.getLong(0)).sorted.toSeq
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = b.union(a).collect().map(_.getLong(0)).sorted.toSeq
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
      assert(first == second && first.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("top_parts_per_brand: rank-limit pushes below the shuffle (WindowGroupLimit)") {
    assert(plan("top_parts_per_brand").contains("WindowGroupLimit"))
  }

  test("html_strip / blocklist_filter / nfkc: shuffle-free per-row passes") {
    // the round-17 text kernels run where the text already lives: the
    // whole strip/decode/tokenize/probe chain is per-row expressions —
    // zero DATA shuffles (the gates' ORDER BY adds one range exchange
    // for deterministic output; a hashpartitioning exchange would mean
    // the pass re-keyed 100 TB of text). No UDFs anywhere: regex,
    // replace and higher-order functions only (HOF lambda bodies are
    // interpreted per element, which is exactly why the HOT-path
    // kernels — norm_tokens, nfkc — are native codegen expressions).
    for (name <- Seq("html_strip", "blocklist_filter", "nfkc_normalize")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name shuffles: \n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$name uses a UDF")
    }
  }

  test("join_revenue: dimension tables broadcast, fact join stays shuffled") {
    val p = plan("join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    // the lineitem-orders fact-fact join must NOT broadcast at scale —
    // it is written without a hint, so at sf0.001 AQE may still choose
    // broadcast; assert only that the dims broadcast (two exchanges)
    assert("BroadcastExchange".r.findAllIn(p).size >= 2)
  }

  test("sample_hash: the md5 filter evaluates in the scan stage, before aggregation") {
    val p = plan("sample_hash")
    val filterAt = p.indexOf("Filter ")
    val aggAt = p.indexOf("HashAggregate")
    assert(filterAt > 0 && aggAt >= 0 && filterAt > aggAt,
      "filter should appear below (after, in tree print order) the aggregate")
  }

  test("dq single-check: column pruning reaches the parquet scan") {
    val p = plan("dq_nonpositive")
    // the 6-check table has 16 columns; the check needs exactly one
    assert(p.contains("ReadSchema: struct<l_quantity:double>"), p.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("similarity_topk: query side broadcasts; corpus is never cross-joined unbucketed") {
    val p = plan("similarity_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_embedding_ann: pure bucket equi-joins — no cross product anywhere") {
    val p = plan("dedup_embedding_ann")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be a bucket equi-join, not a cross join")
  }

  test("pack_shards_dist: bucket offsets broadcast; doc rows never serialize per group") {
    val p = plan("pack_shards_dist")
    assert(p.contains("BroadcastHashJoin"),
      "per-bucket offsets should broadcast-join back onto doc rows")
    // the per-doc running sum must window over (lang, bucket), not lang
    // alone — lang-only would be the one-reducer-per-language shape
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("__bucket")))
  }

  test("dedup_spans: hash-keyed window + doc rebuild, no pair enumeration") {
    val p = plan("dedup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // keep-first is a window + one doc-keyed agg — a self-join of the
    // span postings (d² pairs per hot span) must never appear
    assert("SortMergeJoin".r.findAllIn(p).size <= 1, s"plan:\n$p")
  }

  test("quality_score_lr and embed_quantize: model/codebook in the plan, zero data shuffle") {
    // scan-speed scoring: the only exchange is the final presentation sort
    for (name <- Seq("quality_score_lr", "embed_quantize")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not shuffle, plan:\n$p")
    }
  }

  private def hashExchanges(name: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan(name)).size

  test("merge_upsert: the union+precedence upsert costs exactly ONE hash shuffle") {
    // (the trailing rangepartitioning is the gate's determinism orderBy)
    assert(hashExchanges("merge_upsert") == 1)
  }

  test("sessionize: boundary lag, session-id cumsum and the session agg share ONE shuffle") {
    assert(hashExchanges("sessionize") == 1)
  }

  test("bars_weekly: two map-combined hash aggregates (tick→daily, daily→weekly), no window pass") {
    val p = plan("bars_weekly")
    assert(hashExchanges("bars_weekly") == 2)
    assert(!p.contains("Window"), s"weekly resample must not need a window:\n$p")
  }

  test("rsi_close: daily agg + ONE key window shuffle shared by the lag and both trailing sums") {
    // exchange 1: tick→daily bars on (key, date); exchange 2: the
    // (key)-partitioned window — delta lag, gain sum, loss sum and the
    // delta count all ride it together
    assert(hashExchanges("rsi_close") == 2)
  }

  test("asof_ref: two hash shuffles — refs derivation, then the union-sort-fill merge") {
    assert(hashExchanges("asof_ref") == 2)
  }

  test("rolling_7day: exactly two exchanges — partial-agg'd bars, then bars-only window") {
    val p = plan("rolling_7day")
    // Two hash exchanges is the CORRECT plan, not a miss: the first
    // carries map-side-combined partial bars to (key, date); the second
    // re-clusters only the aggregated bars (#bars ≪ #events) to (key)
    // for the window. The single-exchange alternative (repartition raw
    // events by key, then agg + window exchange-free) would shuffle the
    // full event stream uncombined — strictly more bytes at any scale.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2, s"expected 2 hash exchanges, plan:\n$p")
    // and the second exchange must sit ABOVE the aggregate (bars), not
    // above the scan (raw events): the aggregate appears between them
    val first = p.indexOf("Exchange hashpartitioning")
    val agg = p.indexOf("HashAggregate", first)
    assert(agg > 0, "aggregation between the exchanges")
  }

  test("event_funnel: all step windows AND the per-user reduce share ONE shuffle") {
    // three stacked Window ops + groupBy(user) reuse the same
    // hashpartitioning(user_id) — per-row state is O(#steps), and a
    // second exchange here would mean the funnel re-shuffles per step
    assert(hashExchanges("event_funnel") == 1)
  }

  test("shuffle_order: bucketed parallel rank, no global-sort reducer") {
    val p = plan("shuffle_order")
    // big side ranks per __bucket; the only SinglePartition window runs
    // over the 256-row bucket-count frame, which then broadcasts
    assert(hashExchanges("shuffle_order") == 2, s"plan:\n$p")
    assert(p.contains("BroadcastExchange"))
    // exactly one rangepartitioning: the gate-determinism orderBy — the
    // rank itself must NOT be a global sort
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, s"plan:\n$p")
  }

  test("importance_sample: shuffles carry tokens and counts, never document text") {
    val p = plan("importance_sample")
    // the corpus text is consumed by the tokenizer projection below the
    // first exchange — every shuffle moves (token, count) or per-doc
    // token lists, so LM estimation scales with vocabulary, not corpus
    // bytes
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("text#")), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    // the single BNLJ is the documented 1-row scalar broadcast (V, two
    // totals) — the same shape as doc_logprob's total-count join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, s"plan:\n$p")
  }

  test("vocab_stats: occurrence and vocabulary aggs are two map-combined shuffles") {
    // (lang, token) then (lang) — the shuffle carries distinct tokens,
    // never raw occurrences (partial_count combines map-side)
    assert(hashExchanges("vocab_stats") == 2)
  }

  test("bloom_semi_join: bloom probe filters the fact scan below the semi-join") {
    val p = plan("bloom_semi_join")
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    assert(p.contains("LeftSemi"))
    // the probe must sit BELOW the semi-join (later in tree print
    // order): pruning after the shuffle would defeat the point
    assert(p.indexOf("might_contain") > p.indexOf("LeftSemi"))
  }

  test("domain_mix: per-(group,bucket) rank; offsets and targets broadcast back") {
    val p = plan("domain_mix")
    assert(p.contains("BroadcastHashJoin"),
      "offsets/targets should broadcast-join onto doc rows")
    // the per-doc rank must window over (source, bucket), never source
    // alone — source-only is the one-reducer-per-domain shape
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("__bucket")), s"plan:\n$p")
  }

  test("pair-mining joins are postings equi-joins, never cross products") {
    for (q <- Seq("dedup_substring", "fuzzy_join", "basket_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("zorder_layout: a pure projection — the only exchange is the output sort") {
    val p = plan("zorder_layout")
    assert(hashExchanges("zorder_layout") == 0, s"plan:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, s"plan:\n$p")
  }

  test("indexed incremental dedup: corpus scan reads stored index, never text") {
    import org.apache.spark.sql.functions.col
    import graft.ext.Dedup
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_idxplan").toString
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    Dedup.buildBandIndex(corpus, "id", "text").write.parquet(s"$dir/corpus")
    val stored = spark.read.parquet(s"$dir/corpus")
    val batch = Seq((10L, "wholly novel tokens entirely elsewhere")).toDF("id", "text")
    val q = Dedup.incrementalNearDupsIndexed(stored, batch, "id", "text")
    val p = q.queryExecution.executedPlan.toString
    // the only FileScans are the corpus table — their ReadSchema must be
    // the index columns (id, buckets, shingles), with the text column
    // pruned away: the steady-state admit never touches corpus bodies
    assert(p.contains("FileScan"), s"plan:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("text")), s"plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("readRowChanges: only changed-partition files enter the scan; one join, no cross product") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.VersionedPartitioned
    val root = java.nio.file.Files.createTempDirectory("graft_cdcplan").toString
    val v1 = VersionedPartitioned.promote(
      Seq(("2024-01-01", 1, 10), ("2024-01-02", 2, 20)).toDF("date", "k", "v"),
      root)
    VersionedPartitioned.promote(
      Seq(("2024-01-02", 2, 99)).toDF("date", "k", "v"), root)
    val feed = VersionedPartitioned
      .readRowChanges(spark, root, Seq("date", "k"), v1)
    // the untouched partition's files are not merely filtered out — they
    // never enter the plan at all (the manifest diff scopes the scans)
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("date=2024-01-02")),
      s"scanned:\n${feed.inputFiles.mkString("\n")}")
    val p = feed.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("indicator family: daily agg + ONE shared key-window shuffle (the rsi_close shape)") {
    // stacked window functions (both channel extremes, peak +
    // peak-date, both EWMA folds, the lag + the groupBy in
    // risk_metrics) must all ride the single (key) partitioning — a
    // third exchange means someone broke the sharing
    Seq("stochastic_k", "vwap_rolling", "risk_metrics",
        "underwater_days", "macd_dyadic").foreach { q =>
      assert(hashExchanges(q) == 2, s"$q: expected 2 hash exchanges")
    }
  }

  test("returns_correlation and beta_market: pair spaces via equi-join, market side broadcast") {
    val rc = plan("returns_correlation")
    assert(!rc.contains("CartesianProduct") &&
      !rc.contains("BroadcastNestedLoopJoin"), s"plan:\n$rc")
    val bm = plan("beta_market")
    assert(!bm.contains("CartesianProduct") &&
      !bm.contains("BroadcastNestedLoopJoin"), s"plan:\n$bm")
    // the calendar-sized market composite must broadcast at any scale
    assert(bm.contains("BroadcastHashJoin"), s"plan:\n$bm")
  }

  test("Bpe.wordFreq: the corpus pass is map-side combined (partial count)") {
    // the only data-scale shuffle in BPE training must carry combined
    // (word, count) partials, never raw word occurrences
    val p = graft.ext.Bpe
      .wordFreq(spark.read.parquet(s"$sf/documents.parquet"), "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), s"plan:\n$p")
  }

  test("small_quantity_revenue: brand dim broadcasts; no cross product") {
    val p = plan("small_quantity_revenue")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("Q21 shape: hand-built AND Catalyst-decorrelated plans are semi+anti, no re-scan") {
    // sql_correlated_exists feeds Catalyst raw EXISTS / NOT EXISTS
    // subqueries — the optimizer must decorrelate both into the same
    // semi/anti joins the DataFrame twin builds by hand
    Seq("suppliers_kept_waiting", "sql_correlated_exists").foreach { q =>
      val p = plan(q)
      assert(p.contains("LeftSemi"), s"$q plan:\n$p")
      assert(p.contains("LeftAnti"), s"$q plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plan:\n$p")
    }
  }

  test("ANALYZE stats drive the broadcast decision; stale stats are ignored") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_cbo_").toString
    val life = new graft.ops.SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""CREATE TABLE s.facts (k BIGINT, part STRING, v BIGINT)
      USING ICEBERG PARTITIONED BY (part)""")
    life.execute("""CREATE TABLE s.dim (k BIGINT, part STRING, name STRING)
      USING ICEBERG PARTITIONED BY (part)""")
    (1L to 2000L).map(i => (i, s"p${i % 4}", i * 3))
      .toDF("k", "part", "v").createOrReplaceTempView("facts_src")
    (1L to 50L).map(i => (i, s"p${i % 2}", s"n$i"))
      .toDF("k", "part", "name").createOrReplaceTempView("dim_src")
    life.execute("INSERT INTO s.facts SELECT * FROM facts_src")
    life.execute("INSERT INTO s.dim SELECT * FROM dim_src")
    val q = "SELECT f.k, d.name FROM s.facts f JOIN s.dim d ON f.k = d.k"
    // isolate the stats-driven decision from Spark's own size estimate
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // no stats yet → no hint → sort-merge join
      val before = life.query(q).queryExecution.executedPlan.toString
      assert(!before.contains("BroadcastHashJoin"), s"plan:\n$before")
      // analyzed + tiny → broadcast hint kicks in with auto-broadcast OFF
      life.execute("ANALYZE TABLE s.dim COMPUTE STATISTICS FOR COLUMNS k")
      val after = life.query(q).queryExecution.executedPlan.toString
      assert(after.contains("BroadcastHashJoin"), s"plan:\n$after")
      // a commit AFTER the analyze dates the stats → decision reverts
      // (stale sizes are never trusted)
      life.execute("INSERT INTO s.dim SELECT k + 100, part, name FROM dim_src")
      val stale = life.query(q).queryExecution.executedPlan.toString
      assert(!stale.contains("BroadcastHashJoin"), s"plan:\n$stale")
      // threshold conf disables the path outright
      life.execute("ANALYZE TABLE s.dim COMPUTE STATISTICS FOR COLUMNS k")
      spark.conf.set("spark.graft.analyze.broadcastThreshold", "0")
      val off = life.query(q).queryExecution.executedPlan.toString
      assert(!off.contains("BroadcastHashJoin"), s"plan:\n$off")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.analyze.broadcastThreshold")
    }
    // column_stats carries the staleness stamp the decision keys on
    val cs = graft.ops.VersionedPartitioned.columnStats(spark,
      java.nio.file.Paths.get(root, "s", "dim").toString)
    val r = cs.select("analyzed_version", "current_version").head()
    assert(r.getLong(0) == r.getLong(1))
  }
}
