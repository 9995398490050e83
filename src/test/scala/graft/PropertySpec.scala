package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ingest, Rolling}

/**
 * Property-based invariants (SURVEY §5.2) over randomized bar series:
 * for ANY input, the rolling output must satisfy the reference window
 * algebra — bounded frames, array/aggregate consistency, oldest→newest
 * order, determinism — and ingest normalization must be a proper
 * first-row-per-group reduction. Violations are counted IN Spark so one
 * job checks every row of a random corpus.
 */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private case class GenBar(ticker: String, day: Int, close: Double, volume: Long)

  private val barsGen: Gen[List[GenBar]] = Gen.listOfN(300, for {
    t <- Gen.oneOf("A", "B", "C", "D")
    d <- Gen.choose(1, 40)
    c <- Gen.choose(1.0, 500.0)
    v <- Gen.choose(1L, 100000L)
  } yield GenBar(t, d, c, v))

  private def sample(seed: Long): DataFrame = {
    val raw = barsGen(Gen.Parameters.default, Seed(seed)).get
      .groupBy(b => (b.ticker, b.day)).map(_._2.head).toSeq // unique key-day
    raw.map(b => (b.ticker, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(b.day)), b.close, b.volume))
      .toDF("ticker", "date", "close", "volume")
  }

  test("rolling window invariants hold on randomized series") {
    for (seed <- 1L to 5L) {
      val in = sample(seed)
      val out = Rolling.metrics(in, Seq("ticker"), "date",
        Seq("close", "volume"), "volume", "close")
      val checked = out.select(
        (size($"last_7_days_close").between(1, 7) &&
          size($"last_7_days_close") === size($"last_7_days_volume"))
          .as("frame_bounded"),
        // frame is oldest→newest: the newest element is the row's close
        (element_at($"last_7_days_close", -1) === $"close").as("frame_order"),
        // avg aggregate consistent with its own array
        (abs($"avg_7_day_volume" -
          expr("aggregate(last_7_days_volume, cast(0 as double), (a,x) -> a + x)")
            / size($"last_7_days_volume")) < 1e-9).as("avg_consistent"),
        // volatility == sample stddev of the close array (0 for 1-row frames)
        (abs($"volatility_7_day" - coalesce(expr(
          """CASE WHEN size(last_7_days_close) > 1 THEN
               sqrt(aggregate(last_7_days_close, cast(0 as double), (a, x) ->
                 a + (x - (aggregate(last_7_days_close, cast(0 as double), (a2, x2) -> a2 + x2)
                      / size(last_7_days_close))) *
                     (x - (aggregate(last_7_days_close, cast(0 as double), (a3, x3) -> a3 + x3)
                      / size(last_7_days_close))))
                 / (size(last_7_days_close) - 1))
             ELSE 0.0 END"""), lit(0.0))) < 1e-6).as("vol_consistent"))
      val bad = checked.where(!$"frame_bounded" || !$"frame_order" ||
        !$"avg_consistent" || !$"vol_consistent").count()
      assert(bad == 0, s"seed $seed: $bad rows violate rolling invariants")
      // determinism: the same plan evaluated twice is identical
      val a = out.orderBy("ticker", "date").collect().toSeq
      val b = Rolling.metrics(in, Seq("ticker"), "date",
          Seq("close", "volume"), "volume", "close")
        .orderBy("ticker", "date").collect().toSeq
      assert(a == b, s"seed $seed: nondeterministic rolling output")
    }
  }

  test("Merge.upsert is idempotent and key-total on random target/source splits") {
    import graft.ops.Merge
    for (seed <- 20L to 23L) {
      val base = sample(seed).withColumnRenamed("date", "d")
      val target = base.where(pmod(hash($"ticker", $"d"), lit(3)) =!= 0)
      val source = base.where(pmod(hash($"ticker", $"d"), lit(2)) === 0)
        .withColumn("close", $"close" + 1000.0)
      val once = Merge.upsert(target, source, Seq("ticker", "d"))
      val twice = Merge.upsert(once, source, Seq("ticker", "d"))
      // idempotent: re-applying the same source changes nothing
      assert(once.orderBy("ticker", "d").collect().toSeq ==
        twice.orderBy("ticker", "d").collect().toSeq, s"seed $seed")
      // key-total: exactly the union of both key sets, no dupes
      val keys = target.select("ticker", "d")
        .union(source.select("ticker", "d")).distinct()
      assert(once.count() == keys.count(), s"seed $seed")
      // source precedence: every source key carries the uplifted close
      val fromSource = once.join(source.select($"ticker", $"d",
        $"close".as("sclose")), Seq("ticker", "d"))
      assert(fromSource.where($"close" =!= $"sclose").count() == 0, s"seed $seed")
    }
  }

  test("Resample.dailyFfill yields a dense, gap-free, observed-consistent spine") {
    import graft.ops.Resample
    for (seed <- 30L to 32L) {
      val in = sample(seed)
      val out = Resample.dailyFfill(in, Seq("ticker"), "date", Seq("close"))
      // per key: exactly (max-min+1) days, no null closes, first day observed
      val spine = out.groupBy("ticker").agg(
        count(lit(1)).as("n"),
        (datediff(max($"date"), min($"date")) + 1).as("span"),
        count_if($"close".isNull).as("nulls"),
        min(struct($"date", $"observed")).as("first"))
      assert(spine.where($"n" =!= $"span" || $"nulls" =!= 0 ||
        !$"first.observed").count() == 0, s"seed $seed")
      // observed rows carry their original close unchanged
      val obs = out.where($"observed")
        .join(in.withColumnRenamed("close", "orig"), Seq("ticker", "date"))
      assert(obs.where($"close" =!= $"orig").count() == 0, s"seed $seed")
      assert(obs.count() == in.count(), s"seed $seed")
    }
  }

  test("packByBudget equals the sequential running-sum pack on random corpora") {
    // random group skew, token counts and bucket granularities — the
    // distributed two-pass prefix sum must be bit-identical to the
    // single-window formulation for EVERY input, including buckets of
    // size 1 (pure window) and one giant bucket (pure offset)
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.listOfN(400, for {
      g <- Gen.frequency((9, Gen.const("en")), (1, Gen.oneOf("fr", "de")))
      t <- Gen.choose(1L, 900L)
    } yield (g, t))
    for ((seed, bucketDiv) <- Seq((21L, 1L), (22L, 16L), (23L, 100000L))) {
      val rows = gen(Gen.Parameters.default, Seed(seed)).get.zipWithIndex
        .map { case ((g, t), i) => (g, i.toLong, t) }
      val in = rows.toDF("lang", "id", "toks")
      val packed = graft.ext.Shards.packByBudget(in, Seq("lang"), "id",
          "toks", capacity = 777L,
          bucketExpr = floor($"id" / bucketDiv).cast("long"))
        .select("lang", "id", "shard").as[(String, Long, Long)]
        .collect().toSet
      val w = Window.partitionBy("lang").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ref = in.withColumn("cum", sum($"toks").over(w))
        .withColumn("shard", floor(($"cum" - $"toks") / lit(777L)).cast("long"))
        .select("lang", "id", "shard").as[(String, Long, Long)]
        .collect().toSet
      assert(packed == ref, s"seed $seed bucketDiv $bucketDiv")
    }
  }

  test("chunk reconstructs the token stream on random docs and geometries") {
    // for ANY doc and any (size, overlap): dropping each non-first
    // chunk's leading `overlap` tokens and concatenating reproduces the
    // tokenization exactly — no token lost, duplicated, or reordered
    val docGen = Gen.listOfN(60, for {
      n <- Gen.choose(0, 90)
      toks <- Gen.listOfN(n, Gen.choose(0, 50).map(i => s"w$i"))
    } yield toks.mkString(" "))
    for ((seed, size, overlap) <- Seq((31L, 5, 2), (32L, 8, 0), (33L, 3, 2))) {
      val texts = docGen(Gen.Parameters.default, Seed(seed)).get.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val in = texts.toDF("id", "text")
      val rebuilt = graft.ext.TextOps.chunk(in, "id", "text", size, overlap)
        .groupBy("id")
        .agg(sort_array(collect_list(struct($"chunk_id", $"chunk_text")))
          .as("cs"))
        .withColumn("rebuilt", expr(
          s"""array_join(transform(cs, (c, i) ->
             |  CASE WHEN i = 0 OR size(split(c.chunk_text, ' ')) = 0
             |       THEN c.chunk_text
             |       ELSE array_join(slice(split(c.chunk_text, ' '),
             |                            ${overlap + 1}, ${size}), ' ')
             |  END), ' ')""".stripMargin))
        .select($"id", $"rebuilt")
      graft.functions.TextExprs.register(spark)
      val expected = in.select($"id",
        expr("array_join(norm_tokens(text), ' ')").as("toks"))
      val bad = rebuilt.join(expected, "id")
        .where(not(regexp_replace($"rebuilt", " +", " ") <=>
          regexp_replace($"toks", " +", " ")))
      assert(bad.isEmpty, s"seed $seed size $size overlap $overlap")
    }
  }

  test("snapshotDiff: identity is empty; diff keys reproduce the new snapshot") {
    val gen = Gen.listOfN(150, for {
      k <- Gen.choose(0L, 80L)
      v <- Gen.option(Gen.choose(0, 9))
    } yield (k, v))
    for (seed <- 41L to 43L) {
      val a = gen(Gen.Parameters.default, Seed(seed)).get
        .groupBy(_._1).map(_._2.head).toSeq.toDF("k", "v")
      val b = gen(Gen.Parameters.default, Seed(seed + 100)).get
        .groupBy(_._1).map(_._2.head).toSeq.toDF("k", "v")
      assert(graft.ops.Diff.snapshotDiff(a, a, Seq("k")).isEmpty,
        s"seed $seed: self-diff must be empty")
      val d = graft.ops.Diff.snapshotDiff(a, b, Seq("k"))
      // replaying the diff on `a` reaches `b`: delete the deletes, take
      // updates+inserts from `b`, keep untouched `a` rows
      val touched = d.select("k")
      val replayed = b.join(
          d.where($"change_type".isin("insert", "update")).select("k"), Seq("k"))
        .unionByName(a.join(touched, Seq("k"), "left_anti"))
      assert(replayed.count() == b.count() &&
        replayed.unionByName(b).distinct().count() == b.count(),
        s"seed $seed: replaying the diff must reproduce the new snapshot")
    }
  }

  test("components with pointer jumping equals a union-find oracle on random graphs") {
    // the pointer-jump optimization must not change WHAT converges, only
    // how fast: on arbitrary random graphs (star, chain, dense, sparse
    // mixes all arise across seeds) the labeling must equal a driver-side
    // union-find ground truth computed on the same edges — for the
    // distributed rounds and for `components` (whose driver path these
    // small graphs take) alike
    for (seed <- 20L to 24L;
         (path, cc) <- Seq[(String, DataFrame => DataFrame)](
           "rounds" -> (graft.ext.Dedup.componentsRounds(_)),
           "components" -> (graft.ext.Dedup.components(_)))) {
      val edges = Gen.listOfN(120, for {
        a <- Gen.choose(1L, 60L)
        b <- Gen.choose(1L, 60L) if a != b
      } yield (math.min(a, b), math.max(a, b)))(
        Gen.Parameters.default, Seed(seed)).get.distinct
      val got = cc(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      // union-find ground truth with min-id representative
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(n => n -> find(n)).toMap
      assert(got == want,
        s"seed $seed, $path: labeling diverged from union-find")
    }
  }

  test("AsOf directions equal the brute-force nearest-row oracle on random series") {
    // forward/nearest must match a driver-side scan of the right side:
    // backward = max ts ≤ t, forward = min ts ≥ t, nearest = smaller
    // gap with ties to backward — for ANY random left/right timestamps,
    // including exact ties and out-of-range extremes
    for (seed <- 30L to 33L) {
      val g = for {
        k <- Gen.oneOf("A", "B")
        t <- Gen.choose(0L, 5000L)
      } yield (k, t)
      val leftRaw = Gen.listOfN(80, g)(Gen.Parameters.default, Seed(seed)).get
      val rightRaw = Gen.listOfN(25, g)(Gen.Parameters.default, Seed(seed + 100))
        .get.groupBy(r => r._1 -> r._2).map(_._2.head).toSeq // unique (k, ts)
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val left = leftRaw.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, ts(t)) }
        .toDF("lid", "k", "ts")
      val right = rightRaw.zipWithIndex
        .map { case ((k, t), i) => (1000L + i, k, ts(t)) }
        .toDF("rid", "k", "ts")
      val byKey = rightRaw.zipWithIndex
        .map { case ((k, t), i) => (k, t, 1000L + i) }
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))).toMap
      def oracle(dir: String): Map[Long, Option[Long]] =
        leftRaw.zipWithIndex.map { case ((k, t), i) =>
          val cands = byKey.getOrElse(k, Seq.empty)
          val back = cands.filter(_._1 <= t)
            .sortBy(c => (-c._1, c._2)).headOption
          val fwd = cands.filter(_._1 >= t)
            .sortBy(c => (c._1, c._2)).headOption
          val pick = dir match {
            case "backward" => back
            case "forward" => fwd
            case "nearest" => (back, fwd) match {
              case (Some(b), Some(f)) =>
                if (t - b._1 <= f._1 - t) Some(b) else Some(f)
              case (b, f) => b.orElse(f)
            }
          }
          i.toLong -> pick.map(_._2)
        }.toMap
      for (dir <- Seq("backward", "forward", "nearest")) {
        val got = graft.ops.AsOf.join(left, right, Seq("k"), "ts", "ts",
            rightPayload = Seq("rid"), direction = dir)
          .select("lid", "ref_rid").as[(Long, Option[Long])]
          .collect().toMap
        assert(got == oracle(dir), s"seed $seed direction $dir")
      }
    }
  }

  test("IncrementalAgg.maintain equals recompute on random change windows") {
    // for ANY random base table and ANY random touched-partition
    // rewrite (rows added, removed, repriced, partitions emptied), the
    // delta-maintained aggregate must equal aggregating the final table
    for (seed <- 40L to 43L) {
      val row = for {
        p <- Gen.choose(1, 5) // partition
        g <- Gen.oneOf("x", "y", "z") // group
        v <- Gen.choose(-500, 500)
      } yield (s"p$p", g, new java.math.BigDecimal(s"$v.25"))
      def df(rows: Seq[(String, String, java.math.BigDecimal)]) =
        rows.toDF("part", "g", "amt")
          .withColumn("amt", col("amt").cast("decimal(18,2)"))
      val base = Gen.listOfN(60, row)(Gen.Parameters.default, Seed(seed)).get
      val repl = Gen.listOfN(30, row)(Gen.Parameters.default, Seed(seed + 7)).get
      val touched = repl.map(_._1).toSet + "p1" // p1 may empty out
      val finalRows = base.filterNot(r => touched(r._1)) ++ repl
      val state = graft.ops.IncrementalAgg.aggregate(df(base), Seq("g"), Seq("amt"))
      val maintained = graft.ops.IncrementalAgg.maintain(state,
        df(base.filter(r => touched(r._1))), df(repl), Seq("g"), Seq("amt"))
      val recomputed = graft.ops.IncrementalAgg.aggregate(df(finalRows),
        Seq("g"), Seq("amt"))
      def canon(f: DataFrame) = f
        .selectExpr("g", "n_rows", "cast(sum_amt as decimal(38,2))")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
      assert(canon(maintained) == canon(recomputed), s"seed $seed")
    }
  }

  test("Bpe.train equals the greedy single-threaded trainer on random corpora") {
    import graft.ext.Bpe
    // words over a 3-letter alphabet force heavy pair-count ties (the
    // tie-break rule carries the weight) but are filtered to same-char
    // runs <= 4 — the documented domain where replace-fixpoint merge
    // application and classic greedy merging coincide exactly
    val wordGen = Gen.listOfN(60,
      Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
    def noLongRun(w: String): Boolean =
      !"(.)\\1{4,}".r.findFirstIn(w).isDefined
    for (seed <- Seq(11L, 22L, 33L)) {
      val words = wordGen(Gen.Parameters.default, Seed(seed)).get
        .filter(noLongRun)
      val texts = words.grouped(6).map(_.mkString(" ")).toSeq
      val (got, dict) = Bpe.train(texts.toDF("text"), "text", numMerges = 8)
      val (want, wantVocab) = BpeSpec.refTrain(
        BpeSpec.refWordFreq(texts), 8)
      assert(got == want, s"seed $seed merges diverged")
      assert(Bpe.vocab(dict).as[(String, Long)].collect().toMap == wantVocab,
        s"seed $seed vocab diverged")
    }
  }

  test("firstPerDay is a proper first-row-per-group reduction on random feeds") {
    for (seed <- 10L to 12L) {
      // duplicated feed: every bar appears 1-3 times with distinct event ids
      val base = barsGen(Gen.Parameters.default, Seed(seed)).get
      val rows = base.zipWithIndex.flatMap { case (b, i) =>
        (0 to i % 3).map(r => (b.ticker,
          java.sql.Timestamp.valueOf(f"2024-02-${b.day % 28 + 1}%02d 10:0${r}:00"),
          i.toLong * 10 + r, b.close))
      }
      val in = rows.toDF("ticker", "ts", "event_id", "value")
      val out = Ingest.firstPerDay(in, Seq("ticker"), "ts", Seq("ts", "event_id"))
      // exactly one row per (ticker, day), and it is the min (ts, event_id)
      val grouped = in.withColumn("date", to_date($"ts"))
        .groupBy("ticker", "date")
        .agg(min(struct($"ts", $"event_id")).as("first"))
      val joined = out.join(grouped, Seq("ticker", "date"))
      assert(out.count() == grouped.count())
      assert(joined.where($"event_id" =!= $"first.event_id").count() == 0,
        s"seed $seed: firstPerDay picked a non-first row")
    }
  }

  test("extended mview maintenance equals recompute under random churn") {
    import graft.ops.SqlLifecycle
    for (seed <- 21L to 23L) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_mvprop$seed").toString
      val life = new SqlLifecycle(spark, root)
      life.execute("CREATE SCHEMA mp")
      life.execute("CREATE TABLE mp.src (d DATE, grp STRING, amt " +
        "DECIMAL(10,2), flag BIGINT) USING ICEBERG PARTITIONED BY (d)")
      val rnd = new scala.util.Random(seed)
      def randRows(n: Int): String = (1 to n).map { _ =>
        val d = f"2024-02-${rnd.nextInt(6) + 1}%02d"
        val g = s"g${rnd.nextInt(3)}"
        // NULL amounts exercise the cnt_-driven NULL exactness
        val a = if (rnd.nextInt(5) == 0) "NULL"
          else f"${rnd.nextInt(2000) / 100.0}%.2f"
        s"(DATE'$d','$g',$a,${rnd.nextInt(2)})"
      }.mkString(",")
      life.execute(s"INSERT INTO mp.src VALUES ${randRows(20)}")
      life.execute("CREATE MATERIALIZED VIEW mp.v AS SELECT grp, " +
        "count(*) AS n, sum(amt) AS total, min(amt) AS lo, " +
        "max(amt) AS hi, avg(amt) AS mean FROM mp.src " +
        "WHERE flag = 1 GROUP BY grp")
      def recompute() = life.query("SELECT grp, count(*) AS n, " +
          "sum(amt) AS total, min(amt) AS lo, max(amt) AS hi, " +
          "sum(amt)/count(amt) AS mean FROM mp.src WHERE flag = 1 " +
          "GROUP BY grp").orderBy("grp").collect().toSeq
      def view() = life.query(
          "SELECT grp, n, total, lo, hi, mean FROM mp.v")
        .orderBy("grp").collect().toSeq
      assert(view() == recompute(), s"seed $seed: initial materialize")
      for (step <- 1 to 6) {
        rnd.nextInt(3) match {
          case 0 => // insert a random batch (new + overlapping days)
            life.execute(s"INSERT INTO mp.src VALUES ${randRows(8)}")
          case 1 => // retract a whole random day (metadata delete)
            life.execute("DELETE FROM mp.src WHERE d = " +
              f"DATE'2024-02-${rnd.nextInt(6) + 1}%02d'")
          case 2 => // row-level delete that may hit a group's extremum
            life.execute("DELETE FROM mp.src WHERE amt " +
              (if (rnd.nextBoolean()) ">=" else "<=") +
              f" ${rnd.nextInt(2000) / 100.0}%.2f AND grp = 'g${rnd.nextInt(3)}'")
        }
        life.execute("REFRESH MATERIALIZED VIEW mp.v")
        assert(view() == recompute(), s"seed $seed step $step diverged")
      }
    }
  }

  test("truncate(w) metadata folding is SOUND on adversarial prefix boundaries") {
    import graft.ops.SqlLifecycle
    val root = java.nio.file.Files
      .createTempDirectory("graft_truncprop").toString
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA pp")
    life.execute("CREATE TABLE pp.t (sku STRING, v BIGINT) " +
      "USING ICEBERG PARTITIONED BY (truncate(2, sku))")
    life.execute(
      "ALTER TABLE pp.t SET TBLPROPERTIES ('graft.statsColumns'='v')")
    // values straddling every boundary kind: shorter-than-width
    // (identity partitions), exact-width, extensions, ASCII order
    // extremes, path-escaping hazards (space, '='), and — now that
    // build.sbt forks with LC_ALL=C.utf8 (an ASCII sun.jnu.encoding
    // rejected the paths outright in earlier rounds) — non-ASCII
    // values whose UTF8String byte order differs from ASCII range
    // intuition (multibyte prefixes, a char straddling the width)
    val values = Seq("a", "ab", "abc", "abd", "ab~", "ab!", "ac",
      "b", "ba", "b x", "a=c", "zz", "café", "caña", "中文", "中口")
    life.execute("INSERT INTO pp.t VALUES " + values.zipWithIndex
      .map { case (s, i) => s"('$s', $i)" }.mkString(","))
    val literals = Seq("a", "ab", "abc", "ab~", "b", "a=", "caf",
      "café", "中", "中文")
    // soundness: whatever path answers (metadata fold, partial prune,
    // or full scan), the count must equal the kill-switch scan's
    for (op <- Seq(">=", ">", "<", "<=", "="); lit <- literals) {
      val stmt = s"SELECT count(*) AS n FROM pp.t WHERE sku $op '$lit'"
      val folded = life.query(stmt).head.getLong(0)
      spark.conf.set("spark.graft.sql.statsAgg", "false")
      val scanned =
        try life.query(stmt).head.getLong(0)
        finally spark.conf.unset("spark.graft.sql.statsAgg")
      assert(folded == scanned,
        s"sku $op '$lit': fold said $folded, scan said $scanned")
    }
  }

  test("property: FLAC round trip is lossless for arbitrary PCM16 and block splits") {
    import graft.ext.Multimodal.FlacCodec
    val gen = for {
      n <- Gen.choose(0, 700)
      mode <- Gen.choose(0, 2)
      raw <- Gen.listOfN(n, Gen.choose(-32768, 32767))
    } yield (mode, raw)
    for (seed <- 1L to 40L) {
      val (mode, raw) = gen(Gen.Parameters.default, Seed(seed)).get
      // three waveform families exercise different subframe choices:
      // white noise (verbatim-ish), random walk (fixed predictors),
      // coarse plateaus (constant subframes + low Rice params)
      val samples: Array[Short] = mode match {
        case 0 => raw.map(_.toShort).toArray
        case 1 => raw.scanLeft(0)((a, b) =>
            math.max(-32768, math.min(32767, a + b / 256)))
          .tail.map(_.toShort).toArray
        case _ => raw.map(v => ((v / 8192) * 8192).toShort).toArray
      }
      for (bs <- Seq(16, 31, 192)) { // min-size, odd, spec-table size
        val bytes = FlacCodec.encode(8000, samples, blockSize = bs)
        val (rate, dec, nFrames) = FlacCodec.decode(bytes)
        assert(rate == 8000 && dec.sameElements(samples),
          s"seed=$seed mode=$mode bs=$bs: decode diverged")
        assert(nFrames == (samples.length + bs - 1) / bs,
          s"seed=$seed mode=$mode bs=$bs: frame walk miscounted")
      }
    }
  }
}
