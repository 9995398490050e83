package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`ARRAY<FLOAT>`), the
 * north-star extension surface (SURVEY.md §7.5): exact brute-force cosine
 * top-k as the correctness baseline, and a random-hyperplane-LSH bucketed
 * variant as the 100 TB scale path.
 *
 * Scale design:
 *  - All vector math is in-row via the native codegen `vec_dot` /
 *    `sign_band_buckets` expressions (functions/VectorExprs.scala) — no
 *    UDFs, no interpreted higher-order-function lambdas (those are
 *    CodegenFallback, ~µs per ELEMENT), no driver-side collect; norms
 *    are precomputed once per row so the pairwise step is one fused dot.
 *  - Brute force broadcasts the (small) QUERY side against the corpus, so
 *    the corpus is scanned once with zero shuffle for scoring; the only
 *    shuffle is the per-query top-k, which Spark's rank-limit pushdown
 *    (WindowGroupLimit) turns into partial top-k before the exchange.
 *  - The ANN variant buckets both sides by LSH band signatures and joins
 *    bucket-to-bucket (equi-join, never a cross join), then scores only
 *    candidates — the shape that survives a corpus too big to broadcast
 *    against.
 */
object Similarity {

  /** Sequential-fold dot product of two double arrays (deterministic
    * summation order — matches a single-threaded oracle bit-for-bit at
    * rounding granularity). Native codegen expression; callers must have
    * gone through `prep` (or registered VectorExprs) on the session. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in the same form DuckDB's list_cosine_similarity
    * uses: dot / (|a|·|b|). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  private def prep(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, normAs: String): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    df.select(col(idCol).as(idAs), col(vecCol).cast("array<double>").as(vecAs))
      .withColumn(normAs, l2norm(col(vecAs)))
  }

  /**
   * Exact brute-force cosine top-k: for every row of `queries`, the `k`
   * most-similar rows of `corpus` (self-pairs excluded when ids collide).
   * Deterministic: ties broken by neighbor id.
   *
   * Plan shape: corpus scan × broadcast(queries) → in-row dot → window
   * `row_number <= k` partitioned by query. The window is rank-limited,
   * so each task keeps only its local top-k before the shuffle.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val q = prep(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /**
   * Approximate cosine top-k via LSH: candidates = pairs sharing ≥1 band
   * bucket; exact cosine on candidates only; per-query top-k. Recall is
   * tunable by (nBits, bands) — more bands/fewer bits per band = higher
   * recall, more candidates. Every join here is a bucket equi-join.
   */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nBits: Int = 64,
      bands: Int = 16): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    val c = withBandBuckets(
      prep(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn"),
      "__cv", "__buckets", nBits, dim, bands)
    val q = withBandBuckets(
      prep(queries, idCol, vecCol, "query_id", "__qv", "__qn"),
      "__qv", "__buckets", nBits, dim, bands)
    val cb = c.select(col("neighbor_id"), col("__cv"), col("__cn"),
      explode(col("__buckets")).as("__bucket"))
    val qb = q.select(col("query_id"), col("__qv"), col("__qn"),
      explode(col("__buckets")).as("__bucket"))
    val cands = cb.join(qb, "__bucket")
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "__cv", "__cn", "__qv", "__qn")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.withColumn("sim",
      dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /**
   * Embedding-cosine near-dup pairs: every (id_a < id_b) pair with
   * cosine ≥ threshold — the embedding-space member of the dedup family
   * (exact dedup catches byte-identical docs; MinHash catches lexical
   * near-dups; this catches semantic near-dups).
   *
   * Exact upper-triangle scan: on isotropic embeddings (like the random
   * testdata) no blocking scheme prunes without recall loss, so the
   * baseline is the honest default. On real clustered embeddings, feed
   * the candidate pairs from an ANN bucket join (annTopK's band
   * machinery) instead of the cross product — same verify/threshold
   * stage. The cross join broadcasts one side; at corpus sizes beyond
   * broadcast, block-partition both sides first.
   */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = prep(df, idCol, vecCol, "id", "__v", "__n")
    val a = v.select(col("id").as("id_a"), col("__v").as("__va"), col("__n").as("__na"))
    val b = v.select(col("id").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb"))
    a.crossJoin(broadcast(b)).where(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /**
   * ANN-blocked embedding near-dup — the 100 TB path for
   * `cosineNearDups`: candidate pairs are the pairs sharing at least one
   * LSH band bucket (the same md5-derived hyperplane machinery as
   * `annTopK`), then the identical exact-cosine verify/threshold stage.
   * Every join is a bucket equi-join — nothing is ever all-pairs and
   * nothing is broadcast, so the shape survives a corpus too big for
   * `cosineNearDups`' broadcast side. Precision is exact (candidates are
   * re-verified with true cosine); recall follows the band collision
   * probability 1-(1-p^r)^b with p = 1-θ/π — at threshold 0.45 with 16
   * bands of 4 bits, ≈0.96. Fully deterministic, so an oracle replays
   * candidate generation AND verification in SQL.
   *
   * The cosine is computed and thresholded BEFORE the pair-dedup, so the
   * dropDuplicates shuffle carries only (id_a, id_b, cos) survivors —
   * never the vectors (a pair sharing several buckets scores its cheap
   * codegen'd dot once per bucket instead of shipping 2×dim doubles
   * through the exchange).
   */
  def cosineNearDupsAnn(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, nBits: Int = 64,
      bands: Int = 16): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    val v = withBandBuckets(prep(df, idCol, vecCol, "id", "__v", "__n"),
      "__v", "__buckets", nBits, dim, bands)
    val e = v.select(col("id"), col("__v"), col("__n"),
      explode(col("__buckets")).as("__bucket"))
    val a = e.select(col("id").as("id_a"), col("__v").as("__va"),
      col("__n").as("__na"), col("__bucket"))
    val b = e.select(col("id").as("id_b"), col("__v").as("__vb"),
      col("__n").as("__nb"), col("__bucket"))
    a.join(b, "__bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * IVF (inverted-file) approximate top-k — the data-adaptive
   * alternative to hyperplane LSH: centroids are a deterministic corpus
   * sample (every `centroidStride`-th id), each corpus vector is
   * assigned to its nearest centroid in one broadcast scoring pass, and
   * a query scores only the vectors inside its `nProbe` nearest cells.
   *
   * Properties: `nProbe = nCentroids` probes every cell and is EXACTLY
   * brute force (spec-asserted); smaller nProbe trades recall for a
   * ~nProbe/nCentroids fraction of the scoring work. On clustered real
   * embeddings cells align with clusters and recall stays high; on
   * isotropic data (the random testdata) recall degrades gracefully.
   * Every join is a cell-id equi-join; centroids are the only broadcast.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroidStride: Int = 20,
      nProbe: Int = 8): DataFrame = {
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val q = prep(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val cents = collectCents(prep(
        corpus.where(col(idCol) % centroidStride === 0), idCol, vecCol,
        "__cent_id", "__ev", "__en"))
    ivfProbeScore(q, cents, ivfAssign(c, cents), k, nProbe)
  }

  /** The centroid table frozen driver-side — (ids, flat k×dim matrix,
    * norms, vectors), sorted by centroid id so array INDEX order is id
    * order (`ivf_nearest`'s tiebreak = the old window's lowest-id
    * tiebreak). Metadata-sized by the stride-sampling construction —
    * the same bounded-driver-state idiom as the PQ codebook — so the
    * rows are sorted on the driver: an `orderBy` would add a sampling
    * job and a shuffle to every build, append and query batch. */
  private case class CentLits(ids: Array[Long], flat: Array[Double],
      norms: Array[Double], vecs: Seq[Seq[Double]])

  private def collectCents(cents: DataFrame): CentLits = {
    val rows = cents
      .select(col("__cent_id").cast("long"), col("__ev"), col("__en"))
      .collect().sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Double](1)).toSeq
    val norms = rows.map(_.getDouble(2))
    val dim = if (vecs.isEmpty) 0 else vecs.head.length
    val flat = new Array[Double](vecs.length * dim)
    var e = 0
    while (e < vecs.length) {
      val v = vecs(e)
      var i = 0
      while (i < dim) { flat(e * dim + i) = v(i); i += 1 }
      e += 1
    }
    CentLits(ids, flat, norms, vecs)
  }

  /** `ivf_nearest(vec, norm)` over the frozen centroids, exploded so an
    * empty centroid set drops rows exactly like the join it replaced. */
  private def nearestIdx(cl: CentLits, vec: Column, norm: Column,
      n: Int): Column =
    explode(call_function("ivf_nearest", vec, norm,
      typedLit(cl.flat), typedLit(cl.norms), lit(n)))

  /** Nearest centroid per corpus vector (the IVF cell assignment) as a
    * PURE MAP — one codegen argmax per row against the frozen centroid
    * matrix, ties to the lowest centroid id. Replaces the former
    * `crossJoin(broadcast(cents))` + `row_number()` window: that shape
    * duplicated every corpus VECTOR once per centroid through an
    * n×k-row exchange+sort just to pick a per-row argmax (guide §8 —
    * at 10⁹ vectors × 3·10⁴ stride centroids, a 3·10¹³-row shuffle).
    * Zero shuffle now; bit-identical (see `ivfNearest`'s contract). */
  private def ivfAssign(c: DataFrame, cents: CentLits): DataFrame =
    c.withColumn("__idx", nearestIdx(cents, col("__cv"), col("__cn"), 1))
      .withColumn("__cent_id",
        element_at(typedLit(cents.ids), col("__idx") + 1))
      .select(col("neighbor_id"), col("__cv"), col("__cn"), col("__cent_id"))

  /** The `nProbe` nearest cells per query — a pure map against the
    * frozen centroids, like the assignment: (query_id, __qv, __qn,
    * __idx, __cent_id), `__idx` the cell's index in `cents`. */
  private def probes(q: DataFrame, cents: CentLits, nProbe: Int): DataFrame =
    q.withColumn("__idx", nearestIdx(cents, col("__qv"), col("__qn"), nProbe))
      .withColumn("__cent_id", element_at(typedLit(cents.ids), col("__idx") + 1))
      .select(col("query_id"), col("__qv"), col("__qn"), col("__idx"),
        col("__cent_id"))

  /** The IVF probe-and-score tail shared by the one-shot and the
    * persisted-index paths: the probed cells per query, then exact
    * cosine over ONLY the probed cells' assignments. */
  private def ivfProbeScore(q: DataFrame, cents: CentLits,
      assigned: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    probes(q, cents, nProbe).drop("__idx").join(assigned, "__cent_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /** Sub-table names of a persisted IVF / IVF-PQ index under its root. */
  val IvfCellsTable = "cells"
  val IvfCentroidsTable = "centroids"
  val IvfPqCodebookTable = "codebook"

  /** `cells` rows as they are written: every row in partition `cell`,
    * and the writers sized by AQE's rebalance from the bytes (one file
    * for a small index, advisory-sized files, each from its own task,
    * at scale). Written with `cluster = false`: clustering a constant
    * partition column would route the whole write through one task. */
  private def cellsFrame(cells: DataFrame, cell: String): DataFrame =
    cells.withColumn("__cell", lit(cell)).hint("rebalance")

  /** Commit an append's `cells` rows into a partition of their own, so
    * the append only adds files: `insertInto` folds (rewrites) every
    * live partition a write overlaps, and no reader uses `__cell`.
    * Returns the cells table's version (unchanged for an empty batch). */
  private def appendCells(spark: org.apache.spark.sql.SparkSession,
      root: String, cells: DataFrame, tag: Option[String]): Long =
    graft.ops.VersionedPartitioned.insertInto(
        cellsFrame(cells, s"append-${java.util.UUID.randomUUID()}"),
        s"$root/$IvfCellsTable", "__cell", tag = tag, cluster = false)
      .getOrElse(graft.ops.VersionedPartitioned
        .currentVersion(spark, s"$root/$IvfCellsTable").getOrElse(0L))

  /**
   * Build and PERSIST the IVF index — the 100 TB serving shape, where
   * the one-shot `ivfTopK` rebuild-per-query is wrong: assignment runs
   * ONCE over the corpus and queries forever after read only the index
   * tables. Two versioned tables under `root`, published atomically as
   * one `Txn` transaction (a crash between the two writes can never
   * leave centroids without their cells or vice versa):
   *
   *  - `cells`: one row per corpus vector — (id, vector, norm, cell) —
   *    in the single `__cell = 'all'` partition, like `centroids`, and
   *    each later append in a partition of its own. A query batch
   *    probes nearly every cell, so a partition per cell pruned
   *    nothing and cost a listing and a file open per cell; pruning by
   *    probe waits for per-file stats in the manifest. Indexes written
   *    one partition per cell stay readable and appendable (no reader
   *    uses `__cell`);
   *  - `centroids`: the stride-sampled centroid vectors (corpus/stride
   *    rows — broadcast-sized by construction).
   *
   * Deterministic: centroids are the same every-`centroidStride`-th-id
   * sample as `ivfTopK`, assignment the same lowest-id-tie argmax, so
   * build-then-query is bit-identical to the one-shot path
   * (spec-pinned; the `similarity_indexed` gate replays the
   * `similarity_ivf` oracle).
   */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      root: String, centroidStride: Int = 20): Unit = {
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val cents = prep(
      corpus.where(col(idCol) % centroidStride === 0), idCol, vecCol,
      "__cent_id", "__ev", "__en")
    val cells = ivfAssign(c, collectCents(cents))
    graft.ops.Txn.commit(Seq(
      graft.ops.Txn.Write(cellsFrame(cells, "all"),
        s"$root/$IvfCellsTable", "__cell", cluster = false),
      graft.ops.Txn.Write(cents.withColumn("__cell", lit("all")),
        s"$root/$IvfCentroidsTable", "__cell")))
    ()
  }

  /**
   * Incremental index maintenance — the steady-state crawl→index
   * flow (the `dedup_incremental_indexed` shape for ANN): assign ONLY
   * the new batch against the STORED centroids (broadcast-sized read,
   * one scoring pass over the batch — the corpus is never touched)
   * and append the assignments to `cells` as one commit that adds
   * only the batch's files, in a partition of their own. Because
   * assignment is per-vector deterministic given the centroids, an
   * index bootstrapped on any superset of the centroid sample and
   * grown batch-by-batch is BIT-IDENTICAL to a one-shot build over
   * the full corpus — the `similarity_indexed_incremental` gate pins
   * exactly that against the one-shot oracle.
   *
   * Idempotent on ids: vectors whose id is already in the index are
   * dropped (anti-join against the cells table's id column — one
   * column-pruned index scan per append), so a replayed batch — a
   * restarted stream, a retried job — never duplicates rows and never
   * skews `indexedIvfTopK` with twin neighbors. First write wins; an
   * append is NOT an upsert (re-embedding an id needs a rebuild).
   */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, batch: DataFrame, idCol: String,
      vecCol: String, tag: Option[String] = None): Long = {
    graft.functions.VectorExprs.register(spark)
    val cents = graft.ops.VersionedPartitioned
      .read(spark, s"$root/$IvfCentroidsTable")
      .select(col("__cent_id"), col("__ev"), col("__en"))
    val existing = graft.ops.VersionedPartitioned
      .read(spark, s"$root/$IvfCellsTable").select("neighbor_id")
    val b = prep(batch, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .join(existing, Seq("neighbor_id"), "left_anti")
    appendCells(spark, root, ivfAssign(b, collectCents(cents)), tag)
  }

  /**
   * `ivfTopK` served from the PERSISTED index: the corpus is never
   * read — the candidate scan is the `cells` table (the build's
   * partition and one per append, a few files each; see
   * `buildIvfIndex`), joined to the probes on the cell id, and the
   * metadata-sized `centroids` table is frozen into the probe
   * expression; both are resolved together through
   * `Txn.readAll`'s snapshot-consistent view. Bit-identical to the
   * one-shot `ivfTopK` over the same corpus and knobs.
   */
  def indexedIvfTopK(spark: org.apache.spark.sql.SparkSession,
      root: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 8): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val Seq(cellsDf, centsDf) = graft.ops.Txn.readAll(spark,
      Seq(s"$root/$IvfCellsTable", s"$root/$IvfCentroidsTable"))
    val q = prep(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    ivfProbeScore(q,
      collectCents(centsDf.select(col("__cent_id"), col("__ev"), col("__en"))),
      cellsDf.select(col("neighbor_id"), col("__cv"), col("__cn"),
        col("__cent_id")), k, nProbe)
  }

  /**
   * IVF-PQ approximate top-k — the billion-scale ANN layout (Jégou et
   * al. 2011, "Product Quantization for Nearest Neighbor Search"):
   * coarse IVF cells over RESIDUAL product-quantization codes. At rest
   * each corpus vector is (cell id, m codes, true norm) — m+12 bytes
   * instead of 8·dim, a 20–30× compression that is what lets a 100 TB
   * embedding corpus serve from executor memory — and the candidate
   * scan scores the codes without reconstructing the floats
   * (`pq_score`, one fused codegen pass over the m codes).
   *
   * Determinism/replayability contract (what lets the DuckDB oracle
   * recompute the whole index from SQL): coarse centroids and codebook
   * entries are deterministic corpus samples (every `centroidStride`-th
   * / `cbStride`-th id — the data-adaptive sampling `ivfTopK`
   * established); code assignment is an EXACT integer argmin over
   * `floor(x·10⁴+0.5)`-scaled residuals (`pq_encode` — no FP reorder can
   * flip a code across engines), ties to the lowest entry index;
   * reconstruction adds the exact double codebook values back.
   *
   * Search: probe the `nProbe` nearest cells, rank candidates by
   * approximate cosine ⟨q, decode(c)⟩ / (|q|·|c|) (true stored norms —
   * the asymmetric-distance trick: only the corpus side is quantized),
   * keep a `shortlist`, rerank the shortlist at full precision by
   * joining the original vectors back, emit the top `k`. With
   * `nProbe = nCells` and `shortlist ≥ |corpus|` this is exactly brute
   * force; the knobs trade recall for scan fraction and rerank I/O.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroidStride: Int = 20, nProbe: Int = 8,
      m: Int = 8, cbStride: Int = 17, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val q = prep(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val cents = collectCents(prep(
      corpus.where(col(idCol) % centroidStride === 0), idCol, vecCol,
      "__cent_id", "__ev", "__en"))
    val resid = pqAssignResid(c, cents)
    val (flatD, flatI, ksub, _) = pqCodebook(resid, m, cbStride)
    // the at-rest index: (cell, m codes, true norm)
    val encoded = resid.select(col("neighbor_id"), col("__cn"),
      col("__cent_id"),
      call_function("pq_encode", col("__res"), typedLit(flatI),
        lit(m), lit(ksub)).as("__codes"))
    pqSearch(q, cents, encoded, c, flatD, ksub, k, nProbe, sl)
  }

  /** Cell assignment WITH residuals (exact double subtraction) — the
    * IVF-PQ at-rest precursor: (id, norm, cell, vector − centroid).
    * Pure map like [[ivfAssign]]: argmax via `ivf_nearest`, winner
    * centroid vector looked up from the frozen literal, residual the
    * same `zip_with` subtraction as before — bit-identical. */
  private def pqAssignResid(c: DataFrame, cents: CentLits): DataFrame =
    c.withColumn("__idx", nearestIdx(cents, col("__cv"), col("__cn"), 1))
      .withColumn("__ev", element_at(typedLit(cents.vecs), col("__idx") + 1))
      .select(col("neighbor_id"), col("__cn"),
        element_at(typedLit(cents.ids), col("__idx") + 1).as("__cent_id"),
        zip_with(col("__cv"), col("__ev"), (x, y) => x - y).as("__res"))

  /** Deterministic PQ codebook: residual subvectors of the stride
    * sample, collected driver-side — ksub·dim doubles, metadata-sized
    * (the k-centroid-rows idiom from Clustering). Entry order =
    * ascending sampled id, so entry INDEXES are engine-reproducible.
    * Returns the flat (j, e, t) layout in double and pq_encode's
    * scaled-int domains, plus (ksub, dim). */
  private def pqCodebook(resid: DataFrame, m: Int,
      cbStride: Int): (Array[Double], Array[Long], Int, Int) = {
    val sampleRows = resid.where(col("neighbor_id") % cbStride === 0)
      .orderBy("neighbor_id").select("__res").collect()
    require(sampleRows.nonEmpty,
      s"ivfPq: empty codebook sample (cbStride=$cbStride)")
    val sample: Array[Array[Double]] =
      sampleRows.map(_.getSeq[Double](0).toArray)
    val dim = sample.head.length
    require(dim % m == 0, s"ivfPq: dim $dim not divisible by m=$m")
    val (dsub, ksub) = (dim / m, sample.length)
    val flatD: Array[Double] = Array.tabulate(m * ksub * dsub) { i =>
      val (j, e, t) = (i / (ksub * dsub), (i / dsub) % ksub, i % dsub)
      sample(e)(j * dsub + t)
    }
    (flatD, flatD.map(graft.functions.VectorExprs.pqScaled), ksub, dim)
  }

  /** The IVF-PQ probe → asymmetric-shortlist → exact-rerank tail
    * shared by the one-shot and persisted-index paths. `encoded`
    * carries (neighbor_id, __cn, __cent_id, __codes); `rerank` is the
    * prep'd FLOAT primary store (neighbor_id, __cv, __cn) the
    * shortlist's point lookups rerank against. The approximate score
    * is `pq_score` against the probe's own centroid index: the codes
    * are scored where they are scanned, with no decoded vector and no
    * centroid join — bit-identical to `vec_dot(pq_decode(…), q)`. */
  private def pqSearch(q: DataFrame, cents: CentLits, encoded: DataFrame,
      rerank: DataFrame, flatD: Array[Double], ksub: Int, k: Int,
      nProbe: Int, sl: Int): DataFrame = {
    val wA = Window.partitionBy("query_id")
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val short = probes(q, cents, nProbe).join(encoded, "__cent_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__approx",
        call_function("pq_score", col("__codes"), col("__idx"), col("__qv"),
          typedLit(cents.vecs), typedLit(flatD), lit(ksub)) /
          (col("__cn") * col("__qn")))
      .withColumn("__ar", row_number().over(wA))
      .where(col("__ar") <= sl)
      .select(col("query_id"), col("__qv"), col("__qn"), col("neighbor_id"))

    // exact rerank of the shortlist only: join the floats back by id
    val wE = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    short.join(rerank, "neighbor_id")
      .withColumn("sim",
        dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
      .withColumn("rank", row_number().over(wE))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  /**
   * Build and PERSIST the IVF-PQ index — the at-rest billion-scale
   * layout served from storage instead of recomputed per query (the
   * one-shot `ivfPqTopK` re-derives codebook and codes every call).
   * Three versioned tables under `root`, published atomically as one
   * `Txn` transaction:
   *
   *  - `cells`: one row per corpus vector — (id, true norm, cell,
   *    m PQ codes) — in the single `__cell = 'all'` partition plus
   *    one per later append, as `buildIvfIndex` explains; the FLOATS
   *    ARE NOT STORED (m+12 bytes a vector is the whole point — the
   *    primary store keeps the floats and serves the shortlist's
   *    rerank point lookups);
   *  - `centroids`: the stride-sampled coarse centroids;
   *  - `codebook`: the flat (j, e, t) double codebook, one row per
   *    position, with (m, ksub, dim) stamped on every row —
   *    ksub·dim values, metadata-sized.
   *
   * Deterministic end-to-end (stride samples, exact-integer code
   * argmin), so build-then-serve is bit-identical to the one-shot
   * path — the `similarity_indexed_pq` gate replays the
   * `similarity_ivfpq` oracle.
   */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      root: String, centroidStride: Int = 20, m: Int = 8,
      cbStride: Int = 17): Unit = {
    val c = prep(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val cents = prep(
      corpus.where(col(idCol) % centroidStride === 0), idCol, vecCol,
      "__cent_id", "__ev", "__en")
    val resid = pqAssignResid(c, collectCents(cents))
    val (flatD, flatI, ksub, dim) = pqCodebook(resid, m, cbStride)
    val cells = resid.select(col("neighbor_id"), col("__cn"),
        col("__cent_id"),
        call_function("pq_encode", col("__res"), typedLit(flatI),
          lit(m), lit(ksub)).as("__codes"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = flatD.toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v, m, ksub, dim) }
      .toDF("idx", "v", "m", "ksub", "dim")
      .withColumn("__cell", lit("all"))
    graft.ops.Txn.commit(Seq(
      graft.ops.Txn.Write(cellsFrame(cells, "all"),
        s"$root/$IvfCellsTable", "__cell", cluster = false),
      graft.ops.Txn.Write(cents.withColumn("__cell", lit("all")),
        s"$root/$IvfCentroidsTable", "__cell"),
      graft.ops.Txn.Write(cb, s"$root/$IvfPqCodebookTable", "__cell")))
    ()
  }

  /** The stored PQ codebook, reconstructed driver-side from its
    * snapshot frame: (flatD, flatI, m, ksub). */
  private def readPqCodebook(cbDf: DataFrame)
      : (Array[Double], Array[Long], Int, Int) = {
    val rows = cbDf.select("idx", "v", "m", "ksub").collect()
    require(rows.nonEmpty, "empty persisted PQ codebook")
    val flatD = new Array[Double](rows.length)
    rows.foreach(r => flatD(r.getLong(0).toInt) = r.getDouble(1))
    (flatD, flatD.map(graft.functions.VectorExprs.pqScaled),
      rows.head.getInt(2), rows.head.getInt(3))
  }

  /**
   * `ivfPqTopK` served from the PERSISTED index: the shortlist phase
   * reads only the index tables (the codes, in the build's partition
   * and one per append, plus the metadata-sized centroids and
   * codebook, collected to the driver and frozen into `ivf_nearest`
   * and `pq_score`; all three resolved
   * together through `Txn.readAll`'s snapshot-consistent view); the
   * float `corpus` (the primary store) is touched only by the exact
   * rerank's shortlist-sized point-lookup join — the asymmetric-
   * distance serving shape. Bit-identical to the one-shot `ivfPqTopK`
   * over the same corpus and knobs.
   */
  def indexedIvfPqTopK(spark: org.apache.spark.sql.SparkSession,
      root: String, corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 8,
      shortlist: Int = 0): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl must be >= k $k")
    val Seq(cellsDf, centsDf, cbDf) = graft.ops.Txn.readAll(spark,
      Seq(s"$root/$IvfCellsTable", s"$root/$IvfCentroidsTable",
        s"$root/$IvfPqCodebookTable"))
    val (flatD, _, _, ksub) = readPqCodebook(cbDf)
    val q = prep(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val rerank = prep(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    pqSearch(q,
      collectCents(centsDf.select(col("__cent_id"), col("__ev"), col("__en"))),
      cellsDf.select(col("neighbor_id"), col("__cn"), col("__cent_id"),
        col("__codes")),
      rerank, flatD, ksub, k, nProbe, sl)
  }

  /**
   * Incremental IVF-PQ maintenance — assign and ENCODE only the new
   * batch against the STORED centroids and codebook (the corpus is
   * never rescanned; the codebook is frozen at build time, the
   * standard PQ serving contract — re-train by rebuilding), append as
   * one commit that adds only the batch's files. Idempotent on ids
   * like [[appendToIvfIndex]]. An index bootstrapped on any superset
   * of BOTH stride samples and grown batch-by-batch is bit-identical
   * to a one-shot build.
   */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, batch: DataFrame, idCol: String,
      vecCol: String, tag: Option[String] = None): Long = {
    graft.functions.VectorExprs.register(spark)
    val cents = graft.ops.VersionedPartitioned
      .read(spark, s"$root/$IvfCentroidsTable")
      .select(col("__cent_id"), col("__ev"), col("__en"))
    val (_, flatI, m, ksub) = readPqCodebook(graft.ops.VersionedPartitioned
      .read(spark, s"$root/$IvfPqCodebookTable"))
    val existing = graft.ops.VersionedPartitioned
      .read(spark, s"$root/$IvfCellsTable").select("neighbor_id")
    val b = prep(batch, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .join(existing, Seq("neighbor_id"), "left_anti")
    val cells = pqAssignResid(b, collectCents(cents))
      .select(col("neighbor_id"), col("__cn"), col("__cent_id"),
        call_function("pq_encode", col("__res"), typedLit(flatI),
          lit(m), lit(ksub)).as("__codes"))
    appendCells(spark, root, cells, tag)
  }

  /**
   * Add the LSH band-bucket keys (ARRAY<BIGINT>, one per band) for an
   * ARRAY<DOUBLE> vector column: bit j = [⟨plane_j, v⟩ > 0] with
   * md5-derived ±1 hyperplanes (VectorExprs.planes — reproducible in any
   * engine with md5(), which is what lets the DuckDB oracle replay the
   * full ANN pipeline); band b packs its nBits/bands bits onto seed b so
   * bands yield disjoint join keys. One native codegen call per row.
   */
  /**
   * Symmetric int8 scalar quantization of the embedding column — the
   * storage/ANN compression step (4 bytes/dim float → 1 byte/dim code +
   * one scale per vector, the format IVF/SQ indexes serve from): per
   * vector, scale = max|x_i|/levels, code_i = clamp(floor(x_i/scale +
   * 0.5), ±levels), plus the exact mean squared dequantization error as
   * the quality audit (rising mse = embeddings outgrowing the codebook).
   *
   * One native codegen kernel call per row (`vec_quantize` — the
   * HOF formulation would run 3 interpreted lambdas per ELEMENT), zero
   * shuffle, output linear in input. floor(+0.5) rounding and e·e
   * squaring instead of round()/pow() so the oracle replays codes and
   * error bit-for-bit.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String,
      levels: Int = 127): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    df.select(col(idCol),
        col(vecCol).cast("array<double>").as("__dv"))
      .withColumn("__q", expr(s"vec_quantize(__dv, $levels)"))
      .select(col(idCol), size(col("__dv")).as("dim"),
        round(col("__q.q_scale"), 6).as("q_scale"),
        col("__q.qvec").as("qvec"),
        round(col("__q.mse"), 9).as("mse"))
  }

  /**
   * Quantized-shortlist top-k (the IVF-SQ/rerank pattern): score ALL
   * candidates with the int8 codes (¼ the memory bandwidth of floats —
   * at scale the corpus stores (q_scale, qvec) via `quantizeInt8` and
   * the shortlist pass never touches the float vectors), keep a
   * `shortlist`-deep approximate top list per query, then rerank ONLY
   * the shortlist at full precision. approx = scale_a·scale_b·⟨qa, qb⟩
   * where the code dot is a sum of integer products (|q| ≤ 127, so
   * every partial is exact in a double regardless of order) — the
   * approximate ranking is therefore bit-reproducible on any engine,
   * which is what makes the full two-stage pipeline oracle-replayable.
   *
   * Same plan skeleton as `bruteForceTopK`: corpus scan ×
   * broadcast(queries), rank-limited windows (WindowGroupLimit keeps
   * per-partition partial top-k ahead of both shuffles). Recall loss is
   * bounded by quantization error; `shortlist` ≥ 2–4× k recovers the
   * exact top-k whenever true scores are separated by more than the
   * code resolution.
   */
  def quantizedRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int,
      levels: Int = 127): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    graft.functions.VectorExprs.register(corpus.sparkSession)
    def side(df: DataFrame, idAs: String, vecAs: String, scaleAs: String,
        codesAs: String, normAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
          col(vecCol).cast("array<double>").as(vecAs))
        .withColumn("__q", expr(s"vec_quantize(`$vecAs`, $levels)"))
        .select(col(idAs), col(vecAs),
          col("__q.q_scale").as(scaleAs),
          expr("cast(__q.qvec as array<double>)").as(codesAs))
        .withColumn(normAs, l2norm(col(vecAs)))
    val c = side(corpus, "neighbor_id", "__cv", "__cs", "__cq", "__cn")
    val q = side(queries, "query_id", "__qv", "__qs", "__qq", "__qn")
    val approx = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("__approx",
        col("__cs") * col("__qs") * dot(col("__cq"), col("__qq")))
    val wA = Window.partitionBy("query_id")
      .orderBy(col("__approx").desc, col("neighbor_id"))
    val wE = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    approx.withColumn("__ar", row_number().over(wA))
      .where(col("__ar") <= shortlist)
      .withColumn("sim",
        dot(col("__cv"), col("__qv")) / (col("__cn") * col("__qn")))
      .withColumn("rank", row_number().over(wE))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  def withBandBuckets(df: DataFrame, vecColName: String,
      bucketsColName: String, nBits: Int, dim: Int, bands: Int): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    df.withColumn(bucketsColName, call_function("sign_band_buckets",
      col(vecColName), lit(nBits), lit(dim), lit(bands)))
  }
}
