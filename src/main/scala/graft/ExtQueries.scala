package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Clustering, Dedup, Multimodal, Sampling, Shards, Similarity, TextOps}
import graft.ops.{AsOf, Funnel, Ingest, Merge, Profile, RangeJoin, Resample, Retention, Sessions}
import graft.sources.Tables

/**
 * North-star extension queries (SURVEY.md §7.5) over the `documents` and
 * `embeddings` testdata, each with an exact DuckDB oracle where the
 * semantics are SQL-expressible. Merged into `SparkEntry.queries`.
 *
 * Oracle notes:
 *  - Text normalization (lower → strip non-alnum → split) is mirrored
 *    token-for-token in RE2-compatible SQL.
 *  - Hash-based ops (MinHash/SimHash LSH) cannot be re-derived in DuckDB
 *    (no xxhash64); their oracles verify the SEMANTIC claim instead —
 *    the returned pairs must equal the exact similarity-threshold pairs,
 *    which on this corpus (near-dups at j ≥ 0.9, everything else ≤ 0.2)
 *    any correctly-tuned sketch must recover exactly.
 */
object ExtQueries {

  /** The testdata corpus tables arrive as a single parquet file → ONE
    * input partition, which would serialize the compute-heavy in-row
    * sketching (MinHash ≈ docs × hashes × shingles hash evals) onto one
    * core. Spread the tiny scan across the cluster before computing; on
    * a real many-file table the scan is already parallel and callers use
    * the ops directly without this. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def docs(s: SparkSession, dir: String): DataFrame =
    spread(Tables.load(s, dir, "documents"))
  private def embs(s: SparkSession, dir: String): DataFrame =
    spread(Tables.load(s, dir, "embeddings"))

  // ------------------------------------------------------------- dedup —

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByHash(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(docs(s, dir), "doc_id", "text",
        numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(docs(s, dir), "doc_id", "text",
        maxHamming = 6, shingleK = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")

  private def dedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
        shingleK = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** Exact-substring dup pairs: any shared 8-token window (containment,
    * not whole-doc similarity — finds shared boilerplate spans Jaccard
    * misses). The oracle recomputes the same distinct-window
    * intersection from SQL. */
  private def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupPairs(docs(s, dir), "doc_id", "text", windowK = 8)
      .orderBy("id_a", "id_b")

  // -------------------------------------------------------- similarity —

  /** Every 20th vector queries the full corpus for its 5 nearest
    * neighbors by cosine — exact brute force (the correctness baseline). */
  private def similarityTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(e, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed ANN variant (the 100 TB shape). Approximate vs brute
    * force (recall is spec-asserted), but fully DETERMINISTIC — the
    * hyperplanes are md5-derived — so the oracle replays the entire
    * LSH pipeline (planes → sign bits → band buckets → bucket join →
    * exact re-rank) in SQL and verifies the algorithm exactly. */
  private def similarityAnn(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.annTopK(e, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, dim = 64, nBits = 64, bands = 16)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** ANN recall as a DRIVER-GATED row (it was only a spec assertion):
    * per query, the integer overlap between annTopK's and brute-force
    * top-5 neighbor sets — recall@5 in exact counts, no float compare.
    * The oracle replays BOTH pipelines (each already oracle-verified
    * alone) and intersects them in SQL, so a recall regression —
    * banding drift, verify-stage change, tie-break change — now fails
    * the correctness gate, not just a 0.9-threshold spec. */
  private def similarityRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.where(col("vec_id") % 20 === 0)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val ann = Similarity.annTopK(e, q, "vec_id", "embedding", k = 5,
        dim = 64, nBits = 64, bands = 16)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    exact.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("n_overlap"), count(lit(1)).as("k"))
      .orderBy("query_id")
  }

  /** Near-dup clusters: MinHash pairs → connected components → canonical
    * (min-id) representative per cluster. Components consumers use the
    * EDGES variant (hot buckets → verified min-id star, never d²);
    * identical to the pairs path on this corpus (no above-cap bucket). */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.components(
        Dedup.minhashNearDupEdges(docs(s, dir), "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5))
      .orderBy("id")

  /** Semantic near-dup clusters: connected components over the
    * ANN-blocked embedding pair graph — `dedup_clusters`' shape in
    * embedding space (the SemDeDup-style cluster step). Same
    * deterministic LSH banding as `dedup_embedding_ann`, so the oracle
    * replays pairs AND label propagation exactly. */
  private def dedupEmbeddingClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.components(
        Similarity.cosineNearDupsAnn(embs(s, dir), "vec_id", "embedding",
          threshold = 0.45, dim = 64, nBits = 64, bands = 16))
      .orderBy("id")

  /** Embedding-space near-dup pairs (semantic dedup): exact cosine over
    * the upper triangle, threshold tuned to the corpus sim range. */
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(embs(s, dir), "vec_id", "embedding", 0.45)
      .orderBy("id_a", "id_b")

  /** Best-survivor corpus dedup: like dedup_corpus but each near-dup
    * cluster keeps its LONGEST member (n_chars, ties to min doc_id) —
    * the keep-the-best curation policy rather than min-id. */
  private def dedupCorpusBest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.dedupByPairsBest(d,
        Dedup.minhashNearDupEdges(d, "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5),
        "doc_id", col("n_chars"))
      .select("doc_id").orderBy("doc_id")
  }

  /** Intra-document repetition stats — the duplicate-n-gram quality
    * signal of Gopher/RefinedWeb-style filters: the fraction of a doc's
    * 2-grams / 3-grams that are repeats, in exact integer bps
    * (total − distinct over total; `token_shingles` is distinct by
    * construction, so distinct counts come free from the native
    * kernels). Zero shuffle — one JIT'd projection per row. */
  private def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    docs(s, dir)
      .select(col("doc_id"),
        expr("token_stats(text).n_tokens").cast("long").as("n_tokens"),
        expr("size(token_shingles(text, 2))").cast("long").as("__d2"),
        expr("size(token_shingles(text, 3))").cast("long").as("__d3"))
      .withColumn("__n2", greatest(col("n_tokens") - 1, lit(1L)))
      .withColumn("__n3", greatest(col("n_tokens") - 2, lit(1L)))
      .select(col("doc_id"), col("n_tokens"),
        expr("(__n2 - __d2) * 10000 DIV __n2").as("rep2_bps"),
        expr("(__n3 - __d3) * 10000 DIV __n3").as("rep3_bps"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination — training docs sharing 5-gram overlap
    * with a simulated eval set (doc_id % 7 == 0): the data-prep step
    * that keeps eval answers out of the corpus. Integer outputs →
    * exact oracle. */
  private def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextOps.decontaminate(d.where(col("doc_id") % 7 =!= 0),
        d.where(col("doc_id") % 7 === 0), "doc_id", "text", shingleK = 5)
      .orderBy("doc_id")
  }

  /** Graded contamination (ext/TextOps.contaminationScore): every
    * non-eval doc scored by the bps share of its distinct 5-shingles
    * present anywhere in the held-out slice — the degree metric behind
    * keep/trim/drop policies, where `decontaminate` is the boolean. */
  private def contaminationScoreQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextOps.contaminationScore(d.where(col("doc_id") % 7 =!= 0),
        d.where(col("doc_id") % 7 === 0), "doc_id", "text", shingleK = 5)
      .orderBy("doc_id")
  }

  /** Deterministic stratified downsampling: keep 25 % of English, all of
    * every other language (the rebalancing step of corpus curation),
    * summarized per language. Membership is a pure md5(doc_id) predicate
    * — reproducible, backfill-stable, replayed verbatim by the oracle. */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedByHash(docs(s, dir), "lang", "doc_id",
        rates = Map("en" -> 0.25))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang")

  /** Target-weight domain mixture over four sources (weights 1/2, 1/4,
    * 1/8, 1/8 — exactly representable, so the binding-constraint float
    * math is engine-identical): the corpus-assembly step that composes
    * a training set with prescribed source proportions. The oracle
    * replays the full pipeline — md5 ranking, binding constraint,
    * per-group targets — in SQL. */
  private def domainMix(s: SparkSession, dir: String): DataFrame =
    Sampling.mixByWeight(docs(s, dir), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
          "src3" -> 0.125), seed = "mix1")
      .select("doc_id", "source", "mix_rank")
      .orderBy("doc_id")

  /** Incremental dedup — admit only the novel documents of a simulated
    * daily batch (doc_id % 10 == 0) against the standing corpus (the
    * rest). A batch doc survives iff it has no Jaccard-0.5 partner in
    * the corpus and no lower-id partner within the batch; the oracle
    * states exactly that rule over exact shingle-Jaccard (on this
    * corpus the tuned MinHash recovers the exact pair set, as
    * dedup_minhash pins). */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.incrementalNearDups(
        d.where(col("doc_id") % 10 =!= 0), d.where(col("doc_id") % 10 === 0),
        "doc_id", "text", numHashes = 128, bands = 32, shingleK = 3,
        threshold = 0.5)
      .select("doc_id").orderBy("doc_id")
  }

  /** The steady-state indexed admit path (corpus side = the PERSISTENT
    * band index, no corpus re-shingling): same parameters, same admit
    * rule, same oracle SQL as dedup_incremental — the two registered
    * rows pin that the stored-index path and the recompute path admit
    * identical sets. */
  private def dedupIncrementalIndexed(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpusIdx = Dedup.buildBandIndex(d.where(col("doc_id") % 10 =!= 0),
      "doc_id", "text", numHashes = 128, bands = 32, shingleK = 3)
    Dedup.incrementalNearDupsIndexed(corpusIdx,
        d.where(col("doc_id") % 10 === 0),
        "doc_id", "text", numHashes = 128, bands = 32, shingleK = 3,
        threshold = 0.5)
      .select("doc_id").orderBy("doc_id")
  }

  /** ANN-blocked embedding near-dup (the 100 TB path): LSH band-bucket
    * candidate pairs → exact-cosine verify at the same 0.45 threshold as
    * dedup_embedding. Same md5-derived hyperplanes as similarity_ann
    * (nBits=64, bands=16), so the oracle replays candidates AND
    * verification; every surviving pair is a true dedup_embedding pair
    * (precision exact, recall ≈ the band collision probability). */
  private def dedupEmbeddingAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupsAnn(embs(s, dir), "vec_id", "embedding",
        threshold = 0.45, dim = 64, nBits = 64, bands = 16)
      .orderBy("id_a", "id_b")

  /** IVF ANN variant (pruned probing) — approximate like similarity_ann
    * but deterministic (stride-sampled centroids, tie-broken argmax
    * assignment), so the oracle replays assignment → probing → scoring
    * in SQL exactly; exhaustive-probe == brute-force is spec-asserted. */
  private def similarityIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfTopK(e, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, centroidStride = 20, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** The persisted-index IVF serving path (`Similarity.buildIvfIndex`
    * → `indexedIvfTopK`): the index — the cell assignments in one
    * partition + metadata-sized centroids — is built ONCE and published as one
    * transaction; the query phase reads ONLY the index tables, never
    * the corpus (ExtSpec pins that via inputFiles). Bit-identical to
    * the one-shot path, so it replays the similarity_ivf oracle. */
  private def similarityIndexed(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_simidx_").toString
    Similarity.buildIvfIndex(e, "vec_id", "embedding", root,
      centroidStride = 20)
    Similarity.indexedIvfTopK(s, root, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** The steady-state index-maintenance path: bootstrap the persisted
    * IVF index on the even-id half of the corpus (a superset of the
    * centroid sample, so the stored centroids equal the full-corpus
    * sample), APPEND the odd-id half batch-style
    * (`Similarity.appendToIvfIndex` — assigns only the batch against
    * the stored centroids; the corpus is never rescanned), then query.
    * Bit-identical to the one-shot build, so it replays the
    * similarity_ivf oracle. */
  private def similarityIndexedIncremental(s: SparkSession,
      dir: String): DataFrame = {
    val e = embs(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_simidxinc_").toString
    Similarity.buildIvfIndex(e.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", root, centroidStride = 20)
    Similarity.appendToIvfIndex(s, root,
      e.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
    Similarity.indexedIvfTopK(s, root, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** The STREAMING index-maintenance path end to end
    * (`Streaming.maintainIndex` — the batch hop `maintainedIndex`
    * subscribes): bootstrap the persisted IVF index on the even-id
    * half of a VERSIONED source table, commit the odd half to the
    * source, run one maintenance hop (cursor from the cells table's
    * own commit tags; append assigns only the window against stored
    * centroids, anti-joined on already-indexed ids), then query.
    * Bit-identical to the one-shot build → similarity_ivf oracle. */
  private def similarityIndexedStreamed(s: SparkSession,
      dir: String): DataFrame = {
    val e = embs(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_simidxstream_").toString
    val (src, idx) = (s"$root/src", s"$root/idx")
    val ePt = e.withColumn("pt", (col("vec_id") % 8).cast("string"))
    graft.ops.VersionedPartitioned.promote(
      ePt.where(col("vec_id") % 2 === 0), src, "pt")
    Similarity.buildIvfIndex(
      graft.ops.VersionedPartitioned.read(s, src),
      "vec_id", "embedding", idx, centroidStride = 20)
    graft.ops.VersionedPartitioned.insertInto(
      ePt.where(col("vec_id") % 2 === 1), src, "pt")
    graft.pipeline.Streaming.maintainIndex(s, src, idx,
      "vec_id", "embedding")
    Similarity.indexedIvfTopK(s, idx, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** The streamed-maintenance path for the PQ index
    * (`Streaming.maintainIndex(pq = true)`): bootstrap on a superset
    * of BOTH stride samples so the stored centroids AND codebook equal
    * the full-corpus samples, commit the rest to the versioned source,
    * one hop (encodes the window against the STORED codebook), query.
    * Bit-identical to the one-shot build → similarity_ivfpq oracle. */
  private def similarityIndexedPqStreamed(s: SparkSession,
      dir: String): DataFrame = {
    val e = embs(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_simidxpqstream_").toString
    val (src, idx) = (s"$root/src", s"$root/idx")
    val ePt = e.withColumn("pt", (col("vec_id") % 8).cast("string"))
    val boot = col("vec_id") % 2 === 0 || col("vec_id") % 17 === 0
    graft.ops.VersionedPartitioned.promote(ePt.where(boot), src, "pt")
    Similarity.buildIvfPqIndex(
      graft.ops.VersionedPartitioned.read(s, src),
      "vec_id", "embedding", idx, centroidStride = 20, m = 8,
      cbStride = 17)
    graft.ops.VersionedPartitioned.insertInto(ePt.where(!boot), src, "pt")
    graft.pipeline.Streaming.maintainIndex(s, src, idx,
      "vec_id", "embedding", pq = true)
    Similarity.indexedIvfPqTopK(s, idx, e,
        e.where(col("vec_id") % 20 === 0), "vec_id", "embedding",
        k = 5, nProbe = 8, shortlist = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN (coarse cells + residual product-quantization codes +
    * asymmetric-distance shortlist + exact rerank — the billion-scale
    * index layout): code assignment is an exact-integer argmin
    * (`pq_encode` scales residuals by 10⁴), so the DuckDB oracle
    * replays sampling → assignment → encoding → decoding → shortlist →
    * rerank bit-for-bit. ExtSpec pins the exhaustive-knob == brute
    * force property and default-knob recall. */
  private def similarityIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfPqTopK(e, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, centroidStride = 20, nProbe = 8,
        m = 8, cbStride = 17, shortlist = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** The persisted IVF-PQ serving path (`Similarity.buildIvfPqIndex` →
    * `indexedIvfPqTopK`): codebook + codes + centroids are published
    * as one transaction and the query phase recomputes nothing — the
    * shortlist reads the compact index (codes, never floats), the
    * exact rerank point-looks-up the float corpus. Bit-identical to
    * the one-shot path, so it replays the similarity_ivfpq oracle. */
  private def similarityIndexedPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_simidxpq_").toString
    Similarity.buildIvfPqIndex(e, "vec_id", "embedding", root,
      centroidStride = 20, m = 8, cbStride = 17)
    Similarity.indexedIvfPqTopK(s, root, e,
        e.where(col("vec_id") % 20 === 0), "vec_id", "embedding",
        k = 5, nProbe = 8, shortlist = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Steady-state IVF-PQ maintenance: bootstrap the persisted index on
    * a superset of BOTH stride samples (even ids ∪ ids ≡ 0 mod 17, so
    * the stored centroids and codebook equal the full-corpus samples),
    * append ALL odd ids batch-style — the already-indexed mod-17 odds
    * exercise the idempotent anti-join — encoding against the STORED
    * codebook, then query. Bit-identical to the one-shot build, so it
    * replays the similarity_ivfpq oracle. */
  private def similarityIndexedPqIncremental(s: SparkSession,
      dir: String): DataFrame = {
    val e = embs(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_simidxpqinc_").toString
    Similarity.buildIvfPqIndex(
      e.where(col("vec_id") % 2 === 0 || col("vec_id") % 17 === 0),
      "vec_id", "embedding", root, centroidStride = 20, m = 8,
      cbStride = 17)
    Similarity.appendToIvfPqIndex(s, root,
      e.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
    Similarity.indexedIvfPqTopK(s, root, e,
        e.where(col("vec_id") % 20 === 0), "vec_id", "embedding",
        k = 5, nProbe = 8, shortlist = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** End-to-end corpus dedup: the surviving documents after MinHash
    * near-dup pairs → connected components → drop every non-
    * representative. The operator a training pipeline actually calls
    * (the pair/cluster queries above verify its internals). */
  private def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.dedupByPairs(d,
        Dedup.minhashNearDupEdges(d, "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5),
        "doc_id")
      .select("doc_id").orderBy("doc_id")
  }

  /** Deterministic Lloyd k-means over the embeddings (2 assignment
    * rounds, stride-sampled init) — the oracle replays init → assign →
    * decimal-exact centroid update → assign in SQL. */
  private def kmeansClusters(s: SparkSession, dir: String): DataFrame =
    Clustering.kmeans(embs(s, dir), "vec_id", "embedding",
        centroidStride = 25, iters = 2)
      .orderBy("vec_id")

  /** Clustering evaluation against the labeled testdata: per-cluster
    * majority label and purity (majority count / cluster size, in exact
    * integer bps) — the eval step that closes the curation loop. Ties
    * on the majority break to the lower label. */
  private def clusterPurity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val km = Clustering.kmeans(embs(s, dir), "vec_id", "embedding",
      centroidStride = 25, iters = 2)
    val labeled = km.join(
      Tables.load(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
    val byLabel = labeled.groupBy("cluster", "label")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n").desc, col("label").asc)
    byLabel
      .withColumn("rnk", row_number().over(w))
      .withColumn("cluster_n", sum(col("n")).over(Window.partitionBy("cluster")))
      .where(col("rnk") === 1)
      .select(col("cluster"), col("label").as("majority_label"),
        col("cluster_n").as("n_vectors"),
        expr("n * 10000L DIV cluster_n").as("purity_bps"))
      .orderBy("cluster")
  }

  // --------------------------------------------------------------- text —

  private def textStats(s: SparkSession, dir: String): DataFrame =
    TextOps.stats(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Gopher-rule quality filter (ext/TextOps.gopherRules — Rae et al.
    * 2021 A1.1): per-doc integer measures + the keep bit over the
    * documents corpus; the oracle replays every rule with DuckDB list
    * functions, so a divergence in tokenization, line handling or any
    * threshold flips the hash. */
  private def gopherRulesQ(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** C4 line-level cleaning gate (ext/TextOps.c4Clean — Raffel et al.
    * 2020 §2.2): per-doc line/sentence censuses, drop flags and the
    * cleaned-text length over the documents corpus; the oracle replays
    * every rule with DuckDB list functions. */
  private def c4CleanQ(s: SparkSession, dir: String): DataFrame =
    TextOps.c4Clean(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** HTML/boilerplate stripping gate (ext/TextOps.htmlStrip — the step
    * C4 runs before any filter): every document wrapped in a
    * deterministic markup shell (script with braces and encoded
    * entities, style, comments, attributes, entity-laden tail) that
    * BOTH engines construct identically from the raw text, then
    * stripped; the oracle replays the exact regex/replace chain in
    * DuckDB and the cleaned TEXT itself is hash-compared — any
    * divergence in tag/entity/whitespace handling flips the gate. */
  private def htmlStripQ(s: SparkSession, dir: String): DataFrame = {
    val shellHead = "<html><head><title>Doc</title><style type=\"text/css\">" +
      "body { color: red; }</style></head>\n<body class=\"main\">" +
      "<script type=\"text/javascript\">if (x &lt; 2) { y = \"a&quot;b\"; }" +
      "</script>\n<!-- boilerplate -->\n<h1>Title</h1>\n<p>"
    val shellTail = "</p>\n<div id=\"t\">&amp;amp; tail &lt;here&gt;&nbsp;end</div>" +
      "</body></html>"
    val wrapped = docs(s, dir)
      .withColumn("html", concat(lit(shellHead), col("text"), lit(shellTail)))
    TextOps.htmlStrip(wrapped, "doc_id", "html").orderBy("doc_id")
  }

  /** Bad-words blocklist gate (ext/TextOps.blocklistFilter — C4's
    * any-hit-drops rule with the list as a broadcast plan literal):
    * exact occurrence/distinct censuses + the keep bit over the
    * documents corpus; the oracle replays the same normalized tokens
    * and list membership in DuckDB. */
  private def blocklistFilterQ(s: SparkSession, dir: String): DataFrame =
    TextOps.blocklistFilter(docs(s, dir), "doc_id", "text",
      Seq("slow", "crash", "spam")).orderBy("doc_id")

  /** NFKC normalization gate (functions/TextExprs.NfkcNormalize — the
    * codegen kernel ahead of tokenization): a fixed mixed-width /
    * accented / ligature / circled / halfwidth-katakana / superscript /
    * vulgar-fraction fixture normalized by the kernel; the oracle
    * carries the hand-verified NFKC results as literals (DuckDB's own
    * nfc_normalize cannot produce compatibility mappings), so the
    * kernel's output is hash-pinned byte for byte. */
  private def nfkcNormalizeQ(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    import s.implicits._
    Seq(
      (1L, "Café au lait"),
      (2L, "ＡＢＣ１２３"),
      (3L, "ﬁle system"),
      (4L, "①②③"),
      (5L, "ｶﾞｺﾞ"),
      (6L, "x² + y³"),
      (7L, "½ cup"),
      (8L, "plain ascii stays")
    ).toDF("id", "raw")
      .select(col("id"), expr("nfkc(raw)").as("norm"),
        (expr("nfkc(raw)") === col("raw")).cast("long").as("unchanged"))
      .orderBy("id")
  }

  private def textLangProfile(s: SparkSession, dir: String): DataFrame =
    TextOps.stats(docs(s, dir), "doc_id", "text")
      .groupBy("lang_guess")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        round(avg(col("quality_score")), 4).as("avg_quality"))
      .orderBy("lang_guess")

  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprints(docs(s, dir), "doc_id", "text")
      // scalar CSV for the gate — the sorted-distinct hex entries join
      // identically in both engines; the op itself returns a real array
      .withColumn("fingerprint", concat_ws(",", col("fingerprint")))
      .orderBy("doc_id")

  /**
   * Token-budget shard packing — the training-data step that turns a
   * curated corpus into fixed-capacity shards: docs are laid out in
   * deterministic (doc_id) order, a running token count assigns each to
   * shard floor((cum − own)/capacity) (documents may straddle a
   * boundary — the contiguous-fill policy), and shards report their
   * membership and size. Packing runs PER LANGUAGE: the cumulative sum
   * parallelizes across packing groups, and a global pack order would
   * serialize onto one reducer at scale. Token counts come from the
   * native `token_stats` kernel.
   */
  private def packShards(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.TextExprs.register(s)
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .withColumn("n_tokens", expr("token_stats(text).n_tokens").cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("shard",
        floor((col("cum") - col("n_tokens")) / lit(512L)).cast("long"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "shard")
  }

  /** Shard packing with capacities denominated in MODEL tokens: the
    * same two-pass distributed layout as packShardsDist, but budgeting
    * on `TextOps.subwordCount` (the wordpiece piece count a trainer's
    * token budget actually means) instead of whitespace words — the
    * absolute-token-budget claim, driver-gated end to end against the
    * same vocab the tokenize_subword oracle replays. */
  private def packShardsSubword(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    graft.functions.Subword.register(s)
    val d = docs(s, dir)
      .withColumn("n_tokens", TextOps.subwordCount("text"))
    val packed = Shards.packByBudget(d, Seq("lang"), "doc_id", "n_tokens",
      capacity = 1024L, bucketExpr = floor(col("doc_id") / 64).cast("long"))
    Shards.manifest(packed, Seq("lang"), "doc_id", "n_tokens")
      .orderBy("lang", "shard")
  }

  /** Shard packing budgeted in TRAINED-BPE tokens: the end-to-end
    * composition a pre-training data pipeline actually runs — learn
    * the tokenizer from the corpus (Bpe.train), re-tokenize by the
    * word-keyed dict join (Bpe.segment), pack shards against the
    * resulting counts. The oracle chains the full unrolled training
    * replay into the packing layout, so tokenizer drift anywhere
    * flips the shard manifest hash. */
  private def packShardsBpe(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (_, dict) = Bpe.train(d, "text", numMerges = 20)
    val dd = d.select(col("doc_id"), col("lang"))
      .join(Bpe.segment(d, "doc_id", "text", dict)
        .select(col("doc_id"), col("n_subwords").as("n_tokens")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens"))
    val packed = Shards.packByBudget(dd, Seq("lang"), "doc_id", "n_tokens",
      capacity = 1024L, bucketExpr = floor(col("doc_id") / 64).cast("long"))
    Shards.manifest(packed, Seq("lang"), "doc_id", "n_tokens")
      .orderBy("lang", "shard")
  }

  /** Distributed-prefix-sum variant of packShards (ext/Shards.scala):
    * identical shard layout — same oracle SQL — but the cumulative sum
    * runs as a two-pass parallel prefix (per-bucket totals → broadcast
    * offsets → per-bucket local sums) instead of one sequential window
    * reducer per language. This is the formulation to reach for at
    * scale: packShards above serializes each language's whole corpus
    * through one task. */
  private def packShardsDist(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    val d = docs(s, dir)
      .withColumn("n_tokens", expr("token_stats(text).n_tokens").cast("long"))
    val packed = Shards.packByBudget(d, Seq("lang"), "doc_id", "n_tokens",
      capacity = 512L, bucketExpr = floor(col("doc_id") / 64).cast("long"))
    Shards.manifest(packed, Seq("lang"), "doc_id", "n_tokens")
      .orderBy("lang", "shard")
  }

  /**
   * Cross-modal join — text quality per embedding cluster (doc_id and
   * vec_id are the same identity in the corpus): the curation-analytics
   * shape that decides which semantic clusters to keep, downsample or
   * drop. Aggregates are exact (counts, a decimal token/quality sum cast
   * to double) so no cross-engine averaging divides.
   */
  private def modalityJoin(s: SparkSession, dir: String): DataFrame = {
    val clusters = Clustering.kmeans(embs(s, dir), "vec_id", "embedding",
      centroidStride = 25, iters = 2)
    val stats = TextOps.stats(docs(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        col("quality_score").cast("decimal(10,4)").as("q"), col("lang_guess"))
    clusters.join(stats, col("vec_id") === col("doc_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("q")).cast("double").as("sum_quality"),
        countDistinct(col("lang_guess")).as("n_langs"))
      .orderBy("cluster")
  }

  // --------------------------------------------------------- multimodal —

  private def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.binaryFeatures(
        Multimodal.binarize(docs(s, dir), "doc_id", "text"), "doc_id")
      .orderBy("doc_id")

  /**
   * REAL image decode through the multimodal plumbing
   * (Multimodal.PgmCodec — pure-byte netpbm P5 parsing, no image
   * library): each embedding renders to an 8×8 grayscale PGM
   * (pixel = clamp(round((x+1)·127))), the BYTES are then parsed back
   * by the codec inside a partition iterator, and per-image stats come
   * from the DECODED pixels. The oracle computes the same stats from
   * the source values directly — a header misread, offset bug or
   * byte-sign slip in the parser changes the stats and fails the hash.
   * All stats integer-exact (sum/min/max of pixel ints, mean in bps).
   */
  /**
   * REAL audio decode through the multimodal plumbing
   * (Multimodal.WavCodec — pure-byte RIFF/WAVE PCM16 parsing): each
   * user's event values become a PCM16 waveform (scaled in Spark SQL
   * with the proven cross-engine `round(x·k)` pattern), the WAV BYTES
   * are encoded then parsed back by the codec, and the stats
   * (sample count, rate, peak, integer energy) come from the DECODED
   * samples — chunk-walk, offset or endianness bugs fail the oracle.
   * Stats are order-independent, so group iteration order is moot.
   */
  private def audioWavStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("greatest(-32767L, least(32767L, cast(round(value * 10) as bigint)))")
          .as("sv"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val samples = it.map(_._2.toShort).toArray
        val bytes = Multimodal.WavCodec.encode(16000, samples)
        val (rate, dec) = Multimodal.WavCodec.decode(bytes)
        val peak = if (dec.isEmpty) 0L else dec.map(v => math.abs(v.toLong)).max
        val energy = dec.map(v => v.toLong * v).sum
        (uid, dec.length.toLong, rate, peak, energy)
      }
      .toDF("user_id", "n_samples", "sample_rate", "peak", "energy")
      .orderBy("user_id")
  }

  /**
   * REAL compressed-audio decode (Multimodal.FlacCodec — bit-level
   * FLAC encode/decode, Rice-coded fixed-predictor residuals, CRC-8 +
   * CRC-16 + MD5 verified): same PCM16 waveform as the WAV gate, but
   * the bytes round-trip through an actual entropy-coded format. A
   * 16-sample block size forces MULTI-FRAME streams, and `n_frames`
   * (= ceil(n/16), analytic) pins the frame walk — a sync, CRC,
   * Rice or predictor-reconstruction bug either throws or changes
   * the decoded samples and fails the hash. Lossless, so the oracle
   * computes the stats straight from the source values.
   */
  private def audioFlacStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("greatest(-32767L, least(32767L, cast(round(value * 10) as bigint)))")
          .as("sv"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val samples = it.map(_._2.toShort).toArray
        val bytes = Multimodal.FlacCodec.encode(16000, samples, blockSize = 16)
        val (rate, dec, nFrames) = Multimodal.FlacCodec.decode(bytes)
        val peak = if (dec.isEmpty) 0L else dec.map(v => math.abs(v.toLong)).max
        val energy = dec.map(v => v.toLong * v).sum
        (uid, dec.length.toLong, rate, nFrames.toLong, peak, energy)
      }
      .toDF("user_id", "n_samples", "sample_rate", "n_frames", "peak",
        "energy")
      .orderBy("user_id")
  }

  /**
   * Source-format round trip: the orders table is rewritten from
   * parquet into `fmt` (orc / csv / json), read BACK from that format
   * with the original schema, and aggregated — while the oracle
   * computes the same aggregate from the parquet source. Any type-
   * fidelity loss in the at-rest format (timestamp text formats,
   * double shortest-round-trip, nulls) shifts `ts_sum`/`cents` and
   * fails the hash. One body serves all three gates; Spark's columnar
   * ORC reader keeps predicate pushdown and column pruning, so the
   * format swap is plan-invisible at scale, while CSV/JSON are the
   * interchange paths (schema supplied on read — no inference scan).
   */
  private def sourceRoundtrip(s: SparkSession, dir: String,
      fmt: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_src_${fmt}_").toString
    val src = Tables.load(s, dir, "orders")
    val path = s"$root/orders_$fmt"
    src.write.mode("overwrite").format(fmt).save(path)
    val back = s.read.format(fmt).schema(src.schema).load(path)
    back.where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
      .groupBy(col("o_orderstatus").as("status"),
        year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"),
        sum(expr("unix_timestamp(o_orderdate)")).as("ts_sum"))
      .orderBy("status", "yr", "mo")
  }

  private def imagePgmStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        val px = emb.map(x =>
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt).toArray
        val bytes = Multimodal.PgmCodec.encode(8, 8, 255, px)
        val (w, h, mv, dec) = Multimodal.PgmCodec.decode(bytes)
        (id, w, h, mv, dec.map(_.toLong).sum, dec.min, dec.max)
      })
      .toDF("vec_id", "width", "height", "maxval", "px_sum", "px_min", "px_max")
      .withColumn("mean_bps", expr("px_sum * 10000 DIV 64"))
      .orderBy("vec_id")
  }

  /** REAL color-image decode (Multimodal.BmpCodec — pure-byte 24-bit
    * BMP): each embedding's first 48 dims become a 4×4 RGB image, the
    * BMP bytes are encoded then parsed back, and the stats come from
    * the DECODED pixels with an integer luma. The position-weighted
    * checksum (`pos_luma`) is the load-bearing column: BMP stores rows
    * bottom-up in BGR with 4-byte row padding, and a flip, padding or
    * channel-order bug relocates pixels — invisible to plain sums,
    * fatal to the weighted one. */
  private def imageBmpStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val rgb = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val (w, h, dec) =
          Multimodal.BmpCodec.decode(Multimodal.BmpCodec.encode(4, 4, rgb))
        val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "width", "height", "luma_sum", "luma_min", "luma_max",
        "pos_luma")
      .orderBy("vec_id")
  }

  /** REAL tag-directory decode (Multimodal.TiffCodec — baseline
    * little-endian TIFF): same 4×4 RGB source as the BMP gate, but the
    * bytes round-trip through an IFD walk (inline vs offset values)
    * and MULTI-STRIP reassembly (RowsPerStrip=2 → two strips at 4
    * rows) — a reader assuming contiguous pixels or inline-only tag
    * values relocates rows, which the position-weighted `pos_luma`
    * catches. Lossless like BMP, so the two gates share one oracle:
    * the container must be invisible in the numbers. */
  private def imageTiffStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val rgb = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val (w, h, dec) =
          Multimodal.TiffCodec.decode(Multimodal.TiffCodec.encode(4, 4, rgb))
        val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "width", "height", "luma_sum", "luma_min", "luma_max",
        "pos_luma")
      .orderBy("vec_id")
  }

  /** TIFF decode → nearest resize → position-weighted luma, mirroring
    * `image_bmp_resize` over the strip-assembled pixels (shared
    * oracle — same lossless contract). */
  private def imageTiffResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val rgb = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val (w, h, dec) =
          Multimodal.TiffCodec.decode(Multimodal.TiffCodec.encode(4, 4, rgb))
        val small = Multimodal.PgmCodec.nearestResize(w, h, dec, 2, 2)
        val lumas = small.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, small.length, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "n_px", "luma_sum", "luma_min", "luma_max", "pos_luma")
      .orderBy("vec_id")
  }

  /** Color decode → nearest resize (4×4 → 2×2 on the PACKED pixels —
    * nearest-neighbor picks positions, so the grayscale kernel works
    * on RGB unchanged) → position-weighted luma over the RESIZED
    * image. The oracle replays the resize as the positional pick
    * (source indices 0,2,8,10 → output positions 0..3), so an
    * index-order bug in the resize OR any decode-layout bug fails the
    * hash. */
  private def imageBmpResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val rgb = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val (w, h, dec) =
          Multimodal.BmpCodec.decode(Multimodal.BmpCodec.encode(4, 4, rgb))
        val small = Multimodal.PgmCodec.nearestResize(w, h, dec, 2, 2)
        val lumas = small.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, small.length, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "n_px", "luma_sum", "luma_min", "luma_max", "pos_luma")
      .orderBy("vec_id")
  }

  /** Decode → REAL nearest-neighbor resize (8×8 → 4×4) → stats over
    * the RESIZED pixels: the oracle replays the resize as a positional
    * pick (row-major positions with even row and column index), so a
    * stride or index-order bug in `PgmCodec.nearestResize` fails the
    * hash — resize is an actual pixel transform here, not a metadata
    * plan. */
  private def imagePgmResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        val px = emb.map(x =>
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt).toArray
        val (w, h, _, dec) =
          Multimodal.PgmCodec.decode(Multimodal.PgmCodec.encode(8, 8, 255, px))
        val small = Multimodal.PgmCodec.nearestResize(w, h, dec, 4, 4)
        (id, small.length, small.map(_.toLong).sum, small.min, small.max)
      })
      .toDF("vec_id", "n_px", "px_sum", "px_min", "px_max")
      .orderBy("vec_id")
  }

  /** REAL compressed-image decode (Multimodal.QoiCodec — pure-byte QOI,
    * the first stateful/compressed container): each embedding's first
    * 48 dims become 16 RGB pixels, each DOUBLED horizontally into an
    * 8×4 image so the encoded stream must contain RUN chunks (every
    * duplicate) alongside INDEX/DIFF/LUMA/RGB — then the bytes are
    * decoded back and stats come from the DECODED pixels. QOI decode is
    * stateful (running color index + previous pixel), so a single
    * mis-stepped chunk shifts every later pixel: the position-weighted
    * `pos_luma` fails on any chunk-walk, run-length or index-slot bug.
    * The oracle replays the doubling positionally (source pos p at
    * r=p÷4,c=p%4 lands at output 8r+2c and 8r+2c+1 → weight 16r+4c+1). */
  private def imageQoiStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(32)(q => base((q / 8) * 4 + (q % 8) / 2))
        val bytes = Multimodal.QoiCodec.encode(8, 4, rgb)
        val (w, h, dec) = Multimodal.QoiCodec.decode(bytes)
        val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "width", "height", "luma_sum", "luma_min", "luma_max",
        "pos_luma")
      .orderBy("vec_id")
  }

  /** QOI decode → nearest resize (8×4 → 4×2 picks source positions
    * (2i,2j), i.e. base pixels 0..3 and 8..11) → RE-ENCODE the resized
    * image as QOI → decode AGAIN → stats. Two full compressed round
    * trips per image: the second encode sees a different pixel stream
    * (no doubled runs), so both the run-heavy and the run-light encoder
    * paths are under the same hash gate. */
  private def imageQoiResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(32)(q => base((q / 8) * 4 + (q % 8) / 2))
        val (w, h, dec) =
          Multimodal.QoiCodec.decode(Multimodal.QoiCodec.encode(8, 4, rgb))
        val small = Multimodal.PgmCodec.nearestResize(w, h, dec, 4, 2)
        val (_, _, dec2) =
          Multimodal.QoiCodec.decode(Multimodal.QoiCodec.encode(4, 2, small))
        val lumas = dec2.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, dec2.length, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "n_px", "luma_sum", "luma_min", "luma_max", "pos_luma")
      .orderBy("vec_id")
  }

  /** REAL PNG decode (Multimodal.PngCodec — DEFLATE via
    * `java.util.zip`, chunk CRCs verified): each embedding's first 48
    * dims become 16 RGB pixels laid out 8×5 (each base pixel doubled
    * horizontally, row 4 repeating row 0), so the encoder's
    * per-row filter cycle hits ALL FIVE adaptive filters
    * (None/Sub/Up/Average/Paeth) in every single image — and the
    * position-weighted `pos_luma` over the DECODED pixels fails on any
    * unfilter bug (filters reconstruct against the previous scanline,
    * so one bad row corrupts everything below it). The oracle replays
    * the layout positionally from the raw embeddings. */
  private def imagePngStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(40)(q =>
          base(((q / 8) % 4) * 4 + (q % 8) / 2))
        val bytes = Multimodal.PngCodec.encode(8, 5, rgb)
        val (w, h, dec) = Multimodal.PngCodec.decode(bytes)
        val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "width", "height", "luma_sum", "luma_min", "luma_max",
        "pos_luma")
      .orderBy("vec_id")
  }

  /** PNG decode → nearest resize (8×5 → 4×2 picks source rows 0 and 2,
    * even columns — base pixels 0-3 and 8-11) → RE-ENCODE as PNG →
    * decode AGAIN → stats. Two full DEFLATE round trips per image; the
    * second stream has different row geometry (filters 0,1 only), so
    * both the filter-heavy and filter-light paths sit under one hash. */
  private def imagePngResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(40)(q =>
          base(((q / 8) % 4) * 4 + (q % 8) / 2))
        val (w, h, dec) =
          Multimodal.PngCodec.decode(Multimodal.PngCodec.encode(8, 5, rgb))
        val small = Multimodal.PgmCodec.nearestResize(w, h, dec, 4, 2)
        val (_, _, dec2) =
          Multimodal.PngCodec.decode(Multimodal.PngCodec.encode(4, 2, small))
        val lumas = dec2.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, dec2.length, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "n_px", "luma_sum", "luma_min", "luma_max", "pos_luma")
      .orderBy("vec_id")
  }

  /**
   * Baseline JFIF JPEG (`Multimodal.JpegCodec`) — decode stats over a
   * 4:2:0 crawl-shaped fixture. JPEG is LOSSY, so the oracle strategy
   * differs from the seven lossless codecs: the fixture's 16×16 color
   * regions make every MCU CONSTANT, and constant blocks round-trip
   * EXACTLY at quality 100 (DC-only transform, all-ones quantization),
   * leaving the RGB↔YCbCr rounding as the ONLY pixel math — which the
   * oracle replays in SQL expression for expression. The 64×24 height
   * exercises edge-padded partial MCUs; 8 regions per image exercise
   * DC differentials across MCUs. Lossy (q<100) behavior is ExtSpec's
   * bounded-error pin, deliberately not oracle-gated.
   */
  private def imageJpegStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(8)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(64 * 24) { i =>
          base(((i / 64) / 16) * 4 + ((i % 64) / 16))
        }
        val bytes = Multimodal.JpegCodec.encode(64, 24, rgb,
          quality = 100, chroma420 = true)
        val (w, h, dec) = Multimodal.JpegCodec.decode(bytes)
        val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "width", "height", "luma_sum", "luma_min", "luma_max",
        "pos_luma")
      .orderBy("vec_id")
  }

  /** WebP-lossless (VP8L) on the image_jpeg_stats REGION fixture:
    * encode with subtract-green + LZ77 runs + a color cache (the
    * decoder surface real crawl losslessness exercises), decode, and
    * emit the analytic luma stats. LOSSLESS means the oracle needs no
    * color-transform replay — decoded pixels ARE the region colors, so
    * a single lost bit anywhere in the prefix-code/LZ77/cache layers
    * shifts luma_sum/pos_luma. */
  private def imageWebpStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(8)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(64 * 24) { i =>
          base(((i / 64) / 16) * 4 + ((i % 64) / 16))
        }
        val bytes = Multimodal.WebpCodec.encode(64, 24, rgb,
          subtractGreen = true, lz77 = true, cacheBits = 4)
        val (w, h, dec) = Multimodal.WebpCodec.decode(bytes)
        val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "width", "height", "luma_sum", "luma_min", "luma_max",
        "pos_luma")
      .orderBy("vec_id")
  }

  /** The same constant-MCU fixture as image_jpeg_stats, encoded
    * PROGRESSIVE (SOF2 with successive approximation — the web's
    * other dominant JPEG shape): DC-only blocks stay exact through
    * the DC-first(Al=1)/AC-first/DC-refine/AC-refine scan script, so
    * the decode replays the identical analytic oracle. The entropy
    * layers (EOB runs, correction bits) are pinned bit-for-bit
    * against the baseline decode in ExtSpec. */
  private def imageJpegProgressive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(8)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(64 * 24) { i =>
          base(((i / 64) / 16) * 4 + ((i % 64) / 16))
        }
        val bytes = Multimodal.JpegCodec.encodeProgressive(64, 24, rgb,
          quality = 100, chroma420 = true)
        val (w, h, dec) = Multimodal.JpegCodec.decode(bytes)
        val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "width", "height", "luma_sum", "luma_min", "luma_max",
        "pos_luma")
      .orderBy("vec_id")
  }

  /** JPEG 4:2:0 decode → nearest resize (32×16 → 16×8) → RE-ENCODE as
    * 4:4:4 JPEG → decode again → stats. The resized halves stay
    * block-constant, so the double round trip is exactly TWO chained
    * YCbCr roundtrips per color — replayed in the oracle. One hash
    * covers both sampling layouts and both transform directions. */
  private def imageJpegResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(2)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val rgb = Array.tabulate(32 * 16)(i => base((i % 32) / 16))
        val (w, h, dec) = Multimodal.JpegCodec.decode(
          Multimodal.JpegCodec.encode(32, 16, rgb,
            quality = 100, chroma420 = true))
        val small = Multimodal.PgmCodec.nearestResize(w, h, dec, 16, 8)
        val (_, _, dec2) = Multimodal.JpegCodec.decode(
          Multimodal.JpegCodec.encode(16, 8, small,
            quality = 100, chroma420 = false))
        val lumas = dec2.map(p => (299L * ((p >> 16) & 0xff) +
          587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
        val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
        (id, dec2.length, lumas.sum, lumas.min, lumas.max, posLuma)
      })
      .toDF("vec_id", "n_px", "luma_sum", "luma_min", "luma_max", "pos_luma")
      .orderBy("vec_id")
  }

  /** Shared 4-frame animated-GIF builder for the video_* gates: an 8×4
    * logical screen, frame 0 full (the QOI/PNG base layout), frame 1 a
    * 4×2 delta rect with disposal RESTORE-TO-BACKGROUND, frame 2 an
    * 8×2 rect with transparency holes every 3rd pixel (the prior canvas
    * shows through), frame 3 a 2×2 rect over the restored region —
    * so one container exercises sub-rect compositing, disposal 2,
    * transparency, AND interlaced LZW in every single image. */
  private def gifFramesFor(base: Array[Int]): Seq[Multimodal.GifFrame] = {
    import Multimodal.GifFrame
    val f0 = Array.tabulate(32)(q => base((q / 8) * 4 + (q % 8) / 2))
    val f1 = Array.tabulate(8)(p => base((4 * (p / 4) + p % 4 + 5) % 16))
    val f2 = Array.tabulate(16)(p =>
      if (p % 3 == 0) Multimodal.GifCodec.Hole else base((2 * p + 1) % 16))
    val f3 = Array.tabulate(4)(p => base((3 * p + 2) % 16))
    Seq(
      GifFrame(0, 0, 8, 4, f0, disposal = 1),
      GifFrame(2, 1, 4, 2, f1, disposal = 2),
      GifFrame(0, 2, 8, 2, f2, disposal = 1),
      GifFrame(5, 0, 2, 2, f3, disposal = 1))
  }

  /** REAL animated-GIF decode (Multimodal.GifCodec — variable-width
    * LZW, sub-blocks, interlacing): four delta frames composited onto
    * the canvas, then per-frame luma stats over the DECODED composites.
    * Disposal-2 restore and transparency holes make later frames depend
    * on earlier canvas state, so any compositing, disposal or LZW bug
    * shifts the position-weighted `pos_luma` of frames 1-3. The oracle
    * replays the compositing arithmetic positionally (background is
    * provably black: the hole slot is the smallest unused 24-bit
    * value, so palette entry 0 is always 0x000000 here). */
  private def videoGifStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.flatMap { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val bytes =
          Multimodal.GifCodec.encode(8, 4, gifFramesFor(base), interlaced = true)
        val (w, h, frames) = Multimodal.GifCodec.decode(bytes)
        frames.iterator.zipWithIndex.map { case (canvas, f) =>
          val lumas = canvas.map(p => (299L * ((p >> 16) & 0xff) +
            587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
          val posLuma = lumas.zipWithIndex.map { case (l, i) => l * (i + 1) }.sum
          (id, f, w, h, frames.length, lumas.sum, lumas.min, lumas.max, posLuma)
        }
      })
      .toDF("vec_id", "frame", "width", "height", "n_frames", "luma_sum",
        "luma_min", "luma_max", "pos_luma")
      .orderBy("vec_id", "frame")
  }

  /** Frame-sample + resize over the video modality: decode the 4-frame
    * GIF, keep every 2nd composited frame (0 and 2), nearest-resize
    * each 8×4 → 4×2, RE-ENCODE the sampled frames as a new full-frame
    * GIF, decode AGAIN, stats per sampled frame. Two complete LZW round
    * trips; the second container has no holes/disposal so both the
    * delta-frame and plain-frame encoder paths sit under one hash. */
  private def videoGifFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.flatMap { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(16)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val bytes =
          Multimodal.GifCodec.encode(8, 4, gifFramesFor(base), interlaced = true)
        val (w, h, frames) = Multimodal.GifCodec.decode(bytes)
        val sampled = frames.indices.by(2).map { f =>
          Multimodal.GifFrame(0, 0, 4, 2,
            Multimodal.PgmCodec.nearestResize(w, h, frames(f), 4, 2))
        }
        val bytes2 = Multimodal.GifCodec.encode(4, 2, sampled)
        val (_, _, dec2) = Multimodal.GifCodec.decode(bytes2)
        dec2.iterator.zipWithIndex.map { case (canvas, i) =>
          val lumas = canvas.map(p => (299L * ((p >> 16) & 0xff) +
            587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
          val posLuma = lumas.zipWithIndex.map { case (l, j) => l * (j + 1) }.sum
          (id, i * 2, canvas.length, lumas.sum, lumas.min, lumas.max, posLuma)
        }
      })
      .toDF("vec_id", "src_frame", "n_px", "luma_sum", "luma_min",
        "luma_max", "pos_luma")
      .orderBy("vec_id", "src_frame")
  }

  /** MJPEG-in-AVI frame extraction (Multimodal.AviCodec + JpegCodec):
    * four constant-MCU JPEG frames per id — frame f's region colors
    * are the id's base palette rotated by f — wrapped in a RIFF AVI
    * with an idx1 index, container-decoded, frame-sampled at stride 2,
    * and each sampled frame JPEG-decoded to the same analytic luma
    * stats as image_jpeg_stats (the rotation keeps the oracle exact
    * per frame). Container and entropy layers cannot hide a byte: a
    * misframed chunk or lost bit changes the stats. */
  private def videoAviFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embs(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.flatMap { case (id, emb) =>
        def ch(x: Double): Int =
          math.max(0L, math.min(255L, math.round((x + 1) * 127))).toInt
        val base = Array.tabulate(8)(p =>
          (ch(emb(3 * p)) << 16) | (ch(emb(3 * p + 1)) << 8) | ch(emb(3 * p + 2)))
        val jpegs = (0 until 4).map { f =>
          val rgb = Array.tabulate(64 * 24) { i =>
            base((((i / 64) / 16) * 4 + ((i % 64) / 16) + f) % 8)
          }
          Multimodal.JpegCodec.encode(64, 24, rgb, quality = 100,
            chroma420 = true)
        }
        val avi = Multimodal.AviCodec.encode(64, 24, 40000, jpegs)
        val (w, h, frames) = Multimodal.AviCodec.decode(avi)
        frames.indices.by(2).iterator.map { f =>
          val (_, _, dec) = Multimodal.JpegCodec.decode(frames(f))
          val lumas = dec.map(p => (299L * ((p >> 16) & 0xff) +
            587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)) / 1000L)
          val posLuma = lumas.zipWithIndex.map { case (l, i) => l * i }.sum
          (id, f, w, h, lumas.sum, lumas.min, lumas.max, posLuma)
        }
      })
      .toDF("vec_id", "src_frame", "width", "height", "luma_sum",
        "luma_min", "luma_max", "pos_luma")
      .orderBy("vec_id", "src_frame")
  }

  // ------------------------------------------------------------- joins —

  /**
   * Multi-way analytic join (the §2.4 surface the reference lacks but the
   * extension ops depend on): revenue per nation — dimension tables
   * broadcast (nation, customer at this SF), fact-fact join shuffles on
   * the key, aggregation with map-side partials. The classic TPC-H-style
   * join pipeline shape.
   */
  private def joinRevenue(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.load(s, dir, "nation")
    val customer = Tables.load(s, dir, "customer")
    val orders = Tables.load(s, dir, "orders")
    val lineitem = Tables.load(s, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("n_name")
  }

  /** Shipping-priority report (TPC-H Q3's shape): segment-filtered
    * customers broadcast onto date-filtered orders, one fact shuffle on
    * the order key, revenue per open order. Both date filters and the
    * segment filter push into the scans; every surviving group is
    * emitted (no float top-N — the selection set must not hinge on a
    * cross-engine sum ulp), ordered by key. Revenue sums in DECIMAL —
    * price and discount are exact 2-decimal values, so the scale-4
    * product and its sum are exact and order-independent (a double sum
    * disagrees in the last ulp at the cent-rounding boundary). The
    * EMITTED column is the exact sum rounded to cents and cast to
    * DOUBLE: a DECIMAL output column renders engine-specifically
    * (Decimal objects vs float64 in the gate's pandas path), so
    * decimals stay internal — same contract as join_skew_salted. */
  private def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-06-01"
    val customer = Tables.load(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
    val orders = Tables.load(s, dir, "orders")
      .where(to_date(col("o_orderdate")) < lit(cutoff))
    val lineitem = Tables.load(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) > lit(cutoff))
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
        col("o_orderpriority"))
      .agg(round(sum(price * (lit(1).cast("decimal(18,2)") - disc)), 2)
        .cast("double").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** Region rollup — exercises the last untouched testdata table: the
    * full dimension chain region ← nation ← supplier with a broadcast
    * snowflake join and a left join preserving supplier-less nations. */
  private def joinRegion(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "nation")
      .join(broadcast(Tables.load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.load(s, dir, "supplier"),
        col("s_nationkey") === col("n_nationkey"), "left")
      .groupBy("r_name")
      .agg(countDistinct(col("n_nationkey")).as("n_nations"),
        count(col("s_suppkey")).as("n_suppliers"))
      .orderBy("r_name")

  /**
   * Ratio-to-total — written the scale-safe way: the grand total comes
   * from a separate aggregate broadcast-cross-joined back, NOT from
   * `sum().over(Window.partitionBy())`, whose empty partitioning drags
   * every row onto ONE reducer. All arithmetic is integer (cents in,
   * floor-divided basis points out) — decimal/double division rounds
   * engine-specifically, integer division cannot.
   */
  private def revenueShare(s: SparkSession, dir: String): DataFrame = {
    val perStatus = Tables.load(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("status_cents"))
    val grand = perStatus.agg(sum(col("status_cents")).as("grand_cents"))
    perStatus.crossJoin(broadcast(grand))
      .select(col("o_orderstatus"), col("status_cents"),
        expr("status_cents * 10000L DIV grand_cents").as("share_bps"))
      .orderBy("o_orderstatus")
  }

  /** Semi/anti join family: customers with no orders (left_anti) and
    * per-segment counts of customers having orders (left_semi). */
  private def joinSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(s, dir, "customer")
    val orders = Tables.load(s, dir, "orders")
    val semi = customer.join(orders,
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_with_orders"))
    val anti = customer.join(orders,
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_without_orders"))
    semi.join(anti, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy("c_mktsegment")
  }

  /** Set operations: nations present on the supplier side INTERSECT /
    * EXCEPT the customer side. */
  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").as("nk"))
    val cust = Tables.load(s, dir, "customer").select(col("c_nationkey").as("nk"))
    val both = sup.intersect(cust).withColumn("op", lit("intersect"))
    val supOnly = sup.except(cust).withColumn("op", lit("supplier_only"))
    val custOnly = cust.except(sup).withColumn("op", lit("customer_only"))
    both.unionAll(supOnly).unionAll(custOnly)
      .select(col("op"), col("nk")).orderBy("op", "nk")
  }

  // ------------------------------------------------- event analytics —

  /** Gap-based sessionization of the event stream (lag → boundary →
    * running sum → per-session agg; two windows share one shuffle).
    * `value` is pre-cast to decimal so the per-session sum is exact and
    * order-independent — double summation order differs between engines
    * and flips the 4th decimal on a handful of sessions. */
  private def sessionize(s: SparkSession, dir: String): DataFrame =
    Sessions.stats(
        Tables.load(s, dir, "events")
          .withColumn("value", col("value").cast("decimal(24,6)")),
        Seq("user_id"), "ts", "value", gapSeconds = 1800,
        orderCols = Seq("ts", "event_id"))
      .withColumn("value_sum", col("value_sum").cast("double"))
      .orderBy("user_id", "session_id")

  /**
   * As-of join realized on testdata: every event joined to its user's
   * most recent day-opening event (first event per (user, day)) at or
   * before it — the "tick joined to latest reference bar" shape.
   */
  private def asofRef(s: SparkSession, dir: String,
      direction: String = "backward"): DataFrame = {
    val events = Tables.load(s, dir, "events")
    val refs = Ingest.firstPerDay(events, Seq("user_id"), "ts",
        orderCols = Seq("ts", "event_id"))
      .select(col("user_id"), col("ts"),
        col("event_id").as("rid"), col("value").as("rvalue"))
    AsOf.join(events, refs, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("rid", "rvalue"), direction = direction)
      .select(col("event_id"), col("user_id"),
        col("ref_rid"), round(col("ref_rvalue"), 4).as("ref_rvalue"))
      .orderBy("event_id")
  }

  /**
   * Range join realized on testdata: price bands derived from `part`
   * (every 20th part's retail price scaled to a [lo, lo+2000) band),
   * counting the lineitems whose extended price falls in each band —
   * keyless interval containment via the bucketed equi-join.
   */
  private def rangeBands(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.load(s, dir, "part")
      .where(col("p_partkey") % 20 === 0)
      .select(col("p_partkey").as("band_id"),
        (col("p_retailprice") * 10).as("lo"),
        (col("p_retailprice") * 10 + 2000).as("hi"))
    val points = Tables.load(s, dir, "lineitem")
      .select(col("l_extendedprice"))
    RangeJoin.pointInInterval(points, bands, Nil,
        "l_extendedprice", "lo", "hi", bucketWidth = 2000)
      .groupBy("band_id").agg(count(lit(1)).as("n_points"))
      .orderBy("band_id")
  }

  /** JSON scalar-function family: parse the `props` JSON payload and
    * aggregate the extracted field per event type. */
  private def jsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** The VARIANT path family (Spark 4 `parse_json`/`variant_get` —
    * typed extraction through the variant encoding instead of per-call
    * string re-parsing like `get_json_object`): same aggregate as
    * `json_props`, so the two doors must agree with each other AND the
    * oracle. */
  private def eventsVariant(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("k",
        variant_get(parse_json(col("props")), "$.k", "bigint"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /**
   * VARIANT SHREDDING into the versioned format (ops/Shred): the hot
   * JSON path `$.k` materializes as a typed column at write, with
   * stats sidecars + write-order clustering on it — a range predicate
   * on the shredded column then file-skips and folds like any typed
   * column (VersionedSpec pins the skip; this gate pins the numbers).
   * The raw `props` column rides along untouched.
   */
  private def versionedShred(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Shred, VersionedPartitioned}
    val root = java.nio.file.Files
      .createTempDirectory("graft_vshred_").toString
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("props"))
    VersionedPartitioned.promote(
      Shred.shredded(ev, "props",
        Seq(Shred.Field("$.k", "bigint", "props_k"))),
      root, "event_type", statsCols = Seq("props_k"),
      clusterBy = Seq("props_k"), maxRecordsPerFile = 2048L)
    VersionedPartitioned.readPrunedWhere(s, root,
        Seq(("props_k", Some(10L), Some(39L))))
      .where(col("props_k").between(10L, 39L))
      .groupBy(col("event_type").cast("string").as("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum("props_k").as("sum_k"),
        min("props_k").as("min_k"), max("props_k").as("max_k"))
      .orderBy("event_type")
  }

  /** Pivot (wide aggregation): avg doc length per source × language. */
  private def docsPivot(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(round(avg(col("n_chars")), 4))
      .orderBy("source")

  /** Exact interpolated quantiles per group (the percentile aggregate
    * family; Spark `percentile` ≡ DuckDB `quantile_cont`). One array-form
    * aggregate pass, flattened to scalar columns — the driver's compare
    * cannot sort array cells.
    *
    * ROUTING NOTE: this exact form exists for the oracle gate only. The
    * `percentile` aggregate buffers EVERY group value on one reducer —
    * at 100× scale a single returnflag group holds ~600 M doubles. The
    * operator users should reach for is `Profile.quantilesApprox`
    * (`ops/Profile.scala`): bounded-state Greenwald-Khanna sketch via
    * `approx_percentile`, mergeable map-side, same call shape. */
  private def quantiles(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))")
        .as("q"))
      .select(col("l_returnflag"),
        round(col("q")(0), 4).as("p25"), round(col("q")(1), 4).as("p50"),
        round(col("q")(2), 4).as("p75"), round(col("q")(3), 4).as("p95"))
      .orderBy("l_returnflag")

  /**
   * SCD2 dimension-history build — collapse a change stream into
   * effective-dated versions: keep only rows where the tracked value
   * differs from the previous row (change points), then close each
   * version with the next change's timestamp (open-ended for the
   * current version). Two windows over the same key; the second runs on
   * the already-collapsed change points (≪ input). Timestamps are
   * emitted as epoch millis — raw timestamp cells round-trip the
   * parquet/DuckDB gate less portably than integers.
   */
  private def scd2History(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val changes = Tables.load(s, dir, "events")
      .withColumn("__prev", lag(col("event_type"), 1).over(wAll))
      .where(col("__prev").isNull || col("__prev") =!= col("event_type"))
    val wChg = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes
      .withColumn("version", row_number().over(wChg))
      .withColumn("effective_to_ms",
        unix_millis(lead(col("ts"), 1).over(wChg)))
      .select(col("user_id"), col("version"), col("event_type"),
        unix_millis(col("ts")).as("effective_from_ms"),
        col("effective_to_ms"))
      .orderBy("user_id", "version")
  }

  /** Statistical aggregate family per group: sample variance/stddev,
    * sample covariance and Pearson correlation of the price/quantity
    * measures. Restricted to the SAMPLE variants — population skewness/
    * kurtosis definitions differ between engines (Spark g1/g2 vs
    * DuckDB's bias-corrected forms) and are deliberately excluded. */
  private def statsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(var_samp(col("l_quantity")), 4).as("qty_var"),
        round(stddev_samp(col("l_extendedprice")), 2).as("price_stddev"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
          .as("qty_price_covar"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("qty_price_corr"))
      .orderBy("l_returnflag")

  /** Linear-regression aggregate family (slope/intercept/r² of price on
    * quantity per returnflag) — same sample-moment machinery as
    * stats_agg, same cross-engine rounding contract. */
  private def regrStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n_pairs"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2)
          .as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
          .as("r2"),
        round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 4)
          .as("avg_qty"))
      .orderBy("l_returnflag")

  /** Boolean / set-valued aggregate family: every/any predicates and a
    * deterministic sorted string_agg (collect_set → sort → join — the
    * order-unspecified engine-native listagg is exactly what this
    * formulation avoids). */
  private def miscAggs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        every(col("o_totalprice") > 0).as("all_positive"),
        some(col("o_orderstatus") === "P").as("any_pending"),
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
        count_if(to_date(col("o_orderdate")) >=
          lit(java.sql.Date.valueOf("2000-01-01"))).as("n_recent"))
      .orderBy("o_orderpriority")

  /** Single-pass numeric profile of lineitem's measure columns. */
  private def profileLineitem(s: SparkSession, dir: String): DataFrame =
    Profile.numeric(Tables.load(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_name")

  /** ROLLUP grouping sets over the corpus: (lang, source), (lang), (). */
  private def docsRollup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** Lead/lag window family: per-user deltas between consecutive events
    * (previous-value delta, inter-event gap, next event's type). */
  private def eventsLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        round(col("value") - lag(col("value"), 1).over(w), 4).as("delta_prev"),
        (unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)))
          .as("gap_ms"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy("event_id")
  }

  /** CUBE grouping sets with grouping_id over the corpus dimensions. */
  private def docsCube(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).cube("lang", "source")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .select(col("lang"), col("source"), col("gid"), col("n_docs"),
        col("avg_chars"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first,
        col("gid"))

  /** Top-k per group via rank-limited window (WindowGroupLimit pushes
    * the k-filter below the shuffle: each task keeps its local top 3). */
  private def topPartsPerBrand(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.load(s, dir, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .orderBy("p_brand", "rnk")
  }

  /**
   * Deterministic content-hash sampling (the reproducible train/eval
   * split primitive): a row is in the 2/16 sample iff the first hex
   * digit of md5(orderkey:linenumber) ∈ {0,1} — portable across engines
   * and stable under re-runs/backfills, unlike rand()-based sampling.
   */
  private def sampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .where(substring(md5(concat_ws(":",
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"))), 1, 1).isin("0", "1"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("qty_sum"))
      .orderBy("l_returnflag")

  /** TF-IDF top terms per document: explode tokens (native tokenizer) →
    * tf per (doc, token) → df per token → score = tf·ln(N/df) → top 3
    * per doc. Two hash-agg shuffles plus one broadcast scalar — no
    * driver-side collect. */
  private def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    val posted = docs(s, dir)
      .select(col("doc_id"), explode(expr("norm_tokens(text)")).as("tok"))
    val tf = posted.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val total = docs(s, dir).agg(count(lit(1)).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(dfreq, "tok").crossJoin(broadcast(total))
      .withColumn("score",
        col("tf") * log(col("n_total").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("tok"), col("rank"),
        round(col("score"), 4).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Skew-salted join (Skew.saltedJoin): events are heavily skewed on
    * event_type (5 hot keys); the salt spreads each hot key over 8
    * reducers. The oracle is the equivalent UNSALTED join+agg — salting
    * must be invisible in the result. */
  private def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(s, dir, "events")
    val dim = events.groupBy("event_type")
      .agg(count(lit(1)).as("type_count"))
    graft.ops.Skew.saltedJoin(events, dim, "event_type",
        bigIdCols = Seq("event_id"), parts = 8)
      .groupBy("event_type")
      .agg(max(col("type_count")).as("type_count"),
        count(lit(1)).as("n_events"),
        // decimal sum: order-independent, so cross-engine exact
        round(sum(col("value").cast("decimal(24,6)")), 2).cast("double")
          .as("value_sum"))
      .orderBy("event_type")
  }

  /** Temporal function family: month-truncation, quarter extraction,
    * monthly order rollup. */
  /** Bloom-pruned semi-join: orders of BUILDING-segment customers,
    * aggregated per month. The bloom over the filtered dimension's keys
    * prunes the fact scan BEFORE the shuffle (the explicit runtime-filter
    * pattern); the trailing exact semi-join removes false positives, so
    * the result is exactly the plain semi-join's. */
  private def bloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
    val orders = Tables.load(s, dir, "orders")
    graft.ops.BloomPrune.semiJoin(orders, cust, "o_custkey", "c_custkey")
      .groupBy(date_trunc("month", to_date(col("o_orderdate"))).cast("date")
        .as("month_start"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(24,6)")), 2).cast("double")
          .as("total_price"))
      .orderBy("month_start")
  }

  /** Z-order layout key over (p_size, p_partkey % 64): the multi-column
    * clustering sort for scan pruning. The registered query verifies the
    * interleave bit-for-bit — the oracle replays the identical shift/
    * mask formula symbolically (`ZOrder.zkeySql`). */
  private def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    p.select(col("p_partkey"), col("p_size"),
        graft.ops.ZOrder.zkey(
          Seq(col("p_size"), pmod(col("p_partkey"), lit(64L))), 6).as("zkey"))
      .orderBy("zkey", "p_partkey")
  }

  /** Blocked Levenshtein self-join over distinct part names: candidate
    * pairs share a first-or-last-token block key, exact edit distance
    * decides. The oracle replays blocking and verification verbatim. */
  private def fuzzyJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.Fuzzy.selfJoin(Tables.load(s, dir, "part"), "p_name",
        maxDist = 4)
      .orderBy("s_a", "s_b")

  /** Market-basket co-occurrence: part pairs ordered together in ≥3
    * distinct orders (the support-counting kernel of association
    * mining). */
  private def basketPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Cooccur.pairs(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 3L)
      .orderBy("item_a", "item_b")

  /** Per-node triangle counts (ops/Graph.triangles, degree-ordered
    * orientation) over the part co-purchase graph at support ≥ 3 — the
    * local-clustering companion of pagerank_parts. The oracle
    * enumerates triangles the direct way (a<b<c over canonical pairs):
    * orientation changes the join cost, never the counts. */
  private def triangleCounts(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangles(
        graft.ops.Cooccur.pairs(Tables.load(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 3L))
      .orderBy("id")

  /** Fixed-point PageRank (ops/Graph.pageRank) over the symmetrized
    * part co-purchase graph (`Cooccur.pairs`, support ≥ 2): node
    * importance in integer 1e-12 units — zero floating point, so the
    * 3-round recurrence replays BIT-exactly in the oracle. */
  private def pagerankParts(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Cooccur.pairs(Tables.load(s, dir, "lineitem"),
      "l_orderkey", "l_partkey", minSupport = 2L)
    val edges = pairs.select(col("item_a").as("src"), col("item_b").as("dst"))
      .unionAll(pairs.select(col("item_b").as("src"), col("item_a").as("dst")))
    graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3)
      .orderBy("id")
  }

  /** The weighted variant: rank mass splits over out-edges by
    * co-purchase COUNT (n_baskets), still fixed-point-exact — a part
    * co-bought 10× with a hub passes 10× the mass of an incidental
    * pairing. */
  private def pagerankWeighted(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Cooccur.pairs(Tables.load(s, dir, "lineitem"),
      "l_orderkey", "l_partkey", minSupport = 2L)
    val edges = pairs
      .select(col("item_a").as("src"), col("item_b").as("dst"), col("n_baskets"))
      .unionAll(pairs.select(col("item_b").as("src"),
        col("item_a").as("dst"), col("n_baskets")))
    graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3,
        weightCol = Some("n_baskets"))
      .orderBy("id")
  }

  /** Dyadic EWMA (half-life one bar) over the daily close series — the
    * recency-weighted smoothing companion of rolling_7day, stated with
    * power-of-two weights and a fixed fold order so the doubles are
    * engine-identical before the display rounding. */
  private def ewmaClose(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("user_id", "event_type")
    val bars = Ingest.dailyBars(
      spread(Tables.load(s, dir, "events")), keys,
      tsCol = "ts", valueCol = "value", idCol = "event_id")
    graft.ops.Rolling.ewmaHalfLife(bars, keys, "date", "close",
        window = 7, outCol = "ewma_close")
      .select(col("user_id"), col("event_type"), col("date"),
        round(col("ewma_close"), 4).as("ewma_close"))
      .orderBy("user_id", "event_type", "date")
  }

  /** Latest value per (user, event_type) as of a cutoff date — the
    * "table snapshot" both sides of snapshot_diff are built from. */
  private def latestState(s: SparkSession, dir: String,
      cutoff: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(s, dir, "events")
    val sliced = cutoff.fold(base)(c =>
      base.where(to_date(col("ts")) <= lit(java.sql.Date.valueOf(c))))
    sliced
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("__rn") === 1)
      .select("user_id", "event_type", "value")
  }

  /** Price-series metrics the reference's consumers derive from the
    * cumulative table: day-over-day return and drawdown-from-peak (both
    * in bps), per key. One shuffle — the lag and the running max share
    * the key window; both engines evaluate the identical IEEE division
    * before the display rounding. */
  private def priceMetrics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val bars = Ingest.dailyBars(
      spread(Tables.load(s, dir, "events")), keys,
      tsCol = "ts", valueCol = "value", idCol = "event_id")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
    val peak = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .withColumn("__prev", lag(col("close"), 1).over(w))
      .withColumn("__peak", max(col("close")).over(peak))
      // a 0.0 price has no defined return/drawdown base → NULL (nullif),
      // matching the oracle instead of ANSI-erroring on the division
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        round((col("close") / when(col("__prev") =!= 0, col("__prev")) - 1)
          * 10000, 4).as("ret_bps"),
        round((col("close") / when(col("__peak") =!= 0, col("__peak")) - 1)
          * 10000, 4).as("drawdown_bps"))
      .orderBy("user_id", "event_type", "date")
  }

  /** The daily OHLCV bars the finance-flavored queries share: one hash
    * aggregate over the tick stream per (user, type, day). */
  private def dailyBarsOf(s: SparkSession, dir: String): DataFrame =
    Ingest.dailyBars(spread(Tables.load(s, dir, "events")),
      Seq("user_id", "event_type"), tsCol = "ts", valueCol = "value",
      idCol = "event_id")

  /** Weekly OHLCV resample (ops/Ingest.resampleBars): daily bars
    * re-aggregated to ISO weeks — open/close ride min_by/max_by on the
    * contributing date, so no window pass and ONE extra (tiny,
    * bar-count-sized) shuffle beyond the daily aggregation. */
  private def barsWeekly(s: SparkSession, dir: String): DataFrame =
    Ingest.resampleBars(dailyBarsOf(s, dir), Seq("user_id", "event_type"),
        "date", date_trunc("week", col("date")).cast("date"), "week")
      .orderBy("user_id", "event_type", "week")

  /** 14-day RSI (SMA form) per key over the daily closes. Gains/losses
    * accumulate in exact DECIMAL (cast once from the close), so the
    * trailing-window sums are associative and engine-identical — only
    * the final 100·g/(g+l) division is IEEE, on identical operands.
    * One shuffle: the delta lag and both trailing sums share the key
    * window. NULL until 14 deltas exist (15th bar) and on flat windows. */
  /** Bollinger bands (20-bar, ±2σ) on the daily close — the classic
    * price-channel companion of rsi_close, stated so EVERY arithmetic
    * step is engine-identical: closes become integer 1e-6 units
    * (decimal cast, exact), the 20-row window carries integer Σc and
    * Σc² (decimal sums — order-free), the sample variance is the
    * integer identity (n·Σc² − (Σc)²) exact in decimal, and only then
    * does ONE fixed-order double division + IEEE sqrt produce the
    * bands — bit-identical across engines before the display round.
    * Bands are NULL until the window holds its full 20 bars. */
  private def bollingerBands(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
      .rowsBetween(-19, 0)
    val nn = col("__n") * (col("__n") - 1)
    val meanD = col("__s").cast("double") / col("__n") / 1e6
    val sdD = sqrt((col("__n") * col("__s2") - col("__s") * col("__s"))
      .cast("double") / nn.cast("double")) / 1e6
    dailyBarsOf(s, dir)
      .withColumn("__c",
        (col("close").cast("decimal(18,6)") * 1000000).cast("decimal(13,0)"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("__c")).over(w))
      .withColumn("__s2", sum((col("__c") * col("__c")).cast("decimal(30,0)")).over(w))
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        round(when(col("__n") === 20, meanD), 4).as("bb_mid"),
        round(when(col("__n") === 20, meanD + lit(2) * sdD), 4).as("bb_upper"),
        round(when(col("__n") === 20, meanD - lit(2) * sdD), 4).as("bb_lower"))
      .orderBy("user_id", "event_type", "date")
  }

  /** On-balance volume + 14-bar average true range — two more classic
    * indicators on the daily bars, both engine-exact: OBV is a pure
    * integer cumulative sum (sign of the exact decimal close delta ×
    * volume — order-free), and ATR carries exact decimal true ranges
    * through the window sum with one fixed-order double division at
    * the end (the bollinger_bands technique). ATR is the SMA-of-TR
    * variant (not Wilder's recursive smoothing), emitted only on a
    * full 14-bar window. */
  private def obvAtr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
    val t14 = w.rowsBetween(-13, 0)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyBarsOf(s, dir)
      .withColumn("__c", col("close").cast("decimal(18,6)"))
      .withColumn("__h", col("high").cast("decimal(18,6)"))
      .withColumn("__l", col("low").cast("decimal(18,6)"))
      .withColumn("__pc", lag(col("__c"), 1).over(w))
      .withColumn("__sgn",
        when(col("__pc").isNull, lit(0L))
          .when(col("__c") > col("__pc"), lit(1L))
          .when(col("__c") < col("__pc"), lit(-1L))
          .otherwise(lit(0L)))
      .withColumn("obv", sum(col("__sgn") * col("volume")).over(cum))
      .withColumn("__tr",
        when(col("__pc").isNull, col("__h") - col("__l"))
          .otherwise(greatest(col("__h") - col("__l"),
            abs(col("__h") - col("__pc")), abs(col("__l") - col("__pc")))))
      .withColumn("__n", count(col("__tr")).over(t14))
      .withColumn("__trs", sum(col("__tr")).over(t14))
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        col("obv"),
        round(when(col("__n") === 14,
          col("__trs").cast("double") / col("__n")), 4).as("atr_14"))
      .orderBy("user_id", "event_type", "date")
  }

  private def rsiClose(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
    val t = w.rowsBetween(-13, 0)
    dailyBarsOf(s, dir)
      .withColumn("__c", col("close").cast("decimal(18,6)"))
      .withColumn("__d", col("__c") - lag(col("__c"), 1).over(w))
      .withColumn("__gsum",
        sum(when(col("__d") > 0, col("__d"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(18,6)"))).over(t))
      .withColumn("__lsum",
        sum(when(col("__d") < 0, -col("__d"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(18,6)"))).over(t))
      .withColumn("__nd", count(col("__d")).over(t))
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        round(when(col("__nd") === 14 && (col("__gsum") + col("__lsum")) =!= 0,
          lit(100.0) * col("__gsum").cast("double")
            / (col("__gsum") + col("__lsum")).cast("double")), 4)
          .as("rsi_14"))
      .orderBy("user_id", "event_type", "date")
  }

  /** Stochastic oscillator %K-14 + Williams %R-14 on the daily bars.
    * Channel extremes are exact-decimal window min/max, so both ratios
    * are a single IEEE division over identical operands:
    * %K = 100·(c−l14)/(h14−l14), %R = −100·(h14−c)/(h14−l14). NULL
    * until the window holds 14 bars and on a flat channel (h14 = l14).
    * One shuffle — both extremes ride the same key window. */
  private def stochasticK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val t = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
      .rowsBetween(-13, 0)
    val den = (col("__h14") - col("__l14")).cast("double")
    val full = col("__n") === 14 && col("__h14") =!= col("__l14")
    // raw doubles, no display round: every operand reaches the division
    // in the same order on both engines, so the doubles are bit-identical
    // — a final round() would only reintroduce the engines' divergent
    // half-boundary semantics (Spark rounds the shortest decimal repr,
    // DuckDB the binary value)
    dailyBarsOf(s, dir)
      .withColumn("__c", col("close").cast("decimal(18,6)"))
      .withColumn("__h14", max(col("high").cast("decimal(18,6)")).over(t))
      .withColumn("__l14", min(col("low").cast("decimal(18,6)")).over(t))
      .withColumn("__n", count(lit(1)).over(t))
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        when(full, lit(100.0)
          * ((col("__c") - col("__l14")).cast("double") / den))
          .as("stoch_k"),
        when(full, lit(-100.0)
          * ((col("__h14") - col("__c")).cast("double") / den))
          .as("williams_r"))
      .orderBy("user_id", "event_type", "date")
  }

  /** 20-bar rolling VWAP: Σ(close·volume)/Σvolume per key. The
    * numerator accumulates exact decimal close×integer volume products
    * (order-free), the denominator is an integer sum, and the only IEEE
    * step is the final division — engine-identical before the display
    * round. Emitted from the first bar (a partial window is still an
    * exact weighted mean, unlike the σ-style indicators). */
  private def vwapRolling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val t = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
      .rowsBetween(-19, 0)
    // integer 1e-6 price units (the bollinger_bands scaling) so the
    // numerator sum is an integer-valued decimal — its double conversion
    // is exact on both engines — and the result is the raw double of a
    // fixed-order division chain (no display round; see stochasticK)
    dailyBarsOf(s, dir)
      .withColumn("__cu",
        (col("close").cast("decimal(18,6)") * 1000000).cast("decimal(13,0)"))
      .withColumn("__pv", (col("__cu") * col("volume")).cast("decimal(30,0)"))
      .withColumn("__pvs", sum(col("__pv")).over(t))
      .withColumn("__vs", sum(col("volume")).over(t))
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        (col("__pvs").cast("double") / col("__vs").cast("double") / 1e6)
          .as("vwap_20"))
      .orderBy("user_id", "event_type", "date")
  }

  /** Per-key risk profile of the daily close CHANGES, integer-exact
    * end to end: closes become 1e-6 integer units (the bollinger_bands
    * scaling), deltas/sums/sum-of-squares stay decimal (order-free),
    * the sample variance is the integer identity (n·Σd² − (Σd)²), and
    * only the final mean/vol/downside/ratio divisions are IEEE on
    * identical operands. `downside_chg` is the population RMS of the
    * negative deltas (√(Σd²_neg/n)); `drift_ratio` is mean/vol, NULL
    * on fewer than 10 deltas or a flat series. Aggregating on the
    * window's key makes the whole query one shuffle. */
  private def riskMetrics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
    val nn = (col("__n") * (col("__n") - 1)).cast("double")
    val varD = (col("__n") * col("__s2") - col("__s") * col("__s"))
      .cast("double") / nn
    val meanD = col("__s").cast("double") / col("__n") / 1e6
    val volD = sqrt(varD) / 1e6
    val downD = sqrt(col("__sneg").cast("double")
      / col("__n").cast("double")) / 1e6
    dailyBarsOf(s, dir)
      .withColumn("__cu",
        (col("close").cast("decimal(18,6)") * 1000000).cast("decimal(13,0)"))
      .withColumn("__d", col("__cu") - lag(col("__cu"), 1).over(w))
      .where(col("__d").isNotNull)
      .withColumn("__d2", (col("__d") * col("__d")).cast("decimal(30,0)"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__d")).cast("decimal(25,0)").as("__s"),
        sum(col("__d2")).cast("decimal(30,0)").as("__s2"),
        sum(when(col("__d") < 0, col("__d2"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(30,0)")))
          .cast("decimal(30,0)").as("__sneg"))
      // raw doubles (no display round): every operand sequence is
      // fixed-order and engine-identical — see stochasticK
      .select(col("user_id"), col("event_type"), col("__n").as("n_changes"),
        meanD.as("mean_chg"),
        when(col("__n") >= 10, volD).as("vol_chg"),
        when(col("__n") >= 10, downD).as("downside_chg"),
        when(col("__n") >= 10 && varD =!= 0.0, meanD / volD)
          .as("drift_ratio"))
      .orderBy("user_id", "event_type")
  }

  /** Cross-series Pearson correlation of daily close changes: for each
    * user, every event-type pair (a < b) joined on date, correlated
    * over the days where BOTH deltas exist. All five sums (n, Σx, Σy,
    * Σx², Σy², Σxy) accumulate exact 1e-6-unit decimals, the numerator
    * and both variance legs are the integer identities, and one final
    * double expression produces the coefficient. Pairs with < 10
    * common days or a flat leg are dropped. Two shuffles: the per-key
    * delta window, then the (user, date) equi-join + pair aggregation
    * — never a cross product (the pair space is generated by the join,
    * a < b keeps each pair once). */
  private def returnsCorrelation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
    val deltas = dailyBarsOf(s, dir)
      .withColumn("__cu",
        (col("close").cast("decimal(18,6)") * 1000000).cast("decimal(13,0)"))
      .withColumn("__d", (col("__cu") - lag(col("__cu"), 1).over(w))
        .cast("decimal(14,0)"))
      .where(col("__d").isNotNull)
      .select(col("user_id"), col("event_type"), col("date"), col("__d"))
    val a = deltas.toDF("user_id", "et_a", "date", "__x")
    val b = deltas.toDF("user_id", "et_b", "date", "__y")
    val nD = col("__np").cast("double")
    val cov = (col("__np") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val vx = (col("__np") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double")
    val vy = (col("__np") * col("__syy") - col("__sy") * col("__sy"))
      .cast("double")
    a.join(b, Seq("user_id", "date"))
      .where(col("et_a") < col("et_b"))
      .groupBy(col("user_id"), col("et_a"), col("et_b"))
      .agg(count(lit(1)).as("__np"),
        sum(col("__x")).cast("decimal(25,0)").as("__sx"),
        sum(col("__y")).cast("decimal(25,0)").as("__sy"),
        sum((col("__x") * col("__x")).cast("decimal(30,0)"))
          .cast("decimal(30,0)").as("__sxx"),
        sum((col("__y") * col("__y")).cast("decimal(30,0)"))
          .cast("decimal(30,0)").as("__syy"),
        sum((col("__x") * col("__y")).cast("decimal(30,0)"))
          .cast("decimal(30,0)").as("__sxy"))
      .where(col("__np") >= 10 && vx =!= 0.0 && vy =!= 0.0)
      .select(col("user_id"), col("et_a"), col("et_b"),
        col("__np").as("n_days"),
        round(cov / (sqrt(vx) * sqrt(vy)), 6).as("chg_corr"))
      .orderBy("user_id", "et_a", "et_b")
  }

  /** Per-series beta against the cross-sectional market composite: the
    * market is the exact-decimal SUM of all keys' daily close changes
    * (index-inclusive — each series is part of its own market, stated
    * rather than subtracted so the composite stays one global frame),
    * joined back by date. β = cov(x,m)/var(m) via the integer
    * identities over exact 1e-6-unit sums; one final double division.
    * The market frame is ~#days rows → broadcast, so the whole query
    * is the per-key delta window plus one broadcast join + one key
    * aggregation — no extra shuffle at any scale. */
  private def betaMarket(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
    val deltas = dailyBarsOf(s, dir)
      .withColumn("__cu",
        (col("close").cast("decimal(18,6)") * 1000000).cast("decimal(13,0)"))
      .withColumn("__d", (col("__cu") - lag(col("__cu"), 1).over(w))
        .cast("decimal(14,0)"))
      .where(col("__d").isNotNull)
      .select(col("user_id"), col("event_type"), col("date"), col("__d"))
    val market = deltas.groupBy(col("date"))
      .agg(sum(col("__d")).cast("decimal(25,0)").as("__m"))
    val cov = (col("__np") * col("__sxm") - col("__sx") * col("__sm"))
      .cast("double")
    val varM = (col("__np") * col("__smm") - col("__sm") * col("__sm"))
      .cast("double")
    deltas.join(broadcast(market), Seq("date"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__np"),
        sum(col("__d")).cast("decimal(25,0)").as("__sx"),
        sum(col("__m")).cast("decimal(30,0)").as("__sm"),
        sum((col("__d") * col("__m")).cast("decimal(30,0)"))
          .cast("decimal(38,0)").as("__sxm"),
        sum((col("__m") * col("__m")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__smm"))
      .where(col("__np") >= 10 && varM =!= 0.0)
      .select(col("user_id"), col("event_type"), col("__np").as("n_days"),
        (cov / varM).as("beta"))
      .orderBy("user_id", "event_type")
  }

  /** ISO-weekday volume seasonality per event type: pure integer
    * tick-count sums per (event_type, isodow) with the day-count and
    * week-share emitted as raw doubles of fixed-order divisions (the
    * share denominator is the exact integer total over the type's 7
    * weekday rows — a tiny window, no extra shuffle beyond the two
    * aggregations). */
  private def volumeSeasonality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tw = Window.partitionBy("event_type")
    dailyBarsOf(s, dir)
      .withColumn("__dow", (expr("weekday(date)") + 1).cast("int"))
      .groupBy(col("event_type"), col("__dow").as("isodow"))
      .agg(count(lit(1)).as("n_days"), sum(col("volume")).as("total_vol"))
      .withColumn("__wk_vol", sum(col("total_vol")).over(tw))
      .select(col("event_type"), col("isodow"), col("n_days"),
        col("total_vol"),
        (col("total_vol").cast("double") / col("n_days").cast("double"))
          .as("avg_vol"),
        (col("total_vol").cast("double") / col("__wk_vol").cast("double"))
          .as("vol_share"))
      .orderBy("event_type", "isodow")
  }

  /** Calendar-gap scan over each key's bar series: emit every hole
    * where consecutive bars are more than one day apart, with the gap
    * length in whole days (integer date arithmetic — trivially
    * engine-exact). One shuffle (the key window). */
  private def tradingGaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
    dailyBarsOf(s, dir)
      .withColumn("__prev", lag(col("date"), 1).over(w))
      .withColumn("gap_days",
        (datediff(col("date"), col("__prev")) - 1).cast("long"))
      .where(col("gap_days") > 0)
      .select(col("user_id"), col("event_type"),
        col("__prev").as("gap_start"), col("date").as("gap_end"),
        col("gap_days"))
      .orderBy("user_id", "event_type", "gap_start")
  }

  /** MACD on the dyadic windowed EWMA (ops/Rolling.ewmaHalfLife — the
    * distributed, oracle-portable smoothing form documented there):
    * fast(6) − slow(12) over the daily closes, both smoothings riding
    * the SAME key window partition (one shuffle), the difference a raw
    * double of two identical left-fold results (see stochasticK for
    * why no display round). */
  private def macdDyadic(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("user_id", "event_type")
    val bars = dailyBarsOf(s, dir)
    val fast = graft.ops.Rolling.ewmaHalfLife(bars, keys, "date", "close",
      window = 6, outCol = "__fast")
    val both = graft.ops.Rolling.ewmaHalfLife(fast, keys, "date", "close",
      window = 12, outCol = "__slow")
    both.select(col("user_id"), col("event_type"), col("date"), col("close"),
        (col("__fast") - col("__slow")).as("macd"))
      .orderBy("user_id", "event_type", "date")
  }

  /** Time-under-water: for every bar, whole days since the key's
    * running peak was set (0 on a new high). The peak date is the
    * running max of dates where the close equals the running peak —
    * double equality on the exact row that set it, then pure integer
    * date arithmetic. Shares the one key-window shuffle. */
  private def underwaterDays(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("user_id", "event_type")
    val cum = Window.partitionBy(keys.map(col): _*).orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyBarsOf(s, dir)
      .withColumn("__peak", max(col("close")).over(cum))
      .withColumn("__peak_date",
        max(when(col("close") === col("__peak"), col("date"))).over(cum))
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        datediff(col("date"), col("__peak_date")).cast("long")
          .as("underwater_days"))
      .orderBy("user_id", "event_type", "date")
  }

  /** ONE SQL text, two engines: this string is executed verbatim by
    * `spark.sql` (over the `Views` registry) AND by the DuckDB oracle —
    * the strictest SQL-portability proof the gate can express (the
    * other sql_* gates adapt dialect; this one shares the bytes). It
    * deliberately exercises the ANSI surface both engines parse
    * identically: CTE, named WINDOW clause, the five rank functions,
    * lead/lag. */
  private[graft] val windowRanksSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, n_events,
      |       rank() OVER w AS rnk,
      |       dense_rank() OVER w AS drnk,
      |       percent_rank() OVER w AS prnk,
      |       cume_dist() OVER w AS cdist,
      |       ntile(4) OVER w AS quartile,
      |       lead(day, 1) OVER w AS next_day,
      |       lag(n_events, 1) OVER w AS prev_n
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY n_events, day)
      |ORDER BY event_type, n_events, day""".stripMargin

  /** Shared-bytes gate #2 (same contract as `windowRanksSql`):
    * arbitrary GROUPING SETS — beyond the ROLLUP/CUBE special cases —
    * with grouping() null-vs-subtotal markers and an exact decimal
    * aggregate. NULLS FIRST is explicit because the engines' default
    * null order differs (Spark ascending = nulls first, DuckDB =
    * nulls last); everything else is ANSI both parse identically. */
  private[graft] val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       count(*) AS n_rows,
      |       CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2)
      |            AS DOUBLE) AS qty_sum,
      |       grouping(l_returnflag) AS g_rf,
      |       grouping(l_linestatus) AS g_ls
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), (l_linestatus), ())
      |ORDER BY g_rf, g_ls,
      |         l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Shared-bytes gate #3: a TIME-BASED sliding window frame — RANGE
    * BETWEEN INTERVAL 1 DAY PRECEDING over the raw event timestamps,
    * no resample grid. The frame is defined by ORDER-value distance,
    * so peers and boundaries are value-determined (partitioning cannot
    * change a result), and the aggregates are exact integers. */
  private[graft] val intervalRangeSql: String =
    """SELECT event_id, user_id,
      |       count(*) OVER w AS n_prev_day,
      |       CAST(sum(event_id) OVER w AS BIGINT) AS id_sum_day
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |             RANGE BETWEEN INTERVAL 1 DAY PRECEDING
      |                   AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Shared-bytes gate #4: correlated EXISTS / NOT EXISTS subqueries —
    * the TPC-H Q21 text run VERBATIM by `spark.sql` AND DuckDB.
    * Catalyst must decorrelate both subqueries into semi/anti joins
    * (PlanSpec pins that no per-row re-scan survives); the DataFrame
    * twin `suppliers_kept_waiting` builds the decorrelated plan by
    * hand, and both share this oracle text. */
  private[graft] val suppliersWaitingSql: String =
    """WITH lo AS (SELECT l_orderkey, l_suppkey,
      |                   l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT s_name, count(*) AS numwait
      |FROM lo l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      |WHERE l1.late
      |  AND EXISTS (SELECT 1 FROM lo l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lo l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin

  /** Shared-bytes gate #5: ordered-set aggregates — percentile_cont
    * (linear interpolation) and percentile_disc WITHIN GROUP, the
    * ANSI ordered-set syntax both engines accept verbatim. The
    * interpolation arithmetic agrees bit-for-bit on this data
    * (position arithmetic on exact doubles); 1e-4 rounding guards the
    * general case. */
  private[graft] val percentileContSql: String =
    """SELECT l_returnflag,
      |       round(percentile_cont(0.5)
      |             WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50,
      |       round(percentile_cont(0.9)
      |             WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90,
      |       round(percentile_disc(0.5)
      |             WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The rank-function window surface in one gate: rank, dense_rank,
    * percent_rank, cume_dist, ntile(4) and lead/lag over each type's
    * daily activity, ordered on a UNIQUE key (count, then day — ties
    * broken deterministically, the PlanSpec ordering rule). All ranks
    * derive from integers; percent_rank/cume_dist are the standard
    * rational forms both engines evaluate identically. One shuffle. */
  private def windowRanks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("n_events"), col("day"))
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("day"), col("n_events"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).cast("long").as("quartile"),
        lead(col("day"), 1).over(w).as("next_day"),
        lag(col("n_events"), 1).over(w).as("prev_n"))
      .orderBy("event_type", "n_events", "day")
  }

  /** ROLLUP aggregation (the multi-level report shape Spark and DuckDB
    * both evaluate as grouping sets): tick volume by (event_type,
    * ISO weekday) with weekday subtotals and the grand total, each
    * level tagged by grouping_id. Pure integer sums — engine-exact;
    * one map-combined aggregate (grouping sets replicate partials, not
    * input rows). */
  private def volumeRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events")
      .withColumn("isodow",
        (expr("weekday(cast(ts as date))") + 1).cast("int"))
      .rollup(col("event_type"), col("isodow"))
      .agg(count(lit(1)).as("n_events"), grouping_id().as("gid"))
      .select(col("event_type"), col("isodow"), col("n_events"),
        col("gid").cast("long").as("gid"))
      .orderBy(col("gid"), col("event_type"), col("isodow"))
  }

  /** PIVOT surface: ISO weekday × event-type activity matrix via
    * Spark's pivot with an EXPLICIT value list (the open-ended form
    * runs a driver-side distinct — a scan of the key space nobody
    * should pay at 100 TB; with values given the plan is one
    * map-combined aggregate). Pure integer counts; the oracle replays
    * as conditional aggregation. */
  private def pivotVolume(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.load(s, dir, "events")
      .withColumn("isodow",
        (expr("weekday(cast(ts as date))") + 1).cast("int"))
      .groupBy(col("isodow"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy("isodow")
  }

  /** UNPIVOT surface (long-form melt of the OHLC matrix): each daily
    * bar becomes four (field, price) rows — the shape feature stores
    * and plotting pipelines ingest. Spark's unpivot is a zero-shuffle
    * row expansion; the oracle replays as a UNION ALL of the four
    * projections. */
  private def barsUnpivot(s: SparkSession, dir: String): DataFrame =
    dailyBarsOf(s, dir)
      .unpivot(
        Array(col("user_id"), col("event_type"), col("date")),
        Array(col("open"), col("high"), col("low"), col("close")),
        "field", "price")
      .orderBy("user_id", "event_type", "date", "field")

  /** Burst detection: each (event_type, day)'s count against its
    * trailing-7-observed-day baseline, as an exact integer ratio in bps
    * (n·w·10000 DIV Σprev — no float division, so the spike flag can
    * never disagree between engines). First days have no baseline →
    * NULL ratio. One shuffle: the daily agg and the trailing window
    * share the event_type key. */
  private def eventBursts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("__prev_sum", sum(col("n_events")).over(w))
      .withColumn("__prev_n", count(col("n_events")).over(w))
      .withColumn("ratio_bps",
        expr("n_events * __prev_n * 10000 DIV __prev_sum"))
      .withColumn("burst", coalesce(col("ratio_bps") > 20000, lit(false)))
      .select("event_type", "day", "n_events", "ratio_bps", "burst")
      .orderBy("event_type", "day")
  }

  /** Dedup observability: the near-dup cluster size distribution —
    * how many clusters of each size the MinHash pair graph resolves to
    * (singletons excluded; they are corpus − clustered docs). */
  private def clusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.components(
        Dedup.minhashNearDupEdges(docs(s, dir), "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5))
      .groupBy("component").agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Deterministic per-group mode: the dominant source per language
    * (max by count, ties to the smallest value — engine-native `mode()`
    * leaves ties unspecified, which is exactly what this formulation
    * avoids), with its share in exact integer bps. Rank-limit pushdown
    * applies (WindowGroupLimit), so only per-task top-1 rows shuffle. */
  private def dominantSource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(s, dir).groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("lang")
      .orderBy(col("n_docs").desc, col("source"))
    counts
      .withColumn("__lang_total", sum(col("n_docs")).over(
        Window.partitionBy("lang")))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("lang"), col("source").as("top_source"), col("n_docs"),
        expr("n_docs * 10000 DIV __lang_total").as("share_bps"))
      .orderBy("lang")
  }

  /** Length-bucketed batch packing — the padding-efficiency layout of
    * inference/training batching: docs group into 64-token-wide length
    * buckets (similar-length docs batch together, so per-batch padding
    * waste is bounded by the bucket width), then pack into 2048-token
    * shards within each bucket with the skew-proof two-pass prefix sum
    * (`Shards.packByBudget` — buckets are groups, so no reducer
    * serializes a whole length class). Output is the shard manifest. */
  private def packLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    val sized = docs(s, dir)
      .withColumn("n_tokens", expr("token_stats(text).n_tokens").cast("long"))
      .withColumn("len_bucket", expr("n_tokens div 64"))
    val packed = Shards.packByBudget(sized, Seq("len_bucket"), "doc_id",
      "n_tokens", capacity = 2048L,
      bucketExpr = floor(col("doc_id") / 256L).cast("long"))
    Shards.manifest(packed, Seq("len_bucket"), "doc_id", "n_tokens")
      .orderBy("len_bucket", "shard")
  }

  /** Document-frequency PMI collocations over the corpus (bigrams with
    * df ≥ 5) — phrase-mining built on the native shingle kernels. */
  private def collocationsQ(s: SparkSession, dir: String): DataFrame =
    TextOps.collocations(docs(s, dir), "doc_id", "text", minDf = 5L)
      .orderBy("bigram")

  /** Unigram log-prob quality score per document (perplexity proxy):
    * docs whose tokens are corpus-rare score low. Docs with zero tokens
    * are absent (no occurrences to score). */
  private def docLogprob(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramLogProb(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §4.3 —
    * head/middle/tail tiers by LM score, per language): rank every doc
    * by its unigram log-prob proxy WITHIN its language, cut into 3
    * ntile buckets (1 = head / best), and report per-tier document and
    * token totals plus the exact tier score boundaries. Aggregates are
    * order-free (count / long sum / min / max over the 1e-4-rounded
    * score), so the gate is bit-exact; ntile ties are impossible (the
    * ordering ends on the unique doc_id). Scale: one token-count
    * shuffle (unigramLogProb) + one per-language window — the window
    * key is the language, low-cardinality by nature, so at 100 TB the
    * rank step uses the range-partitioned sort the ntile spec demands
    * and nothing wider. */
  private def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val lp = TextOps.unigramLogProb(d, "doc_id", "text")
      .join(d.select("doc_id", "lang"), "doc_id")
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    lp.withColumn("bucket", ntile(3).over(w))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tot_tokens"),
        min(col("avg_logprob")).as("min_lp"),
        max(col("avg_logprob")).as("max_lp"))
      .orderBy("lang", "bucket")
  }

  /** Distributed BPE training: the 20-rule merge table learned from
    * the corpus (rank, lhs, rhs, merged). One corpus pass builds the
    * word dict; each merge round is one Spark job over it. The oracle
    * replays ALL 20 rounds (pair count → argmax → 4-pass replace) as
    * one unrolled SQL chain — full-algorithm verification, not a spot
    * check. */
  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame = {
    val (m, _) = Bpe.train(docs(s, dir), "text", numMerges = 20)
    Bpe.mergesDf(s, m).orderBy("rank")
  }

  /** The classic END-OF-WORD-MARKER formulation (Sennrich §3.2): the
    * marker is its own symbol, so merges learn suffix tokens
    * ("ing</w>") distinct from word-internal pairs — the published
    * algorithm verbatim, same unrolled-oracle verification. */
  private def bpeTrainEowQ(s: SparkSession, dir: String): DataFrame = {
    val (m, _) = Bpe.train(docs(s, dir), "text", numMerges = 20, eow = true)
    Bpe.mergesDf(s, m).orderBy("rank")
  }

  /** Post-merge BPE vocabulary: every surviving symbol with its
    * corpus frequency after the 20 learned merges — the second
    * artifact a tokenizer ships (vocab list), replayed by the same
    * unrolled oracle chain as bpe_train. */
  private def bpeVocabQ(s: SparkSession, dir: String): DataFrame = {
    val (_, dict) = Bpe.train(docs(s, dir), "text", numMerges = 20)
    Bpe.vocab(dict).orderBy("token")
  }

  /** The tokenizer's real output: each document's full subword
    * sequence under the trained dict, in word order — oracle replays
    * the training chain plus an order-preserving string_agg. */
  private def bpeTokensQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (_, dict) = Bpe.train(d, "text", numMerges = 20)
    Bpe.segmentTokens(d, "doc_id", "text", dict).orderBy("doc_id")
  }

  /** Leakage-safe split over the MinHash near-dup graph: every doc's
    * (group_key, split), near-dup clusters co-assigned by
    * construction. The oracle replays exact-Jaccard pairs + label
    * propagation (the dedup_clusters machinery) and re-derives the
    * decile rule. */
  private def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Sampling.leakageSafeSplit(d, "doc_id",
        Dedup.minhashNearDupEdges(d, "doc_id", "text",
          numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5))
      .orderBy("doc_id")
  }

  /** BPE application: per-document word/subword counts under the
    * 20-rule trained dict — one word-keyed join, cost independent of
    * the merge count. The oracle extends the unrolled training chain
    * with the same join. */
  private def bpeSegmentQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (_, dict) = Bpe.train(d, "text", numMerges = 20)
    Bpe.segment(d, "doc_id", "text", dict).orderBy("doc_id")
  }

  /** Interpolated bigram LM score (0.75·bigram + 0.25·unigram floor) —
    * the order-1 perplexity proxy; first token scores unigram-only. */
  private def docLogprobBigram(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramLogProb(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** DSIR-style importance weights targeting the English subcorpus:
    * per doc, the mean per-token log-ratio between the en-docs unigram
    * LM and the whole-corpus LM (Laplace-smoothed over the shared
    * vocabulary), plus the resample decision. Docs with zero tokens are
    * absent (no occurrences to score). */
  private def importanceSample(s: SparkSession, dir: String): DataFrame =
    TextOps.importanceWeights(docs(s, dir), "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id")

  /** Per-doc n-gram novelty: the share (bps, integer) of a doc's
    * distinct 3-shingles that no other document contains. */
  private def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramNovelty(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Exact-substring removal: strip every duplicated 8-token span
    * corpus-wide (keep-first by (doc_id, span index)), rewrite the
    * text, report spans kept/removed per document. */
  private def dedupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.stripDuplicateSpans(docs(s, dir), "doc_id", "text",
        spanTokens = 8)
      .orderBy("doc_id")

  /** Shingle-set containment pairs (threshold 0.8): subset-shaped
    * duplication Jaccard structurally misses. Uncapped here so the
    * oracle's full postings intersection is equivalent by construction
    * (same stance as dedup_substring after the r6 ADVICE fix). */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
        shingleK = 3, threshold = 0.8, maxDocFreq = None)
      .orderBy("id_a", "id_b")

  /** Winnowing-fingerprint overlap pairs (MOSS-style candidate
    * funnel): ≥2 shared window-min hashes. Uncapped so the oracle's
    * full intersection is equivalent by construction. */
  private def dedupFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintPairs(docs(s, dir), "doc_id", "text",
        shingleK = 3, window = 4, minShared = 2L, maxDocFreq = None)
      .orderBy("id_a", "id_b")

  /** Temperature-flattened language mixture (α = ½): weights derived
    * from the corpus's own counts, then the md5-ranked mix. */
  private def temperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.mixByTemperature(docs(s, dir), "lang", "doc_id",
        seed = "temp1")
      .select("doc_id", "lang", "mix_rank")
      .orderBy("doc_id")

  /** Linear quality-classifier inference: token_stats features × fixed
    * literal weights → sigmoid score; keep decided on the margin. */
  private def qualityScoreLr(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScoreLinear(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Quantized-shortlist rerank top-k (IVF-SQ pattern): int8-code
    * scoring shortlists 20 per query, full precision reranks to 5. */
  private def similarityQuantized(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.quantizedRerankTopK(e, e.where(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 5, shortlist = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Symmetric int8 scalar quantization of the embeddings table with
    * exact mean-squared dequantization error. The gate output flattens
    * the int8 code array to a CSV string (`SparkEntry` packL pattern):
    * the driver's pandas compare cannot hash array cells. In-engine
    * callers get the real `ARRAY<INT>` from `Similarity.quantizeInt8`. */
  private def embedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(embs(s, dir), "vec_id", "embedding")
      .withColumn("qvec", array_join(col("qvec").cast("array<string>"), ","))
      .orderBy("vec_id")

  /** Context-window chunking: 32-token chunks, 8-token overlap, over
    * the documents corpus — every doc yields ≥1 chunk; all index math
    * integer, replayed exactly by the oracle. */
  private def docChunks(s: SparkSession, dir: String): DataFrame =
    TextOps.chunk(docs(s, dir), "doc_id", "text", size = 32, overlap = 8)
      .orderBy("doc_id", "chunk_id")

  /** Fixed-width price histogram (22 × 5000-wide buckets): distribution
    * profiling with portable clamped-arithmetic bucketing. */
  private def priceHistogram(s: SparkSession, dir: String): DataFrame =
    Profile.histogram(Tables.load(s, dir, "lineitem"), "l_extendedprice",
        lo = 0.0, hi = 110000.0, nBuckets = 22)
      .orderBy("bucket")

  /** CDC snapshot diff: the mid-month state vs the final state of the
    * latest-value-per-key table — inserts are keys first active after
    * the cutoff, updates are value changes, unchanged keys drop out. */
  private def snapshotDiffQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Diff.snapshotDiff(
        latestState(s, dir, Some("2024-01-15")), latestState(s, dir, None),
        Seq("user_id", "event_type"))
      .orderBy("user_id", "event_type")

  /** Rolling 7-day distinct active users per observed day (WAU): the
    * explode-contribution formulation of exact sliding distinct — no
    * per-day user-set buffering. */
  private def rollingWau(s: SparkSession, dir: String): DataFrame =
    Retention.rollingActiveUsers(Tables.load(s, dir, "events"),
        "user_id", "ts", window = 7)
      .orderBy("report_day")

  /** Exact-arithmetic z-score outliers: events more than 3 sample
    * standard deviations from their event_type mean. Membership is the
    * cleared-of-divisions decimal inequality (`Outliers.zscore`), so
    * both engines flag the identical set; z is cosmetic. */
  private def eventsOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Outliers.zscore(
        Tables.load(s, dir, "events").select("event_id", "event_type", "value"),
        "event_type", "value", scale = 2, threshold = 3)
      .select("event_id", "event_type", "value", "z")
      .orderBy("event_id")

  private def ordersByMonth(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .withColumn("d", to_date(col("o_orderdate")))
      .groupBy(date_trunc("month", col("d")).cast("date").as("month_start"),
        quarter(col("d")).as("qtr"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(24,6)")), 2).cast("double")
          .as("total_price"))
      .orderBy("month_start")

  /**
   * Bucketed co-located join (ops/Bucketing.scala): lineitem and orders
   * are written hash-bucketed + bucket-sorted on the order key, then
   * joined WITHOUT an exchange (the bucketing satisfies the join's
   * distribution; BucketingSpec asserts the plan is shuffle-free). The
   * oracle is the equivalent plain join — bucketing must be invisible
   * in the result, like salting.
   */
  private def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Bucketing
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed_")
    Bucketing.writeBucketed(
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      "graft_li_bucketed", s"$tmp/li", "l_orderkey", buckets = 8)
    Bucketing.writeBucketed(
      Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
      "graft_or_bucketed", s"$tmp/or", "o_orderkey", buckets = 8)
    Bucketing.coLocatedJoin(s, "graft_li_bucketed", "graft_or_bucketed",
        "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(24,6)")), 2).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /**
   * MERGE INTO semantics (ops/Merge.scala): a corrections batch (every
   * even order, totalprice uplifted by an exact decimal 1.1×) upserted
   * into a target missing every third order. Matched keys take the
   * source row, unmatched targets survive, unmatched sources insert.
   * The uplift stays in DECIMAL until the final output cast, so both
   * engines compute the identical exact value.
   */
  private def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    // totalprice stays DECIMAL until the final output cast: the 1.1×
    // uplift lands on exact .5 thirds-of-a-cent (….955), where
    // double-then-round is engine-dependent but decimal round is not
    val base = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"),
        col("o_orderpriority"))
    val target = base.where(col("o_orderkey") % 3 =!= 0)
    val source = base.where(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice",
        round(col("o_totalprice") * lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
          .cast("decimal(18,2)"))
      .withColumn("o_orderpriority", lit("0-MERGED"))
    Merge.upsert(target, source, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** The month-partitioned orders slice the versioned-table-format gate
    * queries below promote: (month, key, exact-decimal price). The
    * DECIMAL price makes every downstream sum engine-exact. */
  private def monthlyOrders(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))

  /** Per-month row count + exact price total of a versioned read — the
    * shared output shape of the three table-format gate queries. The
    * partition column is re-cast to string because parquet partition-dir
    * type inference on read must not leak into the gate schema. */
  private def monthTotals(df: DataFrame): DataFrame =
    df.groupBy(col("month").cast("string").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice")).cast("double").as("total_price"))
      .orderBy("month")

  /**
   * Incremental scan over the snapshot-isolated partitioned format
   * (ops/VersionedPartitioned.readChanges, the Iceberg-style
   * incremental-append consumption the reference's `USING ICEBERG`
   * tables get from Databricks, `dags/dag.py:141,146`): promote all of
   * 1995, then a backfill that rewrites two months and adds one new —
   * the downstream incremental read sees EXACTLY the three changed
   * partitions in final state, never the whole table.
   */
  private def versionedChanges(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vchanges_").resolve("t").toString
    val v1 = graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-12")), root, "month")
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").isin("1995-02", "1995-03", "1996-01")),
      root, "month")
    monthTotals(graft.ops.VersionedPartitioned.readChanges(s, root, v1))
  }

  /**
   * Copy-on-write MERGE at partition granularity
   * (ops/VersionedPartitioned.mergePromote): a corrections batch that
   * uplifts even keys of 1995-02 (exact decimal 1.1×) and inserts a
   * whole new month (1995-04) merges into a three-month table. Only the
   * touched months are rewritten — the others ride the manifest — and
   * the final read must equal a full upsert's outcome.
   */
  private def versionedMerge(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vmerge_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    val source = base
      .where(col("month") === "1995-02" && col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice",
        round(col("o_totalprice") * lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
          .cast("decimal(18,2)"))
      .unionByName(base.where(col("month") === "1995-04"))
    graft.ops.VersionedPartitioned.mergePromote(source, root,
      keys = Seq("month", "o_orderkey"), partitionCol = "month")
    monthTotals(graft.ops.VersionedPartitioned.read(s, root))
  }

  /**
   * Stats-pruned range read (ops/VersionedPartitioned.promote with
   * statsCols + clusterBy + maxRecordsPerFile, then readPruned): file
   * skipping on committed [min,max] key stats must change I/O only,
   * never results — the gate replays the same range filter in plain
   * SQL. VersionedSpec asserts separately that files ARE skipped; this
   * row pins that what survives the skip is the right answer.
   */
  private def versionedPruned(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-06"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_vpruned_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(base, root, "month",
      statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"),
      maxRecordsPerFile = 500L)
    monthTotals(
      graft.ops.VersionedPartitioned
        .readPruned(s, root, "o_orderkey", 10000L, 30000L)
        .where(col("o_orderkey").between(10000L, 30000L)))
  }

  /** TPC-H Q17's correlated-scalar shape (avg-quantity threshold per
    * part), decorrelated the Catalyst way: per-part sums join back and
    * the membership test is EXACT decimal arithmetic —
    * `qty·5·n < sum` instead of `qty < 0.2·sum/n`, so no double
    * division can flip a boundary row differently per engine. Scale:
    * one map-combined per-part aggregate + two partkey-keyed joins
    * (broadcast for the brand dim); no window, no correlated re-scan. */
  private def smallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey"),
        col("l_quantity").cast("decimal(12,2)").as("qty"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"))
    val stats = li.groupBy("l_partkey")
      .agg(sum(col("qty")).as("sumq"), count(lit(1)).as("nq"))
    li.join(broadcast(Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(stats, "l_partkey")
      .where(col("qty") * 5 * col("nq") < col("sumq"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        round(sum(col("price")), 2).cast("double").as("small_revenue"))
      .orderBy("p_brand")
  }

  /** TPC-H Q21's exists / not-exists self-join shape: suppliers whose
    * line shipped late (> 60 days after the order date) on a
    * multi-supplier order where EVERY OTHER supplier shipped on time —
    * sole blame. Decorrelated to one semi-join (some other supplier
    * exists) plus one anti-join (no other LATE supplier), both
    * orderkey-keyed. Scale: the late candidate set is filtered BEFORE
    * the self-joins, and both probes shuffle on the order key —
    * bounded fanout (lines per order), no correlated re-scan per row. */
  private def suppliersKeptWaiting(s: SparkSession, dir: String): DataFrame = {
    val lo = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .as("late"))
    val l1 = lo.where(col("late"))
    val others = lo.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val lateOthers = lo.where(col("late"))
      .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
    l1.join(others,
        col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      .join(lateOthers,
        col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      .join(broadcast(Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  /** Multi-member hidden partitioning: events under
    * (days(ts), bucket(8, user_id)), then a time-range × user point
    * question through the member-wise pruned read — the pruning
    * composes multiplicatively (in-range days × one bucket;
    * HiddenPartitionSpec pins the planned-dir counts). */
  private def versionedHiddenMulti(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{MemberEquals, MemberRange, MultiOf}
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val root = java.nio.file.Files
      .createTempDirectory("graft_vhmulti_").resolve("t").toString
    graft.ops.HiddenPartition.promote(ev, root,
      MultiOf(Seq(graft.ops.DaysOf("ts"), graft.ops.BucketOf(8, "user_id"))))
    graft.ops.HiddenPartition.readMultiWhere(s, root, Seq(
        MemberRange(lit("2024-01-08 00:00:00").cast("timestamp"),
          lit("2024-01-21 23:59:59.999999").cast("timestamp")),
        MemberEquals(lit(42L))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      .orderBy("event_type")
  }

  /**
   * Transform-partition DDL gate (ops/SqlLifecycle.resolvePartitionSpec
   * → ops/HiddenPartition — Iceberg's canonical
   * `PARTITIONED BY (days(ts), bucket(8, user_id))` statement, the one
   * lakehouse DDL shape a migrating user hits on day one): the table
   * is created from RAW TEXT, loaded through a routed INSERT (the
   * physical key derived invisibly — a projection where the row
   * already lives), and read back through the query door, which
   * serves only the declared columns. The routed SELECT's WHERE is
   * pushed into the MANIFEST-PRUNED multi-member read by the
   * statement-predicate bridge (ops/ScanPrune — day range × bucket
   * equality prune multiplicatively), so the registered query runs
   * exactly ONE plan; routed ≡ Scala-pruned equality and the
   * planned-dir pin live in HiddenPartitionSpec ("SQL door" cases),
   * not in the bench hot path. Shares `versioned_hidden_multi`'s
   * oracle by construction.
   */
  private def sqlHiddenDdl(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlhid_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA hid")
    life.execute("""
      CREATE TABLE hid.events
      (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING)
      USING ICEBERG PARTITIONED BY (days(ts), bucket(8, user_id))""")
    ev.createOrReplaceTempView("raw_hidden_events")
    life.execute("""
      INSERT INTO hid.events
      SELECT event_id, ts, user_id, event_type FROM raw_hidden_events""")
    life.query("""
      SELECT * FROM hid.events
      WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                AND TIMESTAMP '2024-01-21 23:59:59.999999'
        AND user_id = 42""")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).cast("bigint").as("id_sum"))
      .orderBy("event_type")
  }

  /**
   * Row-verb DML on a HIDDEN-partitioned table through the statement
   * router (ops/SqlLifecycle.deleteRows / update over a
   * `PARTITIONED BY (days(ts), bucket(8, user_id))` table): a
   * non-partition DELETE predicate rewrites only the partitions
   * holding matching rows; an UPDATE that assigns a transform SOURCE
   * column (user_id feeds bucket(8, …)) migrates rows between hash
   * partitions, so the router widens the copy-on-write set to every
   * landing partition (`withPhysKey` re-derives the physical key —
   * a row updated into bucket b must be readable from bucket b). The
   * final routed SELECT carries a ts-range WHERE, so it also
   * exercises statement-predicate pruning over the rewritten table.
   * Oracle replays delete → update → range-aggregate in set SQL.
   */
  private def sqlHiddenRowVerbs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
      .where(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlhidrv_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA hr")
    life.execute("""
      CREATE TABLE hr.ev
      (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING)
      USING ICEBERG PARTITIONED BY (days(ts), bucket(8, user_id))""")
    ev.createOrReplaceTempView("raw_hidden_rowverb_events")
    life.execute(
      "INSERT INTO hr.ev SELECT * FROM raw_hidden_rowverb_events")
    life.execute("DELETE FROM hr.ev WHERE event_type = 'error'")
    life.execute("""
      UPDATE hr.ev SET user_id = user_id + 1
      WHERE ts < TIMESTAMP '2024-01-04 00:00:00'""")
    life.query("""
      SELECT event_type, count(*) AS n_events,
             sum(user_id) AS user_sum
      FROM hr.ev
      WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00'
                AND TIMESTAMP '2024-01-08 23:59:59.999999'
      GROUP BY event_type ORDER BY event_type""")
  }

  /** OPTIMIZE … ZORDER BY gate (ops/VersionedPartitioned
    * .optimizeZOrder): promote six months unclustered, z-order-rewrite
    * on (orderkey, custkey) buckets, then answer a custkey-range
    * question through the stats-pruned read. OpsSpec pins that the
    * rewrite makes file skipping selective on BOTH dimensions; this
    * row pins that the rewrite + pruned read return the right rows. */
  private def versionedZorderOptimized(s: SparkSession, dir: String): DataFrame = {
    // monthlyOrders + the custkey dimension the z-order rewrite targets
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      .where(col("month").between("1995-01", "1995-06"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_vzopt_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(base, root, "month")
    graft.ops.VersionedPartitioned.optimizeZOrder(s, root,
      Seq(pmod(col("o_orderkey"), lit(64L)), pmod(col("o_custkey"), lit(64L))),
      bits = 6, statsCols = Seq("o_orderkey", "o_custkey"),
      maxRecordsPerFile = 500L)
    monthTotals(
      graft.ops.VersionedPartitioned
        .readPruned(s, root, "o_custkey", 100L, 700L)
        .where(col("o_custkey").between(100L, 700L)))
  }

  /**
   * File-level stats skipping through the SQL FRONT DOOR
   * (ops/SqlLifecycle.narrowIndex → VersionedPartitioned.filesWhere →
   * ManifestFileIndex.narrowed): the same z-ordered layout as
   * `versioned_zorder_optimized`, but the range read arrives as a
   * routed statement — `WHERE o_custkey BETWEEN …` on a cataloged
   * table. The statement's bounds on the stats-covered z column must
   * reach the `_stats` sidecars and skip files exactly like the Scala
   * `readPruned` (HiddenPartitionSpec pins the scanned-file identity;
   * this row pins that what survives the skip is the right answer —
   * it shares the Scala gate's oracle).
   */
  private def sqlZorderRange(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      .where(col("month").between("1995-01", "1995-06"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlzr_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA z")
    life.execute("""
      CREATE TABLE z.orders (month STRING, o_orderkey BIGINT,
        o_custkey BIGINT, o_totalprice DECIMAL(18, 2))
      USING ICEBERG PARTITIONED BY (month)""")
    val path = java.nio.file.Paths.get(root, "z", "orders").toString
    graft.ops.VersionedPartitioned.promote(base, path, "month")
    graft.ops.VersionedPartitioned.optimizeZOrder(s, path,
      Seq(pmod(col("o_orderkey"), lit(64L)), pmod(col("o_custkey"), lit(64L))),
      bits = 6, statsCols = Seq("o_orderkey", "o_custkey"),
      maxRecordsPerFile = 500L)
    life.query("""
      SELECT month, count(*) AS n_rows,
             CAST(sum(o_totalprice) AS DOUBLE) AS total_price
      FROM z.orders
      WHERE o_custkey BETWEEN 100 AND 700
      GROUP BY month ORDER BY month""")
  }

  /**
   * Join-derived partition pruning through the SQL front door
   * (ops/ScanPrune.dppConjuncts — the dynamic-partition-pruning shape):
   * a month-partitioned fact joined to a tiny month→quarter dim with
   * the filter on the DIM side only. The router evaluates the dim's
   * distinct join keys at plan time and narrows the fact's manifest to
   * the dim-selected months — the most common 100 TB star-query shape
   * with no literal on the fact. HiddenPartitionSpec pins the
   * partitions actually planned; this row pins the answer.
   */
  /**
   * The approximate-percentile ROUTE through the statement door
   * (plans/ApproxRouting): with `spark.graft.approx.percentileAccuracy`
   * set, an exact `PERCENTILE_CONT … WITHIN GROUP` statement executes
   * as the mergeable `approx_percentile` sketch — the 100 TB shape, where the
   * exact ordered-set aggregate buffers every group value on one
   * reducer. Approximate values cannot hash-match a DuckDB oracle, so
   * the gate verifies the sketch's PUBLISHED rank bound against the
   * raw data (for returned value v: the rank interval [#x<v, #x≤v]/n
   * must intersect p ± 1/accuracy) and emits per-group booleans + the
   * exact counts; the oracle replays the counts and asserts the bounds
   * hold. PipelineSpec pins the plan swap, the off-switch, and the
   * CONT→observed-value semantics delta.
   */
  private def sqlApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlapproxpct_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA q")
    life.execute("""
      CREATE TABLE q.li (l_returnflag STRING, l_extendedprice DOUBLE)
      USING ICEBERG PARTITIONED BY (l_returnflag)""")
    Tables.load(s, dir, "lineitem")
      .selectExpr("l_returnflag",
        "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice")
      .createOrReplaceTempView("approxpct_src")
    life.execute(
      "INSERT INTO q.li SELECT l_returnflag, l_extendedprice FROM approxpct_src")
    val acc = 100
    s.conf.set(graft.plans.ApproxRouting.PercentileAccuracyKey, acc.toString)
    val routed = try {
      life.query("""
        SELECT l_returnflag, count(*) AS n_rows,
               percentile_cont(0.5)
                 WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
               percentile_cont(0.9)
                 WITHIN GROUP (ORDER BY l_extendedprice) AS p90
        FROM q.li GROUP BY l_returnflag""").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3)))
    } finally s.conf.unset(graft.plans.ApproxRouting.PercentileAccuracyKey)
    val eps = 1.0 / acc + 1e-9
    val got = broadcast(routed.toDF("l_returnflag", "n_rows", "p50", "p90"))
    def inBound(v: String, p: Double) =
      (sum(when(col("l_extendedprice") < col(v), 1L).otherwise(0L))
          / first("n_rows") <= lit(p + eps)) &&
        (sum(when(col("l_extendedprice") <= col(v), 1L).otherwise(0L))
          / first("n_rows") >= lit(p - eps))
    Tables.load(s, dir, "lineitem")
      .selectExpr("l_returnflag",
        "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice")
      .join(got, "l_returnflag")
      .groupBy("l_returnflag")
      .agg(first("n_rows").as("n_rows"),
        inBound("p50", 0.5).as("p50_in_bound"),
        inBound("p90", 0.9).as("p90_in_bound"))
      .orderBy("l_returnflag")
  }

  /** The approx-DISTINCT route's driver gate: COUNT(DISTINCT) through
    * the SQL door with `spark.graft.approx.distinctRsd` set routes
    * to the HLL++ sketch (single shuffle, no Expand — the 100 TB
    * distinct-count path); the gate then verifies the estimate against
    * the exact count Spark-side and emits booleans, while the oracle
    * replays the exact counts and asserts the 3σ bound held. HLL++ is
    * deterministic for fixed data and rsd, so the boolean is stable. */
  private def sqlApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlapproxdst_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA q")
    life.execute("""
      CREATE TABLE q.li (l_returnflag STRING, l_suppkey BIGINT)
      USING ICEBERG PARTITIONED BY (l_returnflag)""")
    Tables.load(s, dir, "lineitem")
      .selectExpr("l_returnflag", "l_suppkey")
      .createOrReplaceTempView("approxdst_src")
    life.execute(
      "INSERT INTO q.li SELECT l_returnflag, l_suppkey FROM approxdst_src")
    val rsd = 0.05
    s.conf.set(graft.plans.ApproxRouting.DistinctRsdKey, rsd.toString)
    val routed = try {
      life.query("""
        SELECT l_returnflag, count(*) AS n_rows,
               count(DISTINCT l_suppkey) AS est
        FROM q.li GROUP BY l_returnflag""").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    } finally s.conf.unset(graft.plans.ApproxRouting.DistinctRsdKey)
    val got = broadcast(routed.toDF("l_returnflag", "n_rows", "est"))
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_exact"))
      .join(got, "l_returnflag")
      .select(col("l_returnflag"), col("n_rows"), col("n_exact"),
        (abs(col("est").cast("double") / col("n_exact") - 1.0)
          <= lit(3 * rsd)).as("approx_in_bound"))
      .orderBy("l_returnflag")
  }

  private def sqlDppJoin(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqldpp_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA star")
    life.execute("""
      CREATE TABLE star.fact (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18, 2))
      USING ICEBERG PARTITIONED BY (month)""")
    monthlyOrders(s, dir).createOrReplaceTempView("sqldpp_orders_src")
    life.execute("""
      INSERT INTO star.fact
      SELECT month, o_orderkey, o_totalprice FROM sqldpp_orders_src""")
    life.execute(
      "CREATE TABLE star.dim (month STRING, quarter STRING) USING ICEBERG")
    life.execute("INSERT INTO star.dim VALUES " +
      (1 to 12).map(m => f"('1995-$m%02d', 'Q${(m - 1) / 3 + 1}%d')")
        .mkString(", "))
    life.query("""
      SELECT d.quarter AS quarter, count(*) AS n_rows,
             CAST(sum(f.o_totalprice) AS DOUBLE) AS total_price
      FROM star.fact f
      JOIN star.dim d ON f.month = d.month
      WHERE d.quarter = 'Q2'
      GROUP BY d.quarter ORDER BY quarter""")
  }

  /**
   * Bloom-indexed point lookup through the statement door
   * (ops/SqlLifecycle `CREATE BLOOMFILTER INDEX` +
   * VersionedPartitioned per-file bloom sidecars): a high-cardinality
   * md5 doc id is scattered across every partition, so min/max stats
   * keep every file — only the per-file bloom can skip. The index is
   * created BEFORE the insert (Databricks semantics: new writes emit
   * blooms), and the routed equality statement must both skip files
   * (HiddenPartitionSpec pins inputFiles) and return exactly the
   * looked-up row — this gate hash-pins the latter against DuckDB's
   * own md5.
   */
  private def sqlPointLookup(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlpt_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA p")
    life.execute("""
      CREATE TABLE p.docs (month STRING, o_orderkey BIGINT, doc STRING)
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute("CREATE BLOOMFILTER INDEX ON TABLE p.docs FOR COLUMNS (doc)")
    val base = monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-03"))
      .select(col("month"), col("o_orderkey"),
        md5(col("o_orderkey").cast("string")).as("doc"))
    base.createOrReplaceTempView("sqlpt_docs_src")
    life.execute("INSERT INTO p.docs SELECT * FROM sqlpt_docs_src")
    val target = base.where(col("month") === "1995-02")
      .agg(md5(min(col("o_orderkey")).cast("string"))).head().getString(0)
    life.query(
      s"SELECT month, o_orderkey, doc FROM p.docs WHERE doc = '$target' " +
        "ORDER BY o_orderkey")
  }

  /**
   * Metadata-only aggregation through the statement door (StatsAgg +
   * `aggregateFromStats`): a table opted into per-file stats via
   * `ALTER TABLE … SET TBLPROPERTIES ('graft.statsColumns'=…)` answers
   * a partition-filtered, partition-grouped COUNT/MIN/MAX/SUM from the
   * `_stats` sidecars with zero data I/O — Iceberg's answer-from-
   * manifests move. StatsAggSpec pins the plan shape (no data files
   * read) and every fallback; this gate pins the NUMBERS against
   * DuckDB's full recompute. The decimal total is cast to DOUBLE
   * OUTSIDE the routed statement so the fold itself stays the exact
   * decimal Spark's scan would produce.
   */
  private def sqlAggMeta(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlaggmeta_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA am")
    life.execute("""
      CREATE TABLE am.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute("ALTER TABLE am.orders SET TBLPROPERTIES " +
      "('graft.statsColumns'='o_orderkey,o_totalprice')")
    monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-06"))
      .createOrReplaceTempView("aggmeta_src")
    life.execute("INSERT INTO am.orders SELECT * FROM aggmeta_src")
    life.query("""
      SELECT month, count(*) AS n_rows, count(o_orderkey) AS n_keys,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             sum(o_totalprice) AS total, avg(o_orderkey) AS mean_key
      FROM am.orders
      WHERE month BETWEEN '1995-02' AND '1995-05'
      GROUP BY month""")
      .select(col("month"), col("n_rows"), col("n_keys"), col("min_key"),
        col("max_key"), col("total").cast("double").as("total"),
        col("mean_key"))
      .orderBy("month")
  }

  /**
   * Metadata-only aggregation over a truncate(w)-partitioned table:
   * a string-prefix predicate decides every partition (each partition
   * IS the interval of its prefix; a bound falling inside a prefix
   * straddles and bails — StatsAggSpec pins both), so the whole
   * COUNT/MIN/MAX/SUM/AVG answers from `_stats` sidecars with zero
   * data I/O. DuckDB recomputes from the raw rows.
   */
  private def sqlAggMetaTrunc(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlaggmetat_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA tm")
    life.execute("""
      CREATE TABLE tm.orders (o_orderpriority STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (truncate(2, o_orderpriority))""")
    life.execute("ALTER TABLE tm.orders SET TBLPROPERTIES " +
      "('graft.statsColumns'='o_orderkey,o_totalprice')")
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      .createOrReplaceTempView("aggtrunc_src")
    life.execute("INSERT INTO tm.orders SELECT * FROM aggtrunc_src")
    // '2-HIGH'/'3-MEDIUM' partitions ('2-', '3-') are fully inside the
    // ['2','4') bound; every other prefix is fully outside — decidable
    life.query("""
      SELECT count(*) AS n_rows, min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price, sum(o_totalprice) AS total,
             avg(o_orderkey) AS mean_key
      FROM tm.orders
      WHERE o_orderpriority >= '2' AND o_orderpriority < '4'""")
      .select(col("n_rows"),
        col("min_price").cast("double").as("min_price"),
        col("max_price").cast("double").as("max_price"),
        col("total").cast("double").as("total"), col("mean_key"))
  }

  /**
   * Metadata-only aggregation over a HIDDEN-partitioned table: on a
   * `days(ts)` layout, a day-aligned time bound decides every
   * partition interval exactly (contains / excludes — a straddling
   * bound falls back to the scan, StatsAggSpec pins both), so
   * count/count(c)/sum(c) fold from the `_stats` sidecars with zero
   * data I/O even though the PREDICATE names the source column, not
   * the partition key. The 100 TB shape: `count(*) WHERE ts >= day`
   * on an event firehose = a metadata read.
   */
  private def sqlAggMetaHidden(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlaggmetah_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA hm")
    life.execute("""
      CREATE TABLE hm.events (ts TIMESTAMP, event_id BIGINT)
      USING ICEBERG PARTITIONED BY (days(ts))""")
    life.execute(
      "ALTER TABLE hm.events SET TBLPROPERTIES " +
        "('graft.statsColumns'='event_id')")
    Tables.load(s, dir, "events")
      .select(col("ts"), col("event_id"))
      .where(col("ts") < expr("TIMESTAMP'2024-01-11 00:00:00'"))
      .createOrReplaceTempView("aggmetah_src")
    life.execute("INSERT INTO hm.events SELECT * FROM aggmetah_src")
    life.query("""
      SELECT count(*) AS n_rows, count(event_id) AS n_ids,
             min(event_id) AS min_id, max(event_id) AS max_id,
             sum(event_id) AS sum_id
      FROM hm.events
      WHERE ts >= TIMESTAMP'2024-01-04 00:00:00'
        AND ts < TIMESTAMP'2024-01-09 00:00:00'""")
  }

  /**
   * Named-tag time travel through the statement door: tag the
   * pre-March state, insert March, read back AS OF the tag — the
   * Iceberg `CREATE TAG` + `VERSION AS OF '<name>'` surface.
   * RefsOrderSpec pins replace/drop/refs-listing/vacuum-retention;
   * this gate pins the pinned DATA against DuckDB's replay of the
   * pre-tag inserts.
   */
  private def sqlTagRead(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqltag_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA tr")
    life.execute("""
      CREATE TABLE tr.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    val base = monthlyOrders(s, dir)
    base.where(col("month").between("1995-01", "1995-02"))
      .createOrReplaceTempView("tag_src_early")
    base.where(col("month") === "1995-03")
      .createOrReplaceTempView("tag_src_late")
    life.execute("INSERT INTO tr.orders SELECT * FROM tag_src_early")
    life.execute("ALTER TABLE tr.orders CREATE TAG before_march")
    life.execute("INSERT INTO tr.orders SELECT * FROM tag_src_late")
    life.query("""
      SELECT month, count(*) AS n_rows, sum(o_totalprice) AS total
      FROM tr.orders VERSION AS OF 'before_march'
      GROUP BY month ORDER BY month""")
      .select(col("month"), col("n_rows"),
        col("total").cast("double").as("total"))
  }

  /**
   * Declared write order through the statement door (`WRITE ORDERED
   * BY` + `graft.maxRecordsPerFile` + `graft.statsColumns` — Iceberg's
   * SortOrder): inserts cluster-sort each partition on the order
   * column and roll files along it, so files carry disjoint key ranges
   * and a routed range statement skips most of them (plan shape pinned
   * by RefsOrderSpec). This gate pins the ANSWER of the range read
   * over the ordered layout against DuckDB.
   */
  private def sqlWriteOrderRange(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlworder_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA wr")
    life.execute("""
      CREATE TABLE wr.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute("ALTER TABLE wr.orders SET TBLPROPERTIES " +
      "('graft.statsColumns'='o_orderkey', 'graft.maxRecordsPerFile'='64')")
    life.execute("ALTER TABLE wr.orders WRITE ORDERED BY (o_orderkey)")
    monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-03"))
      .createOrReplaceTempView("worder_src")
    life.execute("INSERT INTO wr.orders SELECT * FROM worder_src")
    life.query("""
      SELECT month, o_orderkey, o_totalprice FROM wr.orders
      WHERE o_orderkey BETWEEN 1000 AND 3000
      ORDER BY month, o_orderkey""")
      .select(col("month"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
  }

  /**
   * Materialized view with incremental refresh through the statement
   * door (`CREATE/REFRESH MATERIALIZED VIEW` → ops/Mview +
   * IncrementalAgg delta maintenance): materialize at months 01–02,
   * insert month 03, retract month 01, REFRESH — each refresh folds
   * only the touched partitions (MviewSpec pins the delta plan shape,
   * exactly-once cursor semantics, MoR-delete windows and group
   * death); this gate pins the refreshed NUMBERS against DuckDB's
   * from-scratch recompute of the final state.
   */
  private def sqlMviewRefresh(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlmview_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA mvg")
    life.execute("""
      CREATE TABLE mvg.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    val base = monthlyOrders(s, dir)
    base.where(col("month").between("1995-01", "1995-02"))
      .createOrReplaceTempView("mvg_early")
    base.where(col("month") === "1995-03")
      .createOrReplaceTempView("mvg_late")
    life.execute("INSERT INTO mvg.orders SELECT * FROM mvg_early")
    life.execute("CREATE MATERIALIZED VIEW mvg.monthly AS " +
      "SELECT month, count(*) AS n_rows, sum(o_totalprice) AS total " +
      "FROM mvg.orders WHERE o_orderkey > 100 GROUP BY month")
    life.execute("INSERT INTO mvg.orders SELECT * FROM mvg_late")
    life.execute("DELETE FROM mvg.orders WHERE month = '1995-01'")
    life.execute("REFRESH MATERIALIZED VIEW mvg.monthly")
    life.query("SELECT month, n_rows, total FROM mvg.monthly")
      .select(col("month"), col("n_rows"),
        col("total").cast("double").as("total"))
      .orderBy("month")
  }

  /**
   * VAR_SAMP/STDDEV materialized view through the statement door: the
   * state carries the subtractable (cnt, sum, sumsq) triple per group
   * — inserts AND deletes fold by the delta rule with no rescan ever
   * (unlike min/max), because Σx² subtracts exactly like Σx. The
   * projection is the algebraic (Σx² − (Σx)²/n)/(n−1) over exact
   * integer-valued sums, replayed term-for-term by the oracle so the
   * doubles match bit-for-bit before the defensive round(4).
   */
  private def sqlMviewStddev(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlmviewsd_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA mvv")
    life.execute("""
      CREATE TABLE mvv.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    val base = monthlyOrders(s, dir)
    base.where(col("month").between("1995-01", "1995-02"))
      .createOrReplaceTempView("mvv_early")
    base.where(col("month") === "1995-03")
      .createOrReplaceTempView("mvv_late")
    life.execute("INSERT INTO mvv.orders SELECT * FROM mvv_early")
    life.execute("CREATE MATERIALIZED VIEW mvv.spread AS " +
      "SELECT month, count(*) AS n_rows, var_samp(o_orderkey) AS key_var, " +
      "stddev(o_orderkey) AS key_sd FROM mvv.orders GROUP BY month")
    life.execute("INSERT INTO mvv.orders SELECT * FROM mvv_late")
    life.execute("DELETE FROM mvv.orders WHERE month = '1995-02' " +
      "AND o_orderkey > 40000")
    life.execute("REFRESH MATERIALIZED VIEW mvv.spread")
    life.query("SELECT month, n_rows, key_var, key_sd FROM mvv.spread")
      .select(col("month"), col("n_rows"),
        round(col("key_var"), 4).as("key_var"),
        round(col("key_sd"), 4).as("key_sd"))
      .orderBy("month")
  }

  /**
   * MIN/MAX materialized view through the statement door (the
   * round-17 verdict's first ask): extremes are not subtractable, so
   * `IncrementalAgg.fold` merges inserts via least/greatest and
   * RESCANS only the groups a delete might have de-extremed — the
   * month-02 delete removes that group's maximum (rescan path), the
   * month-01 delete removes strictly-inside values (provably no
   * rescan). The refreshed extremes must hash-equal DuckDB's
   * from-scratch recompute of the final state.
   */
  private def sqlMviewMinmax(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlmviewmm_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA mvx")
    life.execute("""
      CREATE TABLE mvx.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    val base = monthlyOrders(s, dir)
    base.where(col("month").between("1995-01", "1995-02"))
      .createOrReplaceTempView("mvx_early")
    base.where(col("month") === "1995-03")
      .createOrReplaceTempView("mvx_late")
    life.execute("INSERT INTO mvx.orders SELECT * FROM mvx_early")
    life.execute("CREATE MATERIALIZED VIEW mvx.extremes AS " +
      "SELECT month, count(*) AS n_rows, min(o_totalprice) AS lo, " +
      "max(o_totalprice) AS hi FROM mvx.orders GROUP BY month")
    life.execute("INSERT INTO mvx.orders SELECT * FROM mvx_late")
    // de-extreme month 02 (its max leaves → affected-group rescan) …
    life.execute("DELETE FROM mvx.orders WHERE month = '1995-02' " +
      "AND o_totalprice > 150000.00")
    life.execute("REFRESH MATERIALIZED VIEW mvx.extremes")
    // … and carve a strictly-inside band out of month 01 (no rescan)
    life.execute("DELETE FROM mvx.orders WHERE month = '1995-01' " +
      "AND o_totalprice BETWEEN 10000.00 AND 20000.00")
    life.execute("REFRESH MATERIALIZED VIEW mvx.extremes")
    life.query("SELECT month, n_rows, lo, hi FROM mvx.extremes")
      .select(col("month"), col("n_rows"),
        col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi"))
      .orderBy("month")
  }

  /**
   * AVG materialized view through the statement door: the state
   * carries the exact (sum, non-null count) pair per group — `avg`
   * projects as one double division over exact integers, so DuckDB's
   * `sum/count` replay matches bit for bit. The month-02 delete
   * shrinks a group mid-history; counts/sums fold by the delta rule
   * with no rescan ever.
   */
  private def sqlMviewAvg(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlmviewavg_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA mvw")
    life.execute("""
      CREATE TABLE mvw.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    val base = monthlyOrders(s, dir)
    base.where(col("month").between("1995-01", "1995-02"))
      .createOrReplaceTempView("mvw_early")
    base.where(col("month") === "1995-03")
      .createOrReplaceTempView("mvw_late")
    life.execute("INSERT INTO mvw.orders SELECT * FROM mvw_early")
    life.execute("CREATE MATERIALIZED VIEW mvw.means AS " +
      "SELECT month, count(*) AS n_rows, avg(o_orderkey) AS mean_key, " +
      "sum(o_totalprice) AS total FROM mvw.orders " +
      "WHERE o_orderkey > 100 GROUP BY month")
    life.execute("INSERT INTO mvw.orders SELECT * FROM mvw_late")
    life.execute("DELETE FROM mvw.orders WHERE month = '1995-02' " +
      "AND o_orderkey > 40000")
    life.execute("REFRESH MATERIALIZED VIEW mvw.means")
    life.query("SELECT month, n_rows, mean_key, total FROM mvw.means")
      .select(col("month"), col("n_rows"), col("mean_key"),
        col("total").cast("double").as("total"))
      .orderBy("month")
  }

  /**
   * Multi-table transaction (ops/Txn — the Iceberg REST-catalog
   * transaction shape over the file-based logs): the reference's
   * promote+cumulate pair committed as one transaction per "day"
   * (month here), twice, then read back through `Txn.readAll`'s
   * snapshot-consistent resolution. The oracle replays the final pair
   * from scratch; TxnSpec pins the crash-window recovery and the
   * never-see-partial reader guarantee.
   */
  private def txnPair(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Txn
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_txnpair_").toString
    val (fact, cum) = (s"$root/fact", s"$root/cum")
    def cumOf(upTo: String) = base.where(col("month") <= upTo)
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum("o_totalprice").as("cum_price"))
    Txn.commit(Seq(
      Txn.Write(base.where(col("month") === "1995-01"), fact, "month"),
      Txn.Write(cumOf("1995-01"), cum, "month")))
    Txn.commit(Seq(
      Txn.Write(base.where(col("month") === "1995-02"), fact, "month"),
      Txn.Write(cumOf("1995-02"), cum, "month")))
    val Seq(f, c) = Txn.readAll(s, Seq(fact, cum))
    f.groupBy("month")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_totalprice").cast("double").as("total_price"))
      .join(c.select(col("month"), col("n_orders"),
        col("cum_price").cast("double").as("cum_price")), Seq("month"))
      .select(col("month").cast("string").as("month"), col("n_rows"),
        col("total_price"), col("n_orders"), col("cum_price"))
      .orderBy("month")
  }

  /**
   * The same promote+cumulate pair as `txn_pair`, spelled ENTIRELY in
   * statement texts through `BEGIN … COMMIT` (the round-17 verdict's
   * third ask): each month is one transaction — the reference's
   * idempotent DELETE-day (a no-op that still takes its tagged
   * position), the INSERT promote, and a cumulate that reads the rows
   * its own transaction just wrote. The final pair resolves through
   * `Txn.readAll`'s snapshot-consistent read and must hash-equal
   * txn_pair's from-scratch oracle; PipelineSpec pins mid-transaction
   * isolation, ROLLBACK, and crash recovery on door open.
   */
  private def sqlTxnPair(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqltxnpair_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA tp")
    life.execute("""
      CREATE TABLE tp.fact (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute("""
      CREATE TABLE tp.cum (month STRING, n_orders BIGINT,
        cum_price DECIMAL(28,2))
      USING ICEBERG PARTITIONED BY (month)""")
    val base = monthlyOrders(s, dir)
    for (m <- Seq("1995-01", "1995-02")) {
      base.where(col("month") === m)
        .createOrReplaceTempView("txp_month")
      base.where(col("month") <= m)
        .createOrReplaceTempView("txp_upto")
      life.execute("BEGIN")
      life.execute(s"DELETE FROM tp.fact WHERE month = '$m'")
      life.execute("INSERT INTO tp.fact SELECT * FROM txp_month")
      life.execute("INSERT OVERWRITE tp.cum SELECT month, " +
        "count(*) AS n_orders, sum(o_totalprice) AS cum_price " +
        "FROM txp_upto GROUP BY month")
      life.execute("COMMIT")
    }
    val Seq(f, c) = graft.ops.Txn.readAll(s,
      Seq(s"$root/tp/fact", s"$root/tp/cum"))
    f.groupBy("month")
      .agg(count(lit(1)).as("n_rows"),
        sum("o_totalprice").cast("double").as("total_price"))
      .join(c.select(col("month"), col("n_orders"),
        col("cum_price").cast("double").as("cum_price")), Seq("month"))
      .select(col("month").cast("string").as("month"), col("n_rows"),
        col("total_price"), col("n_orders"), col("cum_price"))
      .orderBy("month")
  }

  /**
   * MERGE INTO and UPDATE riding `BEGIN … COMMIT` (the round-18
   * verdict's transaction-body widening): the CDC pipeline shape —
   * dimension bootstrap-MERGE + fact promote as one transaction, then
   * dimension update-MERGE + fact promote + a row-level fact UPDATE as
   * a second — each statement one tagged single-commit position. The
   * oracle recomputes the final cross-table state from scratch;
   * PipelineSpec pins position tags, the mid-COMMIT failure rollback,
   * and the WITH SCHEMA EVOLUTION refusal.
   */
  private def sqlTxnMerge(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqltxnmerge_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA tmg")
    life.execute("""
      CREATE TABLE tmg.dim (b STRING, o_custkey BIGINT, seg STRING)
      USING ICEBERG PARTITIONED BY (b)""")
    life.execute("""
      CREATE TABLE tmg.fact (month STRING, o_orderkey BIGINT,
        o_custkey BIGINT, o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    val orders = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM")
          .as("month"),
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    val dimBase = Tables.load(s, dir, "customer")
      .select((col("c_custkey") % 4).cast("string").as("b"),
        col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"))
    dimBase.createOrReplaceTempView("tmg_dim_seed")
    dimBase.where(col("o_custkey") % 10 === 0)
      .withColumn("seg", lit("VIP"))
      .createOrReplaceTempView("tmg_dim_upd")
    orders.where(col("month") === "1995-01")
      .createOrReplaceTempView("tmg_f1")
    orders.where(col("month") === "1995-02")
      .createOrReplaceTempView("tmg_f2")
    life.execute("BEGIN")
    life.execute("MERGE INTO tmg.dim AS t USING tmg_dim_seed AS s " +
      "ON t.o_custkey = s.o_custkey WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    life.execute("INSERT INTO tmg.fact SELECT * FROM tmg_f1")
    life.execute("COMMIT")
    life.execute("BEGIN")
    life.execute("MERGE INTO tmg.dim AS t USING tmg_dim_upd AS s " +
      "ON t.o_custkey = s.o_custkey WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    life.execute("INSERT INTO tmg.fact SELECT * FROM tmg_f2")
    life.execute("UPDATE tmg.fact SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_totalprice > 300000.00")
    life.execute("COMMIT")
    life.query("SELECT d.seg AS seg, count(*) AS n_orders, " +
        "sum(f.o_totalprice) AS total_price FROM tmg.fact f " +
        "JOIN tmg.dim d ON f.o_custkey = d.o_custkey " +
        "GROUP BY d.seg")
      .select(col("seg"), col("n_orders"),
        col("total_price").cast("double").as("total_price"))
      .orderBy("seg")
  }

  /**
   * Extended (min/max/avg) materialized view over the fact ⋈ dim
   * shape (the round-18 verdict's third ask): `IncrementalAgg.fold`
   * applied to the JOINED relation's true changed row sets — see the
   * refresh join branch in ops/Mview for the ΔJ derivation — churned
   * on EACH side: a fact insert (merge, no rescan), a fact delete that
   * de-extremes a group (rescan), and a dim row delete that strips
   * rows out of every group (dim-side delta). The oracle recomputes
   * the final joined aggregate from scratch.
   */
  private def sqlMviewJoinMinmax(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlmviewjmm_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA mvj")
    life.execute("""
      CREATE TABLE mvj.fact (month STRING, o_orderkey BIGINT,
        o_custkey BIGINT, o_totalprice DECIMAL(18,2))
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute("""
      CREATE TABLE mvj.dim (b STRING, o_custkey BIGINT, seg STRING)
      USING ICEBERG PARTITIONED BY (b)""")
    val orders = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM")
          .as("month"),
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    Tables.load(s, dir, "customer")
      .select((col("c_custkey") % 4).cast("string").as("b"),
        col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"))
      .createOrReplaceTempView("mvj_dim")
    orders.where(col("month").between("1995-01", "1995-02"))
      .createOrReplaceTempView("mvj_early")
    orders.where(col("month") === "1995-03")
      .createOrReplaceTempView("mvj_late")
    life.execute("INSERT INTO mvj.fact SELECT * FROM mvj_early")
    life.execute("INSERT INTO mvj.dim SELECT * FROM mvj_dim")
    life.execute("CREATE MATERIALIZED VIEW mvj.x AS " +
      "SELECT seg, count(*) AS n, min(o_totalprice) AS lo, " +
      "max(o_totalprice) AS hi, avg(o_orderkey) AS mean " +
      "FROM mvj.fact JOIN mvj.dim USING (o_custkey) GROUP BY seg")
    // fact-side insert: least/greatest merge, no rescan
    life.execute("INSERT INTO mvj.fact SELECT * FROM mvj_late")
    life.execute("REFRESH MATERIALIZED VIEW mvj.x")
    // fact-side delete de-extremes month-02 maxima → rescan over the
    // JOINED relation, restricted to the affected groups
    life.execute("DELETE FROM mvj.fact WHERE month = '1995-02' " +
      "AND o_totalprice > 150000.00")
    life.execute("REFRESH MATERIALIZED VIEW mvj.x")
    // dim-side row delete (MoR sidecar): every seventh customer leaves
    // — its orders drop out of the join on the F_unch ⋈ ΔD_old term
    life.execute("DELETE FROM mvj.dim WHERE o_custkey % 7 = 0")
    life.execute("REFRESH MATERIALIZED VIEW mvj.x")
    life.query("SELECT seg, n, lo, hi, mean FROM mvj.x")
      .select(col("seg"), col("n"),
        col("lo").cast("double").as("lo"),
        col("hi").cast("double").as("hi"), col("mean"))
      .orderBy("seg")
  }

  /**
   * Keyed UPSERT into the versioned format
   * (`VersionedPartitioned.upsertInto` — the CDC-ingestion primitive
   * `Streaming.upsertSink` wraps with the exactly-once epoch
   * contract): one atomic commit lands the batch's rows and retires
   * existing rows sharing a batch key, folding only the touched
   * partitions. The batch re-prices part of month 01 and appends
   * month 03; month 02 must ride untouched. DuckDB recomputes the
   * final keyed state from scratch.
   */
  private def versionedUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.VersionedPartitioned
    val root = java.nio.file.Files
      .createTempDirectory("graft_vupsert_").toString
    val base = monthlyOrders(s, dir)
    VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")),
      root, "month")
    val batch = base
      .where(col("month") === "1995-01" && col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice") * 2).cast("decimal(18,2)"))
      .unionByName(base.where(col("month") === "1995-03"))
    VersionedPartitioned.upsertInto(batch, root, "month",
      Seq("month", "o_orderkey"))
    VersionedPartitioned.read(s, root)
      .groupBy(col("month").cast("string").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        sum("o_totalprice").cast("double").as("total"))
      .orderBy("month")
  }

  /**
   * WARC container ingestion (ext/Warc): build a deterministic
   * synthetic crawl from the documents table — 8 `.warc.gz` files, one
   * gzip member per record, executor-written (no driver collect) —
   * stream-parse it back (one task per file, O(record) memory), and
   * HTTP-split the response payloads. The oracle reconstructs every
   * record's exact bytes in SQL: container parsing must lose or alter
   * NOTHING — lengths and body hashes match or the gate fails.
   */
  private def warcExtract(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_warc_").toString
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(8, col("doc_id")).sortWithinPartitions("doc_id")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.ext.Warc.writeFixture(s"$tmp/part-$pid.warc.gz",
            it.map { r =>
              val id = r.getLong(0)
              val html = s"<html><head><title>doc-$id</title></head>" +
                s"<body><p>${r.getString(2)}</p></body></html>"
              val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html" +
                "\r\n\r\n" + html
              ("response", s"https://example.org/${r.getString(1)}/$id",
                "application/http; msgtype=response",
                http.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }, gzip = true)
        }
      }
    graft.ext.Warc.records(s, tmp)
      .where(col("warc_type") === "response")
      .select(col("target_uri"), col("content_length"),
        md5(col("body")).as("body_md5"))
      .orderBy("target_uri")
  }

  /**
   * WET (extracted-text) container ingestion: the same crawl shape
   * with `conversion` records carrying plain text — the form Common
   * Crawl ships pre-extracted corpora in, and the direct feed into
   * `curateCorpus`. Round-trips the documents table byte-exactly.
   */
  private def wetExtract(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wet_").toString
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(8, col("doc_id")).sortWithinPartitions("doc_id")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.ext.Warc.writeFixture(s"$tmp/part-$pid.wet.gz",
            it.map { r =>
              ("conversion",
                s"https://example.org/${r.getString(1)}/${r.getLong(0)}",
                "text/plain",
                r.getString(2)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }, gzip = true)
        }
      }
    graft.ext.Warc.wetTexts(graft.ext.Warc.records(s, tmp))
      .select(col("target_uri"),
        octet_length(col("text").cast("binary")).cast("long")
          .as("text_bytes"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("target_uri")
  }

  /**
   * URL-level crawl dedup (`Warc.dedupByUrl` over `Warc.canonicalUrl`):
   * the synthetic crawl writes each document 1–3 times under VARIANT
   * spellings of one logical URL — scheme http/https in mixed case,
   * host case permuted, query parameters reordered, a fragment
   * appended — and the reader must collapse them to one canonical URL
   * each, keep the FIRST capture (the ` v0` payload), and count the
   * copies. The oracle states the expected canonical form and survivor
   * bytes directly; ExtSpec pins the canonicalization edge cases.
   */
  private def dedupUrl(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_dedupurl_").toString
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(8, col("doc_id")).sortWithinPartitions("doc_id")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.ext.Warc.writeFixture(s"$tmp/part-$pid.wet.gz",
            it.flatMap { r =>
              val (id, src, text) =
                (r.getLong(0), r.getString(1), r.getString(2))
              val qa = id % 5
              val variants = Seq(
                s"https://Example.ORG/$src/$id?a=$qa&b=2",
                s"http://example.org/$src/$id?b=2&a=$qa#sec1",
                s"HTTPS://EXAMPLE.org/$src/$id?b=2&a=$qa")
              (0 to (id % 3).toInt).map { v =>
                ("conversion", variants(v), "text/plain",
                  (text + s" v$v")
                    .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              }
            }, gzip = true)
        }
      }
    graft.ext.Warc.dedupByUrl(graft.ext.Warc.records(s, tmp))
      .select(col("canonical_url"), col("url_copies"),
        col("content_length"), md5(col("body")).as("body_md5"))
      .orderBy("canonical_url")
  }

  /**
   * CACHE TABLE through the statement door (ops/SqlLifecycle
   * .cacheTable — Spark's verb, snapshot-pinned and version-checked):
   * the cached read serves the first aggregate; the INSERT after it
   * bumps the table version, so the final routed aggregate MUST see
   * month 03 — a stale cache would hash-fail here. PipelineSpec pins
   * the in-memory plan shape; this gate pins the data.
   */
  private def sqlCacheTable(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlcache_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA c")
    life.execute("""
      CREATE TABLE c.t (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18, 2))
      USING ICEBERG PARTITIONED BY (month)""")
    val base = monthlyOrders(s, dir)
    base.where(col("month").between("1995-01", "1995-02"))
      .createOrReplaceTempView("sqlcache_src1")
    life.execute("INSERT INTO c.t SELECT * FROM sqlcache_src1")
    life.execute("CACHE TABLE c.t")
    // served from the pinned snapshot
    life.query("SELECT count(*) AS n FROM c.t").collect()
    // the write bumps the version: the cache entry is now stale and
    // the next read drops it — month 03 must appear below
    base.where(col("month") === "1995-03")
      .createOrReplaceTempView("sqlcache_src2")
    life.execute("INSERT INTO c.t SELECT * FROM sqlcache_src2")
    life.query("""
      SELECT month, count(*) AS n_rows,
             CAST(sum(o_totalprice) AS DOUBLE) AS total_price
      FROM c.t GROUP BY month ORDER BY month""")
  }

  /** Hidden partitioning, day transform (ops/HiddenPartition): events
    * promoted under days(ts) — the user never supplies a partition
    * key — then a two-week SOURCE-column range read that prunes at the
    * manifest to the in-range day partitions (HiddenPartitionSpec pins
    * the file-level pruning; this row pins that what pruning keeps is
    * the right data). Aggregates are exact longs. */
  private def versionedHiddenDays(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val root = java.nio.file.Files
      .createTempDirectory("graft_vhday_").resolve("t").toString
    graft.ops.HiddenPartition.promote(ev, root, graft.ops.DaysOf("ts"))
    graft.ops.HiddenPartition.readRange(s, root,
        lit("2024-01-08 00:00:00").cast("timestamp"),
        lit("2024-01-21 23:59:59.999999").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      .orderBy("event_type")
  }

  /** Hidden partitioning, bucket transform: events promoted under
    * bucket(16, user_id), then a point lookup on the SOURCE column
    * that prunes to the single hash bucket plus the residual equality
    * (hash collisions share the bucket). */
  private def versionedHiddenBucket(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val root = java.nio.file.Files
      .createTempDirectory("graft_vhbucket_").resolve("t").toString
    graft.ops.HiddenPartition.promote(ev, root,
      graft.ops.BucketOf(16, "user_id"))
    graft.ops.HiddenPartition.readEquals(s, root, lit(42L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      .orderBy("event_type")
  }

  /**
   * Fan-in-bounded promote run
   * (ops/VersionedPartitioned.compactIfNeeded): twelve single-month
   * promotes, each followed by the partition-targeted compaction policy
   * at maxSnapshots=3 — repeated targeted consolidation must be
   * content-preserving, so the read equals the plain per-month
   * aggregate. VersionedSpec separately pins the bounded fan-in and the
   * amortized (never whole-table) rewrite cost; this row pins that what
   * the policy keeps is the right data.
   */
  private def versionedCompacted(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vcompact_").resolve("t").toString
    (1 to 12).map(m => f"1995-$m%02d").foreach { m =>
      graft.ops.VersionedPartitioned.promote(
        base.where(col("month") === m), root, "month")
      graft.ops.VersionedPartitioned.compactIfNeeded(s, root,
        maxSnapshots = 3)
    }
    monthTotals(graft.ops.VersionedPartitioned.read(s, root))
  }

  /**
   * Time travel with snapshot isolation
   * (ops/VersionedPartitioned.readAt): after a later promote rewrites
   * 1995-02 with uplifted prices, a read pinned at the FIRST version
   * must still see the original rows — the rewrite may not leak
   * backwards. The oracle is simply the original three months.
   */
  private def versionedTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtt_").resolve("t").toString
    val v1 = graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("o_totalprice",
          round(col("o_totalprice") * lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
            .cast("decimal(18,2)")),
      root, "month")
    monthTotals(graft.ops.VersionedPartitioned.readAt(s, root, v1))
  }

  /**
   * Write-audit-publish gate (ops/Versioned.commitToBranch/publish —
   * the Iceberg WAP workflow the reference's staging→production
   * promote approximates with table copies, `dags/dag.py:119-160`):
   * main starts at Jan–Feb; the corrected Jan–Mar set is staged on an
   * `audit` branch (invisible to main), audited (non-empty + no NULL
   * keys), and published as a metadata-only fast-forward. A second
   * branch staging garbage is audit-rejected via `dropBranch` and must
   * leave the published state untouched. The final main read feeds the
   * shared month-totals shape, so the oracle is the direct Jan–Mar
   * aggregation — publish semantics, not a weaker rows-only check.
   */
  private def wapPublish(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Versioned
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_wap_").resolve("t").toString
    Versioned.commit(base.where(col("month").between("1995-01", "1995-02")), root)
    val staged = base.where(col("month").between("1995-01", "1995-03"))
    Versioned.commitToBranch(staged, root, "audit")
    val auditRead = Versioned.readBranch(s, root, "audit")
    val bad = auditRead.where(col("o_orderkey").isNull).limit(1).count()
    require(bad == 0 && !auditRead.isEmpty, "audit failed; not publishing")
    Versioned.publish(s, root, "audit")
    Versioned.commitToBranch(staged.limit(3), root, "bad")
    Versioned.dropBranch(s, root, "bad")
    monthTotals(Versioned.read(s, root))
  }

  /**
   * Rollback gate (ops/VersionedPartitioned.rollbackTo — Iceberg
   * `rollback_to_snapshot`): promote Jan–Mar, land a bad Feb repricing,
   * roll back metadata-only, and read main — which must serve the
   * ORIGINAL state while the bad version stays time-travelable (both
   * asserted here, only the final state hashed). Shares
   * versioned_timetravel's oracle shape by construction.
   */
  private def versionedRollback(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.VersionedPartitioned
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vrb_").resolve("t").toString
    val v1 = VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    val v2 = VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(18,2)")),
      root, "month")
    VersionedPartitioned.rollbackTo(s, root, v1)
    require(VersionedPartitioned.readAt(s, root, v2)
      .where(col("month") === "1995-02").limit(1).count() == 1,
      "bad version must stay inspectable after rollback")
    monthTotals(VersionedPartitioned.read(s, root))
  }

  /**
   * Partitioned write-audit-publish gate
   * (ops/VersionedPartitioned.promoteToBranch/publish — WAP over the
   * fact-table format, where a branch stages PARTITION MERGES against
   * main's manifest): main holds Jan–Mar; the audit branch overwrites
   * February (+10% repricing) and appends April across two branch
   * promotes — the second must merge onto the branch head, not main —
   * then publishes metadata-only. Jan/Mar must still be served by
   * main's original snapshot (inherited by reference through the fork).
   */
  private def wapPublishPartitioned(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.VersionedPartitioned
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_wapp_").resolve("t").toString
    VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    VersionedPartitioned.promoteToBranch(
      base.where(col("month") === "1995-02")
        .withColumn("o_totalprice",
          round(col("o_totalprice") * lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
            .cast("decimal(18,2)")),
      root, "audit", "month")
    VersionedPartitioned.promoteToBranch(
      base.where(col("month") === "1995-04"), root, "audit", "month")
    require(!VersionedPartitioned.readBranch(s, root, "audit").isEmpty,
      "audit failed; not publishing")
    VersionedPartitioned.publish(s, root, "audit")
    monthTotals(VersionedPartitioned.read(s, root))
  }

  /**
   * Timestamp time travel (Iceberg `FOR TIMESTAMP AS OF`,
   * ops/VersionedPartitioned.readAsOf; reference `README.md:76` names
   * the capability): the same pinned-history shape as
   * `versioned_timetravel`, but v1 is resolved from a wall-clock
   * captured BETWEEN the two promotes (commit-file mtime resolution)
   * instead of by version number. Shares `versioned_timetravel`'s
   * oracle, so the two resolution paths must hash-agree.
   */
  private def versionedTimeTravelTs(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vtts_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    val ts = System.currentTimeMillis()
    // commit-file mtimes are millisecond-granular on this filesystem:
    // hold the second promote strictly after the captured instant
    Thread.sleep(25)
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("o_totalprice",
          round(col("o_totalprice") * lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
            .cast("decimal(18,2)")),
      root, "month")
    monthTotals(graft.ops.VersionedPartitioned.readAsOf(s, root, ts))
  }

  /**
   * Time-travel SQL SUGAR gate (Iceberg's `VERSION AS OF` /
   * `TIMESTAMP AS OF` SELECT syntax, reference `README.md:76`): the
   * pinned-history shape of `versioned_timetravel_ts`, but the table
   * lives in the `SqlLifecycle` catalog, history is made by raw
   * lifecycle statements (INSERT jan–mar → v1; DELETE + INSERT
   * repriced feb → v2, v3), and the pinned read is a raw SELECT with
   * `TIMESTAMP AS OF '<instant between v1 and v2>'` through the query
   * door — which must recover the ORIGINAL jan–mar state and so share
   * `versioned_timetravel`'s oracle. `VERSION AS OF 1` is required
   * row-identical inline (both resolve through `readAt`).
   */
  private def sqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqltt_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA IF NOT EXISTS ns")
    life.execute("""
      CREATE TABLE IF NOT EXISTS ns.orders_monthly
      (month STRING, o_orderkey BIGINT, o_totalprice DECIMAL(18, 2))
      USING ICEBERG PARTITIONED BY (month)""")
    base.createOrReplaceTempView("raw_monthly_orders")
    life.execute("""
      INSERT INTO ns.orders_monthly
      SELECT month, o_orderkey, o_totalprice FROM raw_monthly_orders
      WHERE month BETWEEN '1995-01' AND '1995-03'""")
    val ts = System.currentTimeMillis()
    Thread.sleep(25) // commit mtimes are ms-granular; see versionedTimeTravelTs
    life.execute("DELETE FROM ns.orders_monthly WHERE month = '1995-02'")
    life.execute("""
      INSERT INTO ns.orders_monthly
      SELECT month, o_orderkey,
             CAST(round(o_totalprice * CAST(1.1 AS DECIMAL(3,1)), 2)
                  AS DECIMAL(18,2))
      FROM raw_monthly_orders WHERE month = '1995-02'""")
    val iso = java.time.Instant.ofEpochMilli(ts).toString
    val byTs = life.query(
      s"SELECT * FROM ns.orders_monthly TIMESTAMP AS OF '$iso'")
    val byV = life.query(
      "SELECT * FROM ns.orders_monthly VERSION AS OF 1")
    require(byTs.count() == byV.count(),
      "TIMESTAMP AS OF and VERSION AS OF must pin the same snapshot")
    monthTotals(byTs)
  }

  /**
   * WAP-from-statement-texts gate (ops/SqlLifecycle branch routing —
   * the Iceberg scripting shape of `wap_publish_partitioned`, whose
   * oracle it shares): main loads Jan–Mar through raw INSERT texts;
   * `ALTER TABLE … CREATE BRANCH audit` forks the audit branch;
   * `INSERT OVERWRITE t.branch_audit` stages the February repricing
   * (partition replace on the branch head); `INSERT INTO
   * t.branch_audit` appends April; the audit reads the branch through
   * the query door's `t.branch_<b>` suffix while main must still
   * serve the original state; `CALL system.fast_forward` publishes
   * metadata-only. Every step is a statement text — the door an
   * Iceberg user actually scripts WAP through.
   */
  private def sqlWapBranch(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlwap_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA wap")
    life.execute("""
      CREATE TABLE wap.orders_monthly
      (month STRING, o_orderkey BIGINT, o_totalprice DECIMAL(18, 2))
      USING ICEBERG PARTITIONED BY (month)""")
    base.createOrReplaceTempView("raw_wap_orders")
    life.execute("""
      INSERT INTO wap.orders_monthly
      SELECT month, o_orderkey, o_totalprice FROM raw_wap_orders
      WHERE month BETWEEN '1995-01' AND '1995-03'""")
    life.execute("ALTER TABLE wap.orders_monthly CREATE BRANCH audit")
    life.execute("""
      INSERT OVERWRITE wap.orders_monthly.branch_audit
      SELECT month, o_orderkey,
             CAST(round(o_totalprice * CAST(1.1 AS DECIMAL(3,1)), 2)
                  AS DECIMAL(18,2))
      FROM raw_wap_orders WHERE month = '1995-02'""")
    life.execute("""
      INSERT INTO wap.orders_monthly.branch_audit
      SELECT month, o_orderkey, o_totalprice FROM raw_wap_orders
      WHERE month = '1995-04'""")
    // the audit: branch serves 4 staged months; main still the original 3
    val audit = life.query("""
      SELECT count(DISTINCT month) AS m
      FROM wap.orders_monthly.branch_audit""").collect().head.getLong(0)
    require(audit == 4, s"audit read expected 4 branch months, got $audit")
    val mainMonths = life.query(
      "SELECT count(DISTINCT month) AS m FROM wap.orders_monthly")
      .collect().head.getLong(0)
    require(mainMonths == 3,
      s"staged branch writes leaked into main ($mainMonths months)")
    life.execute(
      "CALL catalog.system.fast_forward('wap.orders_monthly', 'audit')")
    monthTotals(life.table("wap.orders_monthly"))
  }

  /** Shared fixture of the row-level-verb SQL gates: a fresh lifecycle
    * catalog holding `sales.facts` (month-partitioned), loaded with the
    * `o_orderkey % 4 < 2` slice of three 1995 months via raw statement
    * texts. Prices ride DECIMAL(18,2) from the INSERT on, so every
    * later arithmetic is exact in both engines. */
  private def rowVerbFixture(s: SparkSession,
      dir: String): graft.ops.SqlLifecycle = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders_src")
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlrowverb_").toString
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA sales")
    life.execute("""
      CREATE TABLE sales.facts
      (o_orderkey BIGINT, o_custkey BIGINT, month STRING,
       total DECIMAL(18, 2), src STRING)
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute("""
      INSERT INTO sales.facts
      SELECT o_orderkey, o_custkey,
             date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
             CAST(o_totalprice AS DECIMAL(18, 2)) AS total,
             'base' AS src
      FROM orders_src
      WHERE date_format(to_date(o_orderdate), 'yyyy-MM')
              BETWEEN '1995-01' AND '1995-03'
        AND o_orderkey % 4 < 2""")
    life
  }

  /**
   * `CALL system.create_changelog_view` gate (ops/SqlLifecycle
   * .callProcedure → VersionedPartitioned.readRowChanges): Iceberg's
   * CDC procedure over the statement door. The fixture's v1 holds
   * months 1995-01..03; a routed partition DELETE drops 1995-01 (v2)
   * and a routed INSERT appends 1995-04 (v3); the procedure registers
   * `facts_changes` for (v1, current] and the routed SELECT aggregates
   * it — full-row identity, so the dropped month surfaces as deletes
   * and the new month as inserts, with untouched months absent (their
   * partitions are never read). Oracle replays both windows in set SQL.
   */
  private def sqlChangelogView(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("DELETE FROM sales.facts WHERE month = '1995-01'")
    life.execute("""
      INSERT INTO sales.facts
      SELECT o_orderkey, o_custkey,
             date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
             CAST(o_totalprice AS DECIMAL(18, 2)) AS total,
             'base' AS src
      FROM orders_src
      WHERE date_format(to_date(o_orderdate), 'yyyy-MM') = '1995-04'
        AND o_orderkey % 4 < 2""")
    life.execute("""
      CALL system.create_changelog_view(table => 'sales.facts',
                                        from_version => 1)""")
    life.query("""
      SELECT change_type, month, count(*) AS n_changes,
             sum(o_orderkey) AS key_sum
      FROM facts_changes
      GROUP BY change_type, month
      ORDER BY change_type, month""")
  }

  /** The gates' shared output shape (DECIMAL re-cast to DOUBLE for a
    * representation-stable hash, like the other versioned gates). */
  private def rowVerbOut(life: graft.ops.SqlLifecycle): DataFrame =
    life.table("sales.facts")
      .select(col("o_orderkey"), col("o_custkey"),
        col("month").cast("string").as("month"),
        col("total").cast("double").as("total"), col("src"))
      .orderBy("o_orderkey")

  /**
   * MERGE INTO statement-text gate, full-row form
   * (ops/SqlLifecycle.mergeInto → Merge.upsert +
   * VersionedPartitioned.overwritePartitions): the flagship Iceberg
   * upsert verb a reference user would reach for first. The source
   * overlaps the target on `o_orderkey % 4 = 1` (updated in place,
   * doubled price, relabeled) and brings `% 4 = 2` as inserts; the
   * merge key is NOT the partition column, so the write-back resolves
   * the matched rows' partitions with the semi-join probe and rewrites
   * only the affected month partitions. The oracle restates the merge
   * outcome as a direct CASE over the same slice.
   */
  private def sqlMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      MERGE INTO sales.facts AS t
      USING (SELECT o_orderkey, o_custkey,
                    date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
                    CAST(o_totalprice AS DECIMAL(18, 2)) * 2 AS total,
                    'merged' AS src
             FROM orders_src
             WHERE date_format(to_date(o_orderdate), 'yyyy-MM')
                     BETWEEN '1995-01' AND '1995-03'
               AND o_orderkey % 4 IN (1, 2)) AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    rowVerbOut(life)
  }

  /**
   * `WITH … MERGE INTO` prologue gate (ops/SqlLifecycle
   * .hoistWithIntoMerge): the changes-CTE-then-upsert text Iceberg and
   * Delta users write — the CTE prologue is hoisted into the USING
   * subquery and the statement routes through the same MERGE door.
   * Same source slice and clauses as `sql_merge_upsert`, so the two
   * gates share one oracle: the prologue must be pure syntax, changing
   * nothing about the merge outcome.
   */
  private def sqlMergeCte(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      WITH changes AS (
        SELECT o_orderkey, o_custkey,
               date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
               CAST(o_totalprice AS DECIMAL(18, 2)) * 2 AS total,
               'merged' AS src
        FROM orders_src
        WHERE date_format(to_date(o_orderdate), 'yyyy-MM')
                BETWEEN '1995-01' AND '1995-03'
          AND o_orderkey % 4 IN (1, 2))
      MERGE INTO sales.facts AS t
      USING changes AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    rowVerbOut(life)
  }

  /**
   * MERGE INTO statement-text gate, column-level + prune form
   * (Merge.merge under the front door): `UPDATE SET total = s.total`
   * must leave every non-listed column at its target value (src stays
   * 'base' on matched rows — the discriminating bit vs full-row), and
   * `WHEN NOT MATCHED BY SOURCE THEN DELETE` prunes the `% 4 = 0`
   * slice — table-wide semantics, so this exercises the whole-table
   * overwrite path including same-commit removal of partitions whose
   * rows all vanished.
   */
  private def sqlMergePrune(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      MERGE INTO sales.facts AS t
      USING (SELECT o_orderkey, o_custkey,
                    date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
                    CAST(o_totalprice AS DECIMAL(18, 2)) * 2 AS total,
                    'merged' AS src
             FROM orders_src
             WHERE date_format(to_date(o_orderdate), 'yyyy-MM')
                     BETWEEN '1995-01' AND '1995-03'
               AND o_orderkey % 4 IN (1, 2)) AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET total = s.total
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    rowVerbOut(life)
  }

  /**
   * UPDATE statement-text gate (ops/SqlLifecycle.update): expressions
   * over the OLD row (`total * 3` reads the pre-update value), a
   * second literal assignment in the same statement, and a predicate
   * on a non-partition column — the write-back rewrites only the
   * partitions holding matching rows. Oracle: the same CASE, exact
   * DECIMAL arithmetic.
   */
  private def sqlUpdateWhere(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      UPDATE sales.facts
      SET total = total * 3, src = 'boosted'
      WHERE o_custkey % 10 = 3""")
    rowVerbOut(life)
  }

  /**
   * COPY INTO statement-text gate (ops/SqlLifecycle.copyInto —
   * Databricks' idempotent file-ingest verb): the 1995-01..02 orders
   * slice lands as loose parquet files in an incoming directory;
   * COPY INTO loads them, an immediate re-run loads NOTHING
   * (file-level idempotence via the per-table ledger), and a third
   * file appearing later loads incrementally — the directory-watching
   * batch-ingest shape. Output is the per-month aggregate of the
   * table: double-loading the re-run or missing the late file fails
   * the hash. Shares `versioned_timetravel`'s oracle (plain 01..03
   * aggregate).
   */
  private def sqlCopyInto(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqlcopy_").toString
    val src = s"$root/incoming"
    base.where(col("month") === "1995-01")
      .coalesce(1).write.mode("append").parquet(src)
    base.where(col("month") === "1995-02")
      .coalesce(1).write.mode("append").parquet(src)
    val life = new graft.ops.SqlLifecycle(s, root)
    life.execute("CREATE SCHEMA ing")
    life.execute("""
      CREATE TABLE ing.orders (month STRING, o_orderkey BIGINT,
        o_totalprice DECIMAL(18, 2))
      USING ICEBERG PARTITIONED BY (month)""")
    life.execute(s"COPY INTO ing.orders FROM '$src' FILEFORMAT = PARQUET")
    // completed-run idempotence: the re-run must load zero files
    val rerun = life.execute(
      s"COPY INTO ing.orders FROM '$src' FILEFORMAT = PARQUET").get
    require(rerun.head.getLong(1) == 0L,
      "COPY INTO re-run loaded files it had already ingested")
    base.where(col("month") === "1995-03")
      .coalesce(1).write.mode("append").parquet(src)
    life.execute(s"COPY INTO ing.orders FROM '$src'")
    life.table("ing.orders")
      .groupBy(col("month").cast("string").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice")).cast("double").as("total_price"))
      .orderBy("month")
  }

  /**
   * MERGE WITH SCHEMA EVOLUTION statement-text gate
   * (ops/SqlLifecycle.mergeInto(evolve = true) →
   * evolveAddColumnMetaOnly + Merge): the source carries a NEW
   * `region` column — the router widens the target with ONE
   * metadata-only commit (existing rows read NULL, no file rewritten)
   * before the upsert routes. Matched rows take the source's region
   * and src marker, untouched rows keep NULL region and their base
   * marker, unmatched source rows insert with the full evolved row.
   * The oracle replays the three-way classification with the column
   * synthesized in SQL.
   */
  private def sqlMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      MERGE WITH SCHEMA EVOLUTION INTO sales.facts AS t
      USING (SELECT o_orderkey, o_custkey,
                    date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
                    CAST(o_totalprice AS DECIMAL(18, 2)) AS total,
                    'merged' AS src,
                    CASE WHEN o_custkey % 2 = 0 THEN 'east' ELSE 'west' END
                      AS region
             FROM orders_src
             WHERE date_format(to_date(o_orderdate), 'yyyy-MM')
                     BETWEEN '1995-01' AND '1995-03'
               AND o_orderkey % 4 IN (1, 2)) AS s
      ON t.o_orderkey = s.o_orderkey AND t.month = s.month
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    life.table("sales.facts")
      .select(col("o_orderkey"), col("o_custkey"),
        col("month").cast("string").as("month"),
        col("total").cast("double").as("total"), col("src"),
        coalesce(col("region"), lit("-")).as("region"))
      .orderBy("o_orderkey")
  }

  /**
   * General-predicate DELETE statement-text gate
   * (ops/SqlLifecycle.deleteRows → VersionedPartitioned.deleteWhere):
   * a conjunction over two non-partition columns — beyond the
   * reference's partition-equality delete shape — with copy-on-write
   * of only the partitions holding matching rows.
   */
  private def sqlDeleteRows(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute(
      "DELETE FROM sales.facts WHERE total > 150000 AND o_custkey % 2 = 0")
    rowVerbOut(life)
  }

  /**
   * ALTER TABLE … ADD COLUMN statement-text gate
   * (ops/SqlLifecycle.alterAddColumn → evolveAddColumnMetaOnly): a
   * row-dependent DEFAULT expression lands as ONE metadata commit —
   * no partition rewritten — and the evolved column must answer an
   * aggregate correctly through the query door. The oracle derives
   * the same band directly from the data, so a wrong or
   * partially-applied default fails the hash.
   */
  private def sqlAlterAdd(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      ALTER TABLE sales.facts ADD COLUMN band STRING
      DEFAULT (CASE WHEN total >= 150000 THEN 'H' ELSE 'L' END)""")
    life.query("""
      SELECT band, month, count(*) AS n_rows,
             CAST(sum(total) AS DOUBLE) AS sum_total
      FROM sales.facts GROUP BY band, month ORDER BY band, month""")
  }

  /**
   * Conditional MERGE statement-text gate (ops/SqlLifecycle.mergeInto →
   * Merge.mergeExpr): `WHEN MATCHED AND <cond>` plus value-expression
   * assignments (`SET total = t.total + s.total`) — the everyday
   * Iceberg MERGE shapes beyond same-column routing. Discriminating by
   * construction: a matched row FAILING the condition must keep ALL
   * target values (total unchanged AND src still 'base'); a matched
   * row passing it must take the t+s sum (not the bare source value,
   * which would pass a wrong same-column routing); unmatched source
   * rows insert. The oracle replays the three-way classification.
   */
  private def sqlMergeConditional(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      MERGE INTO sales.facts AS t
      USING (SELECT o_orderkey, o_custkey,
                    date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
                    CAST(o_totalprice AS DECIMAL(18, 2)) AS total,
                    'merged' AS src
             FROM orders_src
             WHERE date_format(to_date(o_orderdate), 'yyyy-MM')
                     BETWEEN '1995-01' AND '1995-03'
               AND o_orderkey % 2 = 0) AS s
      ON t.o_orderkey = s.o_orderkey AND t.month = s.month
      WHEN MATCHED AND s.total > 100000
        THEN UPDATE SET total = t.total + s.total, src = s.src
      WHEN NOT MATCHED THEN INSERT *""")
    rowVerbOut(life)
  }

  /**
   * ALTER TABLE … DROP COLUMN + re-ADD statement-text gate
   * (ops/SqlLifecycle.alterDropColumn → evolveDropColumnMetaOnly):
   * both evolutions are metadata-only commits — zero partitions
   * rewritten — and the ordered-rule replay must make the re-added
   * column start BLANK (every row answers the new default). A fake
   * drop would resurrect the old physical 'base' values and fail the
   * hash; a drop that rewrote data would still pass here but is
   * pinned metadata-only in VersionedSpec.
   */
  private def sqlAlterDrop(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("ALTER TABLE sales.facts DROP COLUMN src")
    life.execute("ALTER TABLE sales.facts ADD COLUMN src STRING DEFAULT 'evolved'")
    rowVerbOut(life)
  }

  /**
   * ALTER TABLE … RENAME COLUMN statement-text gate
   * (ops/SqlLifecycle.alterRenameColumn → evolveRenameColumnMetaOnly):
   * metadata-only rename; the old name must stop resolving and the new
   * name must answer with the SAME values through the query door —
   * including in predicates and aggregates, so a rename that dropped
   * or blanked the data fails the hash.
   */
  private def sqlAlterRename(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("ALTER TABLE sales.facts RENAME COLUMN total TO amount")
    life.query("""
      SELECT month, count(*) AS n_rows,
             CAST(sum(amount) AS DOUBLE) AS sum_amount,
             CAST(sum(CASE WHEN amount >= 150000 THEN amount END) AS DOUBLE)
               AS sum_high
      FROM sales.facts GROUP BY month ORDER BY month""")
  }

  /**
   * ALTER TABLE … ALTER COLUMN TYPE statement-text gate
   * (ops/SqlLifecycle.alterWidenColumn → evolveWidenColumnMetaOnly):
   * metadata-only lossless type widening — DECIMAL(18,2) grows to
   * DECIMAL(28,2) in one commit, zero partitions rewritten, and the
   * gate then INSERTS a value that OVERFLOWS the original precision
   * (10²⁰ needs 23 digits), so the sum only matches if the widening
   * actually took effect on both the catalog and the read path. Sums
   * stay exact in DECIMAL until the final DOUBLE cast.
   */
  private def sqlAlterWiden(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute(
      "ALTER TABLE sales.facts ALTER COLUMN total TYPE DECIMAL(28, 2)")
    life.execute("""INSERT INTO sales.facts VALUES
      (9000000001, 1, '1995-02', 100000000000000000000.00, 'wide')""")
    life.query("""
      SELECT month, count(*) AS n_rows,
             CAST(sum(total) AS DOUBLE) AS sum_total
      FROM sales.facts GROUP BY month ORDER BY month""")
  }

  /**
   * INSERT OVERWRITE statement-text gate
   * (ops/SqlLifecycle.insertOverwrite → promote): dynamic partition
   * overwrite — the February partition is replaced WHOLESALE by a
   * differently-filtered, repriced slice (rows the old partition had
   * and the new result lacks must disappear), while January and March
   * are inherited untouched. The idempotent single-statement
   * alternative to the reference's DELETE-day + INSERT pair.
   */
  private def sqlInsertOverwrite(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      INSERT OVERWRITE sales.facts
      SELECT o_orderkey, o_custkey,
             date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
             CAST(o_totalprice AS DECIMAL(18, 2)) * 2 AS total,
             'ow' AS src
      FROM orders_src
      WHERE date_format(to_date(o_orderdate), 'yyyy-MM') = '1995-02'
        AND o_orderkey % 2 = 0""")
    rowVerbOut(life)
  }

  /**
   * TRUNCATE + reload statement-text gate
   * (ops/SqlLifecycle.truncateTable → dropPartitions): truncation is
   * one metadata-only commit (zero data I/O), after which the catalog
   * still serves the declared schema and a fresh INSERT repopulates —
   * the reload-table pattern. Output is the reloaded February slice;
   * stale January/March rows surviving the truncate would fail the
   * hash.
   */
  private def sqlTruncateReload(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("TRUNCATE TABLE sales.facts")
    life.execute("""
      INSERT INTO sales.facts
      SELECT o_orderkey, o_custkey,
             date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
             CAST(o_totalprice AS DECIMAL(18, 2)) AS total,
             'reload' AS src
      FROM orders_src
      WHERE date_format(to_date(o_orderdate), 'yyyy-MM') = '1995-02'
        AND o_orderkey % 4 < 2""")
    rowVerbOut(life)
  }

  /**
   * OPTIMIZE … ZORDER BY + VACUUM statement-text gate
   * (ops/SqlLifecycle.optimizeTable → optimizeZOrderWhere, vacuum):
   * a partition-targeted z-order rewrite (the router derives the
   * range mapping from one min/max pass) followed by history
   * reclamation must be PURE RELAYOUT — row-identical content, so the
   * oracle is simply the untouched base slice. Dropped or duplicated
   * rows from the rewrite, or a vacuum eating a live snapshot, fail
   * the hash.
   */
  private def sqlOptimizeVacuum(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute(
      "OPTIMIZE sales.facts WHERE month = '1995-02' ZORDER BY (o_orderkey, o_custkey)")
    life.execute("OPTIMIZE sales.facts ZORDER BY (o_custkey, total)")
    life.execute("VACUUM sales.facts RETAIN 1 VERSIONS")
    rowVerbOut(life)
  }

  /**
   * CTAS + VIEW statement-text gate (ops/SqlLifecycle.createTableAs,
   * createView): a partitioned table created from a query (schema
   * inferred, rows landing per partition through the normal promote
   * path) and a SQL view over it, read through the query door — the
   * interactive-catalog workflow. The oracle composes the same
   * filter + aggregate directly.
   */
  private def sqlCtasView(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("""
      CREATE TABLE sales.top USING ICEBERG PARTITIONED BY (month)
      AS SELECT o_orderkey, o_custkey, month, total, src
         FROM sales.facts WHERE total >= 100000""")
    life.execute("""
      CREATE VIEW sales.monthly AS
      SELECT month, count(*) AS n_rows,
             CAST(sum(total) AS DOUBLE) AS sum_total
      FROM sales.top GROUP BY month""")
    life.query(
      "SELECT month, n_rows, sum_total FROM sales.monthly ORDER BY month")
  }

  /** The row-verb fixture's fourth month, appended via the same INSERT
    * statement text — the second commit of the metadata-table gates. */
  private def insertApril(life: graft.ops.SqlLifecycle): Unit = {
    life.execute("""
      INSERT INTO sales.facts
      SELECT o_orderkey, o_custkey,
             date_format(to_date(o_orderdate), 'yyyy-MM') AS month,
             CAST(o_totalprice AS DECIMAL(18, 2)) AS total,
             'apr' AS src
      FROM orders_src
      WHERE date_format(to_date(o_orderdate), 'yyyy-MM') = '1995-04'
        AND o_orderkey % 4 < 2""")
    ()
  }

  /**
   * Iceberg metadata-table gate, `history` suffix
   * (ops/SqlLifecycle.metadataTable →
   * VersionedPartitioned.historyDf): a three-commit script — base
   * insert, one-month copy-on-write UPDATE, new-month INSERT — read
   * back through the query door's `sales.facts.history` suffix. The
   * versions, per-version live-partition counts and the `is_current`
   * flag must reproduce the commit log exactly; the oracle derives the
   * partition counts from the data, so a manifest merge that dropped
   * or duplicated an entry fails the hash. A metadata query end to
   * end: commit-log reads only, zero data I/O. Wall-clock
   * `committed_at` stays out of the projection by contract.
   */
  private def sqlHistoryMeta(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute(
      "UPDATE sales.facts SET total = total * 2 WHERE month = '1995-02'")
    insertApril(life)
    life.query("""
      SELECT version, CAST(n_partitions AS BIGINT) AS n_partitions,
             is_current
      FROM sales.facts.history ORDER BY version""")
  }

  /**
   * Iceberg metadata-table gate, `partitions` × `files` suffixes
   * (ops/SqlLifecycle.metadataTable →
   * VersionedPartitioned.partitionsDf/filesDf): per-partition row
   * counts from the partitions table must agree with the sum of the
   * files table's per-file `record_count` (consistent by construction
   * — the gate pins it stays so) AND with the oracle's recount from
   * the raw data. Counts come from stats sidecars or parquet FOOTERS,
   * never a data scan (`filesDf` contract), so this is the
   * 100 TB-shaped "how big is each partition" query.
   */
  private def sqlPartitionsMeta(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    insertApril(life)
    life.query("""
      SELECT p.month, p.n_rows, f.n_rows_files,
             CAST(p.n_delete_files AS BIGINT) AS n_delete_files
      FROM sales.facts.partitions p
      JOIN (SELECT month, sum(record_count) AS n_rows_files
            FROM sales.facts.files GROUP BY month) f
        ON p.month = f.month
      ORDER BY p.month""")
  }

  /**
   * ANALYZE TABLE statement-text gate (ops/SqlLifecycle.analyzeTable →
   * VersionedPartitioned.analyzeColumns, read back through the
   * `column_stats` metadata suffix): per-column null count, exact NDV,
   * min/max and total rendered length from ONE aggregation pass,
   * stored immutably next to the version they describe. The oracle
   * recomputes every statistic from the raw slice in DuckDB — a
   * mis-attributed null count, off-by-one NDV or wrong-version stamp
   * all fail the hash. The stats feed the query door's stats-driven
   * broadcast hint (plan shape PlanSpec-pinned; `table_bytes` is
   * file-size metadata and deliberately outside the hash).
   */
  private def sqlAnalyzeStats(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute("ANALYZE TABLE sales.facts COMPUTE STATISTICS " +
      "FOR COLUMNS o_orderkey, month, src")
    life.query("""
      SELECT col_name, n_rows, n_nulls, ndv, min_value, max_value,
             total_len,
             CAST(analyzed_version AS BIGINT) AS analyzed_version,
             CAST(current_version AS BIGINT) AS current_version
      FROM sales.facts.column_stats ORDER BY col_name""")
  }

  /**
   * SHOW PARTITIONS / SHOW CREATE TABLE statement-text gate
   * (ops/SqlLifecycle.showPartitions/showCreateTable): the partition
   * census in Spark's own `col=value` output shape — a pure manifest
   * read. SHOW CREATE TABLE is exercised inline (its DDL text must
   * carry the partition clause and the DECIMAL column through the
   * catalog round-trip); its full text stays spec-territory, the
   * partition list is the hash-gated surface.
   */
  private def sqlShowPartitions(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    val ddl = life.execute("SHOW CREATE TABLE sales.facts").get
      .head().getString(0)
    require(ddl.contains("PARTITIONED BY (month)") &&
      ddl.toLowerCase.contains("decimal(18,2)"),
      s"SHOW CREATE TABLE lost schema detail:\n$ddl")
    life.execute("SHOW PARTITIONS sales.facts").get
  }

  /**
   * CALL procedure statement-text gate
   * (ops/SqlLifecycle.callProcedure → rollbackTo/compact/vacuum):
   * Iceberg's maintenance-procedure texts run end to end — a bad
   * repricing commit is undone by `rollback_to_snapshot` (named and
   * positional argument forms both exercised), the live state is
   * rewritten by `rewrite_data_files`, and `expire_snapshots` reclaims
   * history down to the rewrite. Net content must be EXACTLY the base
   * fixture slice: a rollback landing on the wrong version, a compact
   * dropping or duplicating rows, or an expire eating the live
   * snapshot all fail the hash.
   */
  private def sqlCallRollback(s: SparkSession, dir: String): DataFrame = {
    val life = rowVerbFixture(s, dir)
    life.execute(
      "UPDATE sales.facts SET total = total * 3, src = 'oops' WHERE month = '1995-02'")
    life.execute("CALL system.rollback_to_snapshot('sales.facts', 1)")
    life.execute("CALL graft.system.rewrite_data_files(table => 'sales.facts')")
    val expired = life.execute(
      "CALL system.expire_snapshots(table => 'sales.facts', retain_last => 1)")
    require(expired.isDefined, "CALL must return a result frame")
    rowVerbOut(life)
  }

  /**
   * Schema evolution on the versioned table
   * (ops/VersionedPartitioned.evolveAddColumn): add a derived
   * price-band column to every live partition in one atomic commit,
   * then aggregate on it — the oracle derives the same band directly,
   * so the gate pins that evolution rewrote every row exactly once
   * with the declared default expression.
   */
  /**
   * PARTITION-SPEC EVOLUTION gate
   * (ops/VersionedPartitioned.repartitionTable): a two-month orders
   * slice promoted under `month` partitioning, then atomically evolved
   * to `o_orderstatus` partitioning (one whole-table rewrite + one
   * manifest swap), read back through the NEW spec and aggregated —
   * the oracle is plain SQL over the source rows, so any row lost,
   * duplicated or mis-bucketed by the rewrite fails the hash. The
   * post-evolution read also exercises stats pruning metadata written
   * under the new layout.
   */
  private def versionedRepartition(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
      .where(col("month").between("1995-01", "1995-02"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_vrepart_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(base, root, "month")
    graft.ops.VersionedPartitioned.repartitionTable(s, root, "o_orderstatus",
      statsCols = Seq("o_totalprice"))
    graft.ops.VersionedPartitioned.read(s, root)
      .groupBy(col("o_orderstatus").cast("string").as("o_orderstatus"),
        col("month").cast("string").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice")).cast("double").as("total_price"))
      .orderBy("o_orderstatus", "month")
  }

  /**
   * Incremental materialized-aggregate maintenance
   * (ops/IncrementalAgg + VersionedPartitioned.changedSides): a monthly
   * orders aggregate is materialized at v1, then v2 rewrites one month
   * (prices doubled) and adds another — and the aggregate is MAINTAINED
   * from only the touched partitions' two sides, never rescanned. The
   * oracle recomputes the post-change table from scratch in DuckDB, so
   * any drift between delta maintenance and recompute (the whole
   * correctness claim of view maintenance) fails the hash. Sums ride
   * DECIMAL end to end — exact add/subtract, no float re-association.
   */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_incragg_").resolve("t").toString
    VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    // materialize the aggregate at v1 (read() pins the v1 manifest)
    val state = IncrementalAgg.aggregate(VersionedPartitioned.read(s, root),
      Seq("month"), Seq("o_totalprice"))
    // v2: rewrite 1995-02 (repriced ×2) + add 1995-04
    VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(18,2)"))
        .unionByName(base.where(col("month") === "1995-04")),
      root, "month", writers = Some(2))
    val (oldSide, newSide) = VersionedPartitioned.changedSides(s, root, 1L)
    IncrementalAgg.maintain(state, oldSide, newSide,
        Seq("month"), Seq("o_totalprice"))
      .select(col("month").cast("string").as("month"), col("n_rows"),
        col("sum_o_totalprice").cast("double").as("total_price"))
      .orderBy("month")
  }

  /**
   * Incremental JOIN-view maintenance
   * (ops/IncrementalAgg.joinAggregate/maintainJoin): a
   * revenue-by-(month × market-segment) view over orders ⋈ customer is
   * materialized at (fact v1, dim v1), then BOTH sides change — the
   * fact reprices one month and gains another (partition replacement),
   * and the dim moves every `c_custkey % 10 = 3` customer to a new
   * segment (replacement of its two touched hash-bucket partitions,
   * which also exercises the unchanged-rows-cancel property of the
   * delta rule). The view is maintained from the two changedSides
   * pairs plus the time-traveled old fact — never a recompute — and
   * the oracle IS the from-scratch recompute in DuckDB, so any error
   * in the two-relation delta rule (dropped cross term, double count,
   * sign flip) fails the hash. Sums ride DECIMAL end to end.
   */
  private def incrementalJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val fact = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_custkey").as("c_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_custkey") % 4).as("cbucket"))
    val base = java.nio.file.Files.createTempDirectory("graft_incrjoin_")
    val froot = base.resolve("fact").toString
    val droot = base.resolve("dim").toString
    VersionedPartitioned.promote(
      fact.where(col("month").between("1995-01", "1995-03")), froot, "month")
    VersionedPartitioned.promote(dim, droot, "cbucket")
    val keys = Seq("c_custkey")
    val groups = Seq("month", "c_mktsegment")
    val sums = Seq("o_totalprice")
    // materialize at v1 × v1
    val state = IncrementalAgg.joinAggregate(
      VersionedPartitioned.read(s, froot), VersionedPartitioned.read(s, droot),
      keys, groups, sums)
    // fact v2: reprice 1995-02 ×2, add 1995-04
    VersionedPartitioned.promote(
      fact.where(col("month") === "1995-02")
        .withColumn("o_totalprice",
          (col("o_totalprice") * 2).cast("decimal(18,2)"))
        .unionByName(fact.where(col("month") === "1995-04")),
      froot, "month")
    // dim v2: segment move, written as full replacement of the touched
    // buckets (their unchanged rows ride along and must cancel)
    val movedBuckets = dim.where(col("c_custkey") % 10 === 3)
      .select(col("cbucket")).distinct()
    VersionedPartitioned.promote(
      dim.join(broadcast(movedBuckets), Seq("cbucket"))
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 10 === 3, lit("MOVED"))
            .otherwise(col("c_mktsegment"))),
      droot, "cbucket")
    val (oldF, newF) = VersionedPartitioned.changedSides(s, froot, 1L)
    val (oldD, newD) = VersionedPartitioned.changedSides(s, droot, 1L)
    IncrementalAgg.maintainJoin(state,
        oldFact = VersionedPartitioned.readAt(s, froot, 1L),
        oldFactChanged = oldF, newFactChanged = newF,
        newDim = VersionedPartitioned.read(s, droot),
        oldDimChanged = oldD, newDimChanged = newD,
        keys, groups, sums)
      .select(col("month").cast("string").as("month"), col("c_mktsegment"),
        col("n_rows"),
        col("sum_o_totalprice").cast("double").as("total_price"))
      .orderBy("month", "c_mktsegment")
  }

  /**
   * COUNT DISTINCT under delta maintenance
   * (ops/IncrementalAgg.sketchState/replaceCells/distinctCounts):
   * distinct counts are not subtractable, so the maintained view keeps
   * one mergeable HLL sketch per (partition × group) cell and a change
   * window replaces only the touched partitions' cells — the same
   * promote/rewrite shape as `incremental_agg`, with per-status
   * distinct priorities and distinct months as the maintained
   * measures. Cardinalities here (≤5 priorities, ≤4 months) keep the
   * Datasketches HLL in exact coupon mode, so the ESTIMATES equal
   * exact COUNT DISTINCT and the oracle recomputes them from scratch
   * in DuckDB — the estimate-vs-recompute drift AND the maintenance
   * rule are both hash-gated (large-cardinality accuracy stays
   * spec-territory, precedent `Profile.numericApprox`).
   */
  private def incrementalDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_incrdist_").resolve("t").toString
    VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    val cols = Seq("month", "o_orderstatus", "o_orderpriority")
    val state = IncrementalAgg.sketchState(
      VersionedPartitioned.read(s, root).select(cols.map(col): _*),
      "month", Seq("o_orderstatus"), Seq("o_orderpriority", "month"))
    // v2: rewrite 1995-02 (every priority collapsed to 1-URGENT) + add
    // 1995-04 — the distinct sets genuinely shrink and grow
    VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("o_orderpriority", lit("1-URGENT"))
        .unionByName(base.where(col("month") === "1995-04")),
      root, "month", writers = Some(2))
    val (oldSide, newSide) = VersionedPartitioned.changedSides(s, root, 1L)
    val maintained = IncrementalAgg.replaceCells(state,
        oldSide.select(cols.map(col): _*), newSide.select(cols.map(col): _*),
        "month")(
      IncrementalAgg.sketchState(_, "month", Seq("o_orderstatus"),
        Seq("o_orderpriority", "month")))
    IncrementalAgg.distinctCounts(maintained, Seq("o_orderstatus"),
        Seq("o_orderpriority", "month"))
      .orderBy("o_orderstatus")
  }

  /**
   * PERCENTILES under delta maintenance
   * (ops/IncrementalAgg.quantileState/replaceCells/quantileValues):
   * the maintained view keeps a DDSketch-style log-bucket histogram
   * per (partition × group) cell — plain (cell, bucket, n) count rows,
   * merged by addition — and the same promote/rewrite change window as
   * `incremental_agg` (1995-02 repriced ×2, 1995-04 added). Unlike the
   * HLL gate, the WHOLE read path is portable: the oracle replays the
   * bucket math, cumulative walk and rank selection in SQL from
   * scratch, so maintenance AND the sketch construction itself are
   * hash-gated on the integer bucket index (the float midpoint
   * estimate is a fixed function of it; its α-error bound is
   * AggSpec-pinned).
   */
  private def incrementalQuantile(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("v"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_incrq_").resolve("t").toString
    VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    val state = IncrementalAgg.quantileState(
      VersionedPartitioned.read(s, root), "month", Seq("o_orderstatus"), "v")
    VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("v", col("v") * 2)
        .unionByName(base.where(col("month") === "1995-04")),
      root, "month", writers = Some(2))
    val (oldSide, newSide) = VersionedPartitioned.changedSides(s, root, 1L)
    val maintained = IncrementalAgg.replaceCells(state, oldSide, newSide,
      "month")(
      IncrementalAgg.quantileState(_, "month", Seq("o_orderstatus"), "v"))
    IncrementalAgg.quantileValues(maintained, Seq("o_orderstatus"),
        Seq(0.25, 0.5, 0.95))
      .select(col("o_orderstatus"), col("q"), col("bucket"))
      .orderBy("o_orderstatus", "q")
  }

  /**
   * MIN/MAX under delta maintenance
   * (ops/IncrementalAgg.minMaxState/replaceCells/minMaxValues):
   * extremes are not subtractable, so the maintained view keeps one
   * lossless min/max row per (partition × group) cell and the change
   * window replaces only the touched partitions' cells — the same
   * promote/rewrite shape as `incremental_agg`. Unlike the HLL gate
   * the cells are exact, so the oracle recomputes the post-change
   * extremes from scratch in DuckDB and hash-compares.
   */
  private def incrementalMinMax(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_incrmm_").resolve("t").toString
    VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    val state = IncrementalAgg.minMaxState(
      VersionedPartitioned.read(s, root), "month", Seq("o_orderstatus"),
      Seq("p"))
    VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("p", (col("p") * 2).cast("decimal(18,2)"))
        .unionByName(base.where(col("month") === "1995-04")),
      root, "month", writers = Some(2))
    val (oldSide, newSide) = VersionedPartitioned.changedSides(s, root, 1L)
    IncrementalAgg.minMaxValues(
        IncrementalAgg.replaceCells(state, oldSide, newSide, "month")(
          IncrementalAgg.minMaxState(_, "month", Seq("o_orderstatus"),
            Seq("p"))),
        Seq("o_orderstatus"), Seq("p"))
      .select(col("o_orderstatus"),
        col("min_p").cast("double").as("min_price"),
        col("max_p").cast("double").as("max_price"))
      .orderBy("o_orderstatus")
  }

  /**
   * TOP-K ROWS under delta maintenance
   * (ops/IncrementalAgg.topKState/replaceCells/topKValues): each
   * (partition × group) cell keeps its own k best rows — lossless for
   * the top-k question since a group's global winners include at most
   * k rows from any one partition — and the change window replaces
   * only touched cells. Ranks by (price DESC, orderkey ASC); the
   * oracle recomputes the post-change ranking from scratch in DuckDB.
   * (Top-k of per-key AGGREGATES is deliberately NOT built this way —
   * not cell-decomposable; see the Scaladoc.)
   */
  private def incrementalTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalAgg, VersionedPartitioned}
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderstatus"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_incrtopk_").resolve("t").toString
    VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    val state = IncrementalAgg.topKState(
      VersionedPartitioned.read(s, root), "month", Seq("o_orderstatus"),
      "p", "o_orderkey", 3)
    VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("p", (col("p") * 2).cast("decimal(18,2)"))
        .unionByName(base.where(col("month") === "1995-04")),
      root, "month", writers = Some(2))
    val (oldSide, newSide) = VersionedPartitioned.changedSides(s, root, 1L)
    IncrementalAgg.topKValues(
        IncrementalAgg.replaceCells(state, oldSide, newSide, "month")(
          IncrementalAgg.topKState(_, "month", Seq("o_orderstatus"), "p",
            "o_orderkey", 3)),
        Seq("o_orderstatus"), "p", "o_orderkey", 3)
      .select(col("o_orderstatus"), col("rank"), col("o_orderkey"),
        col("p").cast("double").as("total_price"))
      .orderBy("o_orderstatus", "rank")
  }

  private def versionedEvolve(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-02"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_vevolve_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(base, root, "month")
    graft.ops.VersionedPartitioned.evolveAddColumn(s, root, "price_band",
      when(col("o_totalprice") >= 150000, lit("H")).otherwise(lit("L")))
    graft.ops.VersionedPartitioned.read(s, root)
      .groupBy(col("month").cast("string").as("month"), col("price_band"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice")).cast("double").as("total_price"))
      .orderBy("month", "price_band")
  }

  /**
   * METADATA-ONLY schema evolution
   * (ops/VersionedPartitioned.evolveAddColumnMetaOnly): the same
   * price-band evolution as `versioned_evolve`, but no data file is
   * rewritten — the commit records the default SQL expression and the
   * reader fills the column per row at scan time. Same oracle as the
   * rewrite path: the two mechanisms must be observationally
   * equivalent; only their write cost differs (pointer flip vs table
   * rewrite).
   */
  private def versionedEvolveMeta(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-02"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_vevolvem_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(base, root, "month")
    graft.ops.VersionedPartitioned.evolveAddColumnMetaOnly(s, root,
      "price_band", "CASE WHEN o_totalprice >= 150000 THEN 'H' ELSE 'L' END")
    graft.ops.VersionedPartitioned.read(s, root)
      .groupBy(col("month").cast("string").as("month"), col("price_band"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice")).cast("double").as("total_price"))
      .orderBy("month", "price_band")
  }

  /**
   * DELETE on the partitioned table format, both paths in one run:
   * copy-on-write `deleteWhere` strips every 10th key from 1995-02
   * (1995-01 rides the manifest untouched), then metadata-only
   * `dropPartitions` removes all of 1995-03 without touching a file.
   * The oracle replays both as plain SQL filters.
   */
  private def versionedDelete(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-03"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_vdelete_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(base, root, "month")
    graft.ops.VersionedPartitioned.deleteWhere(s, root,
      col("month") === "1995-02" && col("o_orderkey") % 10 === 0)
    graft.ops.VersionedPartitioned.dropPartitions(s, root,
      Seq("month=1995-03"))
    monthTotals(graft.ops.VersionedPartitioned.read(s, root))
  }

  /**
   * Merge-on-read delete gate (ops/VersionedPartitioned.deleteKeysMor —
   * Iceberg v2 equality deletes): promote Jan–Mar, delete February's
   * %10 keys via a keys-only sidecar (NO partition rewrite — asserted
   * on the referenced-snapshot count), and read through the anti-join
   * path. Shares versioned_delete's predicate so the two delete
   * mechanisms (copy-on-write there, merge-on-read here) are verified
   * against equivalent oracles; here 1995-03 stays live.
   */
  private def versionedDeleteMor(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.VersionedPartitioned
    val base = monthlyOrders(s, dir)
      .where(col("month").between("1995-01", "1995-03"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_vmor_").resolve("t").toString
    VersionedPartitioned.promote(base, root, "month")
    val before = VersionedPartitioned.referencedSnapshots(s, root)
    VersionedPartitioned.deleteKeysMor(s, root,
      base.where(col("month") === "1995-02" && col("o_orderkey") % 10 === 0)
        .select("month", "o_orderkey"))
    require(VersionedPartitioned.referencedSnapshots(s, root) == before,
      "MOR delete must not write a snapshot")
    monthTotals(VersionedPartitioned.read(s, root))
  }

  /**
   * Exactly-once incremental propagation between two versioned tables
   * (ops/VersionedPartitioned.propagateChanges): hop 1 bootstraps the
   * destination with 1995-01/02; upstream then rewrites 1995-02 with
   * uplifted prices and adds 1995-03; hop 2 moves exactly those two
   * partitions. The destination's final state — original 01, uplifted
   * 02, new 03 — is what the oracle replays.
   */
  private def versionedPropagate(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val src = java.nio.file.Files
      .createTempDirectory("graft_vprop_").resolve("src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_vprop_").resolve("dst").toString
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")), src, "month",
      writers = Some(2))
    graft.ops.VersionedPartitioned.propagateChanges(s, src, dst)
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02")
        .withColumn("o_totalprice",
          round(col("o_totalprice") * lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
            .cast("decimal(18,2)"))
        .unionByName(base.where(col("month") === "1995-03")),
      src, "month", writers = Some(2))
    graft.ops.VersionedPartitioned.propagateChanges(s, src, dst)
    monthTotals(graft.ops.VersionedPartitioned.read(s, dst))
  }

  /**
   * CDC change-feed SUBSCRIPTION (pipeline/Streaming.changeFeedHop —
   * Iceberg's `create_changelog_view` as an exactly-once incremental
   * delivery into a downstream log table): v1 holds 1995-01..02 and
   * the bootstrap hop delivers every row as `insert`; a backfill then
   * rewrites 1995-02 (every 10th key dropped, every 3rd surviving
   * key's price uplifted 10%) and adds 1995-03, and the second hop
   * delivers exactly that window's delete/update/insert rows under its
   * own commit_version partition. The cursor rides the log's commit
   * tags (`propagateChanges` semantics), so a third, caught-up hop
   * delivers nothing — pinned here by the log aggregate matching the
   * two-hop oracle exactly; restart/replay equivalence is pinned in
   * StreamingSpec ("changeFeed" case). Untouched months are never
   * read: each hop's scan is O(touched partitions).
   */
  private def versionedChangefeed(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vcfeed_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val keys = Seq("month", "o_orderkey")
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")), src, "month",
      writers = Some(2))
    graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02" && col("o_orderkey") % 10 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0,
            round(col("o_totalprice") *
              lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
              .cast("decimal(18,2)"))
            .otherwise(col("o_totalprice")))
        .unionByName(base.where(col("month") === "1995-03")),
      src, "month", writers = Some(2))
    graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
    // caught up: a third hop must deliver nothing (the aggregate below
    // would double a window if it did)
    graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
    graft.ops.VersionedPartitioned.read(s, log)
      .groupBy(col("change_type"),
        col(graft.pipeline.Streaming.CommitVersionCol).cast("int")
          .as("commit_version"))
      .agg(count(lit(1)).as("n_changes"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy("change_type", "commit_version")
  }

  /**
   * CDC-fed incremental view maintenance (pipeline/Streaming
   * .changeFeedHop + .maintainAggregate): a per-month aggregate
   * maintained PURELY from the delivered change-feed log — the source
   * table is never re-read downstream, and the maintained state lives
   * in its own exactly-once table (cursor tag committed atomically
   * with each fold) — must equal the batch aggregate over the
   * source's final state. Keys are the FULL ROW, so every
   * change is a delete+insert pair and each delivered window maintains
   * as state − agg(deletes) + agg(inserts) (the delta rule); the
   * third, caught-up hop delivers nothing — a spurious window would
   * double rows into the fold and fail the hash. Scale: each hop reads
   * only the touched partitions, each maintenance step joins
   * aggregate-sized frames — the downstream consumer's cost is
   * O(changes), never O(table). The oracle replays the final state's
   * aggregate from the raw rows.
   */
  private def changefeedIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_cfinc_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val keys = Seq("month", "o_orderkey", "o_totalprice")
    val state = s"$root/state"
    def hop(): Unit = {
      graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
      graft.pipeline.Streaming.maintainAggregate(s, log, state,
        Seq("month"), Seq("o_totalprice"))
      ()
    }
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")), src, "month",
      writers = Some(2))
    hop() // bootstrap window folded into the committed state
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02" && col("o_orderkey") % 10 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0,
            round(col("o_totalprice") *
              lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
              .cast("decimal(18,2)"))
            .otherwise(col("o_totalprice")))
        .unionByName(base.where(col("month") === "1995-03")),
      src, "month", writers = Some(2))
    hop() // fold the backfill window into the committed state
    hop() // caught up: BOTH the feed and the view must no-op — a
          // spurious window would double rows and fail the hash
    graft.ops.VersionedPartitioned.read(s, state)
      .select(col("month").cast("string").as("month"), col("n_rows"),
        col("sum_o_totalprice").cast("double").as("total_price"))
      .orderBy("month")
  }

  /**
   * CDC-fed exact MIN/MAX view maintenance
   * (pipeline/Streaming.maintainMinMax): months 1995-01..02 bootstrap
   * the per-month (count, min, max) state from the feed; the rewrite
   * window DELETES month 02's price extremum (every order ≥ 250 000
   * drops) — the case the sum rule cannot carry, exercising the
   * affected-group source rescan — and appends 1995-03. A third hop
   * must no-op. The oracle recomputes the post-change extremes from
   * scratch.
   */
  private def changefeedMinMax(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_cfmm_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val state = s"$root/state"
    val keys = Seq("month", "o_orderkey", "o_totalprice")
    def hop(): Unit = {
      graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
      graft.pipeline.Streaming.maintainMinMax(s, log, state, src,
        Seq("month"), Seq("o_totalprice"))
      ()
    }
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")), src, "month",
      writers = Some(2))
    hop()
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02" &&
          col("o_totalprice") < lit(BigDecimal(250000)).cast("decimal(18,2)"))
        .unionByName(base.where(col("month") === "1995-03")),
      src, "month", writers = Some(2))
    hop()
    hop() // caught up: must no-op
    graft.ops.VersionedPartitioned.read(s, state)
      .select(col("month").cast("string").as("month"), col("n_rows"),
        col("min_o_totalprice").cast("double").as("min_price"),
        col("max_o_totalprice").cast("double").as("max_price"))
      .orderBy("month")
  }

  /**
   * CDC-fed exact COUNT DISTINCT view maintenance
   * (pipeline/Streaming.maintainDistinct): the state is the
   * distinct-support relation (month × custkey × multiplicity),
   * maintained by the count delta rule; the read counts support rows
   * per month. The rewrite drops every 10th orderkey from 1995-02 —
   * custkeys whose orders all drop must leave the support — and
   * appends 1995-03. The oracle recomputes COUNT(DISTINCT) from
   * scratch.
   */
  private def changefeedDistinct(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"), col("o_custkey"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_cfdist_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val state = s"$root/state"
    val keys = Seq("month", "o_orderkey", "o_custkey")
    def hop(): Unit = {
      graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
      graft.pipeline.Streaming.maintainDistinct(s, log, state,
        Seq("month"), "o_custkey")
      ()
    }
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")), src, "month",
      writers = Some(2))
    hop()
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02" && col("o_orderkey") % 10 =!= 0)
        .unionByName(base.where(col("month") === "1995-03")),
      src, "month", writers = Some(2))
    hop()
    hop()
    graft.ops.IncrementalAgg.supportDistinctCounts(
        graft.ops.VersionedPartitioned.read(s, state),
        Seq("month"), "o_custkey")
      .select(col("month").cast("string").as("month"),
        col("distinct_o_custkey"))
      .orderBy("month")
  }

  /**
   * CDC-fed JOIN-view maintenance from TWO feeds
   * (pipeline/Streaming.maintainJoinView): revenue by (month ×
   * market segment) over orders ⋈ customer, both sides changing in
   * the same fold — the fact drops every 10th 1995-02 order and adds
   * 1995-03; the dim moves every 7th customer to segment MOVED (a
   * full-row update = delete+insert through the feed). The two-
   * relation delta rule must land exactly on the from-scratch
   * recompute of post-change fact ⋈ post-change dim.
   */
  private def changefeedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"), col("o_custkey").as("c_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_cfjoin_").toString
    val (fsrc, flog) = (s"$root/fsrc", s"$root/flog")
    val (dsrc, dlog) = (s"$root/dsrc", s"$root/dlog")
    val state = s"$root/state"
    val factKeys = Seq("month", "o_orderkey", "c_custkey", "o_totalprice")
    val dimKeys = Seq("c_custkey", "c_mktsegment", "c_nationkey")
    def hop(): Unit = {
      graft.pipeline.Streaming.changeFeedHop(s, fsrc, factKeys, flog)
      graft.pipeline.Streaming.changeFeedHop(s, dsrc, dimKeys, dlog)
      graft.pipeline.Streaming.maintainJoinView(s, flog, dlog, fsrc, dsrc,
        state, Seq("c_custkey"), Seq("month", "c_mktsegment"),
        Seq("o_totalprice"))
      ()
    }
    graft.ops.VersionedPartitioned.promote(
      fact.where(col("month").between("1995-01", "1995-02")), fsrc, "month",
      writers = Some(2))
    graft.ops.VersionedPartitioned.promote(dim, dsrc, "c_nationkey")
    hop()
    graft.ops.VersionedPartitioned.promote(
      fact.where(col("month") === "1995-02" && col("o_orderkey") % 10 =!= 0)
        .unionByName(fact.where(col("month") === "1995-03")),
      fsrc, "month", writers = Some(2))
    graft.ops.VersionedPartitioned.promote(
      dim.withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment"))),
      dsrc, "c_nationkey")
    hop()
    hop()
    graft.ops.VersionedPartitioned.read(s, state)
      .select(col("month").cast("string").as("month"), col("c_mktsegment"),
        col("n_rows"),
        col("sum_o_totalprice").cast("double").as("total_price"))
      .orderBy("month", "c_mktsegment")
  }

  /**
   * CDC-fed exact TOP-K-rows view maintenance
   * (pipeline/Streaming.maintainTopK): per-month top-3 orders by
   * (price DESC, orderkey ASC). The rewrite DELETES month 02's
   * current winners (every order ≥ 250 000 drops) — the refill case
   * that forces the affected-group rescan — and appends 1995-03. The
   * oracle re-ranks the post-change table from scratch.
   */
  private def changefeedTopK(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_cftopk_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val state = s"$root/state"
    val keys = Seq("month", "o_orderkey", "o_totalprice")
    def hop(): Unit = {
      graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
      graft.pipeline.Streaming.maintainTopK(s, log, state, src,
        Seq("month"), "o_totalprice", "o_orderkey", 3)
      ()
    }
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")), src, "month",
      writers = Some(2))
    hop()
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02" &&
          col("o_totalprice") < lit(BigDecimal(250000)).cast("decimal(18,2)"))
        .unionByName(base.where(col("month") === "1995-03")),
      src, "month", writers = Some(2))
    hop()
    hop()
    graft.ops.IncrementalAgg.topKValues(
        graft.ops.VersionedPartitioned.read(s, state),
        Seq("month"), "o_totalprice", "o_orderkey", 3)
      .select(col("month").cast("string").as("month"), col("rank"),
        col("o_orderkey"),
        col("o_totalprice").cast("double").as("price"))
      .orderBy("month", "rank")
  }

  /**
   * CDC-fed QUANTILE-sketch view maintenance
   * (pipeline/Streaming.maintainQuantile): per-month DDSketch
   * log-bucket counts maintained by the count delta rule — bucket
   * counts ARE subtractable, so the ×2 repricing of 1995-02 (full-row
   * updates through the feed) folds without any rescan. The oracle
   * replays the bucket math, rank walk and selection from scratch in
   * SQL (integer-exact on the bucket index, same contract as
   * `incremental_quantile`).
   */
  private def changefeedQuantile(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"),
        col("o_orderkey"), col("o_totalprice").cast("double").as("v"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_cfq_").toString
    val src = s"$root/src"
    val log = s"$root/log"
    val state = s"$root/state"
    val keys = Seq("month", "o_orderkey", "v")
    def hop(): Unit = {
      graft.pipeline.Streaming.changeFeedHop(s, src, keys, log)
      graft.pipeline.Streaming.maintainQuantile(s, log, state,
        Seq("month"), "v")
      ()
    }
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-02")), src, "month",
      writers = Some(2))
    hop()
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02").withColumn("v", col("v") * 2)
        .unionByName(base.where(col("month") === "1995-03")),
      src, "month", writers = Some(2))
    hop()
    hop()
    graft.ops.IncrementalAgg.feedQuantileValues(
        graft.ops.VersionedPartitioned.read(s, state),
        Seq("month"), Seq(0.25, 0.5, 0.95))
      .select(col("month").cast("string").as("month"), col("q"), col("bucket"))
      .orderBy("month", "q")
  }

  /**
   * Row-level change data feed on the partitioned table format
   * (ops/VersionedPartitioned.readRowChanges — Delta `table_changes` /
   * Iceberg CDC computed at partition grain): v1 holds 1995-01..03; a
   * backfill rewrites 1995-02 (every 10th key dropped, every 3rd key's
   * price uplifted 10%) and adds 1995-04. The feed over (v1, v2] must
   * classify exactly the 02 deletes/updates and the 04 inserts —
   * months 01 and 03 are untouched, so their partitions are never even
   * read and contribute no rows. The oracle replays the classification
   * with set SQL on the same rewrite arithmetic.
   */
  private def versionedCdc(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vcdc_").resolve("t").toString
    val v1 = graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      writers = Some(3))
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02" && col("o_orderkey") % 10 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0,
            round(col("o_totalprice") * lit(BigDecimal("1.1")).cast("decimal(3,1)"), 2)
              .cast("decimal(18,2)"))
            .otherwise(col("o_totalprice")))
        .unionByName(base.where(col("month") === "1995-04")),
      root, "month", writers = Some(2))
    graft.ops.VersionedPartitioned
      .readRowChanges(s, root, Seq("month", "o_orderkey"), v1)
      .groupBy(col("month").cast("string").as("month"), col("change_type"))
      .agg(count(lit(1)).as("n_changes"))
      .orderBy("month", "change_type")
  }

  /**
   * Metadata-only partition statistics (ops/VersionedPartitioned
   * .partitionStats — Iceberg's `partitions` metadata table): promote
   * 1995-01..03 with o_totalprice stats, then rewrite 1995-02 so 01/03
   * inherit the first snapshot's sidecars. Per-month count/min/max are
   * answered from the `_stats` sidecars with zero data I/O; the oracle
   * recomputes them from the raw rows.
   */
  private def versionedStats(s: SparkSession, dir: String): DataFrame = {
    val base = monthlyOrders(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vstats_").resolve("t").toString
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month").between("1995-01", "1995-03")), root, "month",
      statsCols = Seq("o_totalprice"))
    graft.ops.VersionedPartitioned.promote(
      base.where(col("month") === "1995-02" && col("o_orderkey") % 10 =!= 0),
      root, "month", statsCols = Seq("o_totalprice"))
    graft.ops.VersionedPartitioned.partitionStats(s, root, "o_totalprice")
      .select(col("month").cast("string").as("month"), col("n_rows"),
        col("min_o_totalprice").cast("double").as("min_price"),
        col("max_o_totalprice").cast("double").as("max_price"))
      .orderBy("month")
  }

  /** Calendar resample + forward-fill (ops/Resample.scala): daily close
    * per (user, type) densified onto each key's full date range, gaps
    * forward-filled from the last observed bar. */
  private def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    val bars = Ingest.dailyBars(Tables.load(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", "value", "event_id")
      .select("user_id", "event_type", "date", "close")
    Resample.dailyFfill(bars, Seq("user_id", "event_type"), "date", Seq("close"))
      .select(col("user_id"), col("event_type"), col("date"),
        round(col("close"), 4).as("close"), col("observed"))
      .orderBy("user_id", "event_type", "date")
  }

  /** Calendar resample + linear interpolation (the continuous-measure
    * complement of resample_ffill's step function). The value column is
    * emitted UNROUNDED: the interpolation arithmetic is written in the
    * identical IEEE operation order in both engines (vp + ((vn-vp) *
    * days_num) / days_den on bit-identical inputs), so the doubles match
    * bit-for-bit — any post-hoc rounding could only introduce cross-
    * engine half-case divergence, never remove it. */
  private def resampleInterp(s: SparkSession, dir: String): DataFrame = {
    val bars = Ingest.dailyBars(Tables.load(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", "value", "event_id")
      .select("user_id", "event_type", "date", "close")
    Resample.dailyInterpolate(bars, Seq("user_id", "event_type"), "date",
        "close")
      .select(col("user_id"), col("event_type"), col("date"), col("close"),
        col("observed"))
      .orderBy("user_id", "event_type", "date")
  }

  /** RANGE-frame trailing window (the calendar-interval complement of
    * rolling_7day's ROWS frame): per-key trailing-7-calendar-day count /
    * avg / max of the daily close. On gappy series ROWS and RANGE
    * genuinely differ — this pins the RANGE semantics. */
  private def rollingRange(s: SparkSession, dir: String): DataFrame = {
    val bars = Ingest.dailyBars(Tables.load(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", "value", "event_id")
      .select("user_id", "event_type", "date", "close")
    Resample.trailingRange(bars, Seq("user_id", "event_type"), "date",
        "close", days = 7)
      .select(col("user_id"), col("event_type"), col("date"),
        col("n_in_range"),
        round(col("avg_in_range"), 4).as("avg_in_range"),
        round(col("max_in_range"), 4).as("max_in_range"))
      .orderBy("user_id", "event_type", "date")
  }

  /** Ranking-function family. Two windows by design: rank/dense_rank/
    * percent_rank/cume_dist order by a TIE-HEAVY column (p_size — tied
    * rows get equal outputs, deterministic), while ntile and first_value
    * need a UNIQUE total order (ties would make their row assignment
    * engine-dependent). */
  private def rankFamily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTies = Window.partitionBy("p_brand").orderBy("p_size")
    val wUnique = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.load(s, dir, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        rank().over(wTies).as("rnk"),
        dense_rank().over(wTies).as("drnk"),
        round(percent_rank().over(wTies), 6).as("prnk"),
        round(cume_dist().over(wTies), 6).as("cdist"),
        ntile(4).over(wUnique).as("price_quartile"),
        first_value(col("p_partkey")).over(wUnique).as("top_part"))
      .orderBy("p_partkey")
  }

  /** Outer-join family at row level: lineitem LEFT JOIN a sparse part
    * subset — unmatched rows keep nulls, aggregated per returnflag
    * (match rate + coalesced decimal-exact sum). */
  private def joinOuter(s: SparkSession, dir: String): DataFrame = {
    val sparseParts = Tables.load(s, dir, "part")
      .where(col("p_partkey") % 5 === 0)
      .select(col("p_partkey"), col("p_retailprice"))
    Tables.load(s, dir, "lineitem")
      .join(sparseParts, col("l_partkey") === col("p_partkey"), "left")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_partkey")).as("n_matched"),
        round(sum(coalesce(col("p_retailprice"), lit(0))
          .cast("decimal(24,6)")), 2).cast("double").as("price_sum"))
      .orderBy("l_returnflag")
  }

  /** Correlated-scalar-subquery shape, decorrelated the Catalyst way
    * (window aggregate over the correlation key): parts priced strictly
    * above their brand's average. The membership test is EXACT decimal
    * arithmetic (price·n > sum, not price > sum/n) — a double division
    * could flip boundary rows differently per engine. */
  private def aboveBrandAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("p_brand")
    Tables.load(s, dir, "part")
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sum",
        sum(col("p_retailprice").cast("decimal(18,2)")).over(w))
      .where(col("p_retailprice").cast("decimal(18,2)") * col("__n") >
        col("__sum"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_above"),
        round(max(col("p_retailprice")), 2).as("max_price"))
      .orderBy("p_brand")
  }

  /** Array-function family over the embedding vectors: L2 norm via the
    * native `vec_dot` kernel, dimension, min/max component. */
  private def embeddingNorms(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    Tables.load(s, dir, "embeddings")
      .withColumn("dv", col("embedding").cast("array<double>"))
      .select(col("vec_id"),
        size(col("dv")).as("dim"),
        round(sqrt(expr("vec_dot(dv, dv)")), 4).as("l2_norm"),
        round(array_max(col("dv")), 4).as("max_component"),
        round(array_min(col("dv")), 4).as("min_component"))
      .orderBy("vec_id")
  }

  /**
   * Typed custom aggregation (functions/TypedAggs.TopKAgg): exact top-5
   * events by value per type via an `Aggregator` with k-bounded state —
   * the map-side-combinable alternative to the window top-k (see
   * `top_parts_per_brand` for the window form; the oracle is that very
   * window formulation, so the two plans are pinned equivalent).
   */
  private def topkAgg(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(5),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(topk(col("value"), col("event_id")).as("ids"))
      .select(col("event_type"), posexplode(col("ids")).as(Seq("pos", "event_id")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("event_id"))
      .orderBy("event_type", "rank")
  }

  /** UNPIVOT (wide→long, the inverse of docs_pivot): lineitem's four
    * measure columns melted to (measure, value) rows, then aggregated —
    * the `Dataset.unpivot` API surface with a decimal-exact sum. */
  private def unpivotMeasures(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("val").cast("decimal(24,6)")), 2).cast("double")
          .as("val_sum"))
      .orderBy("l_returnflag", "measure")

  /** MAP-type function family (the one complex type the surface had not
    * exercised): JSON props parsed to `map<string,string>`, exploded to
    * key/value rows, aggregated per (type, key). Generic over however
    * many keys the payload carries. */
  private def mapFunctions(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("m", from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
      .select(col("event_type"), explode(col("m")).as(Seq("k", "v")))
      .groupBy("event_type", "k")
      .agg(count(lit(1)).as("n"),
        round(avg(col("v").cast("double")), 4).as("avg_v"))
      .orderBy("event_type", "k")

  /** Scalar string-function family over customer names: substring,
    * case-mapping, reverse, zero-padding, regex extraction. */
  private def stringsNorm(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"),
        upper(substring(col("c_name"), 1, 8)).as("name_prefix"),
        reverse(lower(col("c_name"))).as("name_rev"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
        regexp_extract(col("c_name"), "([0-9]+)$", 1).as("name_digits"),
        length(col("c_name")).as("name_len"))
      .orderBy("c_custkey")

  // -------------------------------------------- event-behavior queries —

  /** Ordered-step funnel over the event stream: users whose journey
    * reaches view → click → purchase in order (each step strictly after
    * the previous step's earliest completion). One user-keyed shuffle;
    * see ops/Funnel.scala for the scale analysis. */
  private def eventFunnel(s: SparkSession, dir: String): DataFrame =
    Funnel.conversion(Tables.load(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), tieBreak = "event_id")
      .orderBy("step")

  /** Cohort retention grid: users bucketed by first-activity day,
    * counted per day-offset, with retention vs the cohort's own size. */
  private def retentionCohorts(s: SparkSession, dir: String): DataFrame =
    Retention.cohorts(Tables.load(s, dir, "events"), "user_id", "ts")
      .orderBy("cohort_day", "day_offset")

  // ------------------------------------------- corpus-curation queries —

  /** Deterministic seed-parameterized training-order shuffle: global
    * position under an md5 sort key, computed with the two-pass bucketed
    * rank (ext/Shards.scala) — no single-reducer global sort. The oracle
    * replays the naive global row_number, which the bucketed construction
    * must equal exactly. */
  private def shuffleOrderQ(s: SparkSession, dir: String): DataFrame =
    Shards.shuffleOrder(docs(s, dir), "doc_id", seed = "r6")
      .select("doc_id", "pos").orderBy("doc_id")

  /** C4/Gopher-style composite quality filter: per-doc reason flags
    * (too short / too long / unnaturally stopword-free) and the keep
    * verdict. Pure projection over the native token_stats kernel —
    * zero shuffle; thresholds sit inside the corpus' observed range so
    * both kept and dropped classes are non-empty. */
  private def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    val d = docs(s, dir).withColumn("__ts", expr("token_stats(text)"))
    val n = col("__ts.n_tokens")
    val stopRaw = when(n > 0,
      col("__ts.h_en").cast("double") / n).otherwise(0.0)
    d.select(col("doc_id"), n.as("n_tokens"),
        (n < 25).as("too_short"), (n > 90).as("too_long"),
        (stopRaw < 0.02).as("low_stopword"))
      .withColumn("keep",
        !col("too_short") && !col("too_long") && !col("low_stopword"))
      .orderBy("doc_id")
  }

  /** PII-shape pattern scrub over the event props payload: digit runs
    * masked, with the per-row masked-span audit count. Pure per-row
    * regex projection (RE2-compatible pattern — Java and DuckDB agree). */
  private def piiScrub(s: SparkSession, dir: String): DataFrame =
    TextOps.maskPattern(Tables.load(s, dir, "events"), "props",
        "[0-9]+", "#")
      .select("event_id", "scrubbed", "n_masked").orderBy("event_id")

  /** Per-language vocabulary profile: token/type/hapax counts and
    * type–token ratio via explode → two chained hash aggregates (the
    * shuffle carries distinct (lang, token) rows, not occurrences). */
  private def vocabStatsQ(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabStats(docs(s, dir), "text", Seq("lang")).orderBy("lang")

  /** Real-subword tokenization gate: per doc, the word count, the
    * greedy longest-match WORDPIECE count over the built-in vocab, and
    * the unknown-word count. The oracle replays the greedy matcher as a
    * bounded recursive walk over the SAME vocabulary VALUES list —
    * longest matching piece per position, whole word → [UNK] on a dead
    * position — so any drift in vocab, matching order, or continuation
    * handling hash-fails. Distinct words are tokenized once on the
    * oracle side (piece sequences are word-functional). */
  private def tokenizeSubword(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    graft.functions.Subword.register(s)
    docs(s, dir)
      .select(col("doc_id"),
        expr("token_stats(text).n_tokens").cast("long").as("n_words"),
        expr("subword_tokens(text)").as("__p"))
      .select(col("doc_id"), col("n_words"),
        size(col("__p")).cast("long").as("n_pieces"),
        (size(col("__p")) -
          size(array_remove(col("__p"), graft.functions.Subword.Unk)))
          .cast("long").as("n_unk_words"))
      .orderBy("doc_id")
  }

  /** End-to-end curation chain: quality filter → PII scrub → best-
    * survivor near-dup dedup (over the SCRUBBED text) → domain mixing →
    * per-language token-budget shard packing. Every stage is an
    * individually-oracled operator; this one composed row guards the
    * stage BOUNDARIES — column contracts, ordering assumptions, and
    * determinism through the whole chain — which no per-stage gate can
    * see. Output is the final shard manifest a training loader reads. */
  private def curateCorpus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    // C4-order prologue: markup strip, then NFKC, BEFORE any filter —
    // on this plain-ASCII fixture both are near-identities (the oracle
    // replays the strip chain; NFKC identity on the corpus is
    // ExtSpec-pinned since DuckDB cannot compute compatibility forms),
    // but the chain is the one a crawled corpus runs.
    val d = docs(s, dir)
      .withColumn("text", TextOps.stripHtml(col("text")))
      .withColumn("text", expr("nfkc(text)"))
    val ts = d.withColumn("__ts", expr("token_stats(text)"))
    val n = col("__ts.n_tokens")
    val stopRaw = when(n > 0,
      col("__ts.h_en").cast("double") / n).otherwise(0.0)
    // broadcast blocklist gate (C4's any-hit-drops): the list rides in
    // the plan; a page mentioning any listed word drops before dedup
    val blocked = array(Seq("spam", "viagra", "casino").map(lit): _*)
    val blockHits = size(array_intersect(
      array_distinct(graft.ext.TextNorm.tokens(col("text"))), blocked))
    val kept = ts.where(!(n < 25 || n > 90 || stopRaw < 0.02) &&
      blockHits === 0).drop("__ts")
    // scrub BEFORE dedup: masked digit runs change shingle sets, so the
    // dedup must see what the trained model would see
    val scrub = TextOps.maskPattern(kept, "text", "[0-9]+", "#")
      .select(col("doc_id"), col("scrubbed").as("text"), col("lang"),
        col("source"), col("n_chars"))
    val surv = Dedup.dedupByPairsBest(scrub,
      Dedup.minhashNearDupEdges(scrub, "doc_id", "text",
        numHashes = 128, bands = 32, shingleK = 3, threshold = 0.5),
      "doc_id", col("n_chars"))
    val mixed = Sampling.mixByWeight(surv, "source", "doc_id",
      Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125,
        "src3" -> 0.125), seed = "curate1")
    val sized = mixed.withColumn("n_tokens",
      expr("token_stats(text).n_tokens").cast("long"))
    val packed = Shards.packByBudget(sized, Seq("lang"), "doc_id",
      "n_tokens", capacity = 512L,
      bucketExpr = floor(col("doc_id") / 64).cast("long"))
    Shards.manifest(packed, Seq("lang"), "doc_id", "n_tokens")
      .orderBy("lang", "shard")
  }

  // ------------------------------------------------------------- wiring —

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) => dedupExact(s, dir)),
    "dedup_minhash" -> ((s, dir) => dedupMinhash(s, dir)),
    "dedup_simhash" -> ((s, dir) => dedupSimhash(s, dir)),
    "dedup_ngram" -> ((s, dir) => dedupNgram(s, dir)),
    "dedup_substring" -> ((s, dir) => dedupSubstring(s, dir)),
    "dedup_clusters" -> ((s, dir) => dedupClusters(s, dir)),
    "dedup_embedding" -> ((s, dir) => dedupEmbedding(s, dir)),
    "dedup_embedding_ann" -> ((s, dir) => dedupEmbeddingAnn(s, dir)),
    "dedup_incremental" -> ((s, dir) => dedupIncremental(s, dir)),
    "dedup_incremental_indexed" -> ((s, dir) => dedupIncrementalIndexed(s, dir)),
    "decontaminate" -> ((s, dir) => decontaminateQ(s, dir)),
    "contamination_score" -> ((s, dir) => contaminationScoreQ(s, dir)),
    "sample_stratified" -> ((s, dir) => sampleStratified(s, dir)),
    "domain_mix" -> ((s, dir) => domainMix(s, dir)),
    "repetition_stats" -> ((s, dir) => repetitionStats(s, dir)),
    "dedup_corpus_best" -> ((s, dir) => dedupCorpusBest(s, dir)),
    "similarity_topk" -> ((s, dir) => similarityTopK(s, dir)),
    "similarity_ann" -> ((s, dir) => similarityAnn(s, dir)),
    "similarity_recall" -> ((s, dir) => similarityRecall(s, dir)),
    "similarity_ivf" -> ((s, dir) => similarityIvf(s, dir)),
    "similarity_indexed" -> ((s, dir) => similarityIndexed(s, dir)),
    "similarity_indexed_incremental" ->
      ((s, dir) => similarityIndexedIncremental(s, dir)),
    "similarity_indexed_streamed" ->
      ((s, dir) => similarityIndexedStreamed(s, dir)),
    "similarity_ivfpq" -> ((s, dir) => similarityIvfPq(s, dir)),
    "similarity_indexed_pq" -> ((s, dir) => similarityIndexedPq(s, dir)),
    "similarity_indexed_pq_incremental" ->
      ((s, dir) => similarityIndexedPqIncremental(s, dir)),
    "similarity_indexed_pq_streamed" ->
      ((s, dir) => similarityIndexedPqStreamed(s, dir)),
    "text_stats" -> ((s, dir) => textStats(s, dir)),
    "gopher_rules" -> ((s, dir) => gopherRulesQ(s, dir)),
    "c4_clean" -> ((s, dir) => c4CleanQ(s, dir)),
    "html_strip" -> ((s, dir) => htmlStripQ(s, dir)),
    "warc_extract" -> ((s, dir) => warcExtract(s, dir)),
    "wet_extract" -> ((s, dir) => wetExtract(s, dir)),
    "dedup_url" -> ((s, dir) => dedupUrl(s, dir)),
    "blocklist_filter" -> ((s, dir) => blocklistFilterQ(s, dir)),
    "nfkc_normalize" -> ((s, dir) => nfkcNormalizeQ(s, dir)),
    "text_lang_profile" -> ((s, dir) => textLangProfile(s, dir)),
    "text_fingerprint" -> ((s, dir) => textFingerprint(s, dir)),
    "multimodal_features" -> ((s, dir) => multimodalFeatures(s, dir)),
    "image_pgm_stats" -> ((s, dir) => imagePgmStats(s, dir)),
    "audio_wav_stats" -> ((s, dir) => audioWavStats(s, dir)),
    "audio_flac_stats" -> ((s, dir) => audioFlacStats(s, dir)),
    "source_orc" -> ((s, dir) => sourceRoundtrip(s, dir, "orc")),
    "source_csv" -> ((s, dir) => sourceRoundtrip(s, dir, "csv")),
    "source_json" -> ((s, dir) => sourceRoundtrip(s, dir, "json")),
    "image_pgm_resize" -> ((s, dir) => imagePgmResize(s, dir)),
    "image_bmp_stats" -> ((s, dir) => imageBmpStats(s, dir)),
    "image_tiff_stats" -> ((s, dir) => imageTiffStats(s, dir)),
    "image_tiff_resize" -> ((s, dir) => imageTiffResize(s, dir)),
    "image_bmp_resize" -> ((s, dir) => imageBmpResize(s, dir)),
    "image_qoi_stats" -> ((s, dir) => imageQoiStats(s, dir)),
    "image_png_stats" -> ((s, dir) => imagePngStats(s, dir)),
    "image_png_resize" -> ((s, dir) => imagePngResize(s, dir)),
    "image_jpeg_stats" -> ((s, dir) => imageJpegStats(s, dir)),
    "image_jpeg_resize" -> ((s, dir) => imageJpegResize(s, dir)),
    "image_jpeg_progressive" -> ((s, dir) => imageJpegProgressive(s, dir)),
    "image_qoi_resize" -> ((s, dir) => imageQoiResize(s, dir)),
    "video_gif_stats" -> ((s, dir) => videoGifStats(s, dir)),
    "video_gif_frames" -> ((s, dir) => videoGifFrames(s, dir)),
    "video_avi_frames" -> ((s, dir) => videoAviFrames(s, dir)),
    "image_webp_stats" -> ((s, dir) => imageWebpStats(s, dir)),
    "join_revenue" -> ((s, dir) => joinRevenue(s, dir)),
    "sessionize" -> ((s, dir) => sessionize(s, dir)),
    "profile_lineitem" -> ((s, dir) => profileLineitem(s, dir)),
    "asof_ref" -> ((s, dir) => asofRef(s, dir)),
    "asof_forward" -> ((s, dir) => asofRef(s, dir, "forward")),
    "asof_nearest" -> ((s, dir) => asofRef(s, dir, "nearest")),
    "range_bands" -> ((s, dir) => rangeBands(s, dir)),
    "quantiles_lineitem" -> ((s, dir) => quantiles(s, dir)),
    "json_props" -> ((s, dir) => jsonProps(s, dir)),
    "events_variant" -> ((s, dir) => eventsVariant(s, dir)),
    "versioned_shred" -> ((s, dir) => versionedShred(s, dir)),
    "docs_pivot" -> ((s, dir) => docsPivot(s, dir)),
    "join_semi_anti" -> ((s, dir) => joinSemiAnti(s, dir)),
    "set_ops" -> ((s, dir) => setOps(s, dir)),
    "docs_rollup" -> ((s, dir) => docsRollup(s, dir)),
    "events_lead_lag" -> ((s, dir) => eventsLeadLag(s, dir)),
    "docs_cube" -> ((s, dir) => docsCube(s, dir)),
    "top_parts_per_brand" -> ((s, dir) => topPartsPerBrand(s, dir)),
    "sample_hash" -> ((s, dir) => sampleHash(s, dir)),
    "tfidf_topterms" -> ((s, dir) => tfidfTopTerms(s, dir)),
    "join_skew_salted" -> ((s, dir) => joinSkewSalted(s, dir)),
    "orders_by_month" -> ((s, dir) => ordersByMonth(s, dir)),
    "bloom_semi_join" -> ((s, dir) => bloomSemiJoin(s, dir)),
    "zorder_layout" -> ((s, dir) => zorderLayout(s, dir)),
    "fuzzy_join" -> ((s, dir) => fuzzyJoin(s, dir)),
    "basket_pairs" -> ((s, dir) => basketPairs(s, dir)),
    "pagerank_parts" -> ((s, dir) => pagerankParts(s, dir)),
    "pagerank_weighted" -> ((s, dir) => pagerankWeighted(s, dir)),
    "triangle_counts" -> ((s, dir) => triangleCounts(s, dir)),
    "events_outliers" -> ((s, dir) => eventsOutliers(s, dir)),
    "ewma_close" -> ((s, dir) => ewmaClose(s, dir)),
    "rolling_wau" -> ((s, dir) => rollingWau(s, dir)),
    "snapshot_diff" -> ((s, dir) => snapshotDiffQ(s, dir)),
    "price_histogram" -> ((s, dir) => priceHistogram(s, dir)),
    "doc_chunks" -> ((s, dir) => docChunks(s, dir)),
    "doc_logprob" -> ((s, dir) => docLogprob(s, dir)),
    "collocations" -> ((s, dir) => collocationsQ(s, dir)),
    "pack_length_buckets" -> ((s, dir) => packLengthBuckets(s, dir)),
    "dominant_source" -> ((s, dir) => dominantSource(s, dir)),
    "event_bursts" -> ((s, dir) => eventBursts(s, dir)),
    "price_metrics" -> ((s, dir) => priceMetrics(s, dir)),
    "bars_weekly" -> ((s, dir) => barsWeekly(s, dir)),
    "rsi_close" -> ((s, dir) => rsiClose(s, dir)),
    "bollinger_bands" -> ((s, dir) => bollingerBands(s, dir)),
    "indicators_obv_atr" -> ((s, dir) => obvAtr(s, dir)),
    "stochastic_k" -> ((s, dir) => stochasticK(s, dir)),
    "vwap_rolling" -> ((s, dir) => vwapRolling(s, dir)),
    "risk_metrics" -> ((s, dir) => riskMetrics(s, dir)),
    "returns_correlation" -> ((s, dir) => returnsCorrelation(s, dir)),
    "trading_gaps" -> ((s, dir) => tradingGaps(s, dir)),
    "beta_market" -> ((s, dir) => betaMarket(s, dir)),
    "volume_seasonality" -> ((s, dir) => volumeSeasonality(s, dir)),
    "macd_dyadic" -> ((s, dir) => macdDyadic(s, dir)),
    "underwater_days" -> ((s, dir) => underwaterDays(s, dir)),
    "window_ranks" -> ((s, dir) => windowRanks(s, dir)),
    "volume_rollup" -> ((s, dir) => volumeRollup(s, dir)),
    "pivot_volume" -> ((s, dir) => pivotVolume(s, dir)),
    "bars_unpivot" -> ((s, dir) => barsUnpivot(s, dir)),
    "sql_window_ranks" -> ((s, dir) => {
      graft.sources.Views.register(s, dir); s.sql(windowRanksSql)
    }),
    "cluster_sizes" -> ((s, dir) => clusterSizes(s, dir)),
    "strings_norm" -> ((s, dir) => stringsNorm(s, dir)),
    "join_bucketed" -> ((s, dir) => joinBucketed(s, dir)),
    "merge_upsert" -> ((s, dir) => mergeUpsert(s, dir)),
    "versioned_changes" -> ((s, dir) => versionedChanges(s, dir)),
    "versioned_merge" -> ((s, dir) => versionedMerge(s, dir)),
    "versioned_pruned" -> ((s, dir) => versionedPruned(s, dir)),
    "versioned_timetravel" -> ((s, dir) => versionedTimeTravel(s, dir)),
    "wap_publish" -> ((s, dir) => wapPublish(s, dir)),
    "wap_publish_partitioned" -> ((s, dir) => wapPublishPartitioned(s, dir)),
    "versioned_rollback" -> ((s, dir) => versionedRollback(s, dir)),
    "versioned_delete_mor" -> ((s, dir) => versionedDeleteMor(s, dir)),
    "versioned_timetravel_ts" -> ((s, dir) => versionedTimeTravelTs(s, dir)),
    "sql_timetravel" -> ((s, dir) => sqlTimeTravel(s, dir)),
    "sql_wap_branch" -> ((s, dir) => sqlWapBranch(s, dir)),
    "versioned_compacted" -> ((s, dir) => versionedCompacted(s, dir)),
    "versioned_evolve" -> ((s, dir) => versionedEvolve(s, dir)),
    "versioned_repartition" -> ((s, dir) => versionedRepartition(s, dir)),
    "incremental_agg" -> ((s, dir) => incrementalAgg(s, dir)),
    "incremental_distinct" -> ((s, dir) => incrementalDistinct(s, dir)),
    "incremental_quantile" -> ((s, dir) => incrementalQuantile(s, dir)),
    "incremental_join" -> ((s, dir) => incrementalJoin(s, dir)),
    "incremental_minmax" -> ((s, dir) => incrementalMinMax(s, dir)),
    "incremental_topk" -> ((s, dir) => incrementalTopK(s, dir)),
    "sql_merge_upsert" -> ((s, dir) => sqlMergeUpsert(s, dir)),
    "sql_merge_prune" -> ((s, dir) => sqlMergePrune(s, dir)),
    "sql_update_where" -> ((s, dir) => sqlUpdateWhere(s, dir)),
    "sql_delete_rows" -> ((s, dir) => sqlDeleteRows(s, dir)),
    "sql_merge_conditional" -> ((s, dir) => sqlMergeConditional(s, dir)),
    "sql_alter_add" -> ((s, dir) => sqlAlterAdd(s, dir)),
    "sql_alter_drop" -> ((s, dir) => sqlAlterDrop(s, dir)),
    "sql_alter_rename" -> ((s, dir) => sqlAlterRename(s, dir)),
    "sql_alter_widen" -> ((s, dir) => sqlAlterWiden(s, dir)),
    "sql_insert_overwrite" -> ((s, dir) => sqlInsertOverwrite(s, dir)),
    "sql_truncate_reload" -> ((s, dir) => sqlTruncateReload(s, dir)),
    "sql_optimize_vacuum" -> ((s, dir) => sqlOptimizeVacuum(s, dir)),
    "sql_ctas_view" -> ((s, dir) => sqlCtasView(s, dir)),
    "sql_history_meta" -> ((s, dir) => sqlHistoryMeta(s, dir)),
    "sql_partitions_meta" -> ((s, dir) => sqlPartitionsMeta(s, dir)),
    "sql_show_partitions" -> ((s, dir) => sqlShowPartitions(s, dir)),
    "sql_analyze_stats" -> ((s, dir) => sqlAnalyzeStats(s, dir)),
    "sql_call_rollback" -> ((s, dir) => sqlCallRollback(s, dir)),
    "versioned_evolve_meta" -> ((s, dir) => versionedEvolveMeta(s, dir)),
    "versioned_delete" -> ((s, dir) => versionedDelete(s, dir)),
    "versioned_propagate" -> ((s, dir) => versionedPropagate(s, dir)),
    "versioned_changefeed" -> ((s, dir) => versionedChangefeed(s, dir)),
    "versioned_cdc" -> ((s, dir) => versionedCdc(s, dir)),
    "versioned_stats" -> ((s, dir) => versionedStats(s, dir)),
    "resample_ffill" -> ((s, dir) => resampleFfill(s, dir)),
    "resample_interp" -> ((s, dir) => resampleInterp(s, dir)),
    "rolling_range" -> ((s, dir) => rollingRange(s, dir)),
    "rank_family" -> ((s, dir) => rankFamily(s, dir)),
    "join_outer" -> ((s, dir) => joinOuter(s, dir)),
    "above_brand_avg" -> ((s, dir) => aboveBrandAvg(s, dir)),
    "embedding_norms" -> ((s, dir) => embeddingNorms(s, dir)),
    "topk_agg" -> ((s, dir) => topkAgg(s, dir)),
    "unpivot_measures" -> ((s, dir) => unpivotMeasures(s, dir)),
    "map_functions" -> ((s, dir) => mapFunctions(s, dir)),
    "dedup_corpus" -> ((s, dir) => dedupCorpus(s, dir)),
    "kmeans_clusters" -> ((s, dir) => kmeansClusters(s, dir)),
    "join_region" -> ((s, dir) => joinRegion(s, dir)),
    "revenue_share" -> ((s, dir) => revenueShare(s, dir)),
    "pack_shards" -> ((s, dir) => packShards(s, dir)),
    "pack_shards_dist" -> ((s, dir) => packShardsDist(s, dir)),
    "pack_shards_subword" -> ((s, dir) => packShardsSubword(s, dir)),
    "cluster_purity" -> ((s, dir) => clusterPurity(s, dir)),
    "modality_join" -> ((s, dir) => modalityJoin(s, dir)),
    "stats_agg" -> ((s, dir) => statsAgg(s, dir)),
    "regr_stats" -> ((s, dir) => regrStats(s, dir)),
    "misc_aggs" -> ((s, dir) => miscAggs(s, dir)),
    "scd2_history" -> ((s, dir) => scd2History(s, dir)),
    "event_funnel" -> ((s, dir) => eventFunnel(s, dir)),
    "retention_cohorts" -> ((s, dir) => retentionCohorts(s, dir)),
    "shuffle_order" -> ((s, dir) => shuffleOrderQ(s, dir)),
    "quality_filter" -> ((s, dir) => qualityFilter(s, dir)),
    "pii_scrub" -> ((s, dir) => piiScrub(s, dir)),
    "curate_corpus" -> ((s, dir) => curateCorpus(s, dir)),
    "tokenize_subword" -> ((s, dir) => tokenizeSubword(s, dir)),
    "doc_logprob_bigram" -> ((s, dir) => docLogprobBigram(s, dir)),
    "ngram_novelty" -> ((s, dir) => ngramNovelty(s, dir)),
    "dedup_spans" -> ((s, dir) => dedupSpans(s, dir)),
    "quality_score_lr" -> ((s, dir) => qualityScoreLr(s, dir)),
    "embed_quantize" -> ((s, dir) => embedQuantize(s, dir)),
    "dedup_containment" -> ((s, dir) => dedupContainment(s, dir)),
    "dedup_fingerprint" -> ((s, dir) => dedupFingerprint(s, dir)),
    "similarity_quantized" -> ((s, dir) => similarityQuantized(s, dir)),
    "temperature_mix" -> ((s, dir) => temperatureMix(s, dir)),
    "vocab_stats" -> ((s, dir) => vocabStatsQ(s, dir)),
    "importance_sample" -> ((s, dir) => importanceSample(s, dir)),
    "shipping_priority" -> ((s, dir) => shippingPriority(s, dir)),
    "dedup_embedding_clusters" -> ((s, dir) => dedupEmbeddingClusters(s, dir)),
    "perplexity_buckets" -> ((s, dir) => perplexityBuckets(s, dir)),
    "bpe_train" -> ((s, dir) => bpeTrainQ(s, dir)),
    "bpe_train_eow" -> ((s, dir) => bpeTrainEowQ(s, dir)),
    "bpe_vocab" -> ((s, dir) => bpeVocabQ(s, dir)),
    "bpe_segment" -> ((s, dir) => bpeSegmentQ(s, dir)),
    "bpe_tokens" -> ((s, dir) => bpeTokensQ(s, dir)),
    "split_leakage_safe" -> ((s, dir) => splitLeakageSafe(s, dir)),
    "versioned_hidden_days" -> ((s, dir) => versionedHiddenDays(s, dir)),
    "versioned_hidden_bucket" -> ((s, dir) => versionedHiddenBucket(s, dir)),
    "small_quantity_revenue" -> ((s, dir) => smallQuantityRevenue(s, dir)),
    "suppliers_kept_waiting" -> ((s, dir) => suppliersKeptWaiting(s, dir)),
    "sql_grouping_sets" -> ((s, dir) => {
      graft.sources.Views.register(s, dir); s.sql(groupingSetsSql)
    }),
    "sql_interval_range" -> ((s, dir) => {
      graft.sources.Views.register(s, dir); s.sql(intervalRangeSql)
    }),
    "pack_shards_bpe" -> ((s, dir) => packShardsBpe(s, dir)),
    "sql_correlated_exists" -> ((s, dir) => {
      graft.sources.Views.register(s, dir); s.sql(suppliersWaitingSql)
    }),
    "versioned_zorder_optimized" -> ((s, dir) => versionedZorderOptimized(s, dir)),
    "sql_percentile_cont" -> ((s, dir) => {
      graft.sources.Views.register(s, dir); s.sql(percentileContSql)
    }),
    "versioned_hidden_multi" -> ((s, dir) => versionedHiddenMulti(s, dir)),
    "sql_hidden_ddl" -> ((s, dir) => sqlHiddenDdl(s, dir)),
    "sql_hidden_rowverbs" -> ((s, dir) => sqlHiddenRowVerbs(s, dir)),
    "sql_merge_cte" -> ((s, dir) => sqlMergeCte(s, dir)),
    "sql_changelog_view" -> ((s, dir) => sqlChangelogView(s, dir)),
    "sql_zorder_range" -> ((s, dir) => sqlZorderRange(s, dir)),
    "sql_dpp_join" -> ((s, dir) => sqlDppJoin(s, dir)),
    "sql_approx_percentile" -> ((s, dir) => sqlApproxPercentile(s, dir)),
    "sql_approx_distinct" -> ((s, dir) => sqlApproxDistinct(s, dir)),
    "sql_point_lookup" -> ((s, dir) => sqlPointLookup(s, dir)),
    "sql_agg_meta" -> ((s, dir) => sqlAggMeta(s, dir)),
    "sql_agg_meta_trunc" -> ((s, dir) => sqlAggMetaTrunc(s, dir)),
    "sql_agg_meta_hidden" -> ((s, dir) => sqlAggMetaHidden(s, dir)),
    "sql_tag_read" -> ((s, dir) => sqlTagRead(s, dir)),
    "sql_mview_refresh" -> ((s, dir) => sqlMviewRefresh(s, dir)),
    "sql_mview_minmax" -> ((s, dir) => sqlMviewMinmax(s, dir)),
    "sql_mview_stddev" -> ((s, dir) => sqlMviewStddev(s, dir)),
    "sql_mview_avg" -> ((s, dir) => sqlMviewAvg(s, dir)),
    "sql_write_order_range" -> ((s, dir) => sqlWriteOrderRange(s, dir)),
    "txn_pair" -> ((s, dir) => txnPair(s, dir)),
    "sql_txn_pair" -> ((s, dir) => sqlTxnPair(s, dir)),
    "sql_txn_merge" -> ((s, dir) => sqlTxnMerge(s, dir)),
    "sql_mview_join_minmax" -> ((s, dir) => sqlMviewJoinMinmax(s, dir)),
    "versioned_upsert" -> ((s, dir) => versionedUpsert(s, dir)),
    "sql_cache_table" -> ((s, dir) => sqlCacheTable(s, dir)),
    "changefeed_incremental" -> ((s, dir) => changefeedIncremental(s, dir)),
    "changefeed_incremental_minmax" -> ((s, dir) => changefeedMinMax(s, dir)),
    "changefeed_incremental_distinct" -> ((s, dir) => changefeedDistinct(s, dir)),
    "changefeed_incremental_join" -> ((s, dir) => changefeedJoin(s, dir)),
    "changefeed_incremental_topk" -> ((s, dir) => changefeedTopK(s, dir)),
    "changefeed_incremental_quantile" -> ((s, dir) => changefeedQuantile(s, dir)),
    "sql_merge_evolve" -> ((s, dir) => sqlMergeEvolve(s, dir)),
    "sql_copy_into" -> ((s, dir) => sqlCopyInto(s, dir))
  )
}
