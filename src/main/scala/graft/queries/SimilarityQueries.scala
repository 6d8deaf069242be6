package graft.queries

import graft.{QueryPack, Tables}
import graft.ext.Similarity
import graft.runtime.FrameCache
import graft.sinks.ArtifactStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** North-star similarity search over `embeddings` (SURVEY.md §0):
  * exact brute-force cosine top-k, two approximate paths (multi-table
  * multi-probe sign-LSH and k-means-trained IVF with multi-assignment),
  * embedding-cosine near-pair mining, and MEASURED index quality
  * (recall in q57, candidate pruning in q59). Vectors are unit-
  * normalized once at scan time (cosine per pair = one dot); oracles
  * reproduce every hash, fold and k-means iteration bit-for-bit in
  * DuckDB (all float math is sequential-fold, order-pinned).
  *
  * Index parameters are recall-tuned against the exact baseline
  * (BASELINE.md records the measurements): IVF (k=96 cells, 3 Lloyd
  * iterations on the vec_id%2 sample, 2-cell assignment, 12-cell probe)
  * reaches recall ~0.80 at ~4.4× candidate pruning. LSH (12 tables ×
  * 8 planes, each probed at home + the 4 lowest-margin bit flips)
  * reaches 0.65-0.72 at ~4.4× — lifted from 0.43 (an earlier 2-table ×
  * 4-plane, 1-flip config) by spending the same candidate budget on
  * more independent tables at deeper buckets. PQ (q65) compresses to
  * 96-bit codes and re-ranks an ADC shortlist — recall 0.92-0.96.
  * Sizing rule at scale: buckets/table (2^AnnPlanes) and IVF cells are
  * capacity knobs sized to corpus/target-bucket-size, like shuffle
  * partitions — the layout (map-side encode, broadcast probes, bucket
  * equi-join) is what's fixed, not the keyspace. The DuckDB oracle SQL
  * is [[SimilarityOracles]]; the knobs below are shared with it.
  */
object SimilarityQueries extends QueryPack {

  private[queries] val Dims = 64       // embeddings.embedding is 64-dim (FIXTURES.md §6)
  // Evaluation query budget: the recall/cost queries sample a FIXED
  // number of query vectors (~TargetQueries) by deriving the id modulus
  // from the corpus count — so the exact brute-force baseline they
  // compare against costs O(n · TargetQueries) at ANY corpus size. A
  // proportional set (the old fixed `% 50`) made the eval itself
  // O(n²/50): correct at sf0.1, quadratic at 100×. At sf0.1 (n = 5,000)
  // the derived modulus IS 50, so measured recalls are comparable across
  // rounds. The modulus (not a top-N) keeps the set deterministic and
  // cheap to mirror in SQL.
  private[queries] val TargetQueries = 100
  private[queries] val AnnPlanes = 8   // planes per LSH table → 256 buckets/table
  private[queries] val AnnTables = 12  // table t uses global planes t*AnnPlanes+j
  private[queries] val AnnFlips = 4    // extra probes/table: flip the 4 lowest-margin bits
  private[queries] val PairPlanes = 4  // 16 buckets for pair mining (q40)
  private[queries] val PqSubs = 16     // PQ subspaces (4 dims each)
  private[queries] val PqK = 64        // centroids per subquantizer → 6 bits × 16 = 96-bit code
  private[queries] val PqIters = 2     // Lloyd iterations per subquantizer
  private[queries] val PqRerank = 30   // ADC shortlist size re-ranked with exact dots
  private[queries] val IvfK = 96       // IVF cells
  private[queries] val IvfIters = 3    // Lloyd iterations
  private[queries] val SemTau = 0.3    // SemDeDup within-cluster cosine threshold
  private[queries] val IvfAssignN = 2  // corpus multi-assignment (top-2 cells)
  private[graft] val IvfProbes = 12    // query probes (top-12 cells)
  private val OutlierCos = 0.0 // flag vectors anti-correlated with their domain

  /** (vec_id, ne [, bucket]) — normalized corpus, optional LSH bucket.
    *
    * Memoized AND CACHED per (dir, planes): the cache is a
    * MATERIALIZATION BARRIER, not just a speedup. Without it,
    * CollapseProject inlines the `ne` normalization (itself a
    * higher-order expression) into every lambda that consumes it —
    * measured 80 s for the IVF cell assignment at sf0.1 (the norm fold
    * re-evaluated per centroid × per element, ~800k interpreted ops per
    * row) vs < 1 s against the materialized column. Joins/exchanges act
    * as barriers implicitly (q38's crossJoin is why brute force never
    * hit this); single-stage projection pipelines like the index
    * builders need one explicitly. */
  // session-scoped: a cached DataFrame is bound to the session that
  // built it — a stopped/recreated SparkSession in the same JVM must get
  // a fresh frame, not a stale handle
  private def prepped(s: SparkSession, d: String, planes: Int = 0): DataFrame =
    FrameCache.get(s, s"prepped-embeddings-$planes", d)({
      val base = Similarity.withNormalized(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
          .repartition(s.sparkContext.defaultParallelism),
        "embedding")
      val withB = if (planes > 0) base.withColumn("bucket",
        Similarity.lshBucket(col("embedding"), planes, Dims)) else base
      withB.drop("embedding").cache()
    })

  /** Trained IVF centroids, memoized per data dir — training is
    * deterministic, so q50/q57/q59 (and repeated bench runs) share one
    * training pass instead of re-running Lloyd each time. This entry is
    * the matrix's one owner: with a persisted IVF index it loads the
    * index's matrix, so a consumer that reads only the centroids
    * (q73/q79) never re-trains in a restarted process, and the cells
    * are only loaded when built against this matrix. */
  private def centroids(s: SparkSession, d: String): Seq[Array[Double]] =
    FrameCache.get("ivf-centroids", d,
        ArtifactStore.ivfCentroidsCodec(s, embeddingsSnapshot(s, d)))(
      Similarity.trainKmeans(
        prepped(s, d).filter(col("vec_id") % 2 === 0), IvfK, IvfIters, Dims))

  /** The (vec_id, embedding) fingerprint of `d` that gates and stamps
    * both IVF artifacts — taken once per listing of `d` (process-scoped,
    * like [[centroids]]), so a rewritten corpus re-fingerprints. */
  private def embeddingsSnapshot(s: SparkSession, d: String): ArtifactStore.CorpusSnapshot =
    FrameCache.get("embeddings-snapshot", d)(
      ArtifactStore.snapshot(Tables.embeddings(s, d), Seq("vec_id", "embedding")))

  /** Trained PQ codebooks, memoized per data dir (plain doubles — not
    * session-bound, same lifecycle as [[centroids]]). */
  private def pqCodebooks(s: SparkSession, d: String): Seq[Seq[Array[Double]]] =
    FrameCache.get("pq-codebooks", d)(Similarity.trainPq(
      prepped(s, d).filter(col("vec_id") % 2 === 0), PqSubs, PqK, PqIters, Dims))

  /** On-disk (vec_id, ne) parquet staging of the normalized corpus —
    * the q73 stream's input. Memoized per data dir like the streaming
    * fixtures (holds only a path, safe across session restarts). */
  private def ingestFixture(s: SparkSession, d: String): String =
    FrameCache.get("ingest-fixture", d)({
      val tmp = Files.createTempDirectory("graft_ingest_in_").toString
      prepped(s, d).select(col("vec_id"), col("ne"))
        .write.mode("overwrite").parquet(tmp)
      tmp
    })

  /** Query-set modulus: corpus_count / TargetQueries (≥1), memoized per
    * dir (a pure count — parquet metadata, no scan). Spark filter and
    * DuckDB oracle ([[qModSql]]) derive the same number. */
  private def queryModulus(s: SparkSession, d: String): Long =
    FrameCache.get("query-modulus", d)(
      math.max(1L, Tables.embeddings(s, d).count() / TargetQueries))

  /** Marks the ~TargetQueries evaluation query vectors. */
  private def isQuery(s: SparkSession, d: String): Column =
    col("vec_id") % queryModulus(s, d) === 0

  /** The `n` plane indices with the smallest rounded |projection| — the
    * least confident bits, each flipped for one extra probe
    * (multi-probe LSH; ties broken by plane index, same as the oracle's
    * exclusion chain). */
  private def flipIdxs(pj: Column, n: Int): Column =
    transform(slice(array_sort(transform(pj, (p, i) =>
      struct(round(abs(p), 6).as("ap"), i.as("j")))), 1, n), s => s.getField("j"))

  /** Scored candidate frames, (q_id, vec_id, cos) — memoized AND CACHED
    * per (session, dir): q39/q57/q59 consume the LSH candidates and
    * q50/q57/q59/q64/q69 the IVF candidates. Without the cache each consumer
    * re-runs the multi-table probe joins (~1 s each at sf0.1); holding
    * the cosine instead of both 64-double vectors keeps the cached
    * block ~90× smaller. */
  private def lshCandidates(s: SparkSession, d: String): DataFrame =
    FrameCache.get(s, "lsh-candidates", d)(buildLshCandidates(s, d).cache())
  private def ivfCandidates(s: SparkSession, d: String): DataFrame =
    FrameCache.get(s, "ivf-candidates", d)(buildIvfCandidates(s, d).cache())

  /** The (vec_id, scale, q8) int8-quantized corpus q62 and q64 score on
    * ([[Similarity.int8Quantized]]; the zero-scale division follows the
    * session's ANSI flag, as the composition's `Divide` would). */
  private def int8Corpus(s: SparkSession, d: String): DataFrame =
    Similarity.int8Quantized(prepped(s, d), "ne",
        s.conf.get("spark.sql.ansi.enabled").toBoolean)
      .select(col("vec_id"), col("scale"), col("q8"))

  /** Exact brute-force top-3, memoized AND CACHED like the candidate
    * frames: it is the ground truth that FIVE evaluation queries
    * (q57/q62/q64/q65/q69) join against — uncached, each consumer
    * re-ran the O(corpus × TargetQueries) scan + window, the single
    * most expensive frame in the pack and the one whose cost grows
    * linearly with corpus size. */
  private def bruteForceTop3(s: SparkSession, d: String): DataFrame =
    FrameCache.get(s, "brute-force-top3", d) {
      val e = prepped(s, d)
      val q = e.filter(isQuery(s, d))
        .select(col("vec_id").as("q_id"), col("ne").as("qe"))
      Similarity.bruteForceTopK(e, q, 3).cache()
    }

  /** Scored (q_id, vec_id, cos) LSH candidates: `AnnTables` tables,
    * each probed at the home bucket plus `AnnFlips` one-bit margin
    * flips. All projections/buckets are map-side expressions; the corpus
    * meets the BROADCAST probe set in a (t, bucket) equi-join, then
    * [[Similarity.scoredCandidates]]. */
  private def buildLshCandidates(s: SparkSession, d: String): DataFrame = {
    var e = prepped(s, d)
    for (t <- 0 until AnnTables) {
      e = e.withColumn(s"pj$t", array((0 until AnnPlanes).map(j =>
          Similarity.dot(col("ne"),
            Similarity.planeLit(t * AnnPlanes + j, Dims))): _*))
        .withColumn(s"b$t", (0 until AnnPlanes).map(j =>
          when(element_at(col(s"pj$t"), j + 1) >= 0, lit(1 << j))
            .otherwise(lit(0))).reduce(_ + _))
    }
    val idx = e.select(col("vec_id"), col("ne"),
      explode(array((0 until AnnTables).map(t =>
        struct(lit(t).as("t"), col(s"b$t").as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("ne"), col("tb.t"), col("tb.bucket"))
    var q = e.filter(isQuery(s, d))
    for (t <- 0 until AnnTables)
      q = q.withColumn(s"f$t", flipIdxs(col(s"pj$t"), AnnFlips))
    val flipMask = typedLit(Seq.tabulate(AnnPlanes)(1 << _))
    val probes = q.select(col("vec_id").as("q_id"), col("ne").as("qe"),
      explode(array((0 until AnnTables).flatMap(t =>
        struct(lit(t).as("t"), col(s"b$t").as("bucket")) +:
          (1 to AnnFlips).map(k =>
            struct(lit(t).as("t"),
              col(s"b$t").bitwiseXOR(
                element_at(flipMask, element_at(col(s"f$t"), k) + 1))
                .as("bucket")))): _*)).as("tb"))
      .select(col("q_id"), col("qe"), col("tb.t"), col("tb.bucket"))
    Similarity.scoredCandidates(idx.join(broadcast(probes), Seq("t", "bucket")))
  }

  /** The standing IVF inverted index: every corpus vector exploded to
    * its top-[[IvfAssignN]] cells — memoized AND CACHED per (session,
    * dir) because it serves BOTH the batch candidate build and the
    * q111 streaming search (at cluster scale: the cell-partitioned
    * index table q73 materializes). */
  private def corpusCells(s: SparkSession, d: String): DataFrame =
    FrameCache.get(s, "ivf-index", d,
        ArtifactStore.ivfCodec(s, embeddingsSnapshot(s, d), centroids(s, d)))(
      Similarity.ivfCells(prepped(s, d), centroids(s, d), IvfAssignN).cache())

  /** Scored (q_id, vec_id, cos) IVF candidates: the evaluation queries
    * probe their top-`IvfProbes` cells of the standing index
    * ([[Similarity.ivfCandidates]]). */
  private def buildIvfCandidates(s: SparkSession, d: String): DataFrame =
    Similarity.ivfCandidates(corpusCells(s, d), centroids(s, d),
      prepped(s, d).filter(isQuery(s, d)), IvfProbes)

  /** The standing IVF artifacts (inverted index + centroid matrix) for
    * `d` — what [[graft.sinks.ArtifactStore.saveIvfIndex]] persists. */
  private[graft] def ivfArtifacts(s: SparkSession, d: String)
      : (DataFrame, Seq[Array[Double]]) =
    (corpusCells(s, d), centroids(s, d))

  /** The normalized (vec_id, ne) corpus frame (spec probe-set seam). */
  private[graft] def preppedEmbeddings(s: SparkSession, d: String): DataFrame =
    prepped(s, d)

  /** The (vec_id, ne, source) frame q87/q109 aggregate per source —
    * normalized corpus vectors tagged with their document's source.
    * Null vectors are excluded HERE, at the shared frame, so the whole
    * q87/q109 surface (both mean modes, q109's outer n_vecs/outlier
    * counts, and the DuckDB oracle CTEs, which carry the matching
    * `ne IS NOT NULL`) agrees on the denominator — not just the two
    * engine modes between themselves. */
  private[graft] def sourcedEmbeddings(s: SparkSession, d: String): DataFrame =
    prepped(s, d).filter(col("ne").isNotNull)
      .join(Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))

  /** Per-source (source, n_vecs, mean) centroid table — the frame q87
    * reports and q109 scores against. Two modes, because the exact one
    * does not scale:
    *
    *  - `exact = true` (the local/Verify default): the ORDER-PINNED
    *    [[Similarity.orderedSum]] fold k-means training also uses. DuckDB
    *    reproduces the doubles bit-for-bit, which is what hash-exact
    *    oracle verification needs — but it materializes each source
    *    group into ONE row: fine at eval scale, an executor OOM at a
    *    10⁹-vector source domain.
    *  - `exact = false` (the PRODUCTION mode; clusterBuilder's
    *    default, or spark.graft.exactMeans=false): tree-reduced
    *    [[graft.ext.VecMean]] — (count, sum[d]) state per group,
    *    map-side partials, bounded at any group size. Not bit-portable
    *    across partitionings; equal to the fold within 1e-9
    *    (`VecMeanSpec`), the engine's exact-vs-approx split (cf. q38
    *    brute vs q39/q50). Plan shape pinned in `PlanPostureSpec`
    *    (no collect_list; ObjectHashAggregate partials). */
  private[graft] def sourceMeans(e: DataFrame, exact: Boolean): DataFrame = {
    // Null vectors are excluded UP FRONT so the two modes cannot
    // diverge on them: the fold's zip_with would null the whole
    // group's sum off one null element while VecMean skips it — and
    // n_vecs must match the mean's denominator in both modes.
    val nn = e.filter(col("ne").isNotNull)
    if (exact) {
      nn.groupBy(col("source"))
        .agg(count(lit(1)).as("n_vecs"), Similarity.orderedSum(col("ne"), Dims).as("ssum"))
        .select(col("source"), col("n_vecs"), transform(col("ssum"), _ / col("n_vecs")).as("mean"))
    } else {
      val vecMean = udaf(new graft.ext.VecMean(Dims))
      nn.groupBy(col("source"))
        .agg(count(lit(1)).as("n_vecs"), vecMean(col("ne")).as("mean"))
    }
  }

  /** Oracle-exact means unless the session opts into the production
    * tree-reduced path (spark.graft.exactMeans=false — what
    * [[graft.GraftSession.clusterBuilder]] presets). */
  private def exactMeans(s: SparkSession): Boolean =
    s.conf.get("spark.graft.exactMeans", "true").toBoolean

  /** Top-k per query over PRE-SCORED (q_id, vec_id, cos) rows, as
    * (q_id, rn, vec_id, cos) in rank order. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    Similarity.topByScore(scored, "cos", k)
      .select(col("q_id"), col("rn"), col("vec_id"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("q_id"), col("rn"))

  /** Recall of each approximate (q_id, vec_id) hit set against the exact
    * top-3: the exact rows left-join every hit set in the given order,
    * then one row of `n_true`, each hit count and each rounded recall.
    * `evals` are (count column, recall column, hits); a hit set's join
    * flag carries its count column's name. */
  private def recallVsExact(s: SparkSession, d: String,
      evals: (String, String, DataFrame)*): DataFrame =
    evals.foldLeft(bruteForceTop3(s, d).select(col("q_id"), col("vec_id"))) {
      case (acc, (n, _, hits)) => acc.join(
        hits.select(col("q_id"), col("vec_id"), lit(1).as(n)),
        Seq("q_id", "vec_id"), "left")
    }.agg(count(lit(1)).as("n_true"), evals.map { case (n, _, _) =>
        sum(coalesce(col(n), lit(0))).as(n) }: _*)
      .select(col("n_true") +: evals.map(e => col(e._1)) ++: evals.map {
        case (n, r, _) => round(col(n).cast("double") / col("n_true"), 4).as(r)
      }: _*)

  /** Int8 brute-force top-3 per query: `pairs` meets the quantized
    * (vec_id, scale, q8) corpus with the broadcast quantized query set
    * (q_id, qq8, qscale); each pair is scored by its dequantized dot. */
  private def int8Top3(s: SparkSession, d: String)(
      pairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = int8Corpus(s, d)
    val q = e.filter(isQuery(s, d))
      .select(col("vec_id").as("q_id"), col("q8").as("qq8"),
        col("scale").as("qscale"))
    Similarity.topByScore(pairs(e, broadcast(q))
      .withColumn("cosq", Similarity.dot(col("qq8"), col("q8"))
        * col("qscale") * col("scale") / (127.0 * 127.0)), "cosq", 3)
  }

  /** The PQ-coded corpus (vec_id, ne, codes) and the evaluation queries
    * with their ADC lookup tables (q_id, qe, luts) — the two sides q65
    * and q69 score candidate pairs from. */
  private def pqFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cb = pqCodebooks(s, d)
    val e = prepped(s, d)
    (e.select(col("vec_id"), col("ne"), Similarity.pqCodes(col("ne"), cb, Dims).as("codes")),
      e.filter(isQuery(s, d)).select(col("vec_id").as("q_id"), col("ne").as("qe"),
        Similarity.pqLuts(col("ne"), cb, Dims).as("luts")))
  }

  /** The two-stage PQ tail over (q_id, vec_id, codes, luts) candidate
    * pairs: the ADC top-[[PqRerank]] shortlist (rank `ra`), re-ranked by
    * the exact cosine `cos`. Returns (exact re-rank top-3, ADC top-3);
    * both come from the shortlist, whose `ra` ≤ 3 rows are the ADC
    * top-3. */
  private def adcRerank(pairs: DataFrame, cos: Column): (DataFrame, DataFrame) = {
    val short = Similarity.topByScore(pairs.withColumn("adc",
      Similarity.adcScore(col("codes"), col("luts"), PqSubs)), "adc", PqRerank, "ra")
    (Similarity.topByScore(short.withColumn("cos", cos), "cos", 3),
      short.filter(col("ra") <= 3))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Exact baseline: brute-force cosine top-3 per query vector ----
    "q38_cosine_topk" -> ((s, d) =>
      bruteForceTop3(s, d).orderBy(col("q_id"), col("rn"))),

    // ---- ANN path 1: multi-table multi-probe sign-LSH top-3 ----
    "q39_ann_lsh" -> ((s, d) => rankTopK(lshCandidates(s, d), 3)),

    // ---- ANN path 2: k-means IVF, multi-assign + multi-probe top-3 ----
    "q50_ann_ivf" -> ((s, d) => rankTopK(ivfCandidates(s, d), 3)),

    // ---- Embedding-cosine near-pair mining via 4-plane LSH buckets.
    //      Candidates come from the guarded pairsFromBuckets (q36
    //      pattern): the normalized vector rides the groupBy inside the
    //      id struct, so the bucket lineage is computed ONCE and the
    //      DefaultMaxBucket guard caps any degenerate bucket — essential here
    //      because sign-LSH buckets are NOT hash-uniform on real
    //      embeddings (a hot bucket would make a raw self-join
    //      quadratic). ----
    "q40_embedding_pairs" -> ((s, d) => {
      val e = prepped(s, d, PairPlanes)
      val rows = e.select(struct(col("vec_id"), col("ne")).as("vn"),
        col("bucket"))
      graft.ext.Dedup.pairsFromBuckets(rows, Seq("bucket"), "vn")
        .withColumn("cos", Similarity.dot(col("a_id.ne"), col("b_id.ne")))
        .filter(col("cos") >= 0.35)
        .select(col("a_id.vec_id").as("a_id"), col("b_id.vec_id").as("b_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- ANN quality evaluation: recall of the approximate paths
    //      against the exact brute-force top-3 (the metric an ANN
    //      deployment is judged by). Composes the three queries. ----
    "q57_ann_recall" -> ((s, d) =>
      recallVsExact(s, d,
        ("n_lsh", "recall_lsh", queries("q39_ann_lsh")(s, d)),
        ("n_ivf", "recall_ivf", queries("q50_ann_ivf")(s, d)))),

    // ---- Int8 scalar quantization: per-vector max-abs scale, each
    //      component rounded to [-127,127] — the 4× memory/bandwidth
    //      compression a 100 TB embedding store runs. The query ranks
    //      brute-force top-3 on QUANTIZED cosines and reports recall
    //      against the float exact top-3, so the compression's quality
    //      cost is a measured number like the index recalls. ----
    "q62_int8_recall" -> ((s, d) =>
      recallVsExact(s, d, ("n_hit", "recall_q8", int8Top3(s, d)((e, q) =>
        e.crossJoin(q).filter(col("vec_id") =!= col("q_id")))))),

    // ---- The deployed configuration: IVF pruning over INT8-compressed
    //      inverted lists (candidates from the index, scored on the
    //      quantized vectors) — ~4.4× compute pruning × 4× memory
    //      compression, with the COMBINED recall measured against the
    //      float exact baseline. ----
    "q64_ivf_int8_recall" -> ((s, d) =>
      recallVsExact(s, d, ("n_hit", "recall_ivf_q8", int8Top3(s, d)((e, q) =>
        ivfCandidates(s, d).select(col("q_id"), col("vec_id"))
          .join(q, "q_id").join(e, "vec_id"))))),

    // ---- Product quantization (ADC): the 100 TB embedding-store scan
    //      path. Corpus vectors are encoded once into PqSubs argmin
    //      codes (16 × 6 bits = 12 bytes vs 256 bytes of float32 —
    //      ~21× compression); each query precomputes per-subspace LUTs
    //      of dots against the codebooks, so scoring a candidate is
    //      PqSubs array lookups instead of a 64-dim dot. The ADC
    //      top-PqRerank shortlist is then re-ranked with exact float
    //      dots — the standard two-stage PQ deployment — and BOTH
    //      stages' recall vs the float exact top-3 is reported
    //      (recall_adc shows what the codes alone buy; recall_pq what
    //      the deployment gets: 0.96 @ sf0.01, 0.92 @ sf0.1). ----
    "q65_pq_recall" -> ((s, d) => {
      val (coded, q) = pqFrames(s, d)
      val (top3, adc3) = adcRerank(coded.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id")), Similarity.dot(col("qe"), col("ne")))
      // the re-rank hits join first; the columns report the ADC stage first
      recallVsExact(s, d, ("n_hit", "recall_pq", top3), ("n_adc", "recall_adc", adc3))
        .select("n_true", "n_adc", "n_hit", "recall_adc", "recall_pq")
    }),

    // ---- IVFPQ — the production ANN architecture at 100 TB: queries
    //      probe their top cells, candidates are scored by ADC lookups
    //      over their 96-bit PQ codes, and the top-PqRerank shortlist
    //      is re-ranked by exact cosine, with the end-to-end recall
    //      measured against the float exact baseline. The candidates
    //      are q50's standing (q_id, vec_id, cos) set, joined to the
    //      coded corpus and the query LUTs. Their exact cosines were
    //      already computed for q50 and are cached, so here the ADC
    //      stage picks the shortlist and saves no float work; in a
    //      deployment that does not hold the cosines, the shortlist is
    //      the only part that touches float vectors. ----
    "q69_ivfpq_recall" -> ((s, d) => {
      val (coded, q) = pqFrames(s, d)
      val (top3, adc3) = adcRerank(
        ivfCandidates(s, d).join(coded, "vec_id").join(broadcast(q), "q_id"), col("cos"))
      recallVsExact(s, d, ("n_hit", "recall_ivfpq", top3),
          ("n_adc", "recall_adc_ivf", adc3))
        .select("n_true", "n_adc", "n_hit", "recall_adc_ivf", "recall_ivfpq")
    }),

    // ---- Streaming index ingest — the 100 TB vector store's WRITE
    //      path: vectors arrive on a stream and are indexed online.
    //      IVF cell assignment (top-IvfAssignN, assignCells) and the
    //      96-bit PQ encode are pure map-side expressions against the
    //      trained codebooks, so ingest has NO shuffle, NO state store
    //      and NO join — each micro-batch appends straight into the
    //      inverted lists. The result audits the built index per cell
    //      (list size, membership + code checksums); the oracle
    //      rebuilds the same index relationally from the SAME training
    //      math, proving the streamed index is bit-identical to a
    //      batch rebuild (the property that lets a deployment mix
    //      batch bootstrap with streaming catch-up). ----
    "q73_stream_index_ingest" -> ((s, d) => {
      val cb = pqCodebooks(s, d)
      val cents = centroids(s, d)
      val in = ingestFixture(s, d)
      val schema = s.read.parquet(in).schema
      val out = StreamingQueries.drainToParquet("q73_stream_index_ingest",
        Similarity.ivfCells(s.readStream.schema(schema).parquet(in)
            .withColumn("codes", Similarity.pqCodes(col("ne"), cb, Dims)), cents, IvfAssignN)
          .select(col("vec_id"), element_at(col("codes"), 1).as("c0"), col("cell")))
      s.read.parquet(out)
        .select(col("cell").cast("long").as("cell"),
          col("c0").cast("long").as("c0"), col("vec_id"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("c0")).as("sum_code0"),
          sum(col("vec_id")).as("sum_vec_id"))
        .orderBy(col("cell"))
    }),

    // ---- ANN cost evaluation: candidate counts vs brute force — the
    //      measured pruning factor that, with q57's recall, makes the
    //      quality/cost tradeoff of both indexes a number, not a hope. ----
    "q59_ann_candidates" -> ((s, d) => {
      val e = prepped(s, d)
      val stats = e.agg(count(lit(1)).as("n"),
        sum(when(isQuery(s, d), 1).otherwise(0)).as("nq"))
      val lc = lshCandidates(s, d).agg(count(lit(1)).as("n_lsh"))
      val ic = ivfCandidates(s, d).agg(count(lit(1)).as("n_ivf"))
      stats.crossJoin(lc).crossJoin(ic)
        .withColumn("n_bf", col("nq") * (col("n") - 1))
        .select(col("n_bf"), col("n_lsh"), col("n_ivf"),
          round(col("n_bf").cast("double") / col("n_lsh"), 2).as("prune_lsh"),
          round(col("n_bf").cast("double") / col("n_ivf"), 2).as("prune_ivf"))
    }),

    // ---- SemDeDup (Abbas et al. '23): semantic dedup = k-means
    //      cluster the embeddings, then prune within-cluster near-
    //      duplicates. Reuses the trained IVF centroids; assignment is
    //      the same map-side assignCells argmax as the index build,
    //      pair comparisons stay WITHIN cells (pairsFromBuckets — one
    //      groupBy(cell), never an all-pairs scan), and a vector is
    //      pruned when it cosines ≥ τ with a LOWER-id cell-mate (keep-
    //      first — pair-local, no transitive closure, so the oracle
    //      reproduces it relationally). At 100 TB the cell count k
    //      scales with n, holding per-cell occupancy (and the O(Σ
    //      cell²) compare cost) constant per partition. ----
    "q79_semdedup" -> ((s, d) => {
      val cents = centroids(s, d)
      val cells = prepped(s, d)
        .withColumn("cell", element_at(Similarity.assignCells(col("ne"), cents, 1), 1))
        .select(col("vec_id"), col("ne"), col("cell"))
      val rows = cells.select(struct(col("vec_id"), col("ne")).as("vn"),
        col("cell"))
      val removed = graft.ext.Dedup.pairsFromBuckets(rows, Seq("cell"), "vn")
        .withColumn("cos", Similarity.dot(col("a_id.ne"), col("b_id.ne")))
        .filter(col("cos") >= SemTau)
        .select(col("b_id.vec_id").as("vec_id"))
        .distinct()
        .withColumn("rm", lit(1L))
      cells.join(removed, Seq("vec_id"), "left")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("n_removed"))
        .orderBy(col("cell"))
    }),

    // ---- Per-domain embedding centroids: the domain-drift /
    //      coherence monitor a corpus pipeline runs per source —
    //      centroid of the unit vectors, whose norm ∈ [0,1] measures
    //      domain coherence (≈1 when a source's docs all embed alike).
    //      The mean comes from [[sourceMeans]]: the order-pinned fold
    //      in oracle mode (bit-portable to DuckDB), the tree-reduced
    //      VecMean aggregate in production mode (bounded per-group
    //      state at any source size). ----
    "q87_domain_centroids" -> ((s, d) =>
      sourceMeans(sourcedEmbeddings(s, d), exactMeans(s))
        .select(col("source"), col("n_vecs"),
          round(sqrt(Similarity.dot(col("mean"), col("mean"))), 4)
            .as("coherence"),
          round(element_at(col("mean"), 1), 6).as("c0"))
        .orderBy(col("source"))),

    // ---- Embedding outlier detection: the data-cleaning tail of
    //      centroid assignment (SemDeDup prunes the TOO-CLOSE tail;
    //      this flags the TOO-FAR one — mislabeled/corrupted items a
    //      curation pass quarantines). Per source: q87's [[sourceMeans]]
    //      table (pinned fold in oracle mode, tree-reduced VecMean in
    //      production), then every vector scores cos(ne, mean/|mean|)
    //      map-side — the 20×d mean table BROADCASTS, the dot is the
    //      codegen'd VecDot kernel, and no corpus shuffle happens
    //      beyond the per-source rollup. Outlier bar cos < 0 (negative
    //      correlation with the domain center — ~5% of this corpus,
    //      measured); min/max are order-independent aggregates, so
    //      every output is engine-exact. ----
    "q109_embedding_outliers" -> ((s, d) => {
      val e = sourcedEmbeddings(s, d)
      val means = sourceMeans(e, exactMeans(s))
        .select(col("source"), col("mean"))
      e.join(broadcast(means), Seq("source"))
        .withColumn("cos", Similarity.dot(col("ne"), col("mean")) /
          sqrt(Similarity.dot(col("mean"), col("mean"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("cos") < OutlierCos, 1L).otherwise(0L))
            .as("n_outliers"),
          round(min(col("cos")), 4).as("min_cos"),
          round(max(col("cos")), 4).as("max_cos"))
        .orderBy(col("source"))
    }),

    // ---- Streaming ANN search: the ONLINE half of the index story
    //      (q73 streams the build; this streams the queries). Query
    //      vectors arrive raw in two waves; per micro-batch each is
    //      normalized and probed map-side against the PLAN-LITERAL
    //      centroids, the probe set broadcasts into the standing
    //      [[corpusCells]] inverted index (built once, cached — at
    //      cluster scale, q73's cell-partitioned table), and the
    //      per-batch top-3 appends to the result log. The corpus is
    //      never re-assigned and never shuffles; batch latency is
    //      O(|batch| probes × cell occupancy). The oracle is the BATCH
    //      IVF search over the same cohort — streaming the queries must
    //      not change a single answer. ----
    "q111_stream_ann_search" -> ((s, d) => {
      val inDir = annQueryFixture(s, d)
      val search = annSearchBatch(s, d)
      val schema = s.read.parquet(inDir).schema
      val out = StreamingQueries.drainToParquet("q111_stream_ann_search",
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir), search)
      s.read.parquet(out)
        .select(col("wave"), col("q_id"), col("rn"), col("vec_id"),
          col("cos"))
        .orderBy(col("q_id"), col("rn"))
    })
  )

  /** q111's per-micro-batch search: raw (vec_id, embedding) queries →
    * top-3 neighbours per query, with the wave. The batch is probed
    * against the standing index by the same [[Similarity.ivfCandidates]]
    * the batch IVF search uses, so neither the distinct nor the rank
    * exchange ships the 2×64-double payloads (PlanPostureSpec pins
    * this). */
  private[graft] def annSearchBatch(s: SparkSession, d: String)
      : DataFrame => DataFrame = {
    val idx = corpusCells(s, d)
    val cents = centroids(s, d)
    batch => rankTopK(Similarity.ivfCandidates(idx, cents,
        Similarity.withNormalized(batch, "embedding").select(col("vec_id"), col("ne")),
        IvfProbes), 3)
      .withColumn("wave", col("q_id") % 2)
  }

  /** Staged (vec_id, raw embedding) parquet of the evaluation cohort in
    * two wave files — the q111 stream input. Memoized per dir (paths
    * only, safe across session restarts). */
  private def annQueryFixture(s: SparkSession, d: String): String =
    FrameCache.get("ann-query-fixture", d)({
      val tmp = Files.createTempDirectory("graft_annq_in_").toString
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      val cohort = Tables.embeddings(s, d)
        .filter(isQuery(s, d)).select(col("vec_id"), col("embedding"))
      Seq(0, 1).foreach { w =>
        StreamingQueries.stageSingleFile(cohort.filter(col("vec_id") % 2 === w),
          tmp, in, f"00$w%s_wave.parquet", format = "parquet")
      }
      s"$tmp/in"
    })

  override def oracles: Map[String, String] = SimilarityOracles.oracles
}
