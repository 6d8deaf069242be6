package graft

import graft.ext.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-out probe for the scale-critical operator families.
  *
  * The engine is correctness-tested at sf0.01 and benched at sf0.1, but
  * its design target is a 1000-executor cluster at ~100 TB. This main
  * measures how runtime AND intermediate volume (candidate pairs — the
  * quantity that kills naive dedup at scale) actually grow when the
  * corpus is replicated 4×/16×/64×, so "candidates grow ~linearly" is a
  * measured exponent instead of a claim.
  *
  * Replication keeps duplicate DENSITY constant — the property real
  * corpus growth has and verbatim replication destroys: replica i>0
  * re-keys ids and suffixes every token with `_i`, so each replica
  * reproduces the base corpus's internal (near-)dup structure while
  * sharing nothing across replicas (verbatim copies would make every
  * doc an exact dup of N-1 others and measure that pathology, not the
  * engine). Embedding replicas rotate the vector — norm-preserving,
  * deterministic, and far from the original in cosine.
  *
  * Usage: runMain graft.ScaleProbe <baseSfDir> <scratchDir> <f1> <f2> ...
  * Emits one JSON line per (factor, op): {"factor":F,"op":...,
  * "sec":...,"rows":N} — rows is the op's RESULT volume (dup groups,
  * candidate/verified pairs, components...), the scale-sensitive
  * number. Exponents: log(t_f2/t_f1) / log(f2/f1) between consecutive
  * factors; ~1.0 = linear.
  */
object ScaleProbe {
  /** Every op name this main can emit, in run order — the
    * SPARK_GRAFT_PROBE_OPS validator checks filter elements against
    * this list so a typo or stale name fails loudly instead of
    * running nothing. Keep in sync with the timed(...) calls below. */
  val AllOps: Seq[String] = Seq(
    "exact_dedup_groups", "hll_planner", "minhash_lsh_pairs",
    "simhash_pairs", "winnow_jaccard_pairs", "connected_components",
    "neardup_index_probe", "incremental_cc", "cc_chain_default_fallback",
    "cc_chain_star_rounds", "hot_family_lsh_pairs_guarded",
    "hot_family_exact_dedup", "ann_brute_top10", "ann_ivf_probe",
    "ann_ivf_candidates", "source_mean_tree", "source_mean_fold")

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val scratch = args(1)
    val factors = args.drop(2).map(_.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    try factors.foreach(runFactor(spark, base, scratch, _))
    finally { GraftSession.close(spark); spark.stop() }
  }

  /** Embedding replica `i`: rotation r = 1 + (i % (dim-1)) while
    * i < dim (kept byte-identical, so earlier SCALE.md volumes stay
    * comparable); i >= dim composes a coordinate REVERSAL (a fixed
    * permutation — within-replica inner products survive) with an
    * i % dim rotation — collision-free
    * through [[replicaCap]], past which transforms repeat and the
    * constant-density property breaks (runFactor fails loudly). */
  def embeddingReplica(emb: DataFrame, i: Int, dim: Int): DataFrame =
    if (i == 0) emb
    else {
      val v = if (i < dim) col("embedding") else reverse(col("embedding"))
      val r = if (i < dim) 1 + (i % (dim - 1)) else i % dim
      emb.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        (if (r == 0) v
         else concat(slice(v, r + 1, dim), slice(v, 1, r))).as("embedding"),
        col("label"))
    }

  /** Dihedral distinctness needs dim >= 3: below it the reversal IS a
    * rotation (dim 2) or the identity (dim 1), so the cap stays dim. */
  def replicaCap(dim: Int): Int = if (dim >= 3) 2 * dim else dim

  /** Replica `i` of a documents frame: ids re-keyed into a disjoint
    * range, every token suffixed `_i` (replica 0 is the base,
    * untouched). The suffix changes every shingle/token hash, so
    * replicas share NO dedup structure across each other while each
    * reproduces the base corpus's internal structure — the constant-
    * density property all probe conclusions rest on
    * (`ScaleProbeSpec` pins it). */
  def perturbedReplica(docs: DataFrame, i: Int): DataFrame =
    if (i == 0) docs
    else docs.select(
      (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
      // "$1_i": the underscore stops the group ref from swallowing
      // the digit (a bare "$1" + i would read as group 1i)
      regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"),
      col("lang"), col("source"), col("n_chars"))

  /** Replica ids are the base id + i*10M, and the hot-family / delta
    * probe ops synthesize NEGATIVE ids at EVERY factor (including 1) —
    * so base ids must be non-negative always, while the < 10M bound
    * stays gated on f > 1 (factor 1 applies no replica offsets: a
    * large POSITIVE-id corpus still runs unreplicated). Null-safe:
    * max() ignores nulls, so a table with no non-null ids — empty OR
    * all-NULL — fails with a factor-neutral message ("in base table",
    * not "to replicate": at f=1 nothing is replicated, the guard runs
    * on the unmodified base), not an NPE on a null aggregate. */
  private[graft] def requireIdRange(df: DataFrame, c: String, f: Int): Unit = {
    val r = df.agg(min(c), max(c)).head
    require(!r.isNullAt(1), s"no non-null $c values in base table")
    require(r.getLong(0) >= 0L,
      s"base $c min ${r.getLong(0)} is negative — it could alias the " +
        "probe's synthetic negative ids (hot family, neardup delta)")
    if (f > 1) require(r.getLong(1) < 10000000L,
      s"base $c range [${r.getLong(0)}, ${r.getLong(1)}] escapes " +
        "[0, 10M) — replica ids would collide")
  }

  /** The fixed ANN evaluation set: the 100 smallest `vec_id`s with
    * `vec_id % step == 0`. Replicas shift ids by i·10M, so above 4× more
    * than 100 rows match; taking the smallest (not whichever 100 a
    * `limit` meets first) keeps the set, and every count measured on it,
    * independent of partitioning and core count. */
  private[graft] def evalSet(df: DataFrame, step: Long): DataFrame =
    df.filter(col("vec_id") % step === 0).orderBy(col("vec_id")).limit(100)

  /** Replicate once per factor (skip only when a COMPLETED replication
    * is present), then time each op. */
  private def runFactor(s: SparkSession, base: String, scratch: String,
      f: Int): Unit = {
    val dir = s"$scratch/f$f"
    val docsPath = s"$dir/documents.parquet"
    val embPath = s"$dir/embeddings.parquet"
    // Scratch IO goes through the Hadoop FileSystem API like every
    // other artifact path in the engine (ArtifactStore/FileLifecycle)
    // — the probe must run against cluster storage, not just local
    // disk. The skip guard is a MARKER written after BOTH tables land:
    // guarding on documents.parquet alone let a run that crashed
    // between the two writes leave a scratch dir whose embeddings are
    // never generated (every later run then fails on read).
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, "_REPLICAS_OK")
    if (!hfs.exists(marker)) {
      val docs = Tables.documents(s, base)
      requireIdRange(docs, "doc_id", f)
      (0 until f).map(perturbedReplica(docs, _))
        .reduce(_ unionByName _)
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(docsPath)
      val emb = Tables.embeddings(s, base)
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      require(f <= replicaCap(dim), s"factor $f exceeds the replica " +
        s"cap ${replicaCap(dim)} for embedding dim $dim — transforms " +
        "would collide (constant density)")
      requireIdRange(emb, "vec_id", f)
      (0 until f).map(embeddingReplica(emb, _, dim))
        .reduce(_ unionByName _)
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(embPath)
      hfs.create(marker, true).close()
    }
    val docs = s.read.parquet(docsPath)
    val emb = s.read.parquet(embPath)

    // Optional isolation filter, comma-separated op-name substrings —
    // the fresh-JVM re-measurement protocol (BASELINE.md) for this main.
    val only = sys.env.get("SPARK_GRAFT_PROBE_OPS")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    // A filter element matching NO known op is a typo or a renamed op
    // (e.g. a stale name from an older BASELINE row): fail loudly —
    // a probe that runs nothing and exits 0 records an ABSENT number
    // where the isolation protocol expected a measurement.
    only.foreach(_.foreach { fbit =>
      require(AllOps.exists(_.contains(fbit)),
        s"SPARK_GRAFT_PROBE_OPS element '$fbit' matches no probe op; " +
          s"known ops: ${AllOps.mkString(", ")}")
    })
    // Section gate: run a section's (untimed) setup iff SOME of its FULL
    // op names matches the filter, with the same substring direction
    // timed() uses (filter ⊆ op name). Gating on a short prefix string
    // inverted the match: a full-name filter like
    // SPARK_GRAFT_PROBE_OPS=cc_chain_star_rounds silently ran nothing.
    def wanted(ops: String*): Boolean =
      only.forall(fs => ops.exists(op => fs.exists(op.contains)))
    def timed(op: String)(body: => Long): Unit = {
      // keeps AllOps honest: a new timed() op must be registered there
      // or every run fails immediately, filtered or not
      require(AllOps.contains(op), s"op '$op' missing from ScaleProbe.AllOps")
      if (!wanted(op)) return
      System.gc()
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"factor":$f,"op":"$op","sec":$sec%.3f,"rows":$rows}""")
    }

    // 1. Exact dedup: hash-groupBy — the baseline linear shuffle.
    timed("exact_dedup_groups") {
      docs.groupBy(Dedup.contentKey(col("text")).as("ck"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    }

    // 2. HLL planner: one map-side-combinable sketch pass.
    timed("hll_planner") {
      docs.agg(approx_count_distinct(Dedup.contentKey(col("text")), 0.02))
        .count()
    }

    // 3. MinHash+LSH near-dup: band buckets → verified jaccard pairs.
    timed("minhash_lsh_pairs") {
      Dedup.minhashLshPairs(docs, "doc_id", "text").count()
    }

    // 4. SimHash banding: 60-bit sig, 4×15-bit chunks, hamming ≤ 3.
    timed("simhash_pairs") {
      val sig = docs
        .withColumn("th", Dedup.tokenHashes(col("text")))
        .withColumn("sh", Dedup.simhashFromHashes(col("th"), 60))
        .select(col("doc_id"), col("sh"))
      sig.cache(); sig.count()
      try {
        val bands = sig
          .select(col("doc_id"), posexplode(Dedup.simhashChunks(col("sh"), 15, 4)))
          .toDF("doc_id", "c", "v")
        val cand = Dedup.pairsFromBuckets(bands, Seq("c", "v"), "doc_id")
        cand
          .join(sig.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
          .join(sig.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
          .filter(Dedup.hamming(col("sa"), col("sb")) <= 3)
          .count()
      } finally sig.unpersist()
    }

    // 5. Winnowing fingerprints → bucket candidates → jaccard verify
    //    (the q37 shape: the verify join is the scale risk).
    timed("winnow_jaccard_pairs") {
      val sh = docs
        .withColumn("h", TextAnalysis.shingleHashes(col("text"), 3))
        .filter(size(col("h")) > 0)
        // fingerprints need the POSITIONAL hashes; the verify join needs
        // the DISTINCT set — q37 applies array_distinct before jaccard
        // (DedupQueries), and the IntersectSizeLong kernel's contract is
        // distinct-element arrays (a repeated shingle would pair up in
        // the merge count and inflate the pseudo-Jaccard past what
        // size(array_intersect(..)) computes)
        .select(col("doc_id"), array_distinct(col("h")).as("hd"),
          TextAnalysis.fingerprintsFromHashes(col("h"), 4).as("fp"))
      sh.cache(); sh.count()
      try {
        val cand = Dedup.pairsFromBuckets(
          sh.select(col("doc_id"), explode(col("fp")).as("f")), Seq("f"), "doc_id")
        val hd = sh.select(col("doc_id").as("id"), col("hd").as("hs"))
        Dedup.verifiedPairs(cand, "a_id", "b_id", hd, hd, 0.8).count()
      } finally sh.unpersist()
    }

    // 6. Connected components over the near-dup edges (edges cached
    //    outside the timer — this times label propagation, not pair
    //    gen; the unpersist is likewise outside so eviction cost never
    //    rides on the measurement).
    if (wanted("connected_components")) {
      val edges = Dedup.minhashLshPairs(docs, "doc_id", "text")
        .select(col("a_id"), col("b_id"))
      edges.cache(); edges.count()
      try timed("connected_components") {
        Dedup.connectedComponents(edges).select(col("comp")).distinct().count()
      } finally edges.unpersist()
    }

    // 8+9. The INCREMENTAL path: a fixed 500-doc novel delta against the
    //    standing corpus index (the q80/q105 admission shape), then
    //    incremental CC folding the delta's edges into the standing
    //    labels (q106). The index build and corpus labels are snapshot
    //    investments (untimed); the timed work is what a batch pays.
    //    Expectation: probe ~flat in corpus size (O(delta) signatures +
    //    a bucket equi-join against capped buckets); incremental CC
    //    linear-in-corpus SCAN with delta-diameter-bounded iterations.
    if (wanted("neardup_index_probe", "incremental_cc")) {
      // Half the delta re-submits corpus docs verbatim (admission hits:
      // candidate buckets + verify joins fire), half is novel text
      // (misses: signature work only) — the realistic batch mix.
      val base = docs.orderBy(col("doc_id")).limit(500)
      val delta = base.limit(250)
        .select((-col("doc_id") - 1).as("doc_id"), col("text"))
        .unionByName(base.orderBy(col("doc_id").desc).limit(250)
          .select((-col("doc_id") - 1).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1_d").as("text")))
      val idx = Dedup.buildNearDupIndex(docs, "doc_id", "text",
        shingleN = 3) // pinned: the probes below shingle at 3 too
      idx.hashes.count(); idx.guardedBands.count() // untimed build
      try {
        timed("neardup_index_probe") {
          idx.probe(delta, "doc_id", "text", shingleN = 3).count()
        }
        // The standing-labels snapshot is an EXPENSIVE untimed build —
        // only pay for it when the incremental experiment is selected,
        // and unpersist in a finally OUTSIDE timed() so a filtered run
        // can't leak the caches and eviction never rides on the
        // measured time.
        if (wanted("incremental_cc")) {
          val labels = Dedup.connectedComponents(
            Dedup.minhashLshPairs(docs, "doc_id", "text")
              .select(col("a_id"), col("b_id")))
          labels.cache(); labels.count() // untimed standing snapshot
          val deltaEdges = idx.probe(delta, "doc_id", "text", shingleN = 3)
            .select(col("d_id").as("a_id"), col("c_id").as("b_id"))
          deltaEdges.cache(); deltaEdges.count()
          try timed("incremental_cc") {
            Dedup.connectedComponentsIncremental(labels, deltaEdges)
              .select(col("comp")).distinct().count()
          } finally { labels.unpersist(); deltaEdges.unpersist() }
        }
      } finally idx.unpersist()
    }

    // 11. Adversarial graph shape: a CHAIN of length 2500·f — the
    //     deep-diameter worst case for min-label propagation (its
    //     iteration bound is the component diameter; near-dup graphs
    //     are clique-like so the default is right for dedup, but a
    //     pathological graph must not wedge the engine). The default
    //     API detects min-label non-convergence and falls back to the
    //     alternating-star algorithm, so this measures the WORST-CASE
    //     TOTAL a caller pays on the pathological shape (maxIter wasted
    //     min-label rounds + the star run) and asserts the answer is
    //     the ONE true component, where min-label propagation alone
    //     leaves the chain shattered into thousands of components.
    if (wanted("cc_chain_default_fallback", "cc_chain_star_rounds")) {
      val nChain = 2500L * f
      val chain = s.range(nChain - 1)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      chain.cache(); chain.count()
      try {
        timed("cc_chain_default_fallback") {
          val comps = Dedup.connectedComponents(chain, 15)
            .select(col("comp")).distinct().count()
          require(comps == 1L,
            s"default CC left $comps components on a chain — the star " +
            "fallback did not engage")
          comps
        }
        // "rows" here = alternating-star ROUNDS to the fixed point
        // (component count is asserted = 1 inside the body)
        timed("cc_chain_star_rounds") {
          val (labels, iters) = Dedup.connectedComponentsStar(chain, 40)
          val comps = labels.select(col("comp")).distinct().count()
          require(comps == 1L, s"star left $comps components on a chain")
          iters.toLong
        }
      } finally chain.unpersist()
    }

    // 12. Hot near-dup family: 15k verbatim copies of one template —
    //     the boilerplate pathology whose all-pairs enumeration
    //     (C(15k,2) ≈ 112M pairs) no bucketing can save. The
    //     DefaultMaxBucket guard (mirrored in the oracles) drops the
    //     family's saturated buckets, so LSH pair volume and runtime
    //     stay at the base corpus's; the family itself is EXACT-dup
    //     territory, caught by the hash-groupBy stage that runs first
    //     in the funnel (canonical order: exact → near).
    if (wanted("hot_family_lsh_pairs_guarded", "hot_family_exact_dedup")) {
      val template = docs.orderBy(col("doc_id")).limit(1)
        .select(col("text")).head.getString(0)
      // hot ids NEGATIVE: replica ids are >= 0, so no factor can ever
      // collide (a fixed positive offset hit replica 90's range at 128×)
      val hot = docs.sparkSession.range(15000)
        .select((-col("id") - 1000000L).as("doc_id"),
          lit(template).as("text"))
      val poisoned = docs.select(col("doc_id"), col("text")).unionByName(hot)
      timed("hot_family_lsh_pairs_guarded") {
        Dedup.minhashLshPairs(poisoned, "doc_id", "text").count()
      }
      timed("hot_family_exact_dedup") {
        poisoned.groupBy(Dedup.contentKey(col("text")).as("ck"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      }
    }

    // 7. Brute-force ANN baseline: fixed ~100-query eval set against the
    //    full corpus — linear in corpus size by construction.
    //    (lazy: a filtered run selecting no ANN op must not pay the
    //    embeddings scan that sizes the eval set — but any selected ANN
    //    op forces it BEFORE its timed body, so the sizing scan never
    //    rides on a measurement)
    lazy val n = emb.count()
    lazy val step = math.max(1L, n / 100L)
    if (wanted("ann_brute_top10", "ann_ivf_probe", "ann_ivf_candidates")) {
      val _ = step
    }
    timed("ann_brute_top10") {
      val queries = evalSet(emb, step)
        .select(col("vec_id").as("q_id"), col("embedding").as("q"))
      val scored = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .withColumn("score", Similarity.dot(col("embedding"), col("q")))
      Similarity.topByScore(scored, "score", 10).count()
    }

    // 10. IVF probe against the same eval set: the corpus cell
    //     assignment is a snapshot investment (untimed, cached); each
    //     query scores only its top-⌈k/8⌉ cells of k — a constant ~25%
    //     probed fraction with 2× multi-assign. k SCALES as √n (the
    //     standard IVF sizing): measured here, holding k=96 at 64×
    //     (128k vectors) let cells go hot and candidate volume reach
    //     62% of brute — the probe ran SLOWER than the linear scan
    //     (13.9 vs 4.7 s). √n cells keep per-cell occupancy √n and the
    //     pruned fraction constant as the corpus grows.
    if (wanted("ann_ivf_probe", "ann_ivf_candidates")) {
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val k = math.max(96, math.ceil(math.sqrt(n.toDouble)).toInt)
      val probeCells = math.max(12, k / 8)
      val nemb = Similarity.withNormalized(emb, "embedding")
        .select(col("vec_id"), col("ne"))
      val sample = nemb.filter(col("vec_id") % 2 === 0)
      val cents = Similarity.trainKmeans(sample, k, 3, dim)
      val cells = Similarity.ivfCells(nemb, cents, 2)
      cells.cache(); cells.count() // untimed snapshot investment
      // the production probe: distinct (q_id, vec_id, cos) candidates
      val candidates = Similarity.ivfCandidates(cells, cents, evalSet(nemb, step), probeCells)
      try {
        timed("ann_ivf_probe") {
          Similarity.topByScore(candidates, "cos", 10).count()
        }
        // The scored-candidate volume — the number that dominates at
        // real scale, where scoring (not shuffle setup) is the cost.
        // Brute scores (n-1)·100; the ratio is the pruning factor the
        // √n cell count is meant to hold constant.
        timed("ann_ivf_candidates") {
          candidates.count()
        }
      } finally cells.unpersist()
    }

    // 13+14. Per-source mean at the UNBOUNDED-group extreme: EVERY
    //     vector of the replicated corpus forced into ONE source group
    //     — the q87/q109 shape whose oracle-mode fold materializes the
    //     whole group into a single row, which is unsafe at 100× scale.
    //     The production tree-reduced VecMean must stay ~flat per row
    //     (bounded (count, sum[d]) state, map-side partials); the
    //     pinned fold is measured alongside as the pathology
    //     baseline — its one-row array grows with the
    //     corpus, so this deliberately-OOM-able op runs LAST in the
    //     factor: a fold blowup at an extreme factor must not abort
    //     the other ops' measurements. rows = the group size (the
    //     scale-sensitive number; the result is always one group).
    if (wanted("source_mean_tree", "source_mean_fold")) {
      val one = Similarity.withNormalized(emb, "embedding")
        .select(col("vec_id"), col("ne"), lit("s0").as("source"))
      timed("source_mean_tree") {
        graft.queries.SimilarityQueries.sourceMeans(one, exact = false)
          .select(col("n_vecs")).head.getLong(0)
      }
      timed("source_mean_fold") {
        graft.queries.SimilarityQueries.sourceMeans(one, exact = true)
          .select(col("n_vecs")).head.getLong(0)
      }
    }
  }
}
