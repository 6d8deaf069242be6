package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star per
  * SURVEY.md §0): exact, bag-of-words canonical, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - Signatures (MinHash, SimHash, canonical keys) are pure per-row
  *    array expressions — computed map-side during the scan, no shuffle,
  *    no UDFs, whole-stage-codegen'd.
  *  - Candidate generation is an equi-join on LSH band hashes (or SimHash
  *    chunks) — the ONLY shuffle, keyed on band buckets which are
  *    uniformly distributed by construction (md5), so no skew.
  *  - Pairwise verification (exact Jaccard / Hamming) runs only on
  *    candidates, never all-pairs. This is the standard web-scale layout
  *    (Broder's shingling + banding; Charikar's SimHash chunks).
  *
  * All hashes via [[Hashing.md5Long]] → bit-for-bit reproducible in any
  * engine with md5 (DuckDB oracle recomputes everything).
  */
object Dedup {

  /** Exact-content key (md5 hex) for hash-groupBy dedup. */
  def contentKey(c: Column): Column = md5(c.cast("binary"))

  /** Order-insensitive canonical key: hash of the sorted token list.
    * Catches docs that are permutations of the same bag of words. */
  def bagOfWordsKey(c: Column): Column =
    Hashing.md5Long(concat_ws(" ", array_sort(TextAnalysis.tokens(c))))

  /** Distinct `n`-token shingle strings (empty array when < n tokens). */
  def distinctShingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>")))
  }

  /** MinHash permutations via universal hashing over ONE base hash
    * (Carter–Wegman): h_j(x) = (A_j·base(x) + B_j) mod p, p = 2³¹−1.
    * One md5 per shingle total (vs k md5s with seeded families — 16×
    * less hashing on the scan), and the linear family is reproducible
    * in any engine with 64-bit integer arithmetic. */
  val MinhashP: Long = 2147483647L // Mersenne prime 2^31-1
  def minhashA(j: Int): Long = ((2L * j + 1) * 2654435761L) % MinhashP
  def minhashB(j: Int): Long = (7919L * j + 1) % MinhashP

  /** Base hashes for a shingle-string array: md5Long mod p. Materialize
    * this as a column before deriving the signature (Catalyst inlines
    * nested expressions into every lambda reference). */
  def baseHashes(shingles: Column): Column =
    transform(shingles, s => Hashing.md5Long(s) % MinhashP)

  /** Signature from a MATERIALIZED base-hash array column: element j =
    * min over shingles of the j-th linear permutation. One-pass native
    * kernel ([[graft.functions.MinhashSig]]) — bit-identical to the
    * k-transforms-plus-array_min composition it replaced, without the k
    * interpreted re-scans (spec-asserted in DedupSpec). */
  def minhashSignature(baseHashCol: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MinhashSig(
        org.apache.spark.sql.GraftColumnBridge.expression(baseHashCol),
        (0 until k).map(minhashA), (0 until k).map(minhashB), MinhashP))

  /** LSH band hashes: signature split into `bands` rows-per-band groups,
    * each group hashed to one bucket key. Docs sharing any band bucket
    * become candidate pairs. */
  def lshBandHashes(sig: Column, k: Int, bands: Int): Column = {
    // Fail fast on a non-dividing banding: k/bands truncates, silently
    // dropping the signature tail from banding — and bands > k makes
    // rows = 0, so EVERY doc hashes an empty slice into one identical
    // bucket per band, which the hot-bucket guard then drops wholesale:
    // zero pairs returned, no error, all duplicates silently missed.
    // k >= 1 too: k = 0 satisfies 0 % bands == 0 but makes rows = 0 —
    // the same empty-slice constant-bucket failure the divide check
    // exists to prevent
    require(k >= 1 && bands >= 1 && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k), k >= 1")
    val rows = k / bands
    array((0 until bands).map { b =>
      Hashing.md5Long(concat_ws(",",
        transform(slice(sig, b * rows + 1, rows), v => v.cast("string"))))
    }: _*)
  }

  /** Exact Jaccard between two distinct-element long-array columns:
    * |A∩B| via the one-pass [[graft.functions.IntersectSizeLong]]
    * kernel (sort + merge count — bit-identical counts to
    * `size(array_intersect(a, b))` on distinct arrays, spec-asserted in
    * DedupSpec, without materializing the intersection array per pair),
    * |A∪B| = |A|+|B|−|A∩B|. The division stays a Catalyst composition
    * so promotion/zero-divide semantics are unchanged.
    *
    * `array<bigint>` inputs ONLY — the kernel's analysis-time type
    * check rejects anything else (element types aren't knowable when
    * this Column is constructed, so dispatch can't happen here). For
    * string/int/other element types use [[jaccardAny]], the built-in
    * composition with identical semantics on any comparable element
    * type. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.IntersectSizeLong(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Jaccard over distinct-element arrays of ANY comparable element
    * type — the `array_intersect` composition [[jaccard]]'s long-array
    * kernel replaced (and the spec's bit-identity baseline). Use this
    * for non-`bigint` element types. */
  def jaccardAny(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Token-hash array for SimHash — materialize as a column before
    * calling [[simhashFromHashes]] (one md5 per token; passing the
    * expression inline would recompute it per bit). */
  def tokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(text), t => Hashing.md5Long(t))

  /** SimHash (default 32-bit; pass bits=64 for the full-width signature
    * the production banding uses) from a MATERIALIZED token-hash array
    * column: bit b
    * is set iff tokens whose hash has bit b outnumber those that don't
    * (sign of the ±1 weight sum, expressed as 2·|set| − n > 0).
    * One-pass native kernel ([[graft.functions.SimhashBits]]) — bit-
    * identical to the 32-filter composition it replaced, without the 32
    * interpreted re-scans (spec-asserted in DedupSpec). */
  def simhashFromHashes(th: Column, bits: Int = 32): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SimhashBits(
        org.apache.spark.sql.GraftColumnBridge.expression(th), bits))

  /** SimHash chunk keys for candidate banding: `nChunks` groups of
    * `chunkBits` bits; docs agreeing on any chunk are candidates (a pair
    * within Hamming distance d < nChunks must share ≥1 chunk).
    *
    * Selectivity at scale: the bucket keyspace is `nChunks · 2^chunkBits`
    * — a CONSTANT. With 8-bit chunks that is 1,024 buckets total, so
    * candidates grow O(n²/1024) with corpus size; 16-bit chunks give
    * 262,144 buckets and keep per-bucket occupancy (hence pair volume)
    * tractable ~256× longer. Pair 16-bit chunks with a 64-bit SimHash.
    *
    * Sign-safe for full-width signatures: unsigned shift + bit mask
    * (an arithmetic shift of a negative 64-bit simhash followed by `%`
    * would yield negative chunk keys). */
  def simhashChunks(sh: Column, chunkBits: Int, nChunks: Int): Column = {
    // Fail fast on chunks that overrun the 64-bit signature space: a
    // shift distance >= 64 wraps (JVM shifts mod 64) and a 64-bit mask
    // computes as 0 — either way entire chunks silently become the
    // CONSTANT key 0 for every doc (one mega-bucket per overrun chunk:
    // O(n²) candidates below DefaultMaxBucket, zero recall from those
    // chunks above it). Same degenerate-parameter class as lshBandHashes.
    require(chunkBits >= 1 && chunkBits <= 63 && nChunks >= 1 &&
        chunkBits.toLong * nChunks <= 64,
      s"simhashChunks: $nChunks chunks x $chunkBits bits must fit in " +
        "the 64-bit signature (chunkBits in 1..63)")
    array((0 until nChunks).map(c =>
      shiftrightunsigned(sh, c * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1))): _*)
  }

  /** Hamming distance between two SimHash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // Banding of a 60-bit signature into 4×15-bit chunks: hamming ≤ 3 ⇒
  // the pair shares ≥1 chunk (pigeonhole), and the bucket keyspace is
  // 4·2^15 = 131,072, wide enough that per-bucket occupancy stays
  // selective as the corpus grows (8-bit chunks gave a 1,024-bucket
  // keyspace → O(n²/1024) candidate growth — a measured scale-killer at
  // sf0.1 already). 60 bits, not 64: token hashes are md5Long = 60-bit
  // (the portable-BIGINT ceiling), so signature bits 60–63 would be
  // identically zero — a nominal 64/16 split would leave the top chunk
  // with 12 bits of real entropy, 8× worse than four full 15-bit chunks.
  val SimChunkBits: Int = 15
  val SimChunks: Int = 4

  /** Near-duplicate pairs of a (id, 60-bit signature) frame within
    * Hamming distance `maxHam`: candidates share a
    * [[SimChunkBits]]-bit chunk ([[pairsFromBuckets]] over the
    * [[SimChunks]] chunk keys), then one xor + bit_count verifies each.
    * The signature rides through the bucket groupBy inside the id
    * struct (an 8-byte payload), so the verify needs no rejoin and the
    * signature lineage is read once. A pair within `maxHam` is found
    * only if it shares a chunk: always when `maxHam < SimChunks`
    * (pigeonhole); above that, only where the caller knows which chunks
    * its near-copies leave intact (q104's re-encode). Returns (a_id,
    * b_id, ham) with a_id < b_id. */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHam: Int): DataFrame = {
    val chunks = sigs.select(
      struct(col(idCol).as("id"), col(sigCol).as("sig")).as("ds"),
      posexplode(simhashChunks(col(sigCol), SimChunkBits, SimChunks))
        .as(Seq("c", "ck")))
    pairsFromBuckets(chunks, Seq("c", "ck"), "ds")
      .withColumn("ham", hamming(col("a_id.sig"), col("b_id.sig")))
      .filter(col("ham") <= maxHam)
      .select(col("a_id.id").as("a_id"), col("b_id.id").as("b_id"), col("ham"))
  }

  /** Near-duplicate pairs of a positional shingle-hash frame (id, h)
    * with exact Jaccard ≥ `threshold`: candidates share a winnowing
    * fingerprint (window 4, Schleimer et al., SIGMOD'03), and
    * [[verifiedPairs]] checks them against the distinct hashes. The
    * verify arrays are sorted once per doc: the intersect kernel
    * (IntersectSizeLong.mergeCount) sorts both arrays per PAIR, so a
    * presorted array makes that a near-linear pass (sf0.1 q37: ~434k
    * pair-side sorts become 15k doc-side ones); jaccard is a set
    * measure, so the output is unchanged. Cache `hsh` when it is
    * expensive: both branches read it. Returns (a_id, b_id, jacc). */
  def winnowPairs(hsh: DataFrame, idCol: String, hCol: String,
      threshold: Double): DataFrame = {
    val sh = hsh.select(col(idCol).as("id"),
      array_sort(array_distinct(col(hCol))).as("hs"))
    val fps = hsh.select(col(idCol),
      explode(TextAnalysis.fingerprintsFromHashes(col(hCol), 4)).as("fp"))
    verifiedPairs(pairsFromBuckets(fps, Seq("fp"), idCol),
      "a_id", "b_id", sh, sh, threshold)
  }

  /** Default degenerate-bucket cap — referenced by the DuckDB oracles
    * too, so engine and oracle drop exactly the same buckets at any
    * scale (a silent cap only on one side would diverge once a bucket
    * exceeds it). */
  val DefaultMaxBucket: Int = 10000

  /** Candidate (a_id, b_id) pairs from bucket rows, WITHOUT a self-join:
    * group by the bucket key, collect the ids, emit every within-bucket
    * combination (a < b via the sorted array), then dedupe across
    * buckets. A self-join would recompute the (expensive) bucket-key
    * lineage once per side; this computes it once and shuffles only
    * (key, id) pairs. Buckets are hash-uniform by construction, so
    * collect_list stays tiny; the [[DefaultMaxBucket]] guard drops
    * degenerate buckets (stop-fingerprint protection at scale). */
  def pairsFromBuckets(rows: DataFrame, keyCols: Seq[String],
      idCol: String): DataFrame = {
    val ids = col("ids")
    val combos = flatten(transform(sequence(lit(1), size(ids) - 1),
      i => transform(slice(ids, i + 1, size(ids) - i),
        b => struct(element_at(ids, i).as("a_id"), b.as("b_id")))))
    rows.groupBy(keyCols.map(col): _*)
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(ids) > 1 && size(ids) <= DefaultMaxBucket)
      .select(explode(combos).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
  }

  /** Connected components over an undirected near-dup edge list — the
    * dedup ENDGAME: pair lists become clusters, and each cluster keeps
    * one canonical representative (its minimum id, which is also the
    * component label — a deterministic fixpoint independent of
    * iteration order, so an external oracle reproduces it via
    * transitive closure).
    *
    * Algorithm: neighbour-min label propagation. Each iteration is one
    * equi-join + min-aggregate (both map-side-combinable), repeated
    * until no label changes — O(component diameter) iterations, and
    * near-dup graphs are clique-like (diameter ≲ 3). The driver-side
    * loop with a per-iteration convergence action is the standard shape
    * for iterative graph algorithms (GraphX/Pregel does the same); at
    * larger diameters the alternating star variants drop the bound to
    * O(log n) with the same per-iteration plan. Returns (id, comp).
    *
    * NON-CONVERGENCE IS NEVER RETURNED: if min-label hits `maxIter`
    * with labels still changing (component diameter exceeds the
    * iteration budget — a chain, not the clique-like shape dedup
    * graphs have), the call auto-switches to the alternating-star
    * algorithm, whose round count is O(log n) regardless of diameter,
    * and returns ITS labels. The caller always gets converged
    * components; the only cost of the pathological shape is the wasted
    * min-label rounds, logged at WARN. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 15): DataFrame = {
    val (labels, converged) = minLabelComponents(edges, maxIter)
    if (converged) labels
    else {
      log.warn(s"connectedComponents hit maxIter=$maxIter with labels " +
        "still changing — auto-switching to the alternating-star " +
        "algorithm so the caller never receives shattered labels")
      // 60 rounds covers diameter 2^60 — a safety valve, not a bound
      // the loop reaches (star exits at its fixed point).
      connectedComponentsStar(edges, 60)._1
    }
  }

  /** Incremental connected components: fold a batch of new edges into
    * STANDING labels without re-traversing the accumulated graph — the
    * maintenance shape of a dedup cluster table under continuous
    * ingest. Each standing (id → comp) row enters the propagation as a
    * CONTRACTION EDGE: the old component is already a star around its
    * min-id label, so label flow crosses it in one hop and the
    * iteration count is bounded by the DELTA graph's diameter, not the
    * accumulated graph's. Exact, not approximate: replacing a
    * component's internal edges with its star preserves connectivity,
    * so the result equals a cold run over (all old edges ∪ newEdges) —
    * the identity DedupSpec asserts. `oldLabels` is (id, comp) — at
    * cluster scale, the persisted label table of the previous
    * snapshot; `newEdges` is (a_id, b_id). Returns (id, comp). */
  def connectedComponentsIncremental(oldLabels: DataFrame,
      newEdges: DataFrame, maxIter: Int = 15): DataFrame = {
    val contraction = oldLabels
      .select(col("id").as("a_id"), col("comp").as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    val propagated = connectedComponents(
      newEdges.select(col("a_id"), col("b_id")).unionByName(contraction),
      maxIter)
    // Standing SINGLETON clusters (id == comp, no member edge) produce
    // no contraction edge; if the delta doesn't touch them either, they
    // are absent from the propagation's node set and would silently
    // drop out of the maintained label table — one lost row per
    // standing singleton per fold. Nothing can have re-labelled them
    // (no edge reaches an untouched singleton), so restoring the old
    // rows verbatim preserves the cold-run identity.
    propagated.unionByName(
      oldLabels.select(col("id"), col("comp"))
        .join(propagated.select(col("id")), Seq("id"), "left_anti"))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Returns (labels, converged). A non-converged label frame is
    * SHATTERED (sub-components of one true component carry different
    * labels) — [[connectedComponents]] never surfaces it. */
  private def minLabelComponents(edges: DataFrame,
      maxIter: Int): (DataFrame, Boolean) = {
    val adj = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct().cache()
    // localCheckpoint (eager), not cache: it materializes AND truncates
    // lineage, which an iterative loop needs twice over — (a) the old
    // per-iteration caches were never actually freed (labels was a
    // projection whose plan matches no cache entry, so unpersist was a
    // silent no-op and caches accumulated), and (b) each round's plan
    // references the previous round's twice, so uncheckpointed lineage
    // doubles per iteration. Blocks are dropped by the ContextCleaner
    // when the previous round's frame goes unreferenced. On a real
    // cluster, reliable checkpoint() to durable storage is the
    // fault-tolerant variant of the same move.
    var labels = adj.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = adj
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src")).agg(min(col("comp")).as("nbr"))
      val next = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
          (col("comp") > coalesce(col("nbr"), col("comp")))
            .cast("long").as("chg"))
        .localCheckpoint()
      changed = next.agg(coalesce(sum(col("chg")), lit(0L))).head.getLong(0)
      labels = next.select(col("id"), col("comp"))
      i += 1
    }
    adj.unpersist()
    (labels, changed == 0L)
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the big-diameter path: each round pulls every node's neighbourhood
    * toward its minimum, roughly halving component diameter, so a path
    * of length n converges in ~log₂(n) rounds where min-label
    * propagation needs n. Same labelling contract as `minlabel`
    * (comp = component-minimum id). Returns (labels, roundsUsed);
    * per-round cost is two groupBy+join passes over the edge list. */
  def connectedComponentsStar(edges: DataFrame,
      maxIter: Int = 15): (DataFrame, Int) = {
    // canonical directed form: u > v, deduplicated. localCheckpoint per
    // round — see minLabelComponents — or the round-over-round plan
    // doubles and analysis alone goes exponential on long paths.
    var e = edges.select(col("a_id").as("x"), col("b_id").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct().localCheckpoint()
    var n = e.count()
    var converged = n == 0
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: every node x attaches its LARGER neighbours to
      // m = min(Γ(x) ∪ {x})
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ls = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .distinct()
      // small-star: every node x links its ≤-neighbours (and itself) to
      // m = min(Γ≤(x) ∪ {x})
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ss = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("mn").as("v"))
        .union(ssMin.select(col("u"), col("mn").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      val m = ss.count()
      // fixed point ⇔ edge set unchanged (both sides canonical+distinct)
      converged = m == n && ss.union(e).distinct().count() == n
      e = ss
      n = m
      i += 1
    }
    if (!converged)
      log.warn(s"connectedComponentsStar exited at maxIter=$maxIter " +
        "without reaching the star fixed point — labels may span " +
        "unmerged sub-components")
    // at the fixed point components are stars around their minimum:
    // every node's label is min(self, min neighbour)
    val sym = e.select(col("u").as("id"), col("v").as("comp"))
      .union(e.select(col("v").as("id"), col("u").as("comp")))
    val starLabels = sym.groupBy(col("id")).agg(min(col("comp")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp"))
    // Nodes whose only edges are self-loops were dropped by the x =!= y
    // canonicalization but ARE part of minlabel's label set (its adj
    // keeps (a,a)) — restore them as singletons so both algorithms
    // label the same node set and the non-convergence auto-fallback
    // can never shrink the result.
    val nodes = edges.select(col("a_id").as("id"))
      .union(edges.select(col("b_id").as("id"))).distinct()
    val labels = nodes.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    (labels, i)
  }

  /** Convenience one-shot entry point — builds WITHOUT caching the
    * internal shingle-hash frame, so it leaves nothing pinned behind
    * (the frame's three lineage references each recompute the map-side
    * hashing). Long-lived owners should use
    * [[minhashLshPairsWithLineage]] instead: it materializes the hash
    * frame once and hands the caller its eviction handle. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame =
    pairsCore(docs, idCol, textCol, shingleN, k, bands, threshold,
      cache = false)._1

  /** As [[minhashLshPairs]], but the internal shingle-hash frame is
    * CACHED ([[shingleHashFrame]] — materialized because the hash
    * arrays feed the signature lineage AND both verify joins; a
    * cluster-scale pipeline persists signatures before the join phase
    * for the same reason) and returned alongside the pairs. An owner
    * that registers the pair frame in an eviction registry must
    * unpersist BOTH on eviction — dropping only the pair frame leaves
    * this one pinned in executor memory with nothing left that can
    * release it. */
  def minhashLshPairsWithLineage(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): (DataFrame, DataFrame) =
    pairsCore(docs, idCol, textCol, shingleN, k, bands, threshold,
      cache = true)

  /** Full MinHash-LSH near-dup pair pipeline: shingle → signature → band
    * → bucket self-join → exact-Jaccard verify. Returns (a_id, b_id,
    * jacc) for pairs with Jaccard ≥ `threshold`.
    *
    * The verify step compares DISTINCT 60-bit shingle-hash arrays, not
    * shingle strings — an 8-byte element shuffles/intersects far cheaper
    * than a ~20-byte string and collisions are negligible at 2^60. */
  private def pairsCore(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      cache: Boolean): (DataFrame, DataFrame) = {
    val sh = shingleHashFrame(docs, idCol, textCol, shingleN, cache)
    val cand = pairsFromBuckets(bandRows(signatures(sh, k), k, bands),
      Seq("band", "bh"), "id")
    (verifiedPairs(cand, "a_id", "b_id", sh, sh, threshold), sh)
  }

  /** Exact-Jaccard verify of candidate pairs: `cand`'s `left` and
    * `right` id columns join the (id, hs) shingle-hash frames `lh` and
    * `rh`, [[sizeRatioGuard]] prunes before the intersect, and the
    * pairs with jaccard ≥ `threshold` come back as (left, right, jacc
    * rounded to 4 places). */
  private[graft] def verifiedPairs(cand: DataFrame, left: String,
      right: String, lh: DataFrame, rh: DataFrame,
      threshold: Double): DataFrame = cand
    .join(lh.select(col("id"), col("hs").as("ha")), col(left) === col("id")).drop("id")
    .join(rh.select(col("id"), col("hs").as("hb")), col(right) === col("id")).drop("id")
    .filter(sizeRatioGuard(col("ha"), col("hb"), threshold))
    .withColumn("jacc", jaccard(col("ha"), col("hb")))
    .filter(col("jacc") >= threshold)
    .select(col(left), col(right), round(col("jacc"), 4).as("jacc"))

  /** Sound pre-verify prune: jaccard = |A∩B|/|A∪B| ≤ min(|A|,|B|)/
    * max(|A|,|B|), so any pair passing `jacc ≥ t` satisfies
    * 100·min ≥ ⌊100·t⌋·max. Integer arithmetic (⌊100·t⌋ ≤ 100·t) keeps
    * the guard sound at exact-boundary ratios where a double multiply
    * would overshoot and drop a legitimate pair. Cuts the candidate
    * volume the O(|A|+|B|) intersect pays for; never changes the
    * verified set. */
  private[graft] def sizeRatioGuard(ha: Column, hb: Column,
      threshold: Double): Column =
    least(size(ha), size(hb)) * 100 >=
      greatest(size(ha), size(hb)) * math.floor(threshold * 100).toLong

  /** (id, hs) shingle-hash frame — the shared prep of every MinHash
    * path (arrays feed both the signature lineage and the verify
    * joins). `cache=true` materializes it (corpus-side: built once,
    * referenced by every probe); `cache=false` recomputes per branch
    * (delta-side: ≤2× map-side hashing of a small batch beats leaving
    * an unmanaged cached frame behind per micro-batch). */
  private[graft] def shingleHashFrame(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, cache: Boolean): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // hs is SORTED (per-task work): the verify kernel
    // (IntersectSizeLong.mergeCount) sorts both arrays per PAIR — one
    // doc's array was re-sorted once per candidate pair it appears in
    // (sf0.1 q37 shape: ~434k pair-side sorts for ~15k docs). Sorting
    // once per doc here makes the per-pair sort a near-linear
    // presorted-input pass. Every consumer is order-independent — the
    // MinHash signature is a min over elements, jaccard is a set-size
    // measure, band hashes derive from the signature — so the pair set,
    // jacc values and signatures are bit-identical (spec-pinned).
    val sh = docs.repartition(par)
      .withColumn("shs", distinctShingles(col(textCol), shingleN))
      .withColumn("hs", array_sort(array_distinct(
        transform(col("shs"), s => Hashing.md5Long(s)))))
      .select(col(idCol).as("id"), col("hs"))
    if (cache) sh.cache() else sh
  }

  /** (id, sig) MinHash signatures of a shingle-hash frame's non-empty
    * rows. */
  private[graft] def signatures(sh: DataFrame, k: Int): DataFrame = sh
    .filter(size(col("hs")) > 0)
    .withColumn("bh0", transform(col("hs"), x => x % MinhashP))
    .select(col("id"), minhashSignature(col("bh0"), k).as("sig"))

  /** (id, band, bh) LSH band rows of a signature frame. */
  private[graft] def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame =
    sig.select(col("id"),
      posexplode(lshBandHashes(col("sig"), k, bands)).as(Seq("band", "bh")))

  /** A standing MinHash-LSH near-dup index over a corpus snapshot: the
    * cached shingle-hash frame plus the hot-bucket-guarded band index.
    * Build ONCE per snapshot, [[probe]] per delta batch — the
    * streaming-admission shape (q105): each probe pays O(|delta|)
    * signature work plus a bucket equi-join against the standing band
    * rows, never a corpus re-hash. At cluster scale both member frames
    * are tables persisted with the snapshot; the cache is the
    * in-session analogue. */
  final case class NearDupIndex private[ext] (hashes: DataFrame,
      guardedBands: DataFrame, k: Int, bands: Int, threshold: Double) {

    /** Near-dup pairs (d_id, c_id, jacc ≥ threshold) between `delta`
      * and the indexed corpus (never within either side). */
    // shingleN is REQUIRED: a probe that shingles deltas at a different
    // n than the index was built with never legitimately matches — every
    // near-dup would be silently admitted. The build parameter is not in
    // the artifact sidecar (the load never reads it), so the call site
    // must pin it explicitly, like the standing indexes' build parameters.
    def probe(delta: DataFrame, idCol: String, textCol: String,
        shingleN: Int): DataFrame = {
      val shD = shingleHashFrame(delta, idCol, textCol, shingleN,
        cache = false)
      val cand = bandRows(signatures(shD, k), k, bands)
        .select(col("band"), col("bh"), col("id").as("d_id"))
        .join(guardedBands.select(col("band"), col("bh"),
          col("id").as("c_id")), Seq("band", "bh"))
        .select(col("d_id"), col("c_id")).distinct()
      verifiedPairs(cand, "d_id", "c_id", shD, hashes, threshold)
    }

    /** Release the cached member frames (a dropped snapshot). */
    def unpersist(): Unit = { hashes.unpersist(); guardedBands.unpersist() }
  }

  /** Builds the [[NearDupIndex]] for `corpus`, both member frames
    * cached. The hot-bucket guard applies to CORPUS bucket occupancy
    * only: a probe against a capped index bucket is a bounded lookup,
    * and a corpus bucket of size 1 must still be probe-able (unlike the
    * self-join case, where singleton buckets pair with nothing). */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): NearDupIndex = {
    val shC = shingleHashFrame(corpus, idCol, textCol, shingleN, cache = true)
    val bandsC = bandRows(signatures(shC, k), k, bands)
    val guarded = bandsC.join(
      bandsC.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") <= DefaultMaxBucket)
        .select(col("band"), col("bh")),
      Seq("band", "bh"))
    NearDupIndex(shC, guarded.cache(), k, bands, threshold)
  }

  /** Reassemble a [[NearDupIndex]] from persisted parts (the
    * [[graft.sinks.ArtifactStore]] load seam). The frames must be
    * exactly a saved index's [[NearDupIndex.hashes]] / guardedBands,
    * and (k, bands, threshold) the parameters it was built with —
    * the meta sidecar, not the caller, should supply them. Both frames
    * are cached, matching the build path's standing-index lifecycle. */
  def nearDupIndexFromParts(hashes: DataFrame, guardedBands: DataFrame,
      k: Int, bands: Int, threshold: Double): NearDupIndex =
    NearDupIndex(hashes.cache(), guardedBands.cache(), k, bands, threshold)
}
