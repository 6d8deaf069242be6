package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  private val base = "the quick brown fox jumps over the lazy dog again and again"

  test("minhashLshPairs finds exact and near duplicates, skips distinct docs") {
    val docs = Seq(
      (1L, base),
      (2L, base),                                   // exact dup of 1
      (3L, base + " tonight"),                      // near dup of 1/2
      (4L, "completely different words entirely unrelated content here now ok")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.exists(p => p == (1L, 3L) || p == (2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("r22 presorted hs: jaccard and MinHash signature are order-independent (bit-identical)") {
    // r22 sorts the shingle-hash arrays once per doc so the verify
    // kernel's per-pair Arrays.sort runs on presorted input. This pins
    // the equivalence the optimization rests on: jaccard (set measure)
    // and the MinHash signature (min over elements) are invariant under
    // any permutation of the input arrays.
    val rnd = new scala.util.Random(41)
    // operands in [0, MinhashP), the domain production feeds the kernel
    // (hs % MinhashP), where the Carter-Wegman products cannot overflow
    val rows = Seq.fill(100) {
      val a = Seq.fill(30)(Math.floorMod(rnd.nextLong(), Dedup.MinhashP)).distinct
      (a, rnd.shuffle(a.drop(rnd.nextInt(10))))
    }
    val df = rows.toDF("x", "y")
    val unsorted = df.select(Dedup.jaccard(col("x"), col("y"))).collect()
      .map(_.getDouble(0))
    val sorted = df.select(Dedup.jaccard(
      array_sort(col("x")), array_sort(col("y")))).collect()
      .map(_.getDouble(0))
    assert(unsorted.toSeq === sorted.toSeq)
    val sigU = df.select(Dedup.minhashSignature(col("x"), 16)).collect()
      .map(_.getSeq[Long](0))
    val sigS = df.select(Dedup.minhashSignature(array_sort(col("x")), 16))
      .collect().map(_.getSeq[Long](0))
    assert(sigU.toSeq === sigS.toSeq)
  }

  test("jaccard: exact formula on distinct arrays") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(math.abs(df.head.getDouble(0) - 0.5) < 1e-12)
  }

  test("jaccard kernel is bit-identical to the array_intersect composition") {
    val rnd = new scala.util.Random(17)
    // random DISTINCT long arrays with forced overlap, plus the edge
    // shapes: disjoint, identical, sign extremes, one empty side.
    // (empty/empty throws DIVIDE_BY_ZERO under ANSI in BOTH forms —
    // production never builds it: band rows filter size > 0)
    val rows = Seq.fill(200) {
      val pool = Seq.fill(40)(rnd.nextLong()).distinct
      val a = rnd.shuffle(pool).take(rnd.nextInt(pool.size) + 1)
      val b = rnd.shuffle(pool).take(rnd.nextInt(pool.size) + 1)
      (a, b)
    } ++ Seq(
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(5L, 6L, 7L), Seq(5L, 6L, 7L)),
      (Seq(Long.MinValue, Long.MaxValue), Seq(Long.MaxValue)),
      (Seq.empty[Long], Seq(1L)))
    val df = rows.toDF("x", "y")
    val got = df.select(Dedup.jaccard(col("x"), col("y"))).collect()
      .map(_.getDouble(0))
    val want = df.select(Dedup.jaccardAny(col("x"), col("y"))).collect()
      .map(_.getDouble(0))
    assert(got.toSeq === want.toSeq)
    assert(want.last === 0.0)
    // and the SQL registration (GraftExtensions) resolves
    assert(spark.sql(
      "SELECT intersect_size_long(array(1L, 2L, 3L), array(2L, 3L, 4L))")
      .head.getInt(0) === 2)
  }

  test("intersect_size_long: null ELEMENTS follow array_intersect semantics (ADVICE r5)") {
    // session-registered SQL, so arbitrary arrays reach the kernel: a
    // null element must not NPE, and must count exactly as
    // array_intersect counts it (nulls compare equal — one element when
    // present on both sides)
    val cases = Seq(
      "array(1L, NULL, 2L), array(NULL, 2L, 3L)",   // null both sides
      "array(1L, NULL), array(2L, 3L)",             // null one side only
      "array(CAST(NULL AS BIGINT)), array(CAST(NULL AS BIGINT))",
      "array(NULL, 5L, 6L), array(6L, NULL, 5L)")
    cases.foreach { args =>
      val got = spark.sql(s"SELECT intersect_size_long($args)").head.getInt(0)
      val want = spark.sql(s"SELECT size(array_intersect($args))").head.getInt(0)
      assert(got === want, s"intersect_size_long($args): $got != $want")
    }
    // jaccardAny stays available for non-bigint element types (the
    // kernel-backed jaccard is documented array<bigint>-only)
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccardAny(col("x"), col("y"))).head.getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("minhashLshPairsWithLineage: returned hash frame IS the pair lineage's cache") {
    // the eviction-hook contract (ADVICE r5): unpersisting the returned
    // sh frame must leave nothing of the pipeline's making pinned
    val docs = Seq((1L, base), (2L, base + " x"), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val (pairs, sh) = Dedup.minhashLshPairsWithLineage(docs, "doc_id", "text")
    pairs.count() // materialize the internal cache through the pair plan
    assert(sh.storageLevel.useMemory, "internal hash frame is not cached")
    sh.unpersist()
    assert(!sh.storageLevel.useMemory)
  }

  test("simhash: identical text → hamming 0; different text → far") {
    val df = Seq((base, base), (base, "xx yy zz ww vv uu tt ss rr qq"))
      .toDF("a", "b")
      .select(Dedup.hamming(
        Dedup.simhashFromHashes(Dedup.tokenHashes(col("a"))),
        Dedup.simhashFromHashes(Dedup.tokenHashes(col("b")))).as("h"))
    val hs = df.collect().map(_.getInt(0))
    assert(hs(0) === 0)
    assert(hs(1) > 3)
  }

  test("native MinhashSig/SimhashBits are bit-identical to the HOF compositions") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(100)(Seq.fill(rnd.nextInt(60) + 1)(
      math.abs(rnd.nextLong()) % Dedup.MinhashP))
    val df = rows.toDF("bh")
    val k = 16
    // the compositions the kernels replaced, inlined verbatim
    val composedSig = array((0 until k).map(j =>
      array_min(transform(col("bh"),
        b => (lit(Dedup.minhashA(j)) * b + lit(Dedup.minhashB(j))) % Dedup.MinhashP))): _*)
    val composedSim = (0 until 32).map { b =>
      val setCnt = size(filter(col("bh"), h => shiftright(h, b) % 2 === 1))
      when(setCnt * 2 - size(col("bh")) > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val a = df.select(composedSig.as("sig"), composedSim.as("sim")).collect()
      .map(r => (r.getSeq[Long](0), r.getLong(1)))
    val b = df.select(Dedup.minhashSignature(col("bh"), k).as("sig"),
        Dedup.simhashFromHashes(col("bh")).as("sim")).collect()
      .map(r => (r.getSeq[Long](0), r.getLong(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("pairsFromBuckets: maxBucket guard drops a deliberately hot bucket") {
    // bucket 0 is hot (DefaultMaxBucket + 1 ids), bucket 1 holds 5 ids
    // and bucket 2 holds 2 — a bucket over the cap is dropped before
    // its pairs are exploded, so the hot one costs one collect_list
    val hot = spark.range(Dedup.DefaultMaxBucket + 1L)
      .select(lit(0).as("bucket"), (col("id") + 1000L).as("id"))
    val healthy = Seq((1, 10L), (1, 11L), (1, 12L), (1, 13L), (1, 14L),
      (2, 20L), (2, 21L)).toDF("bucket", "id")
    val pairs = Dedup.pairsFromBuckets(hot.unionByName(healthy),
      Seq("bucket"), "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // hot bucket contributes ZERO pairs; the healthy ones pair in full:
    // C(5,2) = 10 + 1
    assert(!pairs.exists(_._2 >= 1000L), "the over-cap bucket produced pairs")
    assert(pairs.length === 11)
    assert(pairs.toSet === (10L to 14L).combinations(2)
      .map(p => (p(0), p(1))).toSet + ((20L, 21L)))
  }

  test("connectedComponents: chain, triangle and pair converge to min-id labels") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // empty edge list → empty labelling, no infinite loop
    assert(Dedup.connectedComponents(edges.limit(0)).count() === 0L)
  }

  test("incremental CC equals cold-start, including a delta edge merging two standing components") {
    // standing graph: components {1,2,3} and {10,11}, {20,21}
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("a_id", "b_id")
    val standing = Dedup.connectedComponents(oldEdges)
    // delta: a brand-new pair (30,31), a new doc joining {10,11}, and
    // an edge MERGING components {1,2,3} and {20,21}
    val deltaEdges = Seq((30L, 31L), (12L, 11L), (21L, 3L))
      .toDF("a_id", "b_id")
    val inc = Dedup.connectedComponentsIncremental(standing, deltaEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold = Dedup.connectedComponents(
        oldEdges.unionByName(deltaEdges)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === cold)
    assert(inc(21L) === 1L && inc(20L) === 1L) // merged under global min
    assert(inc(12L) === 10L && inc(31L) === 30L)
  }

  test("lshBandHashes rejects a non-dividing banding loudly") {
    // bands > k would hash an empty slice into ONE bucket for every
    // doc, which the hot-bucket guard then drops — zero pairs, no
    // error, every duplicate silently missed
    val e = intercept[IllegalArgumentException] {
      Dedup.lshBandHashes(col("sig"), k = 16, bands = 17)
    }
    assert(e.getMessage.contains("divide"))
    intercept[IllegalArgumentException] {
      Dedup.lshBandHashes(col("sig"), k = 16, bands = 5)
    }
    // same class: bits=0 gave EVERY doc simhash 0 — one mega-bucket the
    // hot-bucket cap drops wholesale, zero pairs, no error
    intercept[IllegalArgumentException] { Dedup.simhashFromHashes(col("h"), 0) }
    intercept[IllegalArgumentException] { Dedup.simhashFromHashes(col("h"), 65) }
  }

  test("incremental CC preserves standing singleton clusters the delta never touches") {
    // A singleton (id == comp, no member edge) yields NO contraction
    // edge — before the restore step it silently dropped out of the
    // maintained label table on every fold. 40 is untouched (must
    // survive verbatim); 41 is a standing singleton the delta connects
    // (must be re-labelled, not duplicated).
    val standing = Seq((1L, 1L), (2L, 1L), (40L, 40L), (41L, 41L))
      .toDF("id", "comp")
    val delta = Seq((41L, 2L)).toDF("a_id", "b_id")
    val inc = Dedup.connectedComponentsIncremental(standing, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(inc.length === inc.map(_._1).distinct.length) // no dup ids
    assert(inc.toMap === Map(1L -> 1L, 2L -> 1L, 40L -> 40L, 41L -> 1L))
  }

  test("simhash banding: 15-bit chunks shrink candidates vs 8-bit, same verified pairs") {
    // 1,500 distinct random-token docs + 10 planted near-dup clones.
    // With 8-bit chunks the keyspace is 4×256 buckets → heavy random
    // co-bucketing; 15-bit chunks spread the same corpus ~128× thinner.
    // The verified (hamming ≤ 3) pair set must be IDENTICAL — banding
    // only generates candidates, never decides pairs.
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(5000)(i => s"w$i")
    val baseDocs = (0 until 1500).map { i =>
      (i.toLong, Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val clones = (0 until 10).map { j =>
      (10000L + j, baseDocs(j * 7)._2) // exact dup (hamming 0) of id j*7
    }
    val docs = (baseDocs ++ clones).toDF("doc_id", "text")
      .withColumn("th", Dedup.tokenHashes(col("text")))
      .select(col("doc_id"), Dedup.simhashFromHashes(col("th"), 60).as("sim"))
      .cache()
    def run(chunkBits: Int): (Long, Set[(Long, Long)]) = {
      val chunks = docs.select(
        struct(col("doc_id"), col("sim")).as("ds"),
        posexplode(Dedup.simhashChunks(col("sim"), chunkBits, 4))
          .as(Seq("c", "ck")))
      val cand = Dedup.pairsFromBuckets(chunks, Seq("c", "ck"), "ds").cache()
      val verified = cand
        .withColumn("ham", Dedup.hamming(col("a_id.sim"), col("b_id.sim")))
        .filter(col("ham") <= 3)
        .select(col("a_id.doc_id"), col("b_id.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val n = cand.count()
      cand.unpersist()
      (n, verified)
    }
    val (cand8, pairs8) = run(8)
    val (cand15, pairs15) = run(15)
    docs.unpersist()
    assert(pairs15 === pairs8, "banding width must not change verified pairs")
    assert(pairs15.size >= 10, "planted clones must be recovered")
    assert(cand15 * 20 < cand8,
      s"15-bit banding should cut candidates ≥20× (got $cand8 → $cand15)")
  }

  test("default CC never returns shattered labels: 10k chain auto-falls back to star") {
    // A 10,000-node chain has diameter 9,999 — min-label propagation at
    // the default maxIter=15 CANNOT converge (the ScaleProbe chain run
    // measured the pre-r8 behavior: 9,985 shattered components behind a
    // WARN line). The default API must detect the non-convergence and
    // auto-switch to the alternating-star algorithm, so the caller gets
    // the ONE true component no matter the graph's shape.
    val n = 10000L
    val chain = spark.range(1L, n)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val labels = Dedup.connectedComponents(chain) // default maxIter=15, minlabel
    assert(labels.select(col("comp")).distinct().count() === 1L,
      "default connectedComponents returned a shattered chain")
    assert(labels.agg(min(col("comp")), max(col("comp"))).head() ===
      org.apache.spark.sql.Row(1L, 1L),
      "fallback labels must carry the component-minimum id")
    assert(labels.count() === n, "every chain node must be labelled")
  }

  test("star CC labels self-loop-only nodes as singletons, like minlabel") {
    // minlabel's adjacency keeps (a,a), so a node whose only edge is a
    // self-loop IS in its label set; star's u>v canonicalization drops
    // self-loops, and pre-fix the node vanished from star's labels —
    // meaning the non-convergence auto-fallback could silently SHRINK
    // the returned node set. Both algorithms must label the same nodes.
    val edges = Seq((1L, 2L), (7L, 7L)).toDF("a_id", "b_id")
    val expect = Map(1L -> 1L, 2L -> 1L, 7L -> 7L)
    val minlabel = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponentsStar(edges)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(minlabel === expect)
    assert(star === expect)
  }

  test("star CC: long path converges in ≤ log2(n)+2 rounds, labels match minlabel") {
    // 64-node path (diameter 63): min-label propagation needs 63 rounds;
    // the alternating star algorithm must finish in ≤ log2(64)+2 = 8.
    val n = 64
    val path = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (starLabels, rounds) = Dedup.connectedComponentsStar(path)
    val star = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === (1L to n).map(_ -> 1L).toMap)
    assert(rounds <= (math.log(n.toDouble) / math.log(2)).ceil.toInt + 2,
      s"star CC took $rounds rounds on a $n-node path")
    // mixed shapes: same labelling as minlabel (chain + triangle + pair)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L)).toDF("a_id", "b_id")
    val a = Dedup.connectedComponentsStar(edges)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // empty edge list → empty labelling, no infinite loop
    assert(Dedup.connectedComponentsStar(path.limit(0))._1.count() === 0L)
  }

  test("NearDupIndex.probe finds only cross-set pairs, never within-side") {
    // delta doc 100 ≈ corpus doc 1 (near-dup); corpus docs 1 and 2 are
    // near-dups of each other but must NOT appear (within-corpus);
    // delta docs 100 and 101 likewise (within-delta)
    val mk = (id: Long, txt: String) => (id, txt)
    val corpus = Seq(
      mk(1L, base), mk(2L, base + " extra"),
      mk(3L, "completely different content about spark shuffles and joins ok"))
      .toDF("doc_id", "text")
    val delta = Seq(
      mk(100L, base), mk(101L, base + " tail"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.5)
    val pairs = try idx.probe(delta, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    finally idx.unpersist()
    assert(pairs.nonEmpty, "expected the exact-duplicate cross pair")
    assert(pairs.forall { case (d, c) => d >= 100L && c < 100L },
      s"within-side pair leaked: $pairs")
    assert(pairs.contains((100L, 1L)))
  }

  test("bagOfWordsKey is order-insensitive, contentKey is not") {
    val df = Seq(("a b c", "c b a")).toDF("x", "y").select(
      (Dedup.bagOfWordsKey(col("x")) === Dedup.bagOfWordsKey(col("y"))).as("bowEq"),
      (Dedup.contentKey(col("x")) === Dedup.contentKey(col("y"))).as("ckEq"))
    val r = df.head
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }
}
