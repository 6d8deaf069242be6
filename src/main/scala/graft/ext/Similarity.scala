package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star per SURVEY.md §0):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the approximate scale path.
  *
  * Scale design:
  *  - cosine / projections are per-row higher-order array expressions
  *    (zip_with + sequential aggregate fold) — no UDFs, map-side only.
  *  - brute-force top-k BROADCASTS the (small) query set against the
  *    corpus scan: one pass, no shuffle of the corpus, then a top-k
  *    window per query. Exact, O(|corpus|·|queries|) — the baseline.
  *  - LSH: each vector gets an n-plane sign bucket computed map-side
  *    against LITERAL hyperplane arrays (no per-row hashing); search is
  *    an equi-join on bucket — the approximate path that survives 100 TB
  *    (candidates per query ≈ corpus / 2^planes).
  *  - Hyperplane components are ±1 derived from md5("p,i") bit 0 — the
  *    same value an external oracle recomputes in SQL (engine-portable,
  *    see [[Hashing]]).
  *
  * The sequential fold (init 0.0) makes the double result bit-identical
  * to any engine that folds left-to-right, since 0.0 + x == x exactly.
  */
object Similarity {

  /** Dot product in double precision, sequential left fold — the native
    * codegen'd [[graft.functions.VecDot]] kernel. Bit-identical to the
    * built-in composition `aggregate(zip_with(a, b, x*y), 0.0, +)` it
    * replaced (same accumulation order), but a primitive loop instead
    * of an interpreted higher-order chain — this is the innermost loop
    * of every similarity operator. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.VecDot(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** ±1 hyperplane component p,i — bit 0 of the engine-portable 60-bit
    * md5 hash of "p,i" (same value as SQL
    * ('0x'||substr(md5(p||','||i),1,15))::BIGINT % 2). */
  def planeComponent(p: Int, i: Int): Double =
    // bit 0 of the Md5Hash kernel value == bit 0 of the 15-hex-char
    // parse (both are bit 4 of the raw digest's first 8 bytes) — reuse
    // the one primitive instead of a hex/BigInt re-implementation
    if ((graft.functions.Md5Hash.hash(s"$p,$i".getBytes("UTF-8")) & 1L) == 1L)
      1.0 else -1.0

  /** Literal ±1 hyperplane array for plane `p` (evaluated once at plan
    * time — zero per-row hashing cost). */
  def planeLit(p: Int, dims: Int): Column =
    array((0 until dims).map(i => lit(planeComponent(p, i))): _*)

  /** Sign-of-projection LSH bucket id in [0, 2^planes). */
  def lshBucket(emb: Column, planes: Int, dims: Int): Column = {
    // Int bucket ids: 1 << p wraps at p = 31 (sign bit) and aliases
    // p = 32 back onto plane 0 — distinct sign patterns would silently
    // collapse into shared buckets and recall would degrade with no
    // error. 2^30 buckets is already far past useful selectivity; fail
    // fast rather than widen the id type under every consumer.
    require(planes >= 1 && planes <= 30,
      s"lshBucket supports 1..30 planes (Int bucket ids), got $planes")
    // No otherwise(0): a null projection (null/wrong-length embedding,
    // or the all-null normalized array a zero-norm vector produces)
    // must yield a NULL bucket, not bucket 0 — the otherwise() arm
    // piled every malformed row into one hot bucket shared with the
    // legit all-negative-sign vectors, where the degenerate-bucket cap
    // could then drop them ALL silently. A NULL bucket never matches an
    // equi-join probe, so malformed rows simply produce no candidates —
    // the same outcome the brute-force baseline gives them (null
    // cosine), with no collateral recall loss.
    (0 until planes).map { p =>
      val d = dot(emb, planeLit(p, dims))
      when(d >= 0, lit(1 << p)).when(d < 0, lit(0))
    }.reduce(_ + _).cast("int")
  }

  /** Append a unit-normalized copy (`outCol`) of `embCol`. The norm is
    * materialized as its own column first: referencing a norm EXPRESSION
    * inside the per-element lambda would recompute the full dot product
    * per element (Catalyst inlines nested expressions). After this,
    * cosine between two unit vectors is a single O(d) dot — 3× cheaper
    * than dot/(|a|·|b|) per pair, and the norms are paid once per row
    * at scan time instead of once per candidate pair. */
  def withNormalized(df: DataFrame, embCol: String,
      outCol: String = "ne"): DataFrame =
    df.withColumn("__nrm", norm(col(embCol)))
      .withColumn(outCol,
        transform(col(embCol), x => x.cast("double") / col("__nrm")))
      .drop("__nrm")

  /** Top-`m` IVF cells of unit vector `ne` against the k×d centroid
    * matrix, ranked by rounded dot desc with index tie-break — the same
    * total order the SQL oracle's `ORDER BY round(dot,6) DESC, c`
    * produces. Assignment is a pure per-row expression: NO crossJoin
    * expansion, NO shuffle, NO window (this replaced the round-2
    * corpus×centroids window argmax, which shuffled the whole expanded
    * frame by vec_id).
    *
    * The codegen'd [[graft.functions.CellAssign]] kernel computes all k
    * dots, the rounding and the partial sort in one primitive pass; the
    * matrix is an expression field, not a literal child, so the plan
    * string names it by shape and hash instead of rendering k·d doubles
    * (SimilaritySpec pins it bit-identical to the built-in
    * `transform`/`array_sort` composition it replaced). */
  def assignCells(ne: Column, cents: Seq[Array[Double]], m: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CellAssign(
        org.apache.spark.sql.GraftColumnBridge.expression(ne),
        graft.functions.CentroidMatrix(cents), m))

  /** Int8 scalar quantization of `ne`: its max-abs `scale` and its
    * components rounded to [-127, 127] against it (`q8`), as the
    * codegen'd [[graft.functions.Int8Kernel]] — bit-identical to the
    * built-in `aggregate(greatest(abs))` / `transform(round(x * 127.0 /
    * scale))` composition, which runs interpreted and rounds every
    * element through `BigDecimal` (SimilaritySpec pins it). `ansi` is
    * the session's `spark.sql.ansi.enabled`, which decides what a zero
    * scale's division does. */
  def int8Quantized(df: DataFrame, ne: String, ansi: Boolean): DataFrame = {
    val e = org.apache.spark.sql.GraftColumnBridge.expression(col(ne))
    df.withColumn("scale", org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.Int8Scale(e)))
      .withColumn("q8", org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.Int8Quantize(e, ansi)))
  }

  /** Lloyd k-means over a (vec_id, ne) sample, engine-portable: every
    * float operation is a deterministic sequential fold so an external
    * SQL oracle reproduces the centroids BIT-FOR-BIT:
    *  - init = normalized vectors of the k smallest vec_ids;
    *  - assignment = argmax rounded dot, centroid-index tie-break
    *    ([[assignCells]] with m = 1, map-side);
    *  - update = members sorted by vec_id, element-wise sequential sum
    *    (0.0-init fold == SQL list_reduce's x1-init for +), divide by
    *    count, renormalize; empty cells keep their previous centroid.
    *
    * Scale posture: the sample is aggregated on executors; only the k×d
    * centroid matrix is collected per iteration (MLlib KMeans' own
    * pattern — driver traffic is independent of corpus size). */
  def trainKmeans(sample: DataFrame, k: Int, iters: Int,
      dims: Int): Seq[Array[Double]] = {
    def vecs(df: DataFrame, c: String): Seq[Array[Double]] =
      df.collect().map(_.getAs[scala.collection.Seq[Double]](c).toArray).toSeq
    var cents = vecs(sample.orderBy(col("vec_id")).limit(k).select(col("ne")), "ne")
    require(cents.size == k, s"sample smaller than k=$k")
    val zero = typedLit(Seq.fill(dims)(0.0))
    for (_ <- 0 until iters) {
      val upd = sample
        .withColumn("cell", element_at(assignCells(col("ne"), cents, 1), 1))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("vec_id"), col("ne")))).as("vs"),
          count(lit(1)).as("cnt"))
        .withColumn("ssum", aggregate(
          transform(col("vs"), v => v.getField("ne")), zero,
          (acc, x) => zip_with(acc, x, _ + _)))
        .withColumn("mean", transform(col("ssum"), _ / col("cnt")))
        .withColumn("nrm", sqrt(dot(col("mean"), col("mean"))))
        .select(col("cell"), transform(col("mean"), _ / col("nrm")).as("ce"))
      val updMap = upd.collect()
        .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Double]]("ce").toArray)
        .toMap
      cents = cents.zipWithIndex.map { case (old, i) => updMap.getOrElse(i, old) }
    }
    cents
  }

  /** Squared L2 distance via three sequential-fold dots:
    * |a|^2 - 2*(a.b) + |b|^2 — one fixed left-associated expression, so
    * an external SQL oracle writing the same formula gets the
    * bit-identical double (each dot is itself an order-pinned fold). */
  def dist2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Index of the min element of a MATERIALIZED distance-array column,
    * ranked by rounded value asc with index tie-break — the L2/argmin
    * counterpart of [[assignCells]]; same total order as SQL
    * `ORDER BY round(d, 6) ASC, c`. */
  def argminIdx(dists: Column): Column =
    element_at(slice(array_sort(transform(dists, (d, i) =>
      struct(round(d, 6).as("d"), i.as("c")))), 1, 1), 1).getField("c")

  /** Product-quantization codebooks: per-subspace plain Lloyd k-means
    * (L2 assignment, arithmetic-mean update, no renormalization — PQ
    * quantizes raw subvectors, unlike the spherical [[trainKmeans]]),
    * engine-portable with the same conventions: init = subvectors of
    * the k smallest vec_ids; assignment = argmin rounded [[dist2]],
    * centroid-index tie-break; update = members sorted by vec_id,
    * element-wise sequential sum / count; empty cells keep their
    * previous centroid. Returns codebooks(m)(c), an Array[Double] of
    * length dims/subs.
    *
    * Scale posture: ALL subspaces train in one distributed pass per
    * iteration — rows explode to (m, vec_id, sub) and assignment/update
    * group on (m, code), so adding subquantizers adds rows, not jobs.
    * Only the subs*k x (dims/subs) codebook matrix (~16 KB at 8x32x8)
    * is collected per iteration, independent of corpus size. */
  def trainPq(sample: DataFrame, subs: Int, k: Int, iters: Int,
      dims: Int): Seq[Seq[Array[Double]]] = {
    val subD = dims / subs
    require(subs * subD == dims, s"dims=$dims not divisible by subs=$subs")
    val ex = sample.select(col("vec_id"),
        explode(array((0 until subs).map(m =>
          struct(lit(m).as("m"),
            slice(col("ne"), m * subD + 1, subD).as("sub"))): _*)).as("ms"))
      .select(col("ms.m").as("m"), col("vec_id"), col("ms.sub").as("sub"))
      .cache() // barrier: sliced subvectors feed every iteration
    val init = sample.orderBy(col("vec_id")).limit(k).select(col("ne"))
      .collect().map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    require(init.length == k, s"sample smaller than k=$k")
    var cb: Seq[Seq[Array[Double]]] = (0 until subs).map(m =>
      init.toSeq.map(v => v.slice(m * subD, (m + 1) * subD)))
    val zero = typedLit(Seq.fill(subD)(0.0))
    for (_ <- 0 until iters) {
      val cbLit = typedLit(cb.map(_.map(_.toSeq)))
      val upd = ex
        .withColumn("dists", transform(element_at(cbLit, col("m") + 1),
          ce => dist2(col("sub"), ce)))
        .withColumn("code", argminIdx(col("dists")))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("vec_id"), col("sub")))).as("vs"),
          count(lit(1)).as("cnt"))
        .withColumn("ssum", aggregate(
          transform(col("vs"), v => v.getField("sub")), zero,
          (acc, x) => zip_with(acc, x, _ + _)))
        .select(col("m"), col("code"),
          transform(col("ssum"), _ / col("cnt")).as("ce"))
      val updMap = upd.collect().map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Double]]("ce").toArray).toMap
      cb = cb.zipWithIndex.map { case (cs, m) =>
        cs.zipWithIndex.map { case (old, c) => updMap.getOrElse((m, c), old) } }
    }
    ex.unpersist()
    cb
  }

  /** Left-to-right self-dot of a literal vector, accumulating exactly
    * like [[graft.functions.VecDot]] (0.0 init, `+=a(i)*b(i)` ascending)
    * so hoisting it to plan time is bit-identical to evaluating
    * `dot(ce, ce)` per row. */
  private def selfDot(ce: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < ce.length) { s += ce(i) * ce(i); i += 1 }
    s
  }

  /** PQ code array (one argmin code per subspace) as a pure map-side
    * expression against the literal codebooks — the encode step a
    * 100 TB store runs once at ingest.
    *
    * Expression shape (per-task work): HOF lambdas run
    * interpreted, and inlining `dist2(slice(ne, ...), ce)` re-evaluated
    * the subvector slice and its self-dot once PER CENTROID (16
    * subspaces × 64 centroids × 3 dots + 2 array copies per row). The
    * rewrite binds the slice and `dot(sub, sub)` once per (row,
    * subspace) via single-element transform lambdas (a lambda variable
    * IS a materialized binding) and hoists the centroid self-dots to
    * plan-time literals with [[selfDot]]'s matching fold — the distance
    * stays the same left-associated `(dot(a,a) - 2*dot(a,b)) + dot(b,b)`
    * chain, so every code is BIT-IDENTICAL (asserted per-row over the
    * full corpus in SimilaritySpec; measured 4-5× on the encode pass). */
  def pqCodes(ne: Column, cb: Seq[Seq[Array[Double]]], dims: Int): Column = {
    val subD = dims / cb.size
    array(cb.zipWithIndex.map { case (cs, m) =>
      val cn = typedLit(cs.map(selfDot))
      element_at(transform(array(slice(ne, m * subD + 1, subD)), sub =>
        element_at(transform(array(dot(sub, sub)), s2 =>
          argminIdx(transform(typedLit(cs.map(_.toSeq)), (ce, c) =>
            s2 - lit(2.0) * dot(sub, ce) + element_at(cn, c + 1)))), 1)), 1)
    }: _*)
  }

  /** Per-query ADC lookup tables: luts[m+1][c+1] = dot(q_sub_m,
    * codebook_m[c]) — computed once per query, broadcast with it. */
  def pqLuts(qe: Column, cb: Seq[Seq[Array[Double]]], dims: Int): Column = {
    val subD = dims / cb.size
    array(cb.zipWithIndex.map { case (cs, m) =>
      transform(typedLit(cs.map(_.toSeq)),
        ce => dot(slice(qe, m * subD + 1, subD), ce))
    }: _*)
  }

  /** ADC approximate dot: a fixed left-to-right sum of `subs` LUT
    * lookups — O(subs) per candidate pair instead of O(dims), and
    * bit-identical to the same `+` chain in SQL. */
  def adcScore(codes: Column, luts: Column, subs: Int): Column =
    (0 until subs).map(m =>
      element_at(element_at(luts, m + 1), element_at(codes, m + 1) + 1))
      .reduce(_ + _)

  /** The top `k` rows per `q_id` of pre-scored (q_id, vec_id, `score`)
    * rows, numbered 1..k in `rank`. The order is the cross-engine total
    * order every ANN query and oracle shares: score rounded to 6dp
    * descending, vec_id tie-break. */
  def topByScore(scored: DataFrame, score: String, k: Int,
      rank: String = "rn"): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col(score), 6).desc, col("vec_id"))
    scored.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** Exact brute-force cosine top-k over PRE-NORMALIZED vectors:
    * broadcast `queries` (q_id, qe) against the corpus (vec_id, ne),
    * rank per query by [[topByScore]]. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topByScore(corpus.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", dot(col("qe"), col("ne"))), "cos", k)
      .select(col("q_id"), col("rn"), col("vec_id"),
        round(col("cos"), 4).as("cos"))
}
