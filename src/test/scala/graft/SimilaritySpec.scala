package graft

import graft.ext.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  test("VecDot is bit-identical to the aggregate(zip_with) composition it replaced") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextFloat() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("f", "d")
    val composed = df.select(
      aggregate(zip_with(col("f"), col("d"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("c"),
      aggregate(zip_with(col("f"), col("f"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("cf"))
    val native = df.select(
      Similarity.dot(col("f"), col("d")).as("c"),
      Similarity.dot(col("f"), col("f")).as("cf"))
    // bitwise equality, not tolerance: same sequential fold order
    val a = composed.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val b = native.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("vec_dot registered in SQL and survives codegen over many rows") {
    spark.sql("SELECT 1").collect() // force session init
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head
    assert(r.getDouble(0) === 11.0)
    val n = spark.range(10000)
      .select(Similarity.dot(
        array(col("id").cast("double"), lit(1.0)),
        array(lit(2.0), col("id").cast("double"))).as("d"))
      .filter(col("d") === col("d")).count()
    assert(n === 10000L)
  }

  test("VecDot edge semantics: length mismatch → null (like the composition); bad types fail analysis") {
    // mismatched lengths: zip_with pads with null, nulling the fold —
    // the kernel must agree (null, not a truncated partial dot)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))).toDF("a", "b")
    val composed = df.select(
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("c"))
    val native = df.select(Similarity.dot(col("a"), col("b")).as("c"))
    assert(composed.head.isNullAt(0) && native.head.isNullAt(0))
    // wrong element type (decimal literals in SQL) → analysis-time error
    spark.sql("SELECT 1").collect() // force session init
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(array(1.0, 2.0), array(3.0, 4.0))").collect()
    }
    assert(ex.getMessage.contains("vec_dot"))
  }

  test("SQL kernel arity errors are named, not raw IndexOutOfBounds") {
    spark.sql("SELECT 1").collect() // force session init
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("vec_dot") &&
      e.getMessage.contains("argument"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT md5long60()").collect()
    }
    assert(e2.getMessage.contains("md5long60") &&
      e2.getMessage.contains("argument"))
  }

  test("vec_dot null ELEMENT → NULL, like the composition; nullable-typed non-null arrays still compute") {
    // the SQL registration exposes the kernel to arbitrary arrays: a
    // null slot must null the result (aggregate(zip_with) semantics),
    // not read garbage through getDouble
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS d")
      .head
    assert(r.isNullAt(0))
    // containsNull=true TYPE with all-non-null VALUES takes the
    // null-probing kernel and must still compute the exact dot
    val r2 = spark.sql(
      "SELECT vec_dot(array(1.0D, IF(1=2, CAST(NULL AS DOUBLE), 2.0D)), " +
        "array(3.0D, 4.0D)) AS d").head
    assert(r2.getDouble(0) === 11.0)
  }

  test("cosine: orthogonal → 0, identical → 1, opposite → -1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 2f), Seq(1f, 2f), 1.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0)
    ).toDF("a", "b", "want")
      .select(Similarity.cosine(col("a"), col("b")).as("got"), col("want"))
    df.collect().foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("lshBucket: deterministic, in range, identical vectors collide") {
    val v = Seq.fill(64)(scala.util.Random.nextFloat())
    val df = Seq(v, v).toDF("embedding")
      .select(Similarity.lshBucket(col("embedding"), 8, 64).as("b"))
    val bs = df.collect().map(_.getInt(0))
    assert(bs(0) === bs(1))
    assert(bs(0) >= 0 && bs(0) < 256)
  }

  test("bruteForceTopK ranks the true nearest neighbour first") {
    val corpus = Similarity.withNormalized(Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(0f, 0f, 1f))
    ).toDF("vec_id", "embedding"), "embedding")
    val queries = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("ne").as("qe"))
    val top = Similarity.bruteForceTopK(corpus, queries, 2)
      .orderBy("rn").collect()
    assert(top(0).getLong(2) === 1L) // closest to (1,0,0) is (0.9,0.1,0)
    assert(top.length === 2)
  }

  test("trainKmeans: deterministic unit centroids; empty cells keep init") {
    // two tight clusters around x-axis and y-axis in 4 dims
    val pts = Seq(
      (0L, Seq(1f, 0.1f, 0f, 0f)), (2L, Seq(1f, -0.1f, 0f, 0f)),
      (4L, Seq(0.9f, 0f, 0.1f, 0f)),
      (1L, Seq(0f, 0f, 1f, 0.1f)), (3L, Seq(0f, 0.1f, 1f, 0f)),
      (5L, Seq(0f, 0f, 0.9f, -0.1f)))
    val df = Similarity.withNormalized(
      pts.toDF("vec_id", "embedding"), "embedding")
      .select(col("vec_id"), col("ne"))
    val c1 = Similarity.trainKmeans(df, 2, 2, 4)
    val c2 = Similarity.trainKmeans(df, 2, 2, 4)
    assert(c1.map(_.toSeq) === c2.map(_.toSeq)) // bit-identical across runs
    c1.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12) // unit-normalized
    }
    // init = vectors of the 2 smallest vec_ids (0 → x-cluster, 1 → z-cluster);
    // after 2 iterations each centroid stays in its cluster's halfspace
    assert(c1(0)(0) > 0.8 && c1(1)(2) > 0.8)
  }

  test("trainPq: deterministic per-subspace codebooks; codes hit the nearest centroid; ADC matches LUT sum") {
    // two clusters per 2-dim subspace (4 dims, 2 subspaces)
    val pts = Seq(
      (0L, Seq(1f, 0f, 0f, 1f)), (1L, Seq(0f, 1f, 1f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0.1f, 0.9f)), (3L, Seq(0.1f, 0.9f, 0.9f, 0.1f)))
    val df = Similarity.withNormalized(
      pts.toDF("vec_id", "embedding"), "embedding")
      .select(col("vec_id"), col("ne"))
    val cb1 = Similarity.trainPq(df, 2, 2, 2, 4)
    val cb2 = Similarity.trainPq(df, 2, 2, 2, 4)
    assert(cb1.map(_.map(_.toSeq)) === cb2.map(_.map(_.toSeq))) // bit-identical
    assert(cb1.size === 2 && cb1.forall(_.size === 2) &&
      cb1.forall(_.forall(_.length === 2)))
    val coded = df
      .withColumn("codes", Similarity.pqCodes(col("ne"), cb1, 4))
      .withColumn("luts", Similarity.pqLuts(col("ne"), cb1, 4))
      .withColumn("adc", Similarity.adcScore(col("codes"), col("luts"), 2))
      .collect()
    coded.foreach { r =>
      val codes = r.getSeq[Int](r.fieldIndex("codes"))
      assert(codes.length === 2 && codes.forall(c => c >= 0 && c < 2))
      // self-ADC = sum of dots against the vector's OWN assigned
      // centroids — recompute driver-side from the codebooks
      val ne = r.getSeq[Double](r.fieldIndex("ne"))
      val expect = (0 until 2).map { m =>
        val ce = cb1(m)(codes(m))
        (0 until 2).map(j => ne(m * 2 + j) * ce(j)).sum
      }.sum
      assert(math.abs(r.getDouble(r.fieldIndex("adc")) - expect) < 1e-9)
    }
    // clustered inputs → same-cluster rows share codes, cross-cluster differ
    val byId = coded.map(r => r.getLong(0) -> r.getSeq[Int](r.fieldIndex("codes"))).toMap
    assert(byId(0L) === byId(2L) && byId(1L) === byId(3L))
    assert(byId(0L) !== byId(1L))
  }

  test("pqCodes bound-slice rewrite is bit-identical to the inline dist2 composition") {
    // r21 guard: pqCodes binds the subvector slice + its self-dot once
    // per (row, subspace) and hoists centroid self-dots to plan time;
    // every distance must stay the same left-associated double chain as
    // the pre-r21 inline dist2 shape (kept here as the reference), so
    // the argmin codes compare EXACTLY — at production codebook size.
    val rnd = new scala.util.Random(21)
    val dims = 64; val subs = 16; val k = 64; val subD = dims / subs
    val cb: Seq[Seq[Array[Double]]] =
      Seq.fill(subs)(Seq.fill(k)(Array.fill(subD)(rnd.nextDouble() * 2 - 1)))
    val df = Seq.fill(100)(Seq.fill(dims)(rnd.nextDouble() * 2 - 1))
      .map(Tuple1(_)).toDF("ne")
    val naive = array(cb.zipWithIndex.map { case (cs, m) =>
      Similarity.argminIdx(transform(typedLit(cs.map(_.toSeq)),
        ce => Similarity.dist2(slice(col("ne"), m * subD + 1, subD), ce)))
    }: _*)
    val mismatches = df
      .select(Similarity.pqCodes(col("ne"), cb, dims).as("a"), naive.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches === 0L)
  }

  test("topCells ranks by rounded dot desc with index tie-break") {
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    val df = Seq(Seq(1.0, 0.0)).toDF("ne")
      .select(Similarity.assignCells(col("ne"), cents, 3).as("cells"))
    // cents 0 and 2 tie at dot=1 → index order; cent 1 (dot=0) last
    assert(df.head.getSeq[Int](0) === Seq(0, 2, 1))
  }

  /** The built-in composition `assignCells` replaced: per-centroid
    * dots against the literal matrix, then the first `m` indices of
    * `array_sort` over (-round(dot, 6), index). */
  private def referenceCells(ne: Column, cents: Seq[Array[Double]], m: Int): Column =
    transform(
      slice(array_sort(transform(
        transform(typedLit(cents.map(_.toSeq)), ce => Similarity.dot(ne, ce)),
        (d, i) => struct((-round(d, 6)).as("nd"), i.as("c")))), 1, m),
      s => s.getField("c"))

  /** A session that evaluates expressions interpreted: no whole-stage
    * codegen, no generated projections. */
  private lazy val interpreted = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  /** Rows where the kernel and the reference disagree, in a codegen'd
    * and an interpreted session. The frame is repartitioned so the
    * projection runs in the plan instead of being folded into a local
    * relation by the optimizer. */
  private def cellMismatches(frame: SparkSession => DataFrame,
      cents: Seq[Array[Double]], m: Int): Seq[Row] =
    Seq(spark, interpreted).flatMap { s =>
      frame(s).repartition(2)
        .select(col("ne"), Similarity.assignCells(col("ne"), cents, m).as("a"),
          referenceCells(col("ne"), cents, m).as("b"))
        .filter(not(col("a") <=> col("b"))).collect().toSeq
    }

  test("assignCells is bit-identical to the dot/round/array_sort composition on random rows") {
    val rnd = new scala.util.Random(11)
    val cents = Seq.fill(96)(Array.fill(64)(rnd.nextGaussian()))
    val rows = Seq.fill(300)(Tuple1(Seq.fill(64)(rnd.nextGaussian())))
    for (m <- Seq(1, 2, 12))
      assert(cellMismatches(_.createDataFrame(rows).toDF("ne"), cents, m).isEmpty, s"m=$m")
  }

  test("assignCells matches the composition on ties, ±0.0, NaN/∞, nulls, length mismatch and m ≥ k") {
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    val cents = Seq(
      Array(1.0, 0.0), Array(1.0000004, 0.0), Array(0.9999996, 0.0), // tie after rounding
      Array(0.0, 0.0), Array(-0.0, 0.0), Array(0.0, -1.0),           // dots of ±0.0
      Array(nan, 0.0), Array(inf, 0.0), Array(-inf, 0.0),            // NaN/±∞ dots
      Array(5e-7, 0.0), Array(-5e-7, 0.0), Array(0.1234565, 0.0),    // half-way at 6 dp
      Array(2.0000005, 0.0), Array(-0.7654325, 0.0), Array(1234.5678905, 0.0),
      Array(1.0, 0.0, 0.0))                                           // length mismatch
    def v(xs: java.lang.Double*): Option[Seq[java.lang.Double]] = Some(xs.toSeq)
    // array<double> with nullable elements, as a zero-norm vector's
    // normalized array is typed; the last two rows are a null element
    // and a null vector
    val rows = Seq(v(1.0, 0.0), v(-1.0, 0.0), v(0.0, 1.0), v(-0.0, -0.0),
      v(0.5, 0.5), v(nan, 1.0), v(inf, 0.0), v(-inf, 1.0), v(1.0, 0.0, 0.0),
      v(1.0), v(1.0, null), None).map(Tuple1(_))
    for (m <- Seq(1, 3, cents.size, cents.size + 5))
      assert(cellMismatches(_.createDataFrame(rows).toDF("ne"), cents, m).isEmpty, s"m=$m")
    // a dense-typed column takes the null-free path to the same cells
    val dense = Seq(Tuple1(Seq(1.0, 0.0)), Tuple1(Seq(-0.0, 2.5)))
    assert(cellMismatches(_.createDataFrame(dense).toDF("ne"), cents, 4).isEmpty)
    // a null vector's dots are all null: cells 0..m-1 by index
    val nulls = spark.createDataFrame(rows.takeRight(2)).toDF("ne").repartition(2)
      .select(Similarity.assignCells(col("ne"), cents, 3)).collect().map(_.getSeq[Int](0))
    assert(nulls.toSeq === Seq(Seq(0, 1, 2), Seq(0, 1, 2)))
  }

  test("assignCells plans name the centroid matrix, not its k×d doubles") {
    val cents = Seq.tabulate(8)(i => Array.fill(4)(i + 0.123456789))
    def cells(cs: Seq[Array[Double]]) = Seq(Tuple1(Seq(1.0, 0.0, 0.0, 0.0))).toDF("ne")
      .repartition(2).select(Similarity.assignCells(col("ne"), cs, 2).as("cells"))
    val df = cells(cents)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("centroids[8x4#"), p)
    assert(!p.contains("0.123456789"), s"the matrix is rendered into the plan:\n$p")
    // equal matrices compare equal, so plan-matched caching still works
    assert(df.queryExecution.analyzed.sameResult(cells(cents.map(_.clone())).queryExecution.analyzed))
    assert(!df.queryExecution.analyzed.sameResult(
      cells(cents.updated(0, Array(0.0, 0.0, 0.0, 0.0))).queryExecution.analyzed))
  }

  test("HalfUp.round is bit-identical to BigDecimal HALF_UP on random, half-way and extreme doubles") {
    import java.math.{BigDecimal => JBigDecimal, RoundingMode}
    def reference(d: Double, scale: Int): Double =
      if (d.isNaN || d.isInfinite) d
      else JBigDecimal.valueOf(d).setScale(scale, RoundingMode.HALF_UP).doubleValue()
    val rnd = new scala.util.Random(23)
    def around(d: Double): Seq[Double] =
      Iterator.iterate(d)(math.nextDown).slice(1, 4).toSeq ++
        Iterator.iterate(d)(math.nextUp).take(4)
    val halfWays = for {
      scale <- Seq(0, 6)
      n <- Seq.fill(20000)(rnd.nextInt(2000000).toLong) ++ Seq(0L, 1L, 123456L, 999999L)
      h = (n + 0.5) / math.pow(10, scale)
      d <- around(h) ++ around(s"$n.5E-$scale".toDouble)
    } yield d
    val extremes = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, 1e-310, -2.5e-320, Double.MaxValue, Double.MinValue,
      4503599627370496.0 / 1e6, 4503599627370495.5, 4503599627370497.0, 1e15, -1e15 - 0.5,
      1e300, 5e-7, -5e-7, 0.1234565, -0.7654325, 2.0000005, 1234.5678905, 0.5, -0.5, 2.5,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity) ++
      Seq.fill(2000)(java.lang.Double.longBitsToDouble(rnd.nextLong() >>> 12)) // subnormals
    val randoms = Seq.fill(200000)(rnd.nextDouble() * 2 - 1) ++
      (-12 to 18).flatMap(e => Seq.fill(5000)(rnd.nextGaussian() * math.pow(10, e))) ++
      Seq.fill(100000)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    val bits = java.lang.Double.doubleToRawLongBits _
    for (scale <- Seq(0, 6)) {
      val bad = (halfWays ++ extremes ++ randoms).filter(d =>
        bits(graft.functions.HalfUp.round(d, scale)) != bits(reference(d, scale)))
      assert(bad.isEmpty, s"scale $scale differs at ${bad.take(5)}")
    }
    // zero results are +0.0 on both paths, from either sign
    assert(bits(graft.functions.HalfUp.round(-1e-9, 6)) == bits(0.0))
    assert(bits(graft.functions.HalfUp.round(-0.4, 0)) == bits(0.0))
  }

  /** The built-in composition `Similarity.int8Quantized` replaced. */
  private def referenceInt8(df: DataFrame): DataFrame =
    df.withColumn("scale", aggregate(col("ne"), lit(0.0), (m, x) => greatest(m, abs(x))))
      .withColumn("q8", transform(col("ne"), x => round(x * 127.0 / col("scale"))))

  private type Int8Bits = Seq[(Option[Long], Option[Seq[Option[Long]]])]

  /** (scale, q8) per row, as raw bits, from the kernel and from the
    * composition in session `s`. */
  private def int8Bits(s: SparkSession, rows: Seq[Option[Seq[java.lang.Double]]])
      : (Int8Bits, Int8Bits) = {
    val ansi = s.conf.get("spark.sql.ansi.enabled").toBoolean
    def raw(d: java.lang.Double): Long = java.lang.Double.doubleToRawLongBits(d)
    def bits(df: DataFrame): Int8Bits = df.select(col("id"), col("scale"), col("q8"))
      .orderBy(col("id")).collect().toSeq.map { r =>
        (Option(r.getAs[java.lang.Double](1)).map(raw),
          Option(r.getSeq[java.lang.Double](2)).map(_.map(x => Option(x).map(raw))))
      }
    val frame = s.createDataFrame(rows.zipWithIndex.map(_.swap)).toDF("id", "ne").repartition(2)
    (bits(Similarity.int8Quantized(frame, "ne", ansi)), bits(referenceInt8(frame)))
  }

  /** A session with whole-stage codegen and generated projections on or
    * off, and `spark.sql.ansi.enabled` as given. */
  private def int8Session(codegen: Boolean, ansi: Boolean): SparkSession = {
    val s = spark.newSession()
    if (!codegen) {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    s.conf.set("spark.sql.ansi.enabled", ansi.toString)
    s
  }

  test("int8Quantized is bit-identical to the greatest/round composition, codegen'd and interpreted, ANSI on and off") {
    val rnd = new scala.util.Random(31)
    def v(xs: java.lang.Double*): Option[Seq[java.lang.Double]] = Some(xs.toSeq)
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    val rows = Seq.fill(300)(v(Seq.fill(64)(java.lang.Double.valueOf(rnd.nextGaussian())): _*)) ++
      Seq(v(2.0, 1.0, -1.0, 0.5), v(-2.0, -1.0, 0.25, -0.0), // ±63.5, 31.75: half-way codes
        v(1.0, 0.5 / 127, -0.5 / 127, 1.5 / 127), v(3.0, 1.0, 2.0, -1.5),
        v(1.0, null, -0.3), v(null, 0.7), v(nan, 1.0), v(0.5, inf, -1.0),
        v(-inf, 0.2), v(5e-324, 1e-310), v(1e300, -3e299, 1e-300),
        v(), v(null, null), None)
    val sessions = for (codegen <- Seq(true, false); ansi <- Seq(true, false))
      yield (codegen, ansi) -> int8Session(codegen, ansi)
    for (((codegen, ansi), s) <- sessions) {
      val (got, want) = int8Bits(s, rows)
      assert(got === want, s"codegen=$codegen ansi=$ansi")
    }
    // a zero scale: every code null with ANSI off, DIVIDE_BY_ZERO with it on
    val zeros = Seq(v(0.0, -0.0), v(-0.0, null))
    def divideByZero(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains("DIVIDE_BY_ZERO")))
    for (((codegen, ansi), s) <- sessions) {
      if (ansi) for (kernel <- Seq(true, false)) {
        val frame = s.createDataFrame(zeros.zipWithIndex.map(_.swap)).toDF("id", "ne").repartition(2)
        val q = if (kernel) Similarity.int8Quantized(frame, "ne", ansi = true)
          else referenceInt8(frame)
        val e = intercept[Exception](q.collect())
        assert(divideByZero(e), s"codegen=$codegen kernel=$kernel: $e")
      } else {
        val (got, want) = int8Bits(s, zeros)
        assert(got === want, s"codegen=$codegen")
        assert(got.forall(_._2.exists(_.forall(_.isEmpty))), s"codegen=$codegen: $got")
      }
    }
  }

  test("planeComponent matches the SQL md5 definition") {
    // the independent reference: the documented SQL-portable definition
    // ('0x'||substr(md5(p||','||i),1,15))::BIGINT % 2, re-derived here
    // via the hex parse so a drift in Md5Hash or the "p,i" seed format
    // actually FAILS (a ±1/both-signs check alone passes for any
    // non-constant sign function)
    def sqlDef(p: Int, i: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p,$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      if (BigInt(hex, 16).testBit(0)) 1.0 else -1.0
    }
    val mismatches = for {
      p <- 0 until 8; i <- 0 until 64
      if Similarity.planeComponent(p, i) != sqlDef(p, i)
    } yield (p, i)
    assert(mismatches.isEmpty, s"diverged from SQL definition at $mismatches")
    val all = for (p <- 0 until 8; i <- 0 until 64) yield Similarity.planeComponent(p, i)
    assert(all.toSet === Set(1.0, -1.0)) // both signs occur
  }
}
