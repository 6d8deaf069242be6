package graft.queries

import graft.{QueryPack, Tables}
import graft.ext.{Dedup, TextAnalysis}
import graft.runtime.FrameCache
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star text-analysis operators over `documents` (SURVEY.md §0:
  * language-ID, quality scoring, token counting, fingerprinting), each
  * oracle-checked. The oracles recompute the exact same expressions in
  * DuckDB — engine-portable hashing via md5 (see graft.ext.Hashing).
  */
object TextQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Token counting: whitespace + BPE-ish word-piece regex ----
    "q30_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text"))).as("sum_ws_tokens"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("sum_bpe_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("source"))
    }),

    // ---- Quality scoring: length / punctuation / stopword ratios ----
    "q31_quality_score" -> ((s, d) => {
      // integer basis points (q92/q100's convention): per-doc
      // round(raw,4) is the non-portable half-boundary rounding
      // TextAnalysis documents — the floored-bp sum is integer-exact
      // cross-engine, and the single final division+round acts on a
      // bit-identical double on both sides
      Tables.documents(s, d)
        .withColumn("qbp",
          floor(TextAnalysis.qualityScoreRaw(col("text")) * 10000)
            .cast("long"))
        .groupBy(col("lang"))
        .agg(round(sum(col("qbp")).cast("double") / count(lit(1)) / 10000.0, 4)
            .as("avg_quality"),
          sum(when(col("qbp") >= 8000, 1).otherwise(0)).as("n_high"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // ---- Language-ID heuristic: stopword-profile argmax ----
    "q32_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("predicted", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // ---- Winnowing fingerprints over 3-token shingle hashes ----
    // (hash array materialized first — see DedupQueries perf note)
    "q33_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("h", TextAnalysis.shingleHashes(col("text"), 3))
        .select(col("source"),
          explode(TextAnalysis.fingerprintsFromHashes(col("h"), 4)).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_fp"),
          countDistinct(col("fp")).as("n_distinct_fp"))
        .orderBy(col("source"))
    }),

    // ---- Repetition signal (the MassiveText/Gopher duplicate-n-gram
    //      filter): fraction of a doc's 2-grams that are repeats of an
    //      earlier 2-gram. Per-doc work is a pure map-side expression;
    //      the per-source aggregate ratio divides exact integer sums
    //      (micro-average), so the double math is one division — no
    //      order-dependent float summation to diverge across engines. ----
    "q71_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(size(TextAnalysis.tokens(col("text"))) >= 2)
        .withColumn("n2", (size(TextAnalysis.tokens(col("text"))) - 1).cast("long"))
        .withColumn("d2", size(Dedup.distinctShingles(col("text"), 2)).cast("long"))
        .withColumn("frac", lit(1.0) - col("d2").cast("double") / col("n2"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("frac") > 0.08, 1L).otherwise(0L)).as("n_repetitive"),
          sum(col("d2")).as("sd2"), sum(col("n2")).as("sn2"))
        .select(col("source"), col("n_docs"), col("n_repetitive"),
          round(lit(1.0) - col("sd2").cast("double") / col("sn2"), 4).as("dup2_frac"))
        .orderBy(col("source"))
    }),

    // ---- TF-IDF keyword extraction: the top-3 most characteristic
    //      terms per source. IDF is the RATIONAL variant N/df (not
    //      ln(N/df)): every score is a product/quotient of integers in
    //      IEEE doubles, so ranking and output hash bit-identically
    //      across engines — a transcendental would be at the mercy of
    //      each libm's last ulp. Shape at scale: one explode + two
    //      hash aggregations (df on term, tf on (source, term)) + a
    //      shuffle join on term; stopword-hot term keys are exactly
    //      the rows with high df, whose scores sink — AQE handles the
    //      agg skew, no salting needed for a two-level key. ----
    "q75_tfidf_terms" -> ((s, d) => {
      // N from the UN-repartitioned table: parquet metadata answers the
      // count without a scan — the old post-repartition docs.count()
      // paid a full-corpus round-robin exchange for a row count
      // (guide §1.2: don't compute things you throw away).
      val n = Tables.documents(s, d).count()
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
      val tok = docs.select(col("source"), col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      // ONE tokenize+explode pass: df and tf both derive from the
      // (term, doc_id, source) posting-list aggregate — doc_id is
      // unique per doc so source rides the key for free, count(*) per
      // term == countDistinct(doc_id) per term, and sum(c) per
      // (source, term) == the raw occurrence count. Uncached, the two
      // consumers each re-ran scan+tokenize+explode (guide §2.3
      // aggregate-before-shuffle + §5 reuse); the cached frame is the
      // post-aggregation posting list (|distinct (term, doc)| rows),
      // not the exploded token stream.
      val g1 = FrameCache.get(s, "q75-tdc", d)(
        tok.groupBy(col("term"), col("doc_id"), col("source"))
          .agg(count(lit(1)).as("c")).cache())
      val dfreq = g1.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val tf = g1.groupBy(col("source"), col("term"))
        .agg(sum(col("c")).as("tf"))
      val w = Window.partitionBy(col("source"))
        .orderBy(round(col("score"), 6).desc, col("term"))
      tf.join(dfreq, "term")
        .withColumn("score",
          col("tf").cast("double") * lit(n.toDouble) / col("df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk").cast("int").as("rk"), col("term"),
          round(col("score"), 2).as("score"))
        .orderBy(col("source"), col("rk"))
    }),

    // ---- PII redaction scrub: the sanitization pass every training
    //      corpus goes through before release. The synthetic corpus
    //      carries no PII (verified: no '@' / '-' / '+' / digits in
    //      text), so each doc is decorated with DETERMINISTIC contact
    //      strings derived from doc_id (the streaming-fixture pattern;
    //      the oracle rebuilds them), then scrubbed: email → <EMAIL>,
    //      phone → <PHONE>, IPv4 → <IP>. Detection counts come from
    //      regexp_extract_all, removal from chained regexp_replace
    //      (global in both engines) — all per-row codegen'd
    //      expressions, no shuffle until the per-source rollup. ----
    "q82_pii_redaction" -> ((s, d) => {
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0, concat(lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0, concat(lit(" from 10."),
          (col("doc_id") % 200).cast("string"), lit(".0."),
          (col("doc_id") % 250).cast("string")))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .withColumn("dirty", dirty)
        .select(col("source"),
          size(regexp_extract_all(col("dirty"), lit(PiiEmail), lit(0))).as("ne"),
          size(regexp_extract_all(col("dirty"), lit(PiiPhone), lit(0))).as("np"),
          size(regexp_extract_all(col("dirty"), lit(PiiIp), lit(0))).as("ni"),
          length(col("dirty")).as("cd"),
          length(regexp_replace(regexp_replace(regexp_replace(col("dirty"),
            PiiEmail, "<EMAIL>"), PiiPhone, "<PHONE>"), PiiIp, "<IP>"))
            .as("cc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ne")).as("n_emails"),
          sum(col("np")).as("n_phones"),
          sum(col("ni")).as("n_ips"),
          sum(col("cd")).as("chars_dirty"),
          sum(col("cc")).as("chars_clean"))
        .orderBy(col("source"))
    }),

    // ---- Heavy hitters: count-min sketch vs exact top-10 terms (see
    //      [[heavyHitters]]) ----
    "q84_heavy_hitters" -> ((s, d) => heavyHitters(s, d)),

    // ---- RAG chunking: overlapping fixed-width token windows (64-token
    //      chunks, 48-token stride → 16-token overlap), the split every
    //      retrieval index ingests. Pure map-side sequence/slice
    //      expressions (the q77 segmentation shape plus stride), chunk
    //      identity via the portable 60-bit hash so the overlap-induced
    //      duplicate rate is measured per source — one rollup shuffle. ----
    "q86_rag_chunking" -> ((s, d) => {
      val chunkArr = expr(
        s"""transform(sequence(0, (size(words) - 1) div $ChunkStride),
           |  j -> array_join(slice(words, j * $ChunkStride + 1, $ChunkW), ' '))""".stripMargin)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("words"))
        .select(col("doc_id"), col("source"),
          posexplode(chunkArr).as(Seq("chunk_idx", "chunk")))
        .withColumn("ct", size(split(col("chunk"), " ")))
        .withColumn("ch", graft.ext.Hashing.md5Long(col("chunk")))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("ct")).as("sum_chunk_tokens"),
          max(col("ct")).cast("long").as("max_chunk_tokens"),
          countDistinct(col("ch")).as("n_distinct_chunks"))
        .orderBy(col("source"))
    }),

    // ---- Boilerplate suppression by corpus n-gram frequency: the
    //      CCNet-style pass that strips headers/footers/templates
    //      repeated across a crawl. An ABSOLUTE document-frequency bar
    //      doesn't survive scale-up (this corpus's 3-gram space
    //      saturates: df≥5 covers 1% of grams at sf0.01 but 95% at
    //      sf0.1), so boilerplate is RANK-based — the top-K grams by
    //      df, deterministic via the (df DESC, gram ASC) tie-break.
    //      Shape at scale: explode → hash-agg df (map-side partials
    //      collapse the hot grams, so gram skew never reaches the
    //      reduce side) → top-K as TakeOrdered (no global sort
    //      materialization) → the K-row dictionary BROADCASTS to a
    //      map-side coverage join → per-doc then per-source rollups.
    //      Two linear shuffles; the gram frame is recomputed for the
    //      coverage pass rather than cached — at corpus scale the
    //      exploded grams dwarf memory and a second scan is cheaper.
    //      Flag bar ≥20% coverage is integer-exact (5*nb >= ng). ----
    "q102_boilerplate" -> ((s, d) => {
      val grams = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"),
          explode(Dedup.distinctShingles(col("text"), BoilerN)).as("g"))
      val top = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("g")).limit(BoilerTopK)
      grams
        .join(broadcast(top.select(col("g"), lit(1L).as("hit"))),
          Seq("g"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("ng"),
          coalesce(sum(col("hit")), lit(0L)).as("nb"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nb") * 5 >= col("ng"), 1L).otherwise(0L))
            .as("n_flagged"),
          sum(col("nb")).as("sum_boiler"),
          sum(col("ng")).as("sum_grams"))
        .withColumn("boiler_frac",
          round(col("sum_boiler").cast("double") / col("sum_grams"), 4))
        .orderBy(col("source"))
    }),

    // ---- BM25 ranked retrieval: the serving-side query every index
    //      build (q73/q86/IndexStore) exists for. Fixed 3-term query;
    //      idf is the RATIONAL BM25 variant (N-df+0.5)/(df+0.5) — per
    //      q75's convention no transcendental enters the score, so it
    //      hashes bit-identically across engines; both sides evaluate
    //      the identical double expression tree (casts and
    //      associativity matched to the oracle SQL literally).
    //      Shape at scale: one corpus scan computes per-doc tf/dl
    //      map-side; one tiny stats agg (N, avgdl, the 3 dfs) comes
    //      back as plan-time literals (the q75/trainKmeans pattern);
    //      the scoring pass is pure per-row codegen, and the top-15 is
    //      TakeOrdered — no global sort, no windows over the corpus.
    //      Rank ties break on (round(score,6) DESC, doc_id). ----
    "q103_bm25_search" -> ((s, d) => {
      val tk = TextAnalysis.tokens(col("text"))
      def tf(term: String) =
        size(filter(tk, x => x === lit(term))).cast("long")
      val baseCols = Seq(col("doc_id"), col("source"),
        size(tk).cast("long").as("dl")) ++
        Bm25Terms.zipWithIndex.map { case (t, i) => tf(t).as(s"tf$i") }
      // Cached: the per-doc (doc_id, source, dl, tf0..tf2) stats frame
      // is consumed TWICE — the corpus-stats aggregate (the eager
      // .head() below) and the scoring pass. Uncached, each consumer
      // re-ran the full scan+tokenize+tf pipeline (two corpus passes
      // per invocation); the cache is the narrow per-doc sketch (five
      // numeric columns + source), not the text (guide §5 reuse; §2.3
      // project early — text is dropped before anything materializes).
      val scored0 = FrameCache.get(s, "q103-tf", d)(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
          .repartition(s.sparkContext.defaultParallelism)
          .select(baseCols: _*)
          .cache())
      val statCols = Seq(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++
        Bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val st = scored0.agg(statCols.head, statCols.tail: _*).head()
      val n = st.getAs[Long]("n"); val avgdl = st.getAs[Double]("avgdl")
      def contrib(i: Int): Column = {
        val df = st.getAs[Long](s"df$i")
        val idf = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5)
        val tfd = col(s"tf$i").cast("double")
        lit(idf) * (tfd * lit(2.2) / (tfd + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl)))))
      }
      val hits = scored0
        .filter(Bm25Terms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0)
        .withColumn("score", Bm25Terms.indices.map(contrib).reduce(_ + _))
        // raw-score ordering: both engines build the identical double
        // expression tree, so the bits match and no round() (itself the
        // cross-engine hazard — see verify skill) enters the sort key
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
      hits.withColumn("rk", row_number().over(Window.orderBy(
          col("score").desc, col("doc_id"))).cast("int"))
        .select(col("rk"), col("doc_id"), col("source"),
          round(col("score"), 4).as("bm25"))
        .orderBy(col("rk"))
    })
  )

  private val ChunkW = 64      // tokens per RAG chunk
  private val ChunkStride = 48 // stride (overlap = ChunkW - ChunkStride)

  private val BoilerN = 3      // boilerplate shingle width (tokens)
  private val BoilerTopK = 500 // grams suppressed, by (df DESC, gram ASC)

  private val Bm25Terms = Seq("spark", "join", "vector") // fixed query

  // PII patterns — no capturing groups (group 0 extraction), Java-regex
  // and RE2 compatible so Spark and DuckDB match identical spans.
  private val PiiEmail = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
  private val PiiPhone = "\\+1-555-[0-9]{4}"
  private val PiiIp    = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** q84: count-min sketch vs exact heavy hitters. The sketch is a
    * mergeable map-side partial aggregate (the CMS property that makes
    * frequency estimation work at 100 TB: fixed-size per-partition
    * tables merged like HLL registers); the exact top-k is a groupBy +
    * TakeOrdered. Engines' sketches differ, so (q18/q54/q74's pattern)
    * the cross-engine check is the GUARANTEE, not the estimate: CMS
    * never underestimates, and overshoots ≤ ε·N with prob 1−δ — both
    * asserted as booleans the oracle emits as literal TRUE. The k=10
    * collect and the one sketch binary are the trainKmeans-style
    * driver seam (k rows, not data). */
  private def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .cache()
    // The cache only serves the three actions below; unpersist before
    // returning so repeated invocations (the bench runs queries twice)
    // don't pin a fresh copy in executor memory each time.
    val rows = try {
      val eps = 0.001
      val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        tok.agg(count_min_sketch(col("term"), lit(eps), lit(0.999), lit(42))
          .as("sk")).head.getAs[Array[Byte]](0))
      // The sketch already counted every term it absorbed: totalCount()
      // IS tok.count() (explode emits no null terms, and the CMS
      // aggregate adds each non-null input exactly once) — the separate
      // distributed count action re-scanned the cached frame for a
      // number the sketch carries (guide §1.2: don't compute things
      // twice). Equality is spec-asserted in TextAnalysisSpec.
      val nTotal = sk.totalCount()
      val top = tok.groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("term")).limit(10).collect()
      top.zipWithIndex.map { case (r, i) =>
        val (term, exact) = (r.getString(0), r.getLong(1))
        val est = sk.estimateCount(term)
        (i + 1, term, exact, est >= exact, est <= exact + (eps * nTotal).toLong)
      }.toSeq
    } finally tok.unpersist()
    rows.toDF("rk", "term", "exact_n", "est_ge_exact", "est_within_eps")
      .orderBy(col("rk"))
  }

  /** DuckDB-side stopword-hit count for `lang` (shared SQL fragment). */
  private[queries] def hitsSql(lang: String): String = {
    val list = TextAnalysis.Stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), x -> list_contains([$list], x)))"
  }

  /** DuckDB mirror of [[TextAnalysis.qualityScoreRaw]] — the unrounded
    * double (bit-identical across engines; see the raw/rounded split on
    * the Spark side). */
  private[queries] def qualitySqlRaw: String =
    s"""(least(len(string_split(text, ' ')) / 80.0, 1.0) * 0.4
       |    + (1.0 - (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
       |        / greatest(length(text), 1)) * 0.3
       |    + least((${hitsSql("en")}
       |        / greatest(len(string_split(text, ' ')), 1)) * 5.0, 1.0) * 0.3)""".stripMargin

  /** DuckDB mirror of [[TextAnalysis.langId]]: preference-ordered argmax
    * as (scoreColumns, caseExpr); NULL text → NULL like the engine. */
  private[queries] def predictedSql: (String, String) = {
    val langs = TextAnalysis.LangOrder
    val scoreCols = langs.map(l => s"  ${hitsSql(l)} AS s_$l").mkString(",\n")
    val caseArms = langs.init.map { l =>
      val conds = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"  WHEN $conds THEN '$l'"
    }.mkString("\n")
    (scoreCols, s"CASE\n  WHEN s_${langs.head} IS NULL THEN NULL\n" +
      s"$caseArms\n  ELSE '${langs.last}' END")
  }

  override def oracles: Map[String, String] = Map(
    "q30_token_count" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
        |    AS sum_bpe_tokens,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q31_quality_score" ->
      s"""WITH t AS (SELECT lang,
         |    CAST(floor($qualitySqlRaw * 10000) AS BIGINT) AS qbp
         |  FROM documents)
         |SELECT lang,
         |  round(sum(qbp)::DOUBLE / count(*) / 10000.0, 4) AS avg_quality,
         |  CAST(sum(CASE WHEN qbp >= 8000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_high,
         |  count(*) AS n
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    "q32_lang_id" -> {
      val (scoreCols, caseExpr) = predictedSql
      s"""WITH t AS (SELECT lang,
         |$scoreCols
         |  FROM documents),
         |p AS (SELECT lang, $caseExpr AS predicted FROM t)
         |SELECT lang, predicted, count(*) AS n
         |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
    },

    "q33_fingerprint" ->
      s"""WITH toks AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT source,
        |  CASE WHEN len(tk) >= 3 THEN list_transform(generate_series(1, len(tk) - 2),
        |    i -> ${DedupQueries.h("array_to_string(tk[i:i+2], ' ')")})
        |  ELSE [] END AS h FROM toks),
        |w AS (SELECT source, list_distinct(
        |  CASE WHEN len(h) >= 4 THEN list_transform(generate_series(1, len(h) - 3),
        |         i -> list_min(h[i:i+3]))
        |       WHEN len(h) > 0 THEN [list_min(h)]
        |       ELSE [] END) AS fps FROM sh),
        |e AS (SELECT source, unnest(fps) AS fp FROM w)
        |SELECT source, count(*) AS n_fp, count(DISTINCT fp) AS n_distinct_fp
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    "q71_repetition" ->
      """WITH dd AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT source, len(tk) - 1 AS n2,
        |    len(list_distinct(list_transform(generate_series(1, len(tk) - 1),
        |      i -> array_to_string(tk[i:i+1], ' ')))) AS d2
        |  FROM dd WHERE len(tk) >= 2),
        |f AS (SELECT source, n2, d2, 1.0 - d2::DOUBLE / n2 AS frac FROM g)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN frac > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
        |  round(1.0 - sum(d2)::DOUBLE / sum(n2), 4) AS dup2_frac
        |FROM f GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q75_tfidf_terms" ->
      """WITH tok AS (SELECT source, doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term),
        |sc AS (SELECT tf.source, tf.term,
        |    tf.tf::DOUBLE * (SELECT count(*)::DOUBLE FROM documents) / dfreq.df AS score
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term),
        |r AS (SELECT source, term, score, row_number() OVER (
        |    PARTITION BY source ORDER BY round(score, 6) DESC, term) AS rk FROM sc)
        |SELECT source, CAST(rk AS INTEGER) AS rk, term, round(score, 2) AS score
        |FROM r WHERE rk <= 3 ORDER BY source ASC NULLS FIRST, rk""".stripMargin,

    "q82_pii_redaction" ->
      s"""WITH dd AS (SELECT source,
         |    text || ' contact user' || doc_id || '@mail.example.com'
         |      || CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-'
         |           || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
         |      || CASE WHEN doc_id % 2 = 0 THEN ' from 10.'
         |           || (doc_id % 200) || '.0.' || (doc_id % 250) ELSE '' END
         |      AS dirty
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(dirty, '$PiiEmail'))) AS BIGINT)
         |    AS n_emails,
         |  CAST(sum(len(regexp_extract_all(dirty, '\\+1-555-[0-9]{4}'))) AS BIGINT)
         |    AS n_phones,
         |  CAST(sum(len(regexp_extract_all(dirty, '$PiiIp'))) AS BIGINT) AS n_ips,
         |  CAST(sum(len(dirty)) AS BIGINT) AS chars_dirty,
         |  CAST(sum(len(regexp_replace(regexp_replace(regexp_replace(dirty,
         |    '$PiiEmail', '<EMAIL>', 'g'), '\\+1-555-[0-9]{4}', '<PHONE>', 'g'),
         |    '$PiiIp', '<IP>', 'g'))) AS BIGINT) AS chars_clean
         |FROM dd GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q84_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |g AS (SELECT term, count(*) AS exact_n FROM t GROUP BY term),
        |r AS (SELECT term, exact_n, row_number() OVER (
        |    ORDER BY exact_n DESC, term) AS rk FROM g)
        |SELECT CAST(rk AS INTEGER) AS rk, term, exact_n,
        |  TRUE AS est_ge_exact, TRUE AS est_within_eps
        |FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin,

    "q86_rag_chunking" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
         |  FROM documents),
         |sj AS (SELECT doc_id, source, words,
         |    unnest(range((len(words) - 1) // $ChunkStride + 1)) AS j FROM w),
         |c AS (SELECT doc_id, source,
         |    array_to_string(words[(j * $ChunkStride + 1):(j * $ChunkStride + $ChunkW)],
         |      ' ') AS chunk
         |  FROM sj),
         |hh AS (SELECT doc_id, source, len(string_split(chunk, ' ')) AS ct,
         |    ${DedupQueries.h("chunk")} AS ch FROM c)
         |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
         |  CAST(sum(ct) AS BIGINT) AS sum_chunk_tokens,
         |  CAST(max(ct) AS BIGINT) AS max_chunk_tokens,
         |  count(DISTINCT ch) AS n_distinct_chunks
         |FROM hh GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q102_boilerplate" ->
      s"""WITH dd AS (SELECT doc_id, source, string_split(text, ' ') AS tk
         |  FROM documents),
         |sh AS (SELECT doc_id, source, unnest(list_distinct(
         |    CASE WHEN len(tk) >= $BoilerN THEN list_transform(
         |      generate_series(1, len(tk) - ${BoilerN - 1}),
         |      i -> array_to_string(tk[i:i+${BoilerN - 1}], ' '))
         |    ELSE []::VARCHAR[] END)) AS g FROM dd),
         |df AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
         |top AS (SELECT g FROM df ORDER BY df DESC, g LIMIT $BoilerTopK),
         |pd AS (SELECT sh.doc_id, sh.source, count(*) AS ng,
         |    sum(CASE WHEN top.g IS NOT NULL THEN 1 ELSE 0 END) AS nb
         |  FROM sh LEFT JOIN top ON sh.g = top.g
         |  GROUP BY sh.doc_id, sh.source)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN nb * 5 >= ng THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(sum(nb) AS BIGINT) AS sum_boiler,
         |  CAST(sum(ng) AS BIGINT) AS sum_grams,
         |  round(sum(nb)::DOUBLE / sum(ng), 4) AS boiler_frac
         |FROM pd GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin,

    "q103_bm25_search" -> {
      val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"  len(list_filter(tk, x -> x = '$t'))::BIGINT AS tf$i"
      }.mkString(",\n")
      val dfCols = Bm25Terms.indices.map(i =>
        s"  sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i")
        .mkString(",\n")
      val contribs = Bm25Terms.indices.map(i =>
        s"""((st.n - st.df$i)::DOUBLE + 0.5) / (st.df$i::DOUBLE + 0.5)
           |     * (tf$i::DOUBLE * 2.2 / (tf$i::DOUBLE + 1.2 *
           |        (0.25 + 0.75 * (dl::DOUBLE / st.avgdl))))""".stripMargin)
        .mkString("\n   + ")
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk
         |  FROM documents),
         |s AS (SELECT doc_id, source, len(tk)::BIGINT AS dl,
         |$tfCols FROM t),
         |st AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl,
         |$dfCols FROM s),
         |sc AS (SELECT doc_id, source,
         |   $contribs AS score
         |  FROM s, st WHERE ${Bm25Terms.indices.map(i => s"tf$i").mkString(" + ")} > 0),
         |r AS (SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rk,
         |    doc_id, source, round(score, 4) AS bm25 FROM sc)
         |SELECT rk::INT AS rk, doc_id, source, bm25 FROM r
         |WHERE rk <= 15 ORDER BY rk""".stripMargin
    }
  )
}
