package graft

import graft.ext.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  private def media() = Multimodal.asMedia(
    Seq((1L, "image", "payload-one"), (2L, "audio", "payload-two"))
      .toDF("id", "kind", "content"),
    "id", "kind", "content")

  test("decodeFeatures: deterministic dims, byte-accurate length") {
    val f = Multimodal.decodeFeatures(media()).collect().sortBy(_.media_id)
    assert(f.map(_.n_bytes).toSeq === Seq(11, 11))
    assert(f.forall(x => x.width >= 16 && x.width < 16 + 1024))
    val again = Multimodal.decodeFeatures(media()).collect().sortBy(_.media_id)
    assert(f.toSeq === again.toSeq)
  }

  test("resizeStub: aspect-ish downscale bounded by maxDim, no upscale") {
    val out = Multimodal.resizeStub(Multimodal.decodeFeatures(media()), 32)
      .select(col("out_width"), col("out_height")).collect()
    assert(out.forall(r => r.getInt(0) <= 32 && r.getInt(1) <= 32))
    val big = Multimodal.resizeStub(Multimodal.decodeFeatures(media()), 10000)
      .select(col("width") === col("out_width")).collect()
    assert(big.forall(_.getBoolean(0))) // scale capped at 1.0
  }

  test("sampleFrames: n frames per item, distinct per-frame hashes") {
    val frames = Multimodal.sampleFrames(media(), 3).collect()
    assert(frames.length === 6)
    assert(frames.groupBy(_.media_id).forall(_._2.map(_.frame_idx).sorted.toSeq == Seq(0, 1, 2)))
    assert(frames.map(_.frame_hash).distinct.length === 6)
  }

  test("q104 hot-bucket cap is vacuous at oracle scale (ADVICE r5)") {
    // the q104 oracle embeds the DefaultMaxBucket guard (needed so engine
    // and oracle drop the same buckets IF one ever overflows) — which
    // means the oracle only independently checks candidate generation
    // while the cap never binds. Pin that: at the sf the driver runs the
    // oracle at, the fullest band bucket must sit far below the cap.
    val hashed = graft.queries.MultimodalQueries.mediaDhashFrame(
      spark, "/root/testdata/sf0.01")
    val occ = hashed
      .select(posexplode(graft.ext.Dedup.simhashChunks(col("dhash"),
        graft.ext.Dedup.SimChunkBits, graft.ext.Dedup.SimChunks))
        .as(Seq("band", "v")))
      .groupBy(col("band"), col("v")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(occ >= 2, "no bucket holds a pair — q104 candidates would be empty")
    assert(occ < graft.ext.Dedup.DefaultMaxBucket / 10,
      s"fullest q104 bucket ($occ) is within 10x of the cap " +
        s"(${graft.ext.Dedup.DefaultMaxBucket}) — the oracle's embedded " +
        "guard is no longer vacuous; give the oracle an independent check")
  }

  test("dhashStub: re-encode moves <=4 bits, none in bands 1 and 3") {
    // the q104 banding guarantee: perturbing pixels 7 and 31 can only
    // touch dhash bits {6,7} and {30,31} — all inside bands 0 (bits
    // 0-14) and 2 (bits 30-44), so bands 1 and 3 always match and a
    // re-encoded copy is always a candidate of its original
    val band13Mask = (32767L << 15) | (32767L << 45)
    (0 until 200).foreach { i =>
      val bytes = s"payload $i with some content".getBytes("UTF-8")
      val h0 = Multimodal.MediaCodec.dhashStub(bytes, 0)
      val h1 = Multimodal.MediaCodec.dhashStub(bytes, 1)
      assert(java.lang.Long.bitCount(h0 ^ h1) <= 4)
      assert(((h0 ^ h1) & band13Mask) === 0L)
      assert(h0 >= 0L && h1 >= 0L) // 60-bit convention: always positive
    }
  }
}
