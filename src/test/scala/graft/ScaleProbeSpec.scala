package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the constant-density property every ScaleProbe conclusion rests
  * on: replicas reproduce the base corpus's INTERNAL dedup structure and
  * share NOTHING across replicas. If a future edit weakens the
  * perturbation (e.g. a suffix that leaves some token class untouched),
  * the probe would start measuring cross-replica pathology and report
  * super-linear growth that isn't the engine's — this spec fails first.
  */
class ScaleProbeSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def docs = Seq(
    // a near-dup family (one token edit in eight), an exact-dup pair,
    // and unrelated filler — the structures the probe counts
    // one token edit in twenty: jaccard 17/19 ≈ 0.89, high enough that
    // the 4-band/16-hash LSH surfaces the pair deterministically (the
    // previous 8-token texts had jaccard 0.71 but never collided in any
    // band, so the near-dup branch of this spec was silently vacuous)
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon", "en", "s0", 40L),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau phi", "en", "s0", 40L),
    (3L, "the quick brown fox jumps over the lazy dog", "en", "s1", 40L),
    (4L, "the quick brown fox jumps over the lazy dog", "en", "s1", 40L),
    (5L, "completely unrelated text about something else entirely", "en", "s2", 50L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("replica 0 is the base, untouched") {
    val d = docs
    assert(ScaleProbe.perturbedReplica(d, 0) eq d)
  }

  test("embedding replicas: 2*dim distinct transforms, each a coordinate permutation") {
    // dim=4 miniature: the transforms for i = 0..2*dim-1 applied to one
    // strictly-increasing vector must be pairwise DISTINCT (no exact
    // cross-replica duplicates — the collision runFactor's require
    // guards at f <= 2*dim) and each a PERMUTATION of the base (a
    // shared permutation preserves every within-replica inner product,
    // the constant-density property for ANN). The i < dim half must
    // stay byte-identical to the r7–r13 rotation record: replica 1 of
    // [1,2,3,4] under r = 1 + (1 % 3) = 2 is [3,4,1,2].
    val dim = 4
    val one = Seq((1L, Seq(1f, 2f, 3f, 4f), "x"))
      .toDF("vec_id", "embedding", "label")
    val outs = (0 until 2 * dim).map { i =>
      ScaleProbe.embeddingReplica(one, i, dim)
        .select(col("embedding")).head.getSeq[Float](0).toList
    }
    assert(outs.head === List(1f, 2f, 3f, 4f), "replica 0 untouched")
    assert(outs(1) === List(3f, 4f, 1f, 2f), "legacy rotation preserved")
    assert(outs.distinct.size === 2 * dim,
      "replica transforms must be pairwise distinct")
    assert(outs.forall(_.sorted === List(1f, 2f, 3f, 4f)),
      "every transform must be a coordinate permutation")
    val ids = (0 until 2 * dim).map { i =>
      ScaleProbe.embeddingReplica(one, i, dim)
        .select(col("vec_id")).head.getLong(0)
    }
    assert(ids.distinct.size === 2 * dim, "ids re-key disjointly")
  }

  test("replicaCap: 2*dim only where the dihedral transforms are distinct (dim >= 3)") {
    assert(ScaleProbe.replicaCap(64) === 128)
    assert(ScaleProbe.replicaCap(3) === 6)
    // dim 2: reverse == rotation-by-1; dim 1: reverse == identity. The
    // extended range would create exact cross-replica duplicates — the
    // collision is real, demonstrated, and the cap must exclude it:
    assert(ScaleProbe.replicaCap(2) === 2)
    assert(ScaleProbe.replicaCap(1) === 1)
    val one2 = Seq((1L, Seq(1f, 2f), "x")).toDF("vec_id", "embedding", "label")
    def embOf(i: Int) = ScaleProbe.embeddingReplica(one2, i, 2)
      .select(col("embedding")).head.getSeq[Float](0).toList
    assert(embOf(1) === embOf(2), "dim-2 reverse IS rotation-by-1")
  }

  test("replicas re-key into disjoint id ranges and keep schema") {
    val r2 = ScaleProbe.perturbedReplica(docs, 2)
    assert(r2.schema === docs.schema)
    val ids = r2.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids === Set(20000001L, 20000002L, 20000003L, 20000004L, 20000005L))
  }

  test("within-replica structure is preserved, cross-replica is empty") {
    val base = docs.select(col("doc_id"), col("text"))
    val r1 = ScaleProbe.perturbedReplica(docs, 1)
      .select(col("doc_id"), col("text"))
    val union = base.unionByName(r1)
    // exact dups: the (3,4) pair exists in BOTH replicas, never across
    val exact = union.groupBy(Dedup.contentKey(col("text")).as("ck"))
      .agg(collect_set(col("doc_id")).as("ids")).filter(size(col("ids")) > 1)
      .select(col("ids")).collect().map(_.getSeq[Long](0).toSet).toSet
    assert(exact === Set(Set(3L, 4L), Set(10000003L, 10000004L)))
    // near-dup pairs at a threshold the (1,2) family passes: each
    // replica contributes its own pair; zero pairs span replicas
    val pairs = Dedup.minhashLshPairs(union, "doc_id", "text",
        threshold = 0.6)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossed = pairs.filter { case (a, b) =>
      (a < 10000000L) != (b < 10000000L) }
    assert(crossed.isEmpty, s"cross-replica pairs leaked: $crossed")
    assert(pairs.contains((3L, 4L)) && pairs.contains((10000003L, 10000004L)),
      s"within-replica structure lost: $pairs")
    // and the NEAR-dup family (1,2) — not just the exact dups: the
    // perturbation must preserve PARTIAL overlap too (a content-
    // dependent suffix would destroy near-dup similarity in replicas
    // while identical texts still perturb identically)
    assert(pairs.contains((1L, 2L)) && pairs.contains((10000001L, 10000002L)),
      s"within-replica NEAR-dup family lost: $pairs")
  }

  test("the ANN eval set is the 100 smallest matching ids at any partitioning") {
    // 1,120 ids in scrambled order (7919 is coprime to 1120), 112 of
    // them multiples of 10 — more matches than the set holds, the shape
    // replicated corpora take past 4×
    val emb = spark.range(1120).select(((col("id") * 7919) % 1120).as("vec_id"))
    def ids(parts: Int) = ScaleProbe.evalSet(emb.repartition(parts), 10)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(1) === (0L until 1000L by 10L))
    assert(ids(8) === ids(1))
  }

  test("requireIdRange: non-negative at EVERY factor, [0, 10M) at f > 1, null-safe") {
    // the r15 collision class, guarded on BOTH tables: replica ids
    // are base + i*10M and the hot-family / neardup-delta ops
    // synthesize NEGATIVE ids at every factor INCLUDING 1 (r16 ADVICE:
    // the old f>1 gate let a negative-id base silently alias them)
    val ok = Seq((0L, "x"), (9999999L, "y")).toDF("doc_id", "text")
    ScaleProbe.requireIdRange(ok, "doc_id", 128) // full range passes
    ScaleProbe.requireIdRange(ok, "doc_id", 1)
    val big = Seq((10000000L, "x")).toDF("doc_id", "text")
    // factor 1 applies no offsets — a large-id corpus runs unreplicated
    ScaleProbe.requireIdRange(big, "doc_id", 1)
    assert(intercept[IllegalArgumentException] {
      ScaleProbe.requireIdRange(big, "doc_id", 2)
    }.getMessage.contains("escapes"))
    val neg = Seq((-1L, "x")).toDF("vec_id", "text")
    assert(intercept[IllegalArgumentException] {
      ScaleProbe.requireIdRange(neg, "vec_id", 2)
    }.getMessage.contains("negative"))
    // ...and at factor 1 too: the hot family (-1000000..) and the
    // delta (-doc_id-1) run unreplicated as well
    assert(intercept[IllegalArgumentException] {
      ScaleProbe.requireIdRange(neg, "vec_id", 1)
    }.getMessage.contains("negative"))
    // empty table: max() is null — the guard must fail with its own
    // message, not an NPE from getLong on a null aggregate
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException] {
      ScaleProbe.requireIdRange(empty, "doc_id", 2)
    }.getMessage.contains("no non-null"))
    // non-empty but all-NULL id column: max() ignores nulls, so this is
    // the same missing-values case — the message must not claim the
    // table is empty (r16 ADVICE wording fix)
    val allNull = Seq[(java.lang.Long, String)]((null, "x"), (null, "y"))
      .toDF("doc_id", "text")
    // r17 ADVICE: the wording must be factor-neutral — at f=1 nothing
    // is replicated, so "to replicate" would misdescribe the failure.
    // Pin the neutral phrase AND the absence of the old one, at both
    // the unreplicated and replicated factors.
    for (f <- Seq(1, 2)) {
      val m = intercept[IllegalArgumentException] {
        ScaleProbe.requireIdRange(allNull, "doc_id", f)
      }.getMessage
      assert(m.contains("no non-null doc_id values in base table"))
      assert(!m.contains("replicate"))
    }
  }
}
