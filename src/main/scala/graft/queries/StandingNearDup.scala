package graft.queries

import graft.ext.Dedup
import graft.sinks.ArtifactStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The STANDING corpus [[Dedup.NearDupIndex]] pattern, shared by every
  * consumer (q105's streaming admission gate, q80's incremental-dedup
  * batch): a session-scoped FrameCache entry per (name, dir), whose
  * eviction releases the cached member frames, and the
  * ArtifactStore persistence seam — save on build, load on restart,
  * warn-and-rebuild on a stale snapshot, never wedge. One
  * implementation, so index parameters, eviction, and the
  * stale-artifact path cannot drift between consumers.
  *
  * At cluster scale this is the materialize-once-per-corpus-snapshot
  * pattern: the index's two member frames are tables persisted with the
  * snapshot; the FrameCache entry is the in-session analogue. */
object StandingNearDup {

  /** The standing index named `name` over `corpus` (must expose
    * (doc_id, text)); `name` is both the memo name and the
    * [[ArtifactStore]] artifact name. `corpus` is only evaluated on a
    * memo miss; the load/build/stale-rebuild resolution is
    * [[ArtifactStore.standing]].
    *
    * LSH parameters are REQUIRED (no defaults): each caller's oracle
    * embeds its own k/bands/threshold constants, and a call site that
    * silently rode `buildNearDupIndex`'s library defaults stayed in
    * agreement with its oracle only by coincidence — a retune of
    * either side would desynchronize them with nothing at the call
    * site to connect the failure to. */
  def index(s: SparkSession, d: String, name: String, shingleN: Int,
      k: Int, bands: Int, threshold: Double)
      (corpus: => DataFrame): Dedup.NearDupIndex =
    graft.runtime.FrameCache.get(s, name, d) {
      val c = corpus
      // fingerprint THIS session's corpus once (one cheap aggregate);
      // it gates the load AND stamps the save
      lazy val snap = ArtifactStore.snapshot(c, Seq("doc_id", "text"))
      ArtifactStore.standing(s, name, d)(
        Dedup.buildNearDupIndex(c, "doc_id", "text", shingleN, k, bands,
          threshold))(
        (idx, dir) => ArtifactStore.saveNearDupIndex(idx, dir, snap))(
        dir => ArtifactStore.loadNearDupIndex(s, dir, snap))
    }
}
