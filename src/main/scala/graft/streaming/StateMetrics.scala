package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Observability surface for stateful streaming (SURVEY.md §2.8 ST10):
  * per-operator state-store metrics distilled from
  * `StreamingQueryProgress.stateOperators` — the numbers a production
  * runner exports and alerts on. The two that matter at 100 TB:
  * `rowsTotal` growing monotonically across batches means the watermark
  * is NOT bounding state (the unbounded-state killer); `commitTimeMs`
  * is the per-batch floor that state-partition sizing controls (see
  * `StreamingQueries.streamSession` — 4 stores per side per partition
  * make over-partitioned tiny batches commit-bound). Specs
  * regression-guard both instead of trusting the sizing convention. */
object StateMetrics {

  final case class StoreMetrics(
      operator: String,
      rowsTotal: Long,        // rows held in state after the final batch
      rowsUpdatedTotal: Long, // summed over batches: state writes (adds)
      rowsDroppedByWatermark: Long, // summed: late arrivals discarded
      memoryUsedBytes: Long,  // peak across batches
      commitTimeMsTotal: Long, // summed store-commit wall time
      shufflePartitions: Long, // state partitioning pinned at first start
      storeInstances: Long)

  /** Aggregate per-operator metrics across a query's retained progress
    * events (call after the drain; `recentProgress` keeps the last 100
    * batches, far above any AvailableNow drain here).
    *
    * Grouped by the operator's POSITION in `stateOperators`, not its
    * name: operatorName is a type label ("stateStoreSave"), so a query
    * with two stacked stateful operators of the same type would merge
    * under a name-only key — rowsTotal from whichever instance came
    * last, sums over both — numbers describing NO real operator. When
    * one type occurs at several positions the label gets a `#idx`
    * suffix so the entries stay tellable-apart. */
  def collect(q: StreamingQuery): Seq[StoreMetrics] = {
    val byInstance = q.recentProgress.toSeq
      .flatMap(p => p.stateOperators.toSeq.zipWithIndex)
      .groupBy { case (so, idx) => (idx, so.operatorName) }
    val namesAtIdx = byInstance.keys.toSeq.groupBy(_._2)
    byInstance.map { case ((idx, op), pairs) =>
        val ps = pairs.map(_._1)
        StoreMetrics(
          operator = if (namesAtIdx(op).size > 1) s"$op#$idx" else op,
          rowsTotal = ps.last.numRowsTotal,
          rowsUpdatedTotal = ps.map(_.numRowsUpdated).sum,
          rowsDroppedByWatermark = ps.map(_.numRowsDroppedByWatermark).sum,
          memoryUsedBytes = ps.map(_.memoryUsedBytes).max,
          commitTimeMsTotal = ps.map(_.commitTimeMs).sum,
          shufflePartitions = ps.map(_.numShufflePartitions).max,
          storeInstances = ps.map(_.numStateStoreInstances).max)
      }.toSeq.sortBy(_.operator)
  }
}
