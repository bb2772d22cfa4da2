package graft

import org.apache.spark.sql.SparkSession

/** Session defaults the engine's own entrypoints (Bench, Verify, the
  * scale probes) apply. Library embedders with their own session should
  * apply [[tuned]] to their builder for the same behavior.
  */
object GraftConf {

  /** ObjectHashAggregate falls back to SORT-BASED aggregation once a
    * task sees this many distinct group keys (default 128). The default
    * is calibrated for unbounded object buffers (collect_list etc.); the
    * engine's top-k aggregates ([[org.apache.spark.sql.graft.TopKIdsAgg]])
    * hold BOUNDED heaps — ≤ k ≤ ~200 (dist, id) pairs ≈ 3 KB per key —
    * so 8192 in-memory keys is ≤ ~26 MB per task. The fallback is the
    * real hazard at scale: sort-based aggregation sorts the task's
    * whole INPUT, and for a brute-force kNN/ADC scan that input is the
    * query × base pair space (measured: a 2M-base × 1000-query PQ scan
    * fell off the 128-key cliff into multi-GB spill sorts and died;
    * under this threshold the same scan holds 1000 tiny heaps and
    * shuffles only nq × k rows). Query batches wider than this should
    * be chunked (HybridKnn.chunkRows) rather than raising it further.
    */
  val TopKAggFallbackKeys = 8192

  /** Apply engine session defaults to a builder. The raised threshold
    * changes ObjectHashAggregate behavior for EVERY object aggregate in
    * the session, not just the bounded top-k heaps it was sized for. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      TopKAggFallbackKeys.toString)
}
