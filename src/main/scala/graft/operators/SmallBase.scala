package graft.operators

import org.apache.spark.sql.DataFrame

/** Plan-stats-conditioned parallelize for the SMALL side of a BIG
  * brute-force pair loop (all-pairs cosine, large interval self-joins).
  *
  * The gate corpora are single-file, single-row-group parquet — such a
  * scan is ONE split however many cores exist (parquet cannot split
  * below a row group), so every scan-rooted distance loop ran in one
  * task (measured r14: `neardup_cosine`'s 2M-pair loop = 1.0 s in one
  * task on a 32-core session). Below [[ParallelizeBytes]] (64 MB —
  * the "cheap to shuffle outright" regime) the input is round-robined
  * across `defaultParallelism`; above it, unchanged —
  * big inputs split at the file/row-group level anyway, and shuffling a
  * corpus-sized table to "parallelize" it would be the exact
  * anti-pattern the operators' never-shuffle-the-base contracts forbid.
  * The decision reads optimizer STATS (no job), mirrors the dedup size
  * routing, and never changes results — only the physical split.
  *
  * APPLICABILITY (r14 A/B, two cold benches each way): pays only when
  * the single-task loop is multi-million evals (neardup_cosine 3×);
  * the ~10^5-eval exact/quantized gate loops ran 0.3-0.5 s SLOWER with
  * the extra AQE exchange stage, and JDK-registry-locked kernels
  * (javax.imageio decode) CONTEND under parallelism (2× slower) — both
  * were reverted to their stream shapes. Don't re-apply blindly. */
object SmallBase {

  private val ParallelizeBytes: Long = 64L << 20

  def parallelize(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(ParallelizeBytes))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
}
