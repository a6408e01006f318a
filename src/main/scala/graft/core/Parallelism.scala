package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** The engine's one partitioning policy: how many tasks CPU-dense or
  * iterated work gets. Both entry points decide from the OPTIMIZED PLAN'S
  * size estimate alone (file sizes propagated through projections — pure
  * metadata). Neither touches `df.rdd` or the physical plan, so building a
  * query never plans or runs a job on the policy's behalf, and a cached
  * frame is sized like any other. [[BytesPerPartition]] turns the estimate
  * into a split count for both; `ParallelismSpec` pins every decision.
  */
object Parallelism {

  /** Target input bytes per partition — the guide's 100 MB–1 GB shuffle
    * partition rule, taken at the low end because plan-stat estimates run
    * BELOW in-memory row size (parquet file bytes, not unpacked rows).
    */
  val BytesPerPartition: Long = 64L << 20

  /** Full-width spread for per-row or quadratic work (optimization guide
    * §2.5). The fixtures are single-row-group parquet, so a scan plans ONE
    * task at any core count, and AQE coalesces a byte-small shuffle (a
    * candidate-pair frame) onto a handful of tasks — either way the costly
    * per-row work runs nearly serial (StageProbe r16: q_bootstrap_ci's 32×
    * md5 fan-out in two ~6 s single-task stages). A repartition to a
    * user-NUMBERED `defaultParallelism` is exempt from AQE coalescing.
    *
    * With `keys` it always repartitions: the caller wants the exchange
    * (its first join on those keys reuses it). Without keys it
    * round-robins only when the size estimate implies fewer splits than
    * `defaultParallelism`; at cluster scale the scan already yields them
    * and the frame comes back unchanged. Apply it to NARROW frames — never
    * to a wide payload a later exchange moves anyway (guide §2.3).
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (keys.nonEmpty) df.repartition(n, keys: _*)
    else if (splits(df) >= n) df
    else df.repartition(n)
  }

  /** Size-derived partitioning for an iterated or cached grain (guide
    * §2.2 "fewer, larger reduce partitions"): a per-superstep join over
    * the grain re-runs its exchanges K times, so the grain's partition
    * count multiplies into every round's task count. The count is the
    * estimated splits capped at 4× `defaultParallelism`: 1 at bench scale,
    * proportional to the cluster at 100 TB (PERF_r16: q_pagerank's 8-cpu
    * run beat its 32-cpu run 0.55× under the session default).
    */
  def grain(df: DataFrame, keys: Column*): DataFrame = {
    val cap = BigInt(4L * df.sparkSession.sparkContext.defaultParallelism)
    df.repartition(splits(df).min(cap).toInt, keys: _*)
  }

  /** ceil(estimated bytes / [[BytesPerPartition]]), floored at 1. */
  private def splits(df: DataFrame): BigInt = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + BytesPerPartition - 1) / BytesPerPartition).max(1)
  }
}
