package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.exchange.Exchange

/**
 * Spread an under-partitioned input to session parallelism BEFORE an
 * expensive per-row kernel: shingling, minhash signatures, hyperplane
 * buckets, O(n²) refines, and the cell/bucket explodes of the spatial and
 * interval joins. A small parquet file arrives as ONE scan partition, and
 * when a join broadcasts one side the other side's explode+join+refine
 * fuses into one codegen stage at the raw scan's task count — measured at
 * sf1 as 1-3 runnable tasks carrying a ~60 s interval join (8-core vs
 * 32-core ratio ≈ 1.0). A RoundRobin repartition moves only the raw input
 * rows, cheap exactly when it fires.
 *
 * The decision: wrap the input in `Repartition(defaultParallelism,
 * shuffle = true)` when its physical plan contains no `Exchange` and its
 * leaves' partitions sum to less than `defaultParallelism` (any number of
 * leaves: a union concatenates its legs' partitions); otherwise pass it
 * through, so at production partition counts this never fires.
 * "Exchange-free" is judged on `sparkPlan`, before EnsureRequirements: it
 * sees only exchanges the planner emitted itself (an explicit repartition,
 * or an earlier spread), not the ones added later for joins or
 * aggregates. Nothing executes: a leaf's `execute()` builds its scan RDD
 * lazily. The decision is memoized through [[PlanProbe]], keyed on the
 * canonical plan and `defaultParallelism`; inside another probe, or if
 * planning fails, the input is not spread.
 */
private[graft] object Spread {

  /** For the join rewrites ([[SpatialJoinRule]], [[RangeJoinRule]]). */
  def apply(child: LogicalPlan): LogicalPlan =
    SparkSession.getActiveSession.fold(child) { spark =>
      val par = spark.sparkContext.defaultParallelism
      if (narrow(spark, child, par)) Repartition(par, shuffle = true, child) else child
    }

  /** For the operators; a streaming frame passes through unchanged (its
    * micro-batch partitioning is the source's business). */
  def apply(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val par = df.sparkSession.sparkContext.defaultParallelism
      if (narrow(df.sparkSession, df.queryExecution.analyzed, par)) df.repartition(par)
      else df
    }

  private def narrow(spark: SparkSession, plan: LogicalPlan, par: Int): Boolean =
    PlanProbe.memo("Spread", (PlanProbe.key(plan), par), fallback = false) {
      val phys = spark.sessionState.executePlan(plan).sparkPlan
      val leaves = phys.collectLeaves()
      leaves.nonEmpty && phys.find(_.isInstanceOf[Exchange]).isEmpty &&
        leaves.map(_.execute().getNumPartitions).sum < par
    }.getOrElse(false)
}
