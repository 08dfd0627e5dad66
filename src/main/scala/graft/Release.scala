package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Frees the broadcast relations of a query the caller is done with, at
  * once. Left to Spark's ContextCleaner, a finished query's relations
  * stay in the block manager until a GC happens to collect the plan
  * that owns them, so the heap a pipeline call leaves behind would
  * depend on GC timing: at the benchmark's sizes, 26 MB of hash
  * relations for the fraud assembly and 16 MB for the near-dup edge
  * cache behind curation's keep-list.
  *
  * Only broadcast stages AQE materialized are touched: asking an
  * unexecuted exchange for its relation would start its job. Queries
  * the caller does not hand over keep their relations; the cleaner
  * still frees those.
  */
private[graft] object Release extends AdaptiveSparkPlanHelper {

  /** A stage boundary: `df` as an eager local checkpoint (a plan leaf,
    * so the next stage plans only its own operators), with the
    * broadcast relations its query built destroyed — the checkpoint
    * holds everything that query produced. Contract: `df` itself is
    * not executed again; callers pass the stage's own expression and
    * keep only the returned leaf. */
  def checkpoint(df: DataFrame): DataFrame = {
    val leaf = df.localCheckpoint(true)
    destroyBroadcasts(df.queryExecution.executedPlan)
    leaf
  }

  /** Unpersists the cached `df` and destroys the broadcast relations
    * its cached plan built. Contract: no plan that reads the cache is
    * executed again. */
  def uncache(df: DataFrame): Unit = {
    val cachedPlans = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }
    df.unpersist()
    cachedPlans.foreach(destroyBroadcasts)
  }

  private def destroyBroadcasts(plan: SparkPlan): Unit =
    collectWithSubqueries(plan) {
      case s: BroadcastQueryStageExec if s.isMaterialized =>
        s.broadcast.relationFuture.get()
    }.distinct.foreach(_.destroy())
}
