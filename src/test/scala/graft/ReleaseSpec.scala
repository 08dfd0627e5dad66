package graft

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A finished query's broadcast relations are freed at once, not
  * whenever a GC lets the ContextCleaner see them. */
class ReleaseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // Σ over 1000 ids of 2·(id mod 10) = 100 · 2 · 45
  private def joined: DataFrame = {
    val facts = spark.range(0, 1000).select(col("id"), (col("id") % 10).as("k"))
    val dim = spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v"))
    facts.join(broadcast(dim), "k")
  }

  private def relations(plan: SparkPlan): Seq[Broadcast[Any]] =
    collect(plan) { case s: BroadcastQueryStageExec => s.broadcast.relationFuture.get() }

  private def assertDestroyed(bs: Seq[Broadcast[Any]]): Unit = {
    assert(bs.nonEmpty, "the query must have broadcast its dimension")
    bs.foreach { b =>
      val e = intercept[SparkException](b.value)
      assert(e.getMessage.contains("destroyed"), e.getMessage)
    }
  }

  test("checkpoint returns a plan leaf and destroys its query's broadcast relations") {
    val src = joined
    val leaf = Release.checkpoint(src)
    assertDestroyed(relations(src.queryExecution.executedPlan))

    // the leaf reads the checkpoint blocks, never the freed relations
    for (_ <- 1 to 2)
      assert(leaf.agg(sum("v")).head().getLong(0) == 9000L)
    val leafPlan = leaf.queryExecution.executedPlan
    assert(collect(leafPlan) { case b: BroadcastExchangeLike => b }.isEmpty,
      leafPlan.treeString)
  }

  test("uncache drops the cache and destroys its cached plan's broadcast relations") {
    val cached = joined.cache()
    assert(cached.agg(sum("v")).head().getLong(0) == 9000L)
    val cachedPlan = cached.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }.head

    Release.uncache(cached)
    assert(cached.storageLevel == StorageLevel.NONE)
    assertDestroyed(relations(cachedPlan))
  }
}
