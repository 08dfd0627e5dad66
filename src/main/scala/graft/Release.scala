package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The one owner of everything a call materializes in the session.
  *
  * An op never caches or checkpoints on its own: it asks [[cache]] or
  * [[checkpoint]], and the caller that opened a [[scope]] releases what
  * those verbs registered when the scope closes. A pipeline call
  * (`FraudPipeline.run`, `CurationPipeline.run`) opens one scope, as do
  * `Verify` and `Bench` per query and the fitting mains, so each call
  * leaves the session as it found it: no cache entry and no persisted
  * RDD of its own outlive it, apart from the checkpoint leaves of the
  * frames it returns. Ops return lazy frames, so only the caller knows
  * when their caches are done with; the scope sits there and not in the
  * ops, whose `(SparkSession, String) => DataFrame` shape stays as is.
  * Outside any scope the verbs keep what they make for the session's
  * lifetime, the way a bare `cache()` does, which is what op specs and
  * direct [[SparkEntry]] callers get.
  *
  * The verbs also free the broadcast relations of a query the caller is
  * done with, at once. Left to Spark's ContextCleaner, a finished
  * query's relations stay in the block manager until a GC happens to
  * collect the plan that owns them, so the heap a call leaves behind
  * would depend on GC timing: at the benchmark's sizes, 26 MB of hash
  * relations for the fraud assembly and 16 MB for the near-dup edge
  * cache behind curation's keep-list. Only broadcast stages AQE
  * materialized are touched: asking an unexecuted exchange for its
  * relation would start its job.
  */
private[graft] object Release extends AdaptiveSparkPlanHelper {

  /** What a scope registered, oldest first. */
  private sealed trait Owned
  private final case class Cached(df: DataFrame) extends Owned
  // the id, not the RDD: the ContextCleaner may still free an
  // unreferenced round's blocks before the scope closes
  private final case class Checkpointed(sc: SparkContext, rddId: Int) extends Owned

  private final class Scope(val parent: Option[Scope]) {
    val owned = ArrayBuffer.empty[Owned]
  }

  // per thread: a scope belongs to the driver thread that opened it
  private val current = new ThreadLocal[Option[Scope]] {
    override def initialValue(): Option[Scope] = None
  }

  /** Runs `body` and then releases everything the verbs registered
    * during it, newest first (a cache that reads an older one goes
    * before it, see [[uncache]]), without blocking — also when `body`
    * throws. Kept: the checkpoints that are leaves of the frames `body`
    * returns (the value itself if it is a frame, else the frames among
    * its fields or elements), so those frames stay readable; an
    * enclosing scope takes them over. Caches are never kept: a returned
    * lazy frame that read one recomputes. */
  def scope[T](body: => T): T = {
    val s = new Scope(current.get)
    current.set(Some(s))
    var kept = Set.empty[Int]
    try {
      val out = body
      kept = framesIn(out).flatMap(leafRddIds).toSet
      out
    } finally {
      current.set(s.parent)
      s.owned.reverseIterator.foreach {
        case Cached(df) => uncache(df)
        case c @ Checkpointed(_, id) if kept(id) => s.parent.foreach(_.owned += c)
        case Checkpointed(sc, id) => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false))
      }
    }
  }

  /** `df.cache()`, owned by the open scope. A plan that is already
    * cached (by the caller before the scope, or earlier in it) stays
    * with whoever cached it first. */
  def cache(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) current.get.foreach(_.owned += Cached(df))
    df.cache()
  }

  /** A stage boundary: `df` as an eager local checkpoint (a plan leaf,
    * so the next stage plans only its own operators), owned by the open
    * scope, with the broadcast relations its query built destroyed —
    * the checkpoint holds everything that query produced. Contract:
    * `df` itself is not executed again; callers pass the stage's own
    * expression and keep only the returned leaf. */
  def checkpoint(df: DataFrame): DataFrame = {
    val leaf = df.localCheckpoint(true)
    destroyBroadcasts(df.queryExecution.executedPlan)
    current.get.foreach { s =>
      s.owned ++= leafRddIds(leaf).map(Checkpointed(leaf.sparkSession.sparkContext, _))
    }
    leaf
  }

  /** Unpersists the cached `df` and destroys the broadcast relations
    * its cached plan built; a no-op once `df` is no longer cached. Also
    * the early release, before the scope closes, that bounds memory
    * across a loop's rounds. Contract: no plan that reads the cache is
    * executed again, and no live cache reads it — a persisted RDD ships
    * its whole lineage, broadcast variables included, with every task,
    * so a loop hands rounds on through [[checkpoint]] instead. */
  def uncache(df: DataFrame): Unit = {
    val entry = df.sparkSession.sharedState.cacheManager.lookupCachedData(df)
    df.unpersist()
    entry.foreach(e => destroyBroadcasts(e.cachedRepresentation.cacheBuilder.cachedPlan))
  }

  private def destroyBroadcasts(plan: SparkPlan): Unit =
    collectWithSubqueries(plan) {
      case s: BroadcastQueryStageExec if s.isMaterialized =>
        s.broadcast.relationFuture.get()
    }.distinct.foreach(_.destroy())

  private def framesIn(v: Any): Iterator[DataFrame] = v match {
    case ds: Dataset[_] => Iterator(ds.toDF())
    case p: Product => p.productIterator.flatMap(framesIn)
    case xs: Iterable[_] => xs.iterator.flatMap(framesIn)
    case _ => Iterator.empty
  }

  private def leafRddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }
}
