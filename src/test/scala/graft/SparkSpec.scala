package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Entries in the session's cache manager (its count is package-private
    * to Spark, so read reflectively). */
  def cacheEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The checkpoint RDDs the frames among `results`' fields read. */
  def leafRddIds(results: Product*): Set[Int] =
    results.flatMap(_.productIterator).collect { case df: Dataset[_] =>
      df.queryExecution.logical.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }
    }.flatten.toSet

  /** A call left the session as it found it (`entries0` cache entries,
    * `persisted0` persisted RDDs), but for the checkpoint leaves of the
    * `live` results. */
  def assertSessionAsFound(entries0: Int, persisted0: Set[Int], live: Product*): Unit = {
    assert(cacheEntries == entries0, "cache entries outlived the call")
    val extra = persistedRdds -- persisted0
    assert(extra.subsetOf(leafRddIds(live: _*)),
      s"persisted RDDs outlived the call: ${extra -- leafRddIds(live: _*)}")
  }
}

object SparkSpec {
  // the library's own tuned factory — specs run against the session
  // users get, including GraftExtensions function registration
  lazy val session: SparkSession = GraftSession.local(4)
}
