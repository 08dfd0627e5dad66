package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** `body`'s value and the jobs it started. Job-start events reach a
    * listener asynchronously but in order, so the jobs that fall between
    * two marker jobs are exactly the ones `body` started. */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val begun = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties).getOrElse(new java.util.Properties)
        props.getProperty("spark.job.description") match {
          case "spark-spec-begin" => begun.countDown()
          case "spark-spec-end" => ended.countDown()
          case _ if begun.getCount == 0 && ended.getCount > 0 => seen.add(j)
          case _ =>
        }
      }
    }
    def marker(name: String, latch: CountDownLatch): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(latch.await(60, TimeUnit.SECONDS), s"$name never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      marker("spark-spec-begin", begun)
      val out = body
      marker("spark-spec-end", ended)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The jobs in `jobs` whose `graft.stage` label is none of `labels`,
    * as "job <id>: <label>". */
  def unlabeled(jobs: Seq[SparkListenerJobStart], labels: Set[String]): Seq[String] =
    jobs.map(j => j.jobId -> Option(j.properties).map(_.getProperty(pipeline.Stage.Key)).orNull)
      .collect { case (id, label) if !labels(label) => s"job $id: $label" }
}

object SparkSpec {
  // the library's own tuned factory — specs run against the session
  // users get, including GraftExtensions function registration
  lazy val session: SparkSession = GraftSession.local(4)
}
