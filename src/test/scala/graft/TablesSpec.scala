package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** `Tables.apply`'s schema memo: only the first read of a path pays
  * parquet's schema-inference job, the memo equals what inference
  * returns, and later reads still list the files afresh. */
class TablesSpec extends SparkSpec {

  /** The call sites of the jobs `body` starts. Job-start events reach a
    * listener asynchronously but in order, so the jobs that fall between
    * two marker jobs are exactly the ones `body` started. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val begun = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties).getOrElse(new java.util.Properties)
        props.getProperty("spark.job.description") match {
          case "tables-spec-begin" => begun.countDown()
          case "tables-spec-end" => ended.countDown()
          case _ if begun.getCount == 0 && ended.getCount > 0 =>
            seen.add(s"job ${j.jobId}: ${j.stageInfos.map(_.name).mkString(", ")}")
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
      marker("tables-spec-begin", begun)
      body
      marker("tables-spec-end", ended)
      seen.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  private def writeEvents(path: String, mode: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    val ns = 1704067200L * 1000000000L // 2024-01-01 in parquet nanos
    ids.map(i => (i, ns + i * 1000000000L, i % 3, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode(mode).parquet(path)
  }

  test("a second read of a table schedules no job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-memo").toString
    writeEvents(s"$dir/events.parquet", "overwrite", 1L to 5L)
    Tables.events(spark, dir) // first read: infers and memoizes
    val jobs = jobsDuring(Tables.events(spark, dir).schema)
    assert(jobs.isEmpty, jobs)
  }

  test("every table's memoized schema equals parquet's inferred schema") {
    Tables.events(spark, sf) // sets the session's nanos-as-long read mode
    for (t <- Tables.all) {
      Tables(spark, sf, t) // memoize (a no-op if another spec already read it)
      assert(Tables(spark, sf, t).schema ==
        spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("a part file appended after the first read is visible to the next read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-append").toString
    val path = s"$dir/events.parquet"
    writeEvents(path, "overwrite", 1L to 5L)
    assert(Tables.events(spark, dir).count() == 5)
    writeEvents(path, "append", 6L to 8L)
    val after = Tables.events(spark, dir)
    assert(after.count() == 8)
    assert(after.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 8L))
  }
}
