package graft

/** `Tables.apply`'s schema memo: only the first read of a path pays
  * parquet's schema-inference job, the memo equals what inference
  * returns, and later reads still list the files afresh. The memoized
  * row count reads parquet footers on the driver, with no job. */
class TablesSpec extends SparkSpec {

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
    val (_, jobs) = jobsDuring(Tables.events(spark, dir).schema)
    assert(jobs.isEmpty, jobs.map(j => s"job ${j.jobId}: ${j.stageInfos.map(_.name).mkString(", ")}"))
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

  test("a footer row count schedules no job and equals count() on a multi-file table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-footers").toString
    val path = s"$dir/ids.parquet"
    import spark.implicits._
    (1L to 1000L).toDF("id").repartition(4).write.parquet(path)
    (1L to 7L).toDF("id").coalesce(1).write.mode("append").parquet(path)
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) == 5)
    val (n, jobs) = jobsDuring(Tables.cachedRowCount(spark, dir, "ids"))
    assert(jobs.isEmpty, jobs.map(j => s"job ${j.jobId}: ${j.stageInfos.map(_.name).mkString(", ")}"))
    assert(n == spark.read.parquet(path).count())
    assert(n == 1007L)
  }
}
