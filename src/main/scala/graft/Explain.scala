package graft

/** Plan-audit tool: prints the formatted physical plan of the named
  * queries (all of them with no args) against a small SF — the
  * `.explain("formatted")` loop SURVEY.md §5 prescribes after every
  * operator change.
  *
  * Usage: runMain graft.Explain [sfDir] [key ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (dir, keys) = args.toList match {
      case d :: rest if d.startsWith("/") => (d, rest)
      case rest => ("/root/testdata/sf0.001", rest)
    }
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted =
      if (keys.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else keys
    wanted.foreach { k =>
      println(s"\n========== $k ==========")
      SparkEntry.queries.get(k) match {
        case Some(fn) => println(Release.scope(fn(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)))
        case None => println(s"unknown query: $k")
      }
    }
    spark.stop()
  }
}
