package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import java.util.concurrent.atomic.AtomicLong

/** Test-scope shuffle-volume probe: runs a query to a noop sink with a
  * listener accumulating per-task shuffle WRITE bytes (read bytes mirror
  * them one stage later, so write volume is the single number that
  * captures what hits the shuffle disk — the resource the sf100
  * post-mortem identified as the single-box wall). Used for the
  * before/after A/B of the q85 day-partial packing; NOT a correctness
  * artifact.
  *
  * Run: SPARK_GRAFT_SF_DIR=<dir> sbt "Test/runMain graft.ops.ShuffleBytes [q85|q87]"
  */
object ShuffleBytes {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR is unset"))
    val which = args.headOption.getOrElse("q85")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val bytes = new AtomicLong(0)
    val records = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    // --parts: shuffle volume of each q85 sub-DAG in isolation (cache
    // cleared between parts; parts overlap upstream, so the numbers
    // attribute volume, they don't sum to the full query)
    if (args.contains("--parts")) {
      def part(name: String)(f: => DataFrame): Unit = {
        spark.catalog.clearCache()
        bytes.set(0); records.set(0)
        f.write.format("noop").mode("overwrite").save()
        Thread.sleep(1500)
        println(f"[part] $name%-14s ${bytes.get / 1e6}%10.1f MB ${records.get}%12d records")
      }
      def evBase = Features.q85EvBase(spark, dir)
      val keys = Seq("scale", "bucket")
      part("dayagg")(Features.q85DayAgg(evBase))
      part("act")(Features.q85Activity(evBase))
      part("uw")(Features.q85Uw(evBase))
      part("uw+rep")(Features.q85Repeat(Features.q85Uw(evBase)))
      part("e0")(Features.q85Edges(evBase))
      part("e0+deg")(Graph.q20DegreesKeyed(Features.q85Edges(evBase), keys))
      part("e0+und+nad") {
        Graph.q22FromUndKeyed(Features.q85Und(Features.q85Edges(evBase)), keys)
      }
      part("e0+und+cc") {
        val und = Features.q85Und(Features.q85Edges(evBase))
        Graph.q23FromUndKeyed(und.filter(col("src") =!= col("dst")), keys)
      }
      spark.stop(); return
    }

    // q85/q87 keep their direct cores (the --parts/--detail paths rely
    // on them); any other name resolves through SparkEntry by query-key
    // prefix, so the sf100 heavy sweep can probe every operator with
    // the same wall + shuffle-write instrumentation
    def q: DataFrame = which match {
      case "q85" => Features.q85Core(spark, dir)
      case "q87" => Features.q87PoolFrom(Features.q85Core(spark, dir))
      // the hidden-size cost curve (the reference defaults to H=64,
      // main.py:19): q93's H-parametric generator at any H — probe
      // with q93h8 / q93h16 / q93h64 etc.
      case hN if hN.startsWith("q93h") =>
        Features.q90FromH(Features.q85Core(spark, dir),
          Features.lstmInit(hN.stripPrefix("q93h").toInt, 64L))
      case other =>
        val key = graft.SparkEntry.queries.keys
          .find(k => k == other || k.startsWith(other + "_"))
          .getOrElse(sys.error(s"unknown query $other " +
            s"(q85|q87|any SparkEntry key or its qNN prefix)"))
        graft.SparkEntry.queries(key)(spark, dir)
    }
    val t0 = System.nanoTime()
    val df = q
    df.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    // per-exchange breakdown (--detail): which shuffle carries the bytes
    if (args.contains("--detail")) {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val here = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(s.plan)
          case other => other.children.flatMap(walk)
        }
        p +: here
      }
      val exchanges = walk(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeLike => e }
      exchanges.zipWithIndex.foreach { case (e, i) =>
        val m = e.metrics
        val bytes = m.get("dataSize").map(_.value).getOrElse(-1L)
        val recs = m.get("numOutputRows").map(_.value)
          .orElse(m.get("shuffleRecordsWritten").map(_.value)).getOrElse(-1L)
        val child = e.children.headOption.map(_.verboseStringWithSuffix(1).linesIterator
          .next().take(140)).getOrElse("?")
        println(f"[exchange $i%2d] dataSize=${bytes / 1e6}%10.1f MB records=$recs%12d  $child")
      }
    }
    // listener events drain asynchronously after the job ends; the bus
    // is private, so give it a moment instead
    Thread.sleep(2000)
    println(f"""{"probe":"shuffle_bytes","query":"$which","sf":"$dir",""" +
      f""""shuffle_write_bytes":${bytes.get},"shuffle_write_records":${records.get},""" +
      f""""sec":$sec%.2f}""")
    spark.stop()
  }
}
