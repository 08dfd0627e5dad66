package graft.perfbench

import graft.{GraftSession, SparkEntry, Tables}
import graft.pipeline.{CurationPipeline, FraudPipeline}
import org.apache.spark.BusDrain
import org.apache.spark.sql.{Row, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in one fresh JVM: build the session, invoke the
  * workload's pipeline once through its public entry point, and write
  * timings, engine counters and the pipeline's answer as one JSON file.
  *
  *   Harness --workload fraud_sf1|curation_gated --data <dir> --out <file>
  *           [--trace] [--oracle-dir <dir>] [--train]
  *
  * `--trace` turns on the detailed listener for the invocation and then
  * times each ops function of the workload on the same input (noop sink),
  * once untraced and once traced, for the tracing overhead.
  * `--oracle-dir` also writes each of those functions' output as parquet,
  * with the oracle SQL beside it, for a one-off DuckDB cross-check.
  * `--train` only starts the session and runs one small query: the class
  * loading the JVM's class-data-sharing archive is dumped from.
  */
object Harness {
  private val Cores = 4
  private val MB = 1024.0 * 1024.0

  /** Per-layer span name -> the SparkEntry.queries key it times. */
  val spans: Map[String, Seq[(String, String)]] = Map(
    "fraud_sf1" -> Seq(
      "ops.Features.q19_s" -> "q19_feature_matrix",
      "ops.Graph.q53_s" -> "q53_signed_degrees",
      "ops.Graph.q22_s" -> "q22_neighbor_avg_degree",
      "ops.Graph.q23_s" -> "q23_triangles",
      "ops.Features.q59_s" -> "q59_full_feature_matrix"),
    "curation_gated" -> Seq(
      "ops.Corpus.q57_s" -> "q57_corpus_pipeline",
      "ops.Corpus.q78_s" -> "q78_dup_spans",
      "ops.Corpus.q60_s" -> "q60_decontaminate",
      "ops.Corpus.bm25_s" -> "q74_bm25",
      "ops.Sampling.mix_s" -> "q69_mix_sample",
      "ops.Corpus.pack_s" -> "q62_pack_chunks"))

  /** The curation gates this workload turns on. */
  val dupRatioCap = 0.5
  val retrievalTopK = 100
  val mixBudget = 2.0

  def main(args: Array[String]): Unit = {
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val workload = opt("--workload").getOrElse(sys.error("--workload missing"))
    val dir = opt("--data").getOrElse(sys.error("--data missing"))
    val out = opt("--out").getOrElse(sys.error("--out missing"))
    val trace = args.contains("--trace")
    val oracleDir = opt("--oracle-dir")
    require(spans.contains(workload), s"unknown workload '$workload'")

    val buildStart = System.nanoTime()
    val spark = GraftSession.local(Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    // inputs registered: every table's footer read once
    Tables.all.foreach(t => Tables(spark, dir, t).schema)
    val buildS = secsSince(buildStart)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (args.contains("--train")) {
      // class-loading run for the JVM's class-data-sharing archive:
      // session start-up, footers and one small query, nothing timed
      spark.range(0, 1000, 1, Cores).selectExpr("sum(id)").collect()
      spark.stop()
      return
    }

    counters.detailed = trace
    counters.reset()
    val gc0 = gcMillis()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(invoke(spark, workload, dir))
      catch { case e: Throwable => Left(e.toString) }
    val runS = secsSince(t0)
    val w1 = System.currentTimeMillis()
    val gcS = (gcMillis() - gc0) / 1000.0
    BusDrain(spark.sparkContext)
    val (cpuS, shuffleMb, layers) = counters.synchronized {
      (counters.cpuNs / 1e9, counters.shuffleWriteBytes / MB,
        if (trace) layerMetrics(counters, w0, w1) + ("jvm.gc_s" -> gcS)
        else Map.empty[String, Any])
    }
    counters.detailed = false

    // the answer, plus (curation) the lake tables the run wrote
    val answer = result.map { a =>
      if (workload != "curation_gated") a
      else a ++ Seq("keeplist", "chunks").map { t =>
        s"lake_${t}_rows" -> spark.table(s"curation_$t").count()
      }
    }
    val heapAfterRun = if (trace) heapAfterGc() else 0.0
    val selfCheck = if (trace) counterSelfCheck(spark, counters) else Nil

    var spanTimes = Map.empty[String, Double]
    var overhead = 0.0
    var spanErrors = Seq.empty[String]
    if (trace) {
      // each span runs untraced and traced, the order alternating so that
      // what the JIT still warms between the two calls cancels out of the
      // summed difference
      spans(workload).zipWithIndex.foreach { case ((name, key), i) =>
        try {
          val fn = SparkEntry.queries(key)
          def timed(traced: Boolean): Double = {
            counters.detailed = traced
            val s = System.nanoTime()
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            BusDrain(spark.sparkContext)
            counters.detailed = false
            secsSince(s)
          }
          val (plain, traced) =
            if (i % 2 == 0) { val p = timed(false); (p, timed(true)) }
            else { val t = timed(true); (timed(false), t) }
          spanTimes += name -> plain
          overhead += traced - plain
        } catch { case e: Throwable => spanErrors :+= s"$key: $e" }
      }
    }
    oracleDir.foreach { d =>
      val oracles = SparkEntry.oracleSql
      spans(workload).foreach { case (_, key) =>
        SparkEntry.queries(key)(spark, dir).write.mode("overwrite")
          .parquet(s"$d/$key")
      }
      write(s"$d/oracle_sql.json", Json.render(spans(workload)
        .collect { case (_, k) if oracles.contains(k) => k -> oracles(k) }.toMap))
    }
    val heapRetained = heapAfterGc()

    write(out, Json.render(Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "run_s" -> runS,
      "cpu_s" -> cpuS,
      "shuffle_write_mb" -> shuffleMb,
      "heap_retained_mb" -> heapRetained,
      "answer" -> answer.fold(_ => null, identity),
      "error" -> answer.fold(identity, _ => null),
      "span_errors" -> (selfCheck ++ spanErrors),
      "spans" -> spanTimes,
      "layers" -> (if (!trace) Map.empty[String, Any] else layers ++ Map(
        "session.build_s" -> buildS,
        "session.cold_iter_s" -> runS,
        "driver.heap_after_gc_mb" -> heapAfterRun,
        "trace.overhead_s" -> overhead)))))
    spark.stop()
  }

  /** The workload's one pipeline invocation, through the public entry
    * point, materialized the way the runnable mains do; returns the
    * user-visible answer row as a field map. */
  def invoke(spark: SparkSession, workload: String, dir: String): Map[String, Any] =
    workload match {
      case "fraud_sf1" =>
        val r = FraudPipeline.run(spark, dir)
        rowMap(r.metrics.head()) ++
          Map("n_users" -> r.nUsers, "n_scored" -> r.scored.count())
      case "curation_gated" =>
        val r = CurationPipeline.run(spark, dir,
          dupRatioCap = Some(dupRatioCap),
          retrievalSeed = Some(graft.ops.Corpus.bm25Query),
          retrievalTopK = retrievalTopK,
          mixBudget = Some(mixBudget))
        rowMap(r.stats.head())
    }

  /** The listener's counts on two small jobs whose counts are known: a
    * noop write of a 2-partition range (one SQL execution, one job, one
    * 2-task stage) and an RDD reduceByKey whose 4 map tasks each write
    * the 10 distinct keys of 25 consecutive integers (40 combined shuffle
    * records) for 3 reduce tasks. Returns the mismatches. */
  private def counterSelfCheck(spark: SparkSession, c: Counters): Seq[String] = {
    c.detailed = true
    c.reset()
    spark.range(0, 100, 1, 2).write.format("noop").mode("overwrite").save()
    spark.sparkContext.parallelize(1 to 100, 4).map(x => (x % 10, 1))
      .reduceByKey(_ + _, 3).count()
    BusDrain(spark.sparkContext)
    c.detailed = false
    val got = c.synchronized(Seq(c.sql.size.toLong, c.jobs, c.stages, c.tasks,
      c.shuffleRecords))
    Seq("sql executions", "jobs", "stages", "tasks", "shuffle records")
      .zip(got).zip(Seq(1L, 2L, 3L, 9L, 40L))
      .collect { case ((k, g), w) if g != w => s"counter self-check: $k $g, want $w" }
  }

  /** Per-layer counters of the invocation window [w0, w1] (epoch ms). */
  private def layerMetrics(c: Counters, w0: Long, w1: Long): Map[String, Any] = {
    val wallMs = (w1 - w0).toDouble
    val sqlSpans = c.sql.values.map { case (a, b, _) => (a, if (b < 0) w1 else b) }
    val lakeSpans = c.sql.values.collect {
      case (a, b, plan) if plan.contains("CreateDataSourceTableAsSelectCommand") ||
          plan.contains("InsertIntoHadoopFsRelationCommand") =>
        (a, if (b < 0) w1 else b)
    }
    val touched = c.sql.values
      .flatMap { case (_, _, plan) => "/([a-z]+)\\.parquet".r.findAllMatchIn(plan).map(_.group(1)) }
      .filter(Tables.all.contains).toSet.toSeq.sorted
    Map(
      "driver.no_task_s" -> (wallMs - Counters.covered(c.taskSpans, w0, w1)) / 1000.0,
      "driver.sql_executions" -> c.sql.size,
      "driver.plan_desc_kb" -> c.sql.values.map(_._3.length.toLong).sum / 1024.0,
      "sched.jobs" -> c.jobs,
      "sched.stages" -> c.stages,
      "sched.tasks" -> c.tasks,
      "sched.core_util" -> c.taskBusyMs / (wallMs * Cores),
      "sched.task_wait_s" -> c.taskWaitMs / 1000.0,
      "tables.input_mb" -> c.inputBytes / MB,
      "tables.input_records" -> c.inputRecords,
      "tables.touched" -> touched,
      "shuffle.records" -> c.shuffleRecords,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1000.0,
      "shuffle.spill_mb" -> c.spillBytes / MB,
      "memory.peak_exec_mb" -> c.peakExecBytes / MB,
      "cache.peak_mb" -> c.cachePeakBytes / MB,
      "lake.write_s" -> Counters.covered(lakeSpans, w0, w1) / 1000.0,
      "lake.output_mb" -> c.outputBytes / MB,
      "pipeline.self_s" -> (wallMs - Counters.covered(sqlSpans, w0, w1)) / 1000.0)
  }

  private def rowMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap

  private def secsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def heapAfterGc(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

/** Minimal JSON writer for the harness's report (maps, sequences,
  * strings, numbers, booleans, null). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
