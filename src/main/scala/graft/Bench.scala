package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // The two deliberate global-rank windows (q56/q74 — each sorts an
    // already-limit()-cut ≤100-row top-k set, see their Scaladoc) emit
    // one benign WindowExec WARN per execution; over 86 queries × reps
    // that flood is the one thing standing between a real operator's
    // stack trace and the driver's 2000-char stderr parse window.
    // Silence exactly that logger, nothing else.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Optional comma-separated key filter for local iteration
    // (e.g. SPARK_GRAFT_ONLY=q47_connected_components); driver leaves it
    // unset and measures everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // a typo'd key would silently bench nothing — fail loudly instead
    only.foreach { keys =>
      val unknown = keys -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val queries = only match {
      case Some(keys) => SparkEntry.queries.filter { case (k, _) => keys(k) }
      case None => SparkEntry.queries
    }
    // qNN prefixes must be unique across the whole registry: a silent
    // full-name fallback on collision would quietly re-grow the JSON
    // past the driver's 2000-char stdout tail (and a bare 'qNN' key
    // next to 'qNN_x' would emit duplicate JSON keys) — fail loudly
    // BEFORE the warmup + timed passes, not after minutes of bench work
    locally {
      val prefixes = SparkEntry.queries.keys.toSeq.map(_.takeWhile(_ != '_'))
      val dups = prefixes.groupBy(identity).filter(_._2.length > 1).keys
      require(dups.isEmpty,
        s"duplicate qNN prefixes in SparkEntry.queries: ${dups.toSeq.sorted.mkString(", ")}")
    }
    // Untimed warmup at the smallest SF: JIT + codegen + MLlib/class
    // loading are one-time JVM costs, not per-query throughput. Steady
    // state is what a long-running cluster job sees.
    val warmDir = new java.io.File("/root/testdata/sf0.001") match {
      case d if d.isDirectory => d.getPath
      case _ => sfDir
    }
    // Materialize through the noop sink, not count(): count() lets
    // Catalyst prune projections and drop sorts, under-measuring the
    // operator; the noop write computes every output row and column —
    // the measured plan is the verified plan.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // one scope per query, warm-up and timed alike: each query starts
    // from the session as the previous one found it
    queries.foreach { case (_, fn) =>
      try Release.scope(materialize(fn(spark, warmDir))) catch { case _: Throwable => () }
    }
    // The sandbox VM shows bursty multi-second CPU-steal stalls (a pure
    // CPU loop measures sporadic 2-3× slowdowns), which pollute a
    // single-shot timing of a random query per run. Run REPS full
    // passes over the suite — consecutive passes of the SAME query are
    // minutes apart, so a stall burst never covers both — and report
    // the per-query minimum: the steady-state cost of the plan, which
    // is what the measurement is for.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    // Wall-clock guard: a repeat pass only starts while total bench
    // time is under budget, so the stall-robust protocol can never
    // more-than-double the caller's expected runtime at a larger SF —
    // it degrades gracefully to single-shot.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "420").toDouble
    val benchStart = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - benchStart) / 1e9
    // (time, succeeded): a failed rep must never win the min — a
    // transient failure measures time-to-crash, not plan cost
    def timedPass(): Map[String, (Double, Boolean)] = queries.map { case (name, fn) =>
      System.gc() // old-gen garbage from the PREVIOUS query must not tax this one's timing
      // the scope's release runs after the clock stops
      name -> Release.scope {
        val t0 = System.nanoTime()
        // a failed query must not masquerade as a fast one — flag it loudly
        val ok = try { materialize(fn(spark, sfDir)); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
    }
    val passes = (1 to reps).flatMap { i =>
      if (i == 1 || elapsed() < budgetSec) Some(timedPass()) else None
    }
    // (min, max) of the successful reps: the min is the steady-state
    // plan cost (what totals and round-over-round comparisons use); the
    // max makes the VM-weather band part of the record instead of
    // per-round prose — a wide [min,max] says "stall burst", a tight
    // one says any drift is real
    val results = queries.keys.map { name =>
      val runs = passes.map(_(name))
      val good = runs.filter(_._2)
      // all reps failed → report the SLOWEST failing run so the number
      // reads as a problem, never as a fast success
      val times = if (good.nonEmpty) good.map(_._1)
                  else Seq(runs.map(_._1).max)
      name -> ((times.min, times.max))
    }.toMap
    // stderr alone is invisible to a JSON consumer: an all-reps-failed
    // query folds its time-to-crash into the totals indistinguishably
    // from a success, so the failure list rides in the JSON line too
    val failed = queries.keys
      .filter(name => passes.forall(p => !p(name)._2)).toSeq.sorted
    // The driver parses this line from a 2000-char stdout tail: keep it
    // short (2-decimal secs — far below the VM's ±10% noise floor) and
    // emit it AFTER spark.stop() so shutdown logging can't land between
    // the line and the end of the captured tail. Per-query keys compact
    // to their unambiguous qNN prefix: full names blew past the tail at
    // 79 queries (2029 chars measured); prefixes hold ~1200 chars with
    // headroom past 120 queries, and map 1:1 to SparkEntry.queries keys.
    def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def fmt1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    // (prefix uniqueness was validated before the warmup)
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    // per-query value is [min, max] over the reps (equal when reps=1);
    // rendered at 2dp, degrading to 1dp if the full line would crowd
    // the driver's 2000-char stdout tail — band width survives either way
    def qsAt(f: Double => String): String = results
      .map { case (k, (lo, hi)) =>
        "\"" + shortKey(k) + "\":[" + f(lo) + "," + f(hi) + "]" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    spark.stop()
    // "reps" = timed passes that actually ran (budget-gated), so the
    // artifact self-describes whether each per-query number is a
    // min-of-N or a single shot — round-over-round totals are only
    // comparable at equal reps, and the consumer can now tell.
    def line(qs: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":${passes.length},"queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // degrade stepwise until the line fits the driver's 2000-char
    // stdout tail: 2dp bands → 1dp bands → 1dp min-only (the [min,max]
    // band is the first casualty, the per-query record never is). A
    // line that STILL overflows would truncate silently downstream, so
    // say so out loud on stderr.
    def fmtMin(f: Double => String): String = results
      .map { case (k, (lo, _)) => "\"" + shortKey(k) + "\":" + f(lo) }
      .mkString("{", ",", "}")
    val candidates =
      Seq(line(qsAt(fmt)), line(qsAt(fmt1)), line(fmtMin(fmt1)))
    val out = candidates.find(_.length <= 1850).getOrElse {
      System.err.println(s"[bench] WARNING: JSON line ${candidates.last.length} chars " +
        "exceeds the 1850 budget even min-only — driver tail may truncate it")
      candidates.last
    }
    println(out)
  }
}
