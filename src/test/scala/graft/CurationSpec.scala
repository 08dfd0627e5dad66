package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode,
  LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** End-to-end curation workflow: the composed chain must agree with
  * the oracled operators it reuses, stage by stage. */
class CurationSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def scrub(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(loc)
    }
  }

  test("CLI usage text: every flag documented, unknown flags rejected loudly") {
    // both mains must document every flag they accept — a new flag
    // without a usage line ships undiscoverable
    CurationRun.flagNames.foreach { f =>
      assert(CurationRun.usage.contains(s"--$f="), s"--$f missing from usage")
    }
    PipelineRun.tierFlags.foreach { case (f, _, _) =>
      assert(PipelineRun.usage.linesIterator.exists(_.trim.startsWith(s"--$f ")),
        s"--$f missing from usage")
    }
    // the ADVICE failure mode: a value-taking flag typed without '=' or
    // a misspelled gate must abort, never silently run ungated
    for (bad <- Seq(Array("--seed", "foo"), Array("--lmfloor=0.5"),
        Array("--dup-cap", "0.2"))) {
      val e = intercept[IllegalArgumentException](CurationRun.main(bad))
      assert(e.getMessage.contains("unknown or malformed"), bad.mkString(" "))
    }
    // two bare positionals (e.g. a flag value separated by a space that
    // survived flag validation) must abort, not misparse as sfDir
    val e2 = intercept[IllegalArgumentException](
      CurationRun.main(Array("dirA", "dirB")))
    assert(e2.getMessage.contains("one positional"))
    val e3 = intercept[IllegalArgumentException](
      PipelineRun.main(Array("dirA", "dirB")))
    assert(e3.getMessage.contains("one positional"))
    // both mains share ONE Cli behavior: identical unknown-flag message,
    // and --help wins over any validation error (usage, not a complaint)
    val e4 = intercept[IllegalArgumentException](
      PipelineRun.main(Array("--exteneded")))
    assert(e4.getMessage.contains("unknown or malformed"))
    for (badButHelp <- Seq(Array("dirA", "dirB", "--help"),
        Array("--lmfloor=0.5", "--help")))
      CurationRun.main(badButHelp) // must print usage and return, not throw
    PipelineRun.main(Array("dirA", "dirB", "--help"))
  }

  test("curation pipeline: gates → decontaminate → pack → lake, consistent end to end") {
    scrub("curation_t_keeplist", "curation_t_chunks")
    val r = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_t")

    // every returned frame is a checkpoint leaf: its plan reads neither
    // the source files nor a cache, so a consumer plans only its own
    // operators — and the report is a driver-local row, so reading it
    // never schedules a job
    Seq("keeplist" -> r.keeplist, "clean" -> r.clean, "plan" -> r.plan)
      .foreach { case (name, df) =>
        val p = df.queryExecution.executedPlan
        val upstream = collect(p) {
          case s: FileSourceScanExec => s
          case s: InMemoryTableScanExec => s
        }
        assert(upstream.isEmpty, s"$name is not a plan leaf:\n$p")
      }
    assert(r.stats.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      r.stats.queryExecution.executedPlan.toString)

    val kept = r.keeplist.select("doc_id").collect().map(_.getLong(0)).toSet
    val clean = r.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean.nonEmpty && clean.subsetOf(kept))
    // the benchmark slice never enters the corpus
    assert(clean.forall(_ % 23 != 0))
    // no contaminated doc survives (cross-check against q60 itself)
    val contaminated = ops.Corpus.q60Decontaminate(spark, sf)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((clean & contaminated).isEmpty)

    // the packing plan covers exactly the survivors, with exact global
    // offsets: recompute the running sum naively over the collected rows
    val rows = r.plan.orderBy("doc_id")
      .select("doc_id", "n_tok", "start_off", "chunk_id", "n_chunks", "split_doc")
      .collect()
    assert(rows.map(_.getLong(0)).toSet == clean)
    var off = 0L
    rows.foreach { row =>
      val (nTok, start) = (row.getLong(1), row.getLong(2))
      assert(start == off, s"doc ${row.getLong(0)}: start $start != $off")
      val ctx = ops.Corpus.ctxLen
      assert(row.getLong(3) == start / ctx)
      assert(row.getLong(4) == (start + nTok - 1) / ctx - start / ctx + 1)
      assert(row.getBoolean(5) == (start / ctx != (start + nTok - 1) / ctx))
      off += nTok
    }

    // the one-row report agrees with the independently computed sets
    val s = r.stats.head()
    assert(s.getAs[Long]("n_kept") == kept.size)
    assert(s.getAs[Long]("n_final") == clean.size)
    assert(s.getAs[Long]("n_tokens") == rows.map(_.getLong(1)).sum)
    assert(s.getAs[Long]("n_split_docs") == rows.count(_.getBoolean(5)))
    assert(s.getAs[Long]("n_chunks") ==
      math.ceil(rows.map(_.getLong(1)).sum.toDouble / ops.Corpus.ctxLen).toLong)
    // the report's columns, in order, with their types; n_docs counts
    // every document, not only the kept ones
    assert(r.stats.columns.toSeq == Seq("n_docs", "n_kept", "n_final", "n_tokens",
      "n_split_docs", "n_lm_dropped", "n_dsir_dropped", "n_dup_dropped",
      "n_decon_dropped", "n_retr_dropped", "n_mix_dropped", "n_chunks", "split_frac"))
    assert(r.stats.dtypes.map(_._2).toSeq == Seq.fill(12)("LongType") :+ "DoubleType",
      r.stats.dtypes.mkString(","))
    assert(s.getAs[Long]("n_docs") == Tables.documents(spark, sf).count())

    // the shipped lake: same grain, and the downstream join the data
    // loader runs every epoch is exchange-free
    assert(spark.table("curation_t_keeplist").count() == clean.size)
    assert(spark.table("curation_t_chunks").count() == clean.size)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = sources.Lake.colocatedJoin(spark,
        "curation_t_keeplist", "curation_t_chunks", "doc_id")
      val plan = j.queryExecution.explainString(FormattedMode)
      assert(plan.contains("Bucketed: true"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(j.count() == clean.size)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("curation pipeline with LM gate: the perplexity floor drops exactly the scored tail") {
    scrub("curation_lm_keeplist", "curation_lm_chunks")
    // pick the floor as the median avg_logp of the UNGATED keep-list so
    // the gate provably bites without emptying the corpus
    val scores = ops.Corpus.q68LmQuality(spark, sf)
      .select(col("doc_id"), col("avg_logp")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val baseKept = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_lm").keeplist
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val floor = baseKept.map(scores).toSeq.sorted.apply(baseKept.size / 2)

    scrub("curation_lm_keeplist", "curation_lm_chunks")
    val r = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_lm", lmFloor = Some(floor))
    val clean = r.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    // every survivor clears the floor; every kept-and-clean doc below it is gone
    assert(clean.nonEmpty)
    assert(clean.forall(id => scores(id) >= floor))
    val contaminated = ops.Corpus.q60Decontaminate(spark, sf)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = baseKept
      .filter(id => scores(id) >= floor && id % 23 != 0 && !contaminated(id))
    assert(clean == expected)
    // the report row accounts for the gate exactly
    val s = r.stats.head()
    assert(s.getAs[Long]("n_lm_dropped") ==
      baseKept.count(id => scores(id) < floor))
    assert(s.getAs[Long]("n_final") == clean.size)
  }

  test("curation pipeline with DSIR gate: the domain floor drops exactly the scored tail") {
    scrub("curation_ds_keeplist", "curation_ds_chunks")
    val scores = ops.Corpus.q71DsirWeight(spark, sf)
      .select(col("doc_id"), col("log_w")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val baseKept = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_ds").keeplist
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // median over the SCORED kept docs: target-slice docs (doc_id ≡ 0
    // mod 7) define the domain, carry no score and must pass the gate
    val scoredKept = baseKept.filter(_ % 7 != 0).toSeq.map(scores).sorted
    val floor = scoredKept(scoredKept.size / 2)

    scrub("curation_ds_keeplist", "curation_ds_chunks")
    val r = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_ds", dsirFloor = Some(floor))
    val clean = r.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean.nonEmpty)
    assert(clean.forall(id => id % 7 == 0 || scores(id) > floor))
    val contaminated = ops.Corpus.q60Decontaminate(spark, sf)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = baseKept.filter(id =>
      (id % 7 == 0 || scores(id) > floor) && id % 23 != 0 && !contaminated(id))
    assert(clean == expected)
    // the report row accounts for the gate exactly
    val s = r.stats.head()
    assert(s.getAs[Long]("n_dsir_dropped") ==
      baseKept.count(id => id % 7 != 0 && !(scores(id) > floor)))
    assert(s.getAs[Long]("n_lm_dropped") == 0L)
    assert(s.getAs[Long]("n_final") == clean.size)
  }

  test("curation pipeline with ExactSubstr gate: the dup-ratio cap drops exactly the spanned tail") {
    scrub("curation_dup_keeplist", "curation_dup_chunks")
    val ratios = ops.Corpus.q78DupSpans(spark, sf)
      .select(col("doc_id"), col("dup_ratio")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val baseKept = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_dup").keeplist
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // median coverage over kept docs, so the cap genuinely splits them
    val sorted = baseKept.toSeq.map(ratios).sorted
    val cap = sorted(sorted.size / 2)
    assert(sorted.exists(_ > cap), "cap must actually drop something")

    scrub("curation_dup_keeplist", "curation_dup_chunks")
    val r = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_dup", dupRatioCap = Some(cap))
    val clean = r.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean.nonEmpty)
    assert(clean.forall(id => ratios(id) <= cap))
    val contaminated = ops.Corpus.q60Decontaminate(spark, sf)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = baseKept.filter(id =>
      ratios(id) <= cap && id % 23 != 0 && !contaminated(id))
    assert(clean == expected)
    val s = r.stats.head()
    assert(s.getAs[Long]("n_dup_dropped") == baseKept.count(id => ratios(id) > cap))
    assert(s.getAs[Long]("n_lm_dropped") == 0L &&
      s.getAs[Long]("n_dsir_dropped") == 0L)
    assert(s.getAs[Long]("n_final") == clean.size)
  }

  test("curation pipeline with retrieval gate: BM25 top-k over the survivors, exactly") {
    scrub("curation_rt_keeplist", "curation_rt_chunks")
    val baseClean = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_rt").clean
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val seed = ops.Corpus.bm25Query
    val k = math.max(1, baseClean.size / 2)

    scrub("curation_rt_keeplist", "curation_rt_chunks")
    val r = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_rt",
      retrievalSeed = Some(seed), retrievalTopK = k)
    val clean = r.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean.nonEmpty && clean.size <= k && clean.subsetOf(baseClean))
    // every survivor actually matched the seed (BM25 scores matches only)
    val texts = graft.Tables.documents(spark, sf)
      .filter(col("doc_id").isin(clean.toSeq: _*))
      .select("doc_id", "text").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(clean.forall(id =>
      texts(id).split(" ").exists(seed.contains)), "non-matching survivor")
    // algebra: the gate IS the q74 core applied to the survivor corpus
    val expected = ops.Corpus.bm25TopDocs(
        graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
          .filter(col("doc_id").isin(baseClean.toSeq: _*)), seed, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == expected)
    val s = r.stats.head()
    assert(s.getAs[Long]("n_retr_dropped") == baseClean.size - clean.size)
    assert(s.getAs[Long]("n_mix_dropped") == 0L)
    assert(s.getAs[Long]("n_final") == clean.size)
  }

  test("curation pipeline with terminal mix gate: q69 core over the survivors, exactly") {
    scrub("curation_mx_keeplist", "curation_mx_chunks")
    val base = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_mx")
    val baseClean = base.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    // independent expectation: the q69 core over the surviving docs —
    // source masses MUST come from survivors, not the raw corpus
    val expected = ops.Sampling.mixKeep(
        base.clean.select(col("doc_id"), col("source"), col("n_tok")), 2.0)
      .filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.size < baseClean.size,
      "mix gate must bite for this spec to mean anything")

    scrub("curation_mx_keeplist", "curation_mx_chunks")
    val r = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_mx", mixBudget = Some(2.0))
    val clean = r.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == expected)
    val s = r.stats.head()
    assert(s.getAs[Long]("n_mix_dropped") == baseClean.size - clean.size)
    assert(s.getAs[Long]("n_retr_dropped") == 0L)
    assert(s.getAs[Long]("n_final") == clean.size)
    // the gated lake is what ships: same survivor grain
    assert(spark.table("curation_mx_keeplist").count() == clean.size)
    assert(spark.table("curation_mx_chunks").count() == clean.size)
  }

  test("curation pipeline retrieval→mix composition: mix masses come from the retrieval survivors") {
    scrub("curation_rm_keeplist", "curation_rm_chunks")
    val seed = ops.Corpus.bm25Query
    val baseClean = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_rm").clean
    val k = math.max(1, baseClean.count().toInt / 2)
    val retrIds = ops.Corpus.bm25TopDocs(
        graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
          .join(baseClean.select("doc_id"), Seq("doc_id")), seed, k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = ops.Sampling.mixKeep(
        baseClean.filter(col("doc_id").isin(retrIds.toSeq: _*))
          .select(col("doc_id"), col("source"), col("n_tok")), 2.0)
      .filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet

    scrub("curation_rm_keeplist", "curation_rm_chunks")
    val r = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_rm",
      retrievalSeed = Some(seed), retrievalTopK = k, mixBudget = Some(2.0))
    val clean = r.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == expected)
    val s = r.stats.head()
    assert(s.getAs[Long]("n_retr_dropped") == baseClean.count() - retrIds.size)
    assert(s.getAs[Long]("n_mix_dropped") == retrIds.size - clean.size)
    assert(s.getAs[Long]("n_final") == clean.size)
  }

  test("curation pipeline with all five gates: drops account for every doc, a repeat call agrees") {
    scrub("curation_all_keeplist", "curation_all_chunks")
    def scores(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("doc_id"), col(c)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lm = scores(ops.Corpus.q68LmQuality(spark, sf), "avg_logp")
    val ds = scores(ops.Corpus.q71DsirWeight(spark, sf), "log_w")
    val dup = scores(ops.Corpus.q78DupSpans(spark, sf), "dup_ratio")
    // each call leaves no cache entry and no persisted RDD but the
    // checkpoint leaves of the Results still alive
    val (e0, p0) = (cacheEntries, persistedRdds)
    val base = pipeline.CurationPipeline.run(spark, sf,
      buckets = 4, lakePrefix = "curation_all")
    assertSessionAsFound(e0, p0, base)
    val baseKept = base.keeplist.select("doc_id").collect().map(_.getLong(0))
    val baseClean = base.clean.count()
    // quartile thresholds over the ungated keep-list: each score gate
    // bites without emptying the corpus (target-slice docs, doc_id ≡ 0
    // mod 7, carry no DSIR score and always pass)
    def quantile(xs: Seq[Double], q: Double) = xs.sorted.apply((xs.size * q).toInt)
    val lmFloor = quantile(baseKept.toSeq.map(lm), 0.25)
    val dsirFloor = quantile(baseKept.filter(_ % 7 != 0).toSeq.map(ds), 0.25)
    val dupCap = quantile(baseKept.toSeq.map(dup), 0.75)
    def call() = {
      scrub("curation_all_keeplist", "curation_all_chunks")
      pipeline.CurationPipeline.run(spark, sf,
        buckets = 4, lakePrefix = "curation_all",
        lmFloor = Some(lmFloor), dsirFloor = Some(dsirFloor),
        dupRatioCap = Some(dupCap),
        retrievalSeed = Some(ops.Corpus.bm25Query),
        retrievalTopK = math.max(1, baseClean.toInt / 4),
        mixBudget = Some(2.0))
    }

    // every job the call starts carries one of its stage labels, and
    // the caller's label reads as before once the call returns
    val sc = spark.sparkContext
    sc.setLocalProperty(pipeline.Stage.Key, "caller")
    val ((r, jobs), after) =
      try (jobsDuring(call()), sc.getLocalProperty(pipeline.Stage.Key))
      finally sc.setLocalProperty(pipeline.Stage.Key, null)
    assert(after == "caller")
    assert(jobs.nonEmpty)
    val stray = unlabeled(jobs, Set("keep", "lm", "dsir", "dup", "decon", "retr", "mix",
      "pack", "lake", "stats"))
    assert(stray.isEmpty, stray)
    assertSessionAsFound(e0, p0, base, r)
    val s = r.stats.head()
    val drops = Seq("n_lm_dropped", "n_dsir_dropped", "n_dup_dropped",
      "n_decon_dropped", "n_retr_dropped", "n_mix_dropped")
      .map(c => c -> s.getAs[Long](c))
    // every gate bites: a gate silently off would still balance the sum
    assert(drops.forall(_._2 > 0), drops)
    val nFinal = s.getAs[Long]("n_final")
    assert(nFinal > 0)
    assert(s.getAs[Long]("n_kept") - drops.map(_._2).sum == nFinal, drops)
    assert(r.clean.count() == nFinal && r.plan.count() == nFinal)
    assert(spark.table("curation_all_keeplist").count() == nFinal)
    assert(spark.table("curation_all_chunks").count() == nFinal)

    // back to back in the same session: the same report, row for row
    val again = call()
    assertSessionAsFound(e0, p0, base, r, again)
    assert(again.stats.head() == s)
    assert(spark.table("curation_all_keeplist").count() == nFinal)
  }
}
