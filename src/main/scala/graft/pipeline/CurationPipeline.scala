package graft.pipeline

import graft.{ops, sources, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus-curation workflow end to end as ONE composable call — the
  * training-data twin of [[FraudPipeline]]: what a pretraining data
  * team ships, not just the individual operators.
  *
  *   documents → keep-list (q57's language / quality / exact-dedup /
  *               near-dup gates, one shared scan)
  *             → optional perplexity gate (q68's reference-slice
  *               unigram LM: drop the off-distribution tail below
  *               `lmFloor` — CCNet's filter tier; off by default, the
  *               floor is a per-corpus tuning choice)
  *             → optional DSIR domain gate (q71's importance ratios:
  *               drop docs scoring at/below `dsirFloor` — the
  *               domain-targeting selection; target-slice docs pass)
  *             → optional ExactSubstr gate (q78's repeated-substring
  *               coverage: drop docs above `dupRatioCap` — Lee et
  *               al.'s boilerplate-heavy tail)
  *             → decontamination (q60: drop every kept doc sharing a
  *               verbatim word-8-gram with the benchmark slice — the
  *               slice itself never enters the corpus)
  *             → optional retrieval gate (q74's BM25 over the
  *               survivors against a caller seed query: keep the
  *               global top-k — retrieve-then-filter targeted
  *               selection)
  *             → optional terminal mix gate (q69's √-temperature
  *               source re-weighting under a token budget over what
  *               survived every filter — a real curation run ends
  *               with the mix step)
  *             → packing plan over the SURVIVORS (q62's two-pass
  *               exclusive offsets, 2048-token chunks)
  *             → bucketed lake write (keep-list + chunk plan on
  *               doc_id) so every downstream per-doc join — the data
  *               loader fetching text, a re-curation diff — is
  *               exchange-free
  *             → one-row stats frame (doc/token/chunk/split counts),
  *               the numbers a curation report leads with.
  *
  * Every stage reuses the already-oracled operator core (q57Kept, q60,
  * packPlan); the composition adds no new semantics, only the chaining
  * and the lake persistence. Scale shape: keep-list and decon flags
  * join on doc_id (the one shuffle key end to end); the pack plan's
  * global offsets are the two-pass bucket primitive, never a
  * single-partition window; the lake write pays the doc_id shuffle
  * once at write time. Every stage hands its survivors to the next as
  * an eager local checkpoint, a plan leaf, so each stage plans only its
  * own operators: stacked caches would embed every upstream plan in
  * each downstream one, and AQE re-renders that whole tree on every
  * stage completion. The report row is collected once and returned as
  * a driver-local frame, so reading `stats` never runs a job.
  *
  * Trade: checkpoint blocks live only on the executors that wrote
  * them, so a lost executor fails the run instead of recomputing the
  * lost partitions — the same trade [[graft.ops.Components]] accepts
  * for its per-round labels.
  */
object CurationPipeline {

  case class Result(keeplist: DataFrame, clean: DataFrame,
    plan: DataFrame, stats: DataFrame)

  def run(spark: SparkSession, dir: String, buckets: Int = 8,
      lakePrefix: String = "curation",
      lmFloor: Option[Double] = None,
      dsirFloor: Option[Double] = None,
      dupRatioCap: Option[Double] = None,
      retrievalSeed: Option[Seq[String]] = None,
      retrievalTopK: Int = 1000,
      mixBudget: Option[Double] = None): Result = {
    // 1. the q57 keep-list: survivors of the language, quality,
    //    exact-dedup and near-dup gates, with per-doc token counts
    val kept = ops.Corpus.q57Kept(spark, dir).localCheckpoint(true)

    // 1b. optional CCNet-style perplexity gate (q68): drop kept docs
    //     whose mean token log-prob under the reference-slice unigram
    //     LM falls below the floor — the off-distribution tail cut.
    //     Off by default: the floor is a corpus-specific tuning choice
    //     (CCNet picks its tail quantile per language).
    val gated = lmFloor match {
      case Some(f) =>
        val scores = ops.Corpus.lmQuality(
            graft.Tables.documents(spark, dir), graft.ops.Corpus.refSlice)
          .select(col("doc_id"), col("avg_logp"))
        kept.join(scores, Seq("doc_id"))
          .filter(col("avg_logp") >= f).drop("avg_logp")
          .localCheckpoint(true)
      case None => kept
    }

    // 1c. optional DSIR domain gate (q71): drop kept docs whose summed
    //     log importance ratio toward the reference slice falls at or
    //     below the floor — the domain-targeting cut between fluency
    //     filtering and packing. Target-slice docs DEFINE the domain
    //     and carry no score (q71 scores only the raw rest), so the
    //     left join passes them through. Off by default — the floor
    //     (0.0 = "more target-like than corpus-like") is a per-corpus
    //     tuning choice, same as lmFloor.
    val dsGated = dsirFloor match {
      case Some(f) =>
        val w = ops.Corpus.dsirWeight(
            Tables.documents(spark, dir), ops.Corpus.refSlice)
          .select(col("doc_id"), col("log_w"))
        gated.join(w, Seq("doc_id"), "left")
          .filter(col("log_w").isNull || col("log_w") > f)
          .drop("log_w").localCheckpoint(true)
      case None => gated
    }

    // 1d. optional ExactSubstr gate (q78): drop kept docs whose
    //     repeated-substring coverage exceeds the cap — Lee et al.'s
    //     boilerplate-heavy tail (a doc that is mostly corpus-duplicated
    //     spans adds optimization pressure toward memorization). Off by
    //     default; span stats compute corpus-wide (duplication is a
    //     corpus property, not a kept-set property — mirroring q60's
    //     whole-corpus benchmark grams).
    val dupGated = dupRatioCap match {
      case Some(cap) =>
        val spans = ops.Corpus.q78DupSpans(spark, dir)
          .select(col("doc_id"), col("dup_ratio"))
        dsGated.join(spans, Seq("doc_id"))
          .filter(col("dup_ratio") <= cap).drop("dup_ratio")
          .localCheckpoint(true)
      case None => dsGated
    }

    // 2. decontamination: q60 emits per-doc benchmark-overlap flags for
    //    every non-benchmark doc, so the inner join BOTH drops the
    //    benchmark slice from the corpus and keys the flag lookup
    val decon = ops.Corpus.q60Decontaminate(spark, dir)
      .select(col("doc_id"), col("contaminated"))
    val decontaminated = dupGated.join(decon, Seq("doc_id"))
      .filter(!col("contaminated")).drop("contaminated")
      .localCheckpoint(true) // feeds the tail gates AND the stats row

    // 2b. optional retrieval gate (q74): BM25-score the decontaminated
    //     survivors against the caller's seed query and keep the global
    //     top `retrievalTopK` — the retrieve-then-filter selection loop
    //     (quality-targeted curation seeds with exemplar terms and keeps
    //     what retrieval surfaces). Scores compute over the SURVIVORS,
    //     not the raw crawl, so df/avgdl describe the shippable corpus;
    //     the gate therefore composes after decontamination.
    val retrGated = retrievalSeed match {
      case Some(seed) =>
        val hits = ops.Corpus.bm25TopDocs(
            Tables.documents(spark, dir).select(col("doc_id"), col("text"))
              .join(decontaminated.select(col("doc_id")), Seq("doc_id")),
            seed, retrievalTopK)
          .select(col("doc_id"))
        decontaminated.join(hits, Seq("doc_id")).localCheckpoint(true)
      case None => decontaminated
    }

    // 2c. optional terminal mix gate (q69): temperature-reweight the
    //     surviving sources under a token budget (total/`mixBudget`).
    //     A real curation run ENDS with the mix step — the budget and
    //     source balance are properties of what survived every filter,
    //     so the masses feeding the √-temperature shares are computed
    //     from the gated survivors, not the raw corpus.
    val clean = mixBudget match {
      case Some(b) =>
        val keep = ops.Sampling.mixKeep(
            retrGated.select(col("doc_id"), col("source"), col("n_tok")), b)
          .filter(col("kept")).select(col("doc_id"))
        retrGated.join(keep, Seq("doc_id")).localCheckpoint(true)
      case None => retrGated
    }

    // 3. chunk the survivors (not the raw corpus) into the training
    //    stream: the offsets/chunk ids a data loader consumes
    val plan = ops.Corpus.packPlan(
      clean.select(col("doc_id"), col("n_tok"))).localCheckpoint(true)

    // 4. the shipped artifacts, bucketed on doc_id — the per-consumer
    //    re-shuffle is paid once here (LakeSpec pins exchange-free
    //    downstream joins for this layout)
    sources.Lake.writeBucketed(clean, s"${lakePrefix}_keeplist",
      "doc_id", buckets, Seq("doc_id"))
    sources.Lake.writeBucketed(plan, s"${lakePrefix}_chunks",
      "doc_id", buckets, Seq("doc_id"))

    // 5. the report row: all three inputs are one-row aggregates, so
    //    the crossJoins are broadcast scalars, not real joins
    val totals = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    val keptAgg = kept.agg(count(lit(1)).as("n_kept"))
    val gatedAgg = gated.agg(count(lit(1)).as("n_lm_kept"))
    val dsAgg = dsGated.agg(count(lit(1)).as("n_ds_kept"))
    val dupAgg = dupGated.agg(count(lit(1)).as("n_dup_kept"))
    val deconAgg = decontaminated.agg(count(lit(1)).as("n_decon_kept"))
    val retrAgg = retrGated.agg(count(lit(1)).as("n_retr_kept"))
    val planAgg = plan.agg(
      count(lit(1)).as("n_final"),
      coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"),
      coalesce(sum(when(col("split_doc"), 1L).otherwise(0L)), lit(0L))
        .as("n_split_docs"))
    val stats = totals.crossJoin(broadcast(keptAgg))
      .crossJoin(broadcast(gatedAgg))
      .crossJoin(broadcast(dsAgg))
      .crossJoin(broadcast(dupAgg))
      .crossJoin(broadcast(deconAgg))
      .crossJoin(broadcast(retrAgg))
      .crossJoin(broadcast(planAgg))
      .withColumn("n_lm_dropped", col("n_kept") - col("n_lm_kept"))
      .withColumn("n_dsir_dropped", col("n_lm_kept") - col("n_ds_kept"))
      .withColumn("n_dup_dropped", col("n_ds_kept") - col("n_dup_kept"))
      .withColumn("n_decon_dropped", col("n_dup_kept") - col("n_decon_kept"))
      .withColumn("n_retr_dropped", col("n_decon_kept") - col("n_retr_kept"))
      .withColumn("n_mix_dropped", col("n_retr_kept") - col("n_final"))
      .drop("n_lm_kept", "n_ds_kept", "n_dup_kept", "n_decon_kept",
        "n_retr_kept")
      .withColumn("n_chunks",
        ceil(col("n_tokens") / lit(ops.Corpus.ctxLen.toDouble)).cast("long"))
      .withColumn("split_frac",
        when(col("n_final") > 0,
          round(col("n_split_docs") * lit(1.0) / col("n_final"), 6))
          .otherwise(lit(0.0)))
    // Collect the report row once and hand it back as a driver-local
    // frame: reading it never schedules a job or re-plans a stage.
    // Intermediate checkpoints need no unpersist — the ContextCleaner
    // frees their blocks once the frames are unreferenced.
    val statsOut = spark.createDataFrame(
      java.util.List.of(stats.head()), stats.schema)
    Result(kept, clean, plan, statsOut)
  }
}
