package graft.pipeline

import graft.{ops, Release, sources, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * once at write time.
  *
  * The six gates after the keep-list are one ordered list of `Gate`s —
  * lm, dsir, dup, decon, retr, mix — each with its keep step, or none
  * when the caller left it off (decontamination is always on). One
  * `scanLeft` from the keep-list walks the list and yields the
  * survivors after each gate: a gate that is on hands its survivors to
  * the next as an eager local checkpoint, a plan leaf, so each stage
  * plans only its own operators (stacked caches would embed every
  * upstream plan in each downstream one, and AQE re-renders that whole
  * tree on every stage completion); a gate that is off hands on its
  * input itself and runs no job. [[graft.Release.checkpoint]] also
  * frees the broadcast relations each gate's query built (16 MB per
  * gate at 500 docs), so the heap a call leaves behind does not depend
  * on GC timing.
  *
  * The report row comes from that survivor list, in one place:
  * `n_docs` is the `documents` row count the keep-list's near-dup gate
  * already memoized ([[graft.Tables.cachedRowCount]]); `n_kept` and
  * each `n_<gate>_dropped` are differences of survivor counts, one
  * count per distinct survivor frame, so a gate that is off reads 0
  * without a count; `n_final`, `n_tokens` and `n_split_docs` are one
  * aggregate over the packing plan, whose row count is also the last
  * survivors' count; `n_chunks` and `split_frac` are Spark expressions
  * over that one row. The row is a driver-local frame, so reading
  * `stats` never runs a job.
  *
  * Each stage labels its Spark jobs ([[Stage]]): `keep`, the gate's
  * name, `pack`, `lake` and `stats`.
  *
  * The call owns what it materializes: `run` is one
  * [[graft.Release.scope]], which on return releases every cache the
  * ops made and every gate hand-off checkpoint but the leaves of the
  * returned `keeplist`, `clean` and `plan`, so back-to-back calls leave
  * the session as they found it.
  *
  * Trade: checkpoint blocks live only on the executors that wrote
  * them, so a lost executor fails the run instead of recomputing the
  * lost partitions — the same trade [[graft.ops.Components]] accepts
  * for its per-round labels.
  */
object CurationPipeline {

  case class Result(keeplist: DataFrame, clean: DataFrame,
    plan: DataFrame, stats: DataFrame)

  /** One gate of the chain: `name` is its stage label and its report
    * column's stem (`n_<name>_dropped`); `keep` maps the previous
    * survivors to this gate's, or is None when the caller left the gate
    * off. */
  private case class Gate(name: String, keep: Option[DataFrame => DataFrame])

  def run(spark: SparkSession, dir: String, buckets: Int = 8,
      lakePrefix: String = "curation",
      lmFloor: Option[Double] = None,
      dsirFloor: Option[Double] = None,
      dupRatioCap: Option[Double] = None,
      retrievalSeed: Option[Seq[String]] = None,
      retrievalTopK: Int = 1000,
      mixBudget: Option[Double] = None): Result = Release.scope {
    // 1. the q57 keep-list: survivors of the language, quality,
    //    exact-dedup and near-dup gates, with per-doc token counts
    val kept = Stage(spark, "keep")(Release.checkpoint(ops.Corpus.q57Kept(spark, dir)))

    // 2. the gates, in chain order
    val gates = Seq(
      // CCNet-style perplexity (q68): drop docs whose mean token
      // log-prob under the reference-slice unigram LM falls below the
      // floor, the off-distribution tail. The floor is a corpus-specific
      // tuning choice (CCNet picks its tail quantile per language).
      Gate("lm", lmFloor.map { f => in =>
        val scores = ops.Corpus.lmQuality(Tables.documents(spark, dir), ops.Corpus.refSlice)
          .select(col("doc_id"), col("avg_logp"))
        in.join(scores, Seq("doc_id")).filter(col("avg_logp") >= f).drop("avg_logp")
      }),
      // DSIR domain targeting (q71): drop docs whose summed log
      // importance ratio toward the reference slice is at or below the
      // floor (0.0 = "more target-like than corpus-like"). Target-slice
      // docs DEFINE the domain and carry no score (q71 scores only the
      // rest), so the left join passes them through.
      Gate("dsir", dsirFloor.map { f => in =>
        val w = ops.Corpus.dsirWeight(Tables.documents(spark, dir), ops.Corpus.refSlice)
          .select(col("doc_id"), col("log_w"))
        in.join(w, Seq("doc_id"), "left")
          .filter(col("log_w").isNull || col("log_w") > f).drop("log_w")
      }),
      // ExactSubstr (q78): drop docs whose repeated-substring coverage
      // exceeds the cap, Lee et al.'s boilerplate-heavy tail. Span stats
      // are corpus-wide: duplication is a property of the corpus, not of
      // the kept set (as q60's benchmark grams are).
      Gate("dup", dupRatioCap.map { cap => in =>
        val spans = ops.Corpus.q78DupSpans(spark, dir).select(col("doc_id"), col("dup_ratio"))
        in.join(spans, Seq("doc_id")).filter(col("dup_ratio") <= cap).drop("dup_ratio")
      }),
      // decontamination (q60), always on: q60 flags every non-benchmark
      // doc, so the inner join both drops the benchmark slice from the
      // corpus and keys the flag lookup
      Gate("decon", Some { in =>
        val decon = ops.Corpus.q60Decontaminate(spark, dir)
          .select(col("doc_id"), col("contaminated"))
        in.join(decon, Seq("doc_id")).filter(!col("contaminated")).drop("contaminated")
      }),
      // BM25 retrieval (q74): keep the global top `retrievalTopK` of
      // the survivors against the caller's seed query, the
      // retrieve-then-filter selection loop. It scores the survivors,
      // not the raw crawl, so df/avgdl describe the shippable corpus;
      // hence it comes after decontamination.
      Gate("retr", retrievalSeed.map { seed => in =>
        val hits = ops.Corpus.bm25TopDocs(
            Tables.documents(spark, dir).select(col("doc_id"), col("text"))
              .join(in.select(col("doc_id")), Seq("doc_id")),
            seed, retrievalTopK)
          .select(col("doc_id"))
        in.join(hits, Seq("doc_id"))
      }),
      // √-temperature source mix (q69) under a token budget of
      // total / `mixBudget`. Terminal: the budget and the source balance
      // are properties of what survived every filter, so the source
      // masses come from the survivors, not the raw corpus.
      Gate("mix", mixBudget.map { b => in =>
        val keep = ops.Sampling.mixKeep(
            in.select(col("doc_id"), col("source"), col("n_tok")), b)
          .filter(col("kept")).select(col("doc_id"))
        in.join(keep, Seq("doc_id"))
      }))

    // the survivors after each gate, `kept` first: each gate that is on
    // hands its survivors on as a checkpoint; one that is off hands on
    // its input itself, with no job
    val survivors = gates.scanLeft(kept) { (in, g) =>
      g.keep.fold(in)(step => Stage(spark, g.name)(Release.checkpoint(step(in))))
    }
    val clean = survivors.last

    // 3. chunk the survivors (not the raw corpus) into the training
    //    stream: the offsets/chunk ids a data loader consumes
    val plan = Stage(spark, "pack")(Release.checkpoint(ops.Corpus.packPlan(
      clean.select(col("doc_id"), col("n_tok")))))

    // 4. the shipped artifacts, bucketed on doc_id — the per-consumer
    //    re-shuffle is paid once here (LakeSpec pins exchange-free
    //    downstream joins for this layout)
    Stage(spark, "lake") {
      sources.Lake.writeBucketed(clean, s"${lakePrefix}_keeplist",
        "doc_id", buckets, Seq("doc_id"))
      sources.Lake.writeBucketed(plan, s"${lakePrefix}_chunks",
        "doc_id", buckets, Seq("doc_id"))
    }

    // 5. the report row, on the driver
    val stats = Stage(spark, "stats") {
      val totals = plan.agg(
        count(lit(1)).as("n_final"),
        coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"),
        coalesce(sum(when(col("split_doc"), 1L).otherwise(0L)), lit(0L))
          .as("n_split_docs")).head()
      // one count per distinct survivor frame (frames compare by
      // identity), each a checkpoint leaf whose RDD counts in one job
      // with no shuffle; `plan` has one row per survivor of the last gate
      val size = survivors.distinct
        .map(df => df -> (if (df eq clean) totals.getLong(0) else df.rdd.count())).toMap
      val figures = Seq(
          "n_docs" -> Tables.cachedRowCount(spark, dir, "documents"),
          "n_kept" -> size(kept)) ++
        totals.schema.fieldNames.map(f => f -> totals.getAs[Long](f)) ++
        gates.zip(survivors.zip(survivors.tail)).map { case (g, (in, out)) =>
          s"n_${g.name}_dropped" -> (size(in) - size(out)) }
      // n_chunks and split_frac are Spark expressions over the one row,
      // which the optimizer folds into the local relation
      spark.createDataFrame(java.util.List.of(Row(figures.map(_._2): _*)),
          StructType(figures.map(f => StructField(f._1, LongType, nullable = false))))
        .withColumn("n_chunks",
          ceil(col("n_tokens") / lit(ops.Corpus.ctxLen.toDouble)).cast("long"))
        .withColumn("split_frac",
          when(col("n_final") > 0,
            round(col("n_split_docs") * lit(1.0) / col("n_final"), 6))
            .otherwise(lit(0.0)))
    }
    Result(kept, clean, plan, stats)
  }
}
