package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-level text operators (SURVEY.md §2.E extension): per-document
  * salient terms (tf-idf) and the end-to-end corpus-curation pipeline —
  * the composition an LLM data pipeline actually ships (language gate →
  * quality gate → exact dedup → near-dup dedup → per-source mix
  * weights). Every stage reuses an already-oracled operator, and the
  * composed result is itself fully oracle-checked as one DuckDB query.
  *
  * Scale notes (100 TB): q56 is two hash aggregations keyed on
  * (doc, term) / term plus one broadcast scalar — the same shape as
  * word count; q57 is a chain of per-doc joins all keyed on doc_id
  * (one shuffle key end to end) over aggregates that are each a single
  * map-side-combined pass.
  */
object Corpus {

  /** The reference/benchmark document slice (`doc_id % 7 == 0`) shared
    * by q68's LM training fold, q71's DSIR target, q82's source prior
    * and the CurationPipeline gates — ONE definition so the Scala
    * sites can never drift apart (the oracle SQL spells the same
    * predicate textually; the oracle gate pins the two in sync). */
  private[graft] val refSlice: Column = col("doc_id") % 7 === 0

  /** q56: top-5 salient terms per document by tf-idf. The idf factor is
    * the log-free ratio N/df — `ln` is NOT identically rounded across
    * libm implementations, so the canonical log spelling would flake
    * the oracle; the ratio preserves the ranking semantics (monotone in
    * df) and keeps every score an exact integer ratio.
    * score = c·N / (df·len_d), ranked per doc (desc, term asc). */
  def q56TfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // tf feeds the length agg, the df agg and the final join — one
    // shuffle to build, three readers
    val tf = Release.cache(tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c")))
    val len = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("len"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(len, "doc_id").join(dfq, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("c"), col("df"),
        Exact.r(col("c") * col("n") * lit(1.0) / (col("df") * col("len")), 6)
          .as("tfidf"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** q57: corpus curation end to end — keep a document iff
    *  (1) language gate: q37's marker vote says 'en',
    *  (2) quality gate: q38's score ≥ 0.5 (on the rounded score, and
    *      the oracle filters on the identical rounded expression),
    *  (3) exact-dedup canonical: doc_id = min(doc_id) of its md5 group,
    *  (4) near-dup survivor: not a non-keeper of a q55 cluster;
    * then report per-source doc counts, token counts and the mix weight
    * (source tokens / kept tokens) — the sampling weights a training
    * run consumes. */
  def q57CorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val kept = q57Kept(spark, dir)
    // agg feeds the total and the final projection — cache, not recompute
    val agg = Release.cache(kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")))
    val tot = agg.agg(sum(col("n_tokens")).as("tot"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Exact.r(col("n_tokens") * lit(1.0) / col("tot"), 6).as("weight"))
      .orderBy(col("source"))
  }

  /** The per-document KEEP-LIST behind q57 — the artifact a curation
    * run actually ships to training: every document surviving the
    * language gate, quality gate, exact-dedup canonicalization and
    * near-dup survivor pass, with its source / token count / quality.
    * [[graft.pipeline.CurationPipeline.run]] gates it further and
    * persists the survivors (and their packing plan) bucketed on doc_id
    * so downstream per-doc joins are exchange-free. */
  private[graft] def q57Kept(spark: SparkSession, dir: String): DataFrame = {
    // language + quality gates share ONE scan and ONE tokenization —
    // the same gate expressions q37/q38 are built from, projected
    // together instead of materializing two operators and joining them
    val gated = Text.withQualityParts(
        Text.withLangCounts(Tables.documents(spark, dir)
          .withColumn("t", split(col("text"), " "))))
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
        Text.langPredCol.as("lang_pred"), Text.qualityCol.as("quality"),
        col("n_tok"))
    val exKeep = Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    // unsorted core: q55's presentation sort would be a wasted
    // exchange+sort below this doc_id-keyed join
    val nd = Dedup.q55Core(spark, dir).select(col("doc_id"), col("keep"))
    gated
      .join(exKeep, "h")
      .join(nd, Seq("doc_id"), "left")
      .filter(col("lang_pred") === "en" && col("quality") >= 0.5 &&
        col("doc_id") === col("keep_id") && coalesce(col("keep"), lit(true)))
      .select(col("doc_id"), col("source"), col("n_tok"), col("quality"))
  }

  /** Word 8-gram shingles, distinct per doc — the decontamination grain
    * (3-grams collide on common phrases; 8+ tokens of verbatim overlap
    * is the standard benchmark-leak test). */
  private[graft] val grams8Expr =
    """flatten(transform(array(split(text, ' ')),
      | t -> CASE WHEN size(t) >= 8 THEN
      |   array_distinct(transform(sequence(1, size(t) - 7),
      |     i -> concat_ws(' ', slice(t, i, 8))))
      |  ELSE array() END))""".stripMargin

  private val grams8Sql =
    """SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 7, 0) + 1),
      |      i -> array_to_string(t[i:i+7], ' ')))) AS g8
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""".stripMargin

  /** q60: benchmark decontamination — flag every corpus document that
    * shares at least one verbatim word-8-gram with the held-out
    * "benchmark" subset (stand-in: doc_id ≡ 0 mod 23, a fixed ~4%
    * slice — in production this side is the actual eval-suite text).
    * The pre-training step every serious pipeline runs: training on
    * benchmark text invalidates the benchmark.
    *
    * Scale: the benchmark gram set is tiny next to the corpus (eval
    * suites are MBs, corpora are TBs) — AQE broadcasts it and the
    * corpus grams stream past in their one scan; the semi-join count
    * never shuffles the corpus side. At extreme scale the broadcast
    * degrades to a shuffle join keyed on the gram — or a Bloom-filter
    * pushdown, same plan shape. */
  def q60Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // NO corpus-sized cache: the benchmark slice and the corpus slice
    // each explode their OWN scan (disjoint doc_id filters — one full
    // explode of the corpus total, split across two projection-only
    // passes), and gram sizes + benchmark hits fold into ONE aggregation
    // over a membership left-join instead of two reads of a cached gram
    // table. At 100 TB the exploded grams are ~8× corpus tokens — a
    // cache would spill its way through the job; this shape never
    // materializes them anywhere.
    val benchGrams = Tables.documents(spark, dir)
      .filter(col("doc_id") % 23 === 0)
      .select(explode(expr(grams8Expr)).as("g8")).distinct()
      .withColumn("hit", lit(1L))
    val corpus = Tables.documents(spark, dir)
      .filter(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), explode(expr(grams8Expr)).as("g8"))
    // bench g8 is distinct ⇒ the left join preserves corpus row counts;
    // AQE broadcasts the (small — eval suites are MBs) bench side and
    // degrades to a shuffle join keyed on the gram past that
    val stats = corpus.join(benchGrams, Seq("g8"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q61: within-document repetition ratio — the Gopher-class quality
    * rule (excessively duplicated n-grams ⇒ boilerplate/spam): share of
    * a doc's trigram instances that are repeats of an earlier trigram,
    * flagged past 0.3. A pure per-row projection over codegen'd array
    * HOFs — ZERO shuffles at any scale; both gram counts come from the
    * one token array already bound as a lambda variable. */
  def q61RepetitionRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_total",
        greatest(size(split(col("text"), " ")) - 2, lit(0)).cast("long"))
      .withColumn("n_distinct", size(expr(Text.shinglesExpr)).cast("long"))
      .select(col("doc_id"), col("n_total"), col("n_distinct"),
        when(col("n_total") > 0,
          Exact.r(lit(1.0) - col("n_distinct") * lit(1.0) / col("n_total"), 6))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .withColumn("flagged", col("rep_ratio") > 0.3)
      .orderBy(col("doc_id"))

  /** Context length for the q62 packing plan — the chunk width a
    * pretraining data loader fills. */
  private[graft] val ctxLen = 2048L

  /** q62: concat-and-chunk packing plan — THE data-loader step of LLM
    * pretraining: documents are concatenated in a deterministic order
    * (doc_id) and cut into fixed `ctxLen`-token chunks; each doc's
    * global token offset decides which chunk(s) it lands in and
    * whether the cut splits it. Emitted per doc: start offset, first
    * chunk id, chunks spanned, and the split flag (the fraction of
    * split docs is the statistic packing papers report).
    *
    * Scale: the global running token sum is NOT a single-partition
    * window — it is [[Ranking]]'s two-pass exclusive-offset primitive
    * (range-bucket by doc_id, ≤1024-row per-bucket totals folded on
    * the driver, then a bucket-partitioned parallel window), the same
    * scale-safe global ordering q27/q28 use. Bit-identical to the
    * naive window; PlanSpec pins the absence of any SinglePartition
    * exchange. Chunk arithmetic is exact integer DIV in both engines. */
  def q62PackChunks(spark: SparkSession, dir: String): DataFrame =
    packPlan(Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok")))
      .orderBy(col("doc_id"))

  /** The packing-plan core behind q62, reusable over ANY (doc_id,
    * n_tok) set — [[graft.pipeline.CurationPipeline]] packs only the
    * docs that survived curation, not the raw corpus. Same scale-safe
    * two-pass offsets; no sort (callers order or bucket as needed). */
  private[graft] def packPlan(toks: DataFrame): DataFrame = {
    val bucketed = Ranking.withRangeBucket(toks, "doc_id", descending = false)
    val off = Ranking.exclusiveOffsets(bucketed,
      Map("tok" -> sum(col("n_tok"))))("tok")
    val w = Window.partitionBy(col("_b")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("start_off", off + sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col("doc_id"), col("n_tok"), col("start_off"),
        expr(s"start_off DIV $ctxLen").as("chunk_id"),
        expr(s"((start_off + n_tok - 1) DIV $ctxLen) - (start_off DIV $ctxLen) + 1")
          .as("n_chunks"),
        expr(s"(start_off DIV $ctxLen) != ((start_off + n_tok - 1) DIV $ctxLen)")
          .as("split_doc"))
  }

  /** Words per "line" for q63 — the synthetic docs carry no newlines,
    * so a fixed 10-word window stands in for the line/paragraph grain. */
  private val lineLen = 10

  /** q63: LINE-level dedup — the sub-document grain between exact
    * doc dedup (q30) and near-dup (q32): a line whose verbatim text
    * recurs more than twice across the corpus is boilerplate
    * (headers, navigation, license blocks) and is dropped from every
    * document; per doc we emit total/boilerplate line counts, the
    * token count surviving the cut, and the boilerplate ratio. This is
    * the CCNet/C4 paragraph-hash pass every crawl pipeline runs before
    * doc-level near-dup.
    *
    * Scale: two hash shuffles total — line-instance counts (map-side
    * partial agg collapses repeats before the shuffle), and the
    * per-doc rollup on doc_id. The hot-line table (df > 2 — the tiny
    * boilerplate head of the df distribution) joins back small, so AQE
    * broadcasts it; the line table itself never shuffles for the
    * membership test. Same bounded-head pattern as q31's df cap and
    * q60's benchmark-gram set. */
  def q63LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val linesBase = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $lineLen.0) as int) - 1),
           | i -> concat_ws(' ', slice(w, i * $lineLen + 1, $lineLen)))"""
          .stripMargin)).as("line"))
    // The line table feeds the df aggregation AND the per-doc rollup,
    // but it is ~1× corpus size — an unconditional cache would
    // spill-thrash at 100 TB. Footer-count gate (statistics-only, like
    // q22/q29's broadcast gates): cache while the corpus is modest,
    // recompute the projection-only explode (one extra scan) past it.
    val cacheDocLimit = 10L * 1000 * 1000
    val lines =
      if (Tables.cachedRowCount(spark, dir, "documents") <= cacheDocLimit)
        Release.cache(linesBase)
      else linesBase
    val hot = lines.groupBy(col("line")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 2)
      .select(col("line"), lit(1).as("boiler"))
    lines.join(hot, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        coalesce(sum(col("boiler")), lit(0)).cast("long").as("n_boiler"),
        coalesce(sum(when(col("boiler").isNull,
          size(split(col("line"), " ")).cast("long")).otherwise(0L)), lit(0L))
          .as("n_kept_tokens"))
      .withColumn("boiler_ratio",
        Exact.r(col("n_boiler") * lit(1.0) / col("n_lines"), 6))
      .orderBy(col("doc_id"))
  }

  /** q68: unigram language-model quality scoring — the CCNet-class
    * perplexity filter between q38's surface heuristics and a trained
    * classifier: score every document by the average log-probability of
    * its tokens under a unigram LM fit on a clean REFERENCE slice
    * (stand-in: doc_id ≡ 0 mod 7; in production this side is the
    * Wikipedia-class corpus CCNet trains KenLM on). Emitted per doc:
    * token count, out-of-vocabulary token count (OOV falls back to the
    * 1/t floor — rarer than every seen word), mean and minimum token
    * log-prob. Low avg_logp ⇒ off-distribution text; min_logp is the
    * rarest-token signal.
    *
    * Oracle exactness: `ln` is the one non-portable step — Spark's
    * StrictMath.log (fdlibm) and DuckDB's libm differ by ≤1 ulp on some
    * inputs (measured; why q56 avoids ln for its adversarially tie-prone
    * integer-ratio ranking). Here ln touches ONLY the vocab-sized side
    * (hundreds of rows, not the corpus), each value quantizes through
    * [[Exact.r]] at 6dp to DECIMAL(18,6), and every per-SF vocab ratio
    * was measured ≥1e-3 from a rounding boundary vs the ~1e-9 ulp
    * discrepancy scale — the flake window is ~1e-9 per vocab word, and
    * all downstream sums are exact decimals.
    *
    * Scale: the LM side is a bounded curation artifact (reference
    * corpora are GBs against corpus TBs) — its vocab aggregation
    * map-side-combines to ~|vocab| rows per partition before the
    * shuffle, and AQE broadcasts the scored vocab to the corpus-side
    * join (a genuinely huge vocab would be high-cardinality, so the
    * shuffle-join fallback has no skew). The corpus streams through one
    * projection-only explode into the per-doc aggregation — nothing
    * corpus-sized is cached or collected, same shape as q60. */
  def q68LmQuality(spark: SparkSession, dir: String): DataFrame =
    lmQuality(Tables.documents(spark, dir), refSlice)
      .orderBy(col("doc_id"))

  /** The scoring core behind q68 over ANY documents frame — `isRef`
    * marks the rows the unigram LM trains on; every row (reference
    * included) is scored. Split out so specs can exercise the OOV
    * fallback, which is dead on the generated corpora (the reference
    * slice sees the whole vocab at every SF). */
  private[graft] def lmQuality(docs: DataFrame, isRef: Column): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    // vocab feeds the lp table AND two tot derivations (lp's normalizer,
    // the OOV floor) — cache it or each branch re-scans the reference
    // slice. The table is vocab-sized (bounded LM artifact), never
    // corpus-sized, so the cache is scale-safe.
    val vocab = Release.cache(tok.filter(isRef).groupBy(col("w"))
      .agg(count(lit(1)).as("c")))
    val tot = vocab.agg(sum(col("c")).as("t"))
    val lp = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        Exact.r(log(col("c") * lit(1.0) / col("t")), 6)
          .cast("decimal(18,6)").as("lp"))
    val oov = tot.select(
      Exact.r(log(lit(1.0) / col("t")), 6).cast("decimal(18,6)").as("lp_oov"))
    tok.join(lp, Seq("w"), "left").crossJoin(broadcast(oov))
      .select(col("doc_id"), col("lp").isNull.as("is_oov"),
        coalesce(col("lp"), col("lp_oov")).as("lpc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("is_oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("lpc")).as("s"), min(col("lpc")).as("m"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        Exact.r(col("s").cast("double") / col("n_tok"), 6).as("avg_logp"),
        col("m").cast("double").as("min_logp"))
  }

  // --- q71: DSIR importance reweighting ----------------------------
  /** Word uni+bigram enumeration (every occurrence, NOT distinct — the
    * feature counts are frequencies). The DuckDB twin is spelled in the
    * q71 oracle; both engines tokenize with the same split-on-space. */
  private[graft] val grams12Expr =
    """flatten(transform(array(split(text, ' ')),
      | t -> concat(t, CASE WHEN size(t) >= 2 THEN
      |   transform(sequence(1, size(t) - 1),
      |     i -> concat_ws(' ', slice(t, i, 2)))
      |  ELSE array() END)))""".stripMargin

  private[graft] val DsirBuckets = 4096

  /** The fitted halves of the q71 core: the per-(doc, bucket) count
    * frame of the raw (to-be-scored) side, the ≤B-row quantized
    * log-ratio table, and the one-row (tt, rr) gram totals. Split from
    * [[dsirWeight]] so [[dsirTable]] can ship the ratio table to the
    * streaming twin without duplicating the fit. */
  private[graft] def dsirModel(docs: DataFrame, isTarget: Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val B = DsirBuckets
    def grams(f: Column) = docs.filter(f)
      .select(col("doc_id"), explode(expr(grams12Expr)).as("gram"))
      .select(col("doc_id"),
        (Exact.portableHash(col("gram"), 8) % B).as("b"))
    // the target bucket-count table is ≤B rows after the map-side
    // combine — a bounded curation artifact like q68's vocab, so
    // caching it (to feed both the ratio table and its totals) is
    // scale-safe.
    val tc = Release.cache(grams(isTarget).groupBy(col("b"))
      .agg(count(lit(1)).as("ct")))
    // ONE corpus pass: per-(doc, bucket) gram counts. md5-bucketing
    // every gram is the CPU hot spot (measured: a
    // separate-counts-scan + separate-scoring-scan shape ran 23 s at
    // sf1, ~3× its q60 sibling), so the raw side aggregates once and
    // BOTH consumers — the bucket distribution and the per-doc
    // scoring — read this same shuffle via AQE exchange reuse. The
    // intermediate is shuffle-spilled, never cached: ~docs ×
    // min(grams/doc, B) rows, strictly smaller than the gram stream.
    val perDoc = grams(!isTarget).groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("n"))
    val rc = perDoc.groupBy(col("b")).agg(sum(col("n")).as("cr"))
    val tot = tc.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
      .crossJoin(rc.agg(coalesce(sum(col("cr")), lit(0L)).as("rr")))
    // Laplace-smoothed per-bucket log importance ratio. ln touches ONLY
    // this ≤B-row side (the q68 lesson: StrictMath vs libm is ±1 ulp ⇒
    // never put ln on an oracled corpus-sized column); one 6dp
    // quantization per bucket, all downstream sums exact decimals.
    val lw = tc.join(rc, Seq("b"), "full")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        Exact.r(log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + lit(B.toDouble)))
              - log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("rr") + lit(B.toDouble))), 6)
          .cast("decimal(18,6)").as("lw"))
    (perDoc, lw, tot)
  }

  /** The scoring core behind q71 over ANY documents frame — `isTarget`
    * marks the rows whose n-gram distribution defines the target
    * domain; every OTHER row is scored. Split out so specs can drive
    * synthetic distributions through it. */
  private[graft] def dsirWeight(docs: DataFrame, isTarget: Column): DataFrame = {
    val (perDoc, lw, _) = dsirModel(docs, isTarget)
    perDoc.join(broadcast(lw), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_grams"), sum(col("n") * col("lw")).as("s"))
      .select(col("doc_id"), col("n_grams"),
        col("s").cast("double").as("log_w"),
        (col("s").cast("double") > 0).as("keep"))
  }

  /** q71: DSIR-style data selection — importance reweighting of the raw
    * corpus toward a target domain (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hash word
    * uni+bigrams into 4096 buckets, fit smoothed bucket distributions
    * on the target slice (stand-in: doc_id ≡ 0 mod 7, the same clean
    * reference slice q68's LM trains on) and on the raw rest, and score
    * every raw document by its summed per-gram log importance ratio
    * log p_target(b) − log p_raw(b). Positive log_w ⇒ the document
    * looks more target-like than corpus-like ⇒ keep. This is the
    * data-SELECTION step between q68's quality filter and training —
    * DSIR picks documents that match a domain, not just fluent ones.
    *
    * Scale: the corpus is exploded and md5-bucketed exactly ONCE — the
    * raw side aggregates to per-(doc, bucket) counts whose shuffle
    * both downstream consumers reuse (AQE ReusedExchange); nothing
    * corpus-sized is cached or collected. The count aggregations
    * map-side-combine, so the bucket-distribution shuffles are
    * negligible at any SF; the ratio table broadcasts (bounded by the
    * bucket count, not the data). The
    * trailing determinism orderBy sorts doc-count-sized aggregated
    * rows ABOVE a materialized shuffle, so AQE's exchange reuse feeds
    * the range sampler — no q70-style double scan. */
  def q71DsirWeight(spark: SparkSession, dir: String): DataFrame =
    dsirWeight(Tables.documents(spark, dir), refSlice)
      .orderBy(col("doc_id"))

  /** Driver-side handoff of the q71 DSIR model for the streaming twin
    * ([[graft.streaming.EventStream.dsirScoreStream]]): the quantized
    * bucket→log-ratio table as 6dp-scaled longs, plus the unseen-bucket
    * prior — the ratio of a bucket with zero counts on BOTH sides,
    * quantized through the same StrictMath + floor(x·1e6 + 0.5) grid
    * the in-plan `Exact.r(log …, 6)` lands on. ≤B rows + one totals row
    * collected; bounded by the bucket count, never corpus-sized (the
    * lmVocab / IVF centroid shipping pattern). */
  def dsirTable(spark: SparkSession, dir: String): (Map[Long, Long], Long) = {
    val (_, lw, tot) = dsirModel(
      Tables.documents(spark, dir), refSlice)
    val m = lw.collect().map(r => r.getLong(0) ->
      r.getDecimal(1).movePointRight(6).longValueExact()).toMap
    val t = tot.collect().head
    val (tt, rr) = (t.getLong(0), t.getLong(1))
    val prior = math.floor(
      (StrictMath.log(1.0 / (tt + DsirBuckets)) -
        StrictMath.log(1.0 / (rr + DsirBuckets))) * 1e6 + 0.5).toLong
    (m, prior)
  }

  /** The q68 unigram LM as a driver-shippable artifact: the top-K word
    * counts plus the FULL-vocab token total. Keeping `total` full-vocab
    * means capped-in words score bit-identically to batch q68 (their
    * probability c/t is unchanged) and capped-OUT words degrade to the
    * existing OOV floor ln(1/t) — exactly the path the StreamingSpec
    * OOV case exercises. */
  final case class LmVocab(counts: Map[String, Long], total: Long)

  /** Default lmVocab cap: CCNet-style LM pruning keeps O(10⁵) head
    * words; past this the tail is hapax noise that scores within one
    * OOV floor anyway. Bounds the driver collect and the plan-literal
    * task binary no matter the corpus (a real crawl's reference slice
    * carries 10⁷–10⁸ raw types — an ungated collect is a driver OOM). */
  private[graft] val lmVocabTopK = 1 << 18

  /** Driver-side handoff of the q68 unigram LM for the streaming twin
    * ([[graft.streaming.EventStream.lmScoreStream]]): reference-slice
    * word counts CAPPED to the top `topK` by (count desc, word) — a
    * distributed TakeOrderedAndProject, so the driver never sees more
    * than topK rows regardless of corpus scale — plus the full-vocab
    * total from a separate 1-row aggregate over the same map-side-
    * combined count shuffle. Deterministic: ties break on the word. */
  def lmVocab(spark: SparkSession, dir: String,
      topK: Int = lmVocabTopK): LmVocab = {
    // head selection + the total read the same vocab-sized agg
    val counts = Release.cache(Tables.documents(spark, dir).filter(refSlice)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val head = counts.orderBy(col("c").desc, col("w")).limit(topK)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.agg(coalesce(sum(col("c")), lit(0L)).as("t"))
      .collect().head.getLong(0)
    Release.uncache(counts)
    LmVocab(head, total)
  }

  /** q74: BM25 top-k retrieval over the corpus — the ranked-search
    * primitive a curation stack uses for quality-targeted selection
    * (retrieve-then-filter against a seed query, the retrieval half of
    * every RAG/data-selection loop; Robertson & Spärck Jones's
    * Okapi BM25, k1 = 1.2, b = 0.75). Scores every document against the
    * fixed query term set and returns the global top `bm25TopK` by
    * (score desc, doc_id).
    *
    * Oracle exactness: `ln` touches only the QUERY-TERM-sized idf side
    * (|Q| rows; q68's rule — quantize at 6dp to DECIMAL(18,6), CorpusSpec
    * checks every idf's distance from its rounding boundary dwarfs the
    * ≤1-ulp libm disagreement); avgdl is a ratio of exact integer sums;
    * the per-(doc,term) partial scores are pure IEEE doubles of integer
    * inputs quantized to DECIMAL(28,12) before the per-doc sum (≤|Q|
    * terms, order-independent); the final score rounds at 6dp with
    * doc_id tie-breaks, so the top-k cut is deterministic in both
    * engines.
    *
    * Scale: tf is one map-side-combined agg over tokens FILTERED to the
    * query terms before the shuffle (the explode emits |Q|-matched rows
    * only); idf/avgdl are broadcast one-row/|Q|-row sides; the global
    * top-k is a TakeOrderedAndProject (per-partition partial top-k, no
    * single-partition window) — the rank column is assigned AFTER the
    * k-row cut. */
  def q74Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25TopDocs(Tables.documents(spark, dir), bm25Query, bm25TopK)

  /** The q74 scoring core over an arbitrary `(doc_id, text)` frame and
    * query term set — shared by [[q74Bm25TopK]] (whole corpus, fixed
    * operator parameters) and `CurationPipeline`'s retrieval gate
    * (post-decontamination survivors scored against a caller seed, so
    * df/avgdl reflect the shippable corpus). Exactness and scale notes
    * on [[q74Bm25TopK]]. */
  private[graft] def bm25TopDocs(docs: DataFrame, query: Seq[String],
      topK: Int): DataFrame = {
    // dl feeds the corpus stats AND the per-doc length normalization; tf
    // feeds the df/idf side AND the scoring join — cache both (doc-sized
    // 2-3 column tables, text column dropped, so the cache is scale-safe)
    // or each consumer re-scans the corpus: 5 scans become 2
    val dl = Release.cache(docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl")))
    val st = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("td"))
    val tf = Release.cache(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(st))
      .select(col("term"),
        Exact.r(log((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)), 6).cast("decimal(18,6)").as("idf"))
    val scored = tf.join(broadcast(idf), "term").join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"),
        (col("idf").cast("double") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") / (col("td") * lit(1.0) / col("nd")))))
          .cast("decimal(28,12)").as("s"))
      .groupBy(col("doc_id"))
      .agg(Exact.r(sum(col("s")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
    // rank over the already-cut k rows — a k-row single partition, not
    // a corpus-wide sort
    scored.withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .orderBy(col("rk"))
  }

  private[graft] val bm25Query = Seq("spark", "hash", "join", "window")
  private[graft] val bm25TopK = 100

  /** q78: exact repeated-substring spans — the relational form of the
    * suffix-array ExactSubstr dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): the dedup grain
    * BETWEEN q30's whole-doc hash and q63's line pass. A position is
    * duplicated when the word-8-gram starting there occurs ≥2 times in
    * the WHOLE corpus (the suffix-array "substring occurs twice"
    * criterion at gram granularity, stride 1, positions kept — unlike
    * q60's distinct-gram set); flagged positions merge into maximal
    * covered spans (positions ≤8 apart share coverage), and each doc
    * reports its span count, covered-token mass, longest span and
    * coverage ratio — the mask an ExactSubstr pass would cut.
    *
    * Portability: everything is integer arithmetic (positions, span
    * algebra) except the final coverage ratio (6dp) — no ln, no margin
    * audit. Scale: the per-(doc,pos) gram stream is projection-only and
    * NEVER cached (q60's rule); it reaches exactly ONE exchange — the
    * map-side-combined occurrence count — and the aggregated dup-gram
    * list joins back as a broadcast build side, so raw positions are
    * never shuffled by gram (pinned in PlanSpec; at a corpus where the
    * dup-gram list outgrows broadcast, AQE falls back to a shuffle join
    * keyed on the gram — the skew-safe shape); span merging windows
    * within each doc (doc-sized partitions, no global sort).
    *
    * Gram identity is a 57-bit INTEGER fingerprint, not the gram string:
    * each word hashes once through the portable 48-bit md5 prefix, and
    * the position's 8 word hashes fold through an exact integer
    * polynomial (acc·31 + w mod [[exactSubstrPrime]] — every
    * intermediate < 2⁶², so no overflow in either engine and no ANSI
    * trap). This keeps the count exchange and its map-side hash table
    * at 8 bytes/key instead of a ~50-byte string (measured 3.0× on the
    * whole operator at sf1: 38.9 → 12.9 s; 3.1× at sf10: 217 → 70 s,
    * and the per-10× band drops to ~5.5×), and md5 runs per WORD, not
    * per gram — the gram stream itself is pure integer ops. The same
    * fold is spelled in the oracle, so collisions (birthday ~2²⁸·⁵
    * grams; vanishing at test SFs, ~1e-6 of positions at a 10¹² gram
    * corpus) are engine-identical — the practical ExactSubstr
    * trade (Lee et al. hash their suffix content too). */
  def q78DupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val whExpr =
      "transform(split(text, ' '), w -> CAST(conv(substring(md5(w), 1, 12), 16, 10) AS BIGINT))"
    val foldExpr = (1 to 7).foldLeft("element_at(wh, CAST(i AS INT))")((acc, k) =>
      s"(($acc * 31 + element_at(wh, CAST(i AS INT) + $k)) % $exactSubstrPrime)")
    val grams = expr(
      s"""CASE WHEN size(wh) >= 8 THEN
         |  transform(sequence(1, size(wh) - 7),
         |    i -> struct(i AS p, ($foldExpr) AS g))
         | ELSE array() END""".stripMargin)
    val pos = docs.withColumn("wh", expr(whExpr))
      .select(col("doc_id"), explode(grams).as("pg"))
      .select(col("doc_id"), col("pg.p").cast("long").as("p"), col("pg.g").as("g"))
    val dup = pos.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val flagged = pos.join(dup, "g")
      .withColumn("prev", lag(col("p"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("p") - col("prev") > 8, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = flagged.groupBy(col("doc_id"), col("isl"))
      .agg((max(col("p")) + 7 - min(col("p")) + 1).as("len"))
    val per = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("len")).as("dup_tokens"),
        max(col("len")).as("longest_span"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"),
        Exact.r(coalesce(col("dup_tokens"), lit(0L)) * lit(1.0) / col("n_tok"), 6)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q81: PMI collocations — pointwise mutual information over
    * consecutive word pairs, the phrase-mining / collocation statistic
    * a tokenizer-vocab or quality pipeline runs over the corpus
    * (Church & Hanks 1990): PMI(a,b) = ln(c_ab·N / (c_a·c_b)), floored
    * at `pmiMinCount` co-occurrences, top `pmiTopK` by (pmi desc, pair).
    *
    * Exactness: the ratio is computed in DOUBLES from the start —
    * `(c_ab·1.0·N)/(c_a·1.0·c_b)` — because the integer product c_ab·N
    * can overflow int64 at corpus scale, where DuckDB errors while
    * non-ANSI Spark wraps (a silent divergence); double arithmetic is
    * identical in both engines at any scale. ln touches only the
    * bigram-VOCAB-sized result (vocab², corpus-bounded — q68's rule),
    * 6dp-quantized, margins spec-audited. Scale: ONE map-side-combined
    * aggregation over the pair stream (the only corpus-grain work);
    * unigram masses and the pair total derive from the vocab-sized
    * count table and reach the floored bigrams through UNHINTED joins
    * (AQE-planned — never a forced vocab-sized broadcast); global
    * top-k via TakeOrderedAndProject. */
  def q81PmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // tokenize ONCE per row via the lambda-bound array-wrap (the
    // shinglesExpr idiom, Text.scala) — split() spelled inline in the
    // transform lambda re-evaluates per element (O(len²) per doc;
    // measured dominating the whole query, sf1 24.5 s → 4.3 s fixed)
    val pairExpr = expr(
      """flatten(transform(array(split(text, ' ')),
        | t -> CASE WHEN size(t) >= 2 THEN
        |   transform(sequence(1, size(t) - 1),
        |     i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))
        |  ELSE array() END))""".stripMargin)
    val pairs = docs.select(explode(pairExpr).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // ONE corpus explode + ONE corpus-grain shuffle to (a,b); unigram
    // masses and the pair total then derive from the bigram-VOCAB-sized
    // count table (cw = Σ_b cab(w,·) + Σ_a cab(·,w), n = Σ cab — exact
    // integer identities) instead of re-exploding the corpus three more
    // times. The cache is vocab²-sized (corpus-bounded).
    val cabAll = Release.cache(pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab")))
    val cab = cabAll.filter(col("cab") >= pmiMinCount)
    // Unigram masses sum over ALL bigrams (the PMI denominator is the
    // corpus-wide marginal). The raw type inventory of a web-scale
    // crawl is 10⁸-10⁹ words, so a forced broadcast of this table
    // (which overrides every size gate) is an executor OOM at the
    // target scale — the masses flow through UNHINTED joins instead:
    // the shuffle join streams only the floored vocabulary's rows by
    // the join keys themselves (no pre-shrink pass needed), and AQE
    // converts to broadcast only when the runtime size says it's safe.
    val uni = cabAll.select(col("a").as("w"), col("cab"))
      .unionAll(cabAll.select(col("b").as("w"), col("cab")))
      .groupBy(col("w")).agg(sum(col("cab")).as("cw"))
    val n = cabAll.agg(coalesce(sum(col("cab")), lit(0L)).as("n"))
    val scored = cab
      .join(uni.select(col("w").as("a"), col("cw").as("ca")), "a")
      .join(uni.select(col("w").as("b"), col("cw").as("cb")), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("cab"),
        Exact.r(log(col("cab") * lit(1.0) * col("n") /
          (col("ca") * lit(1.0) * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(pmiTopK)
    scored.withColumn("rk", row_number().over(
        Window.orderBy(col("pmi").desc, col("a"), col("b"))).cast("long"))
      .orderBy(col("rk"))
  }

  private[graft] val pmiMinCount = 5L
  private[graft] val pmiTopK = 100

  /** Largest-below-2⁵⁷ prime for q78's gram fingerprint fold: acc < p
    * keeps acc·31 + w < 2⁶² — exact int64 in both engines, no wraparound
    * (Spark ANSI would throw; DuckDB errors), 57-bit collision space. */
  private[graft] val exactSubstrPrime = 144115188075855859L

  /** q82: per-source KL divergence from the global unigram
    * distribution — the corpus-drift audit a data team runs per
    * ingest source (a source whose word distribution diverges from
    * the corpus is mislabeled, contaminated, or a different register;
    * the monitoring statistic behind "did this crawl batch change?").
    * KL(P_s ‖ Q) = Σ_w P_s(w)·ln(P_s(w)/Q(w)) over the source's seen
    * vocabulary (P_s(w) > 0 everywhere it contributes, and Q(w) > 0
    * whenever P_s(w) > 0 by construction — no smoothing needed).
    *
    * Exactness: the probability ratio collapses to the integer-derived
    * double chain (c_sw·1.0·T)/(T_s·1.0·c_w) — doubles from the start
    * (q81's overflow rule); ln runs on (source × vocab)-sized rows
    * only (bounded vocabulary artifact, q68's rule), quantizes at 6dp,
    * multiplies by the per-source probability and sums as exact
    * DECIMAL(28,12) — order-independent. Scale: one map-side-combined
    * aggregation over one token stream (per-(source,word) — the corpus
    * scans once); the per-word masses are a WINDOW sum partitioned by
    * w over that frame (≤ |sources| rows per partition key by
    * construction — skew-immune, and never a vocab-sized table, let
    * alone a forced broadcast of one); the tiny per-source totals
    * broadcast. */
  def q82SourceKl(spark: SparkSession, dir: String): DataFrame = {
    // vocab-sized (|sources|×|vocab|); feeds three rollups
    val sw = Release.cache(Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("csw")))
    val ts = sw.groupBy(col("source")).agg(sum(col("csw")).as("ts"))
    val t = sw.agg(sum(col("csw")).as("t"))
    // The per-word corpus mass c_w = Σ_s c_sw never materializes as a
    // |vocab|-sized TABLE at all (a forced broadcast of one is the q81
    // OOM hazard — 10⁸-10⁹ raw types on a web crawl; even a shuffle
    // join pays an extra aggregate + join stage): it's a window sum
    // over the (source, word) frame partitioned by w, where each
    // partition key holds at most |sources| rows BY CONSTRUCTION —
    // one shuffle, skew-immune at any vocabulary size. |sources| is
    // tiny, so the ts/t broadcasts stay.
    sw.withColumn("cw", sum(col("csw")).over(Window.partitionBy(col("w"))))
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(t))
      .select(col("source"), col("ts"),
        ((col("csw") * lit(1.0) / col("ts")) *
          Exact.r(log(col("csw") * lit(1.0) * col("t") /
            (col("ts") * lit(1.0) * col("cw"))), 6))
          .cast("decimal(28,12)").as("term"))
      .groupBy(col("source"))
      .agg(max(col("ts")).as("n_tokens"),
        Exact.r(sum(col("term")).cast("double"), 6).as("kl"))
      .orderBy(col("source"))
  }

  private def sourceKlOracleSql: String =
    """WITH sw AS (SELECT source, w, count(*) AS csw FROM
      |   (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY 1, 2),
      | cw AS (SELECT w, CAST(sum(csw) AS BIGINT) AS cw FROM sw GROUP BY 1),
      | ts AS (SELECT source, CAST(sum(csw) AS BIGINT) AS ts FROM sw GROUP BY 1),
      | t AS (SELECT CAST(sum(cw) AS BIGINT) AS t FROM cw),
      | terms AS (SELECT source, ts,
      |   CAST((csw * 1.0 / ts) *
      |     (floor(ln(csw * 1.0 * t / (ts * 1.0 * cw)) * 1e6 + 0.5) / 1e6)
      |    AS DECIMAL(28,12)) AS term
      |  FROM sw JOIN cw USING (w) JOIN ts USING (source) CROSS JOIN t)
      |SELECT source, max(ts) AS n_tokens,
      | floor(CAST(sum(term) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kl
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  private def pmiOracleSql: String =
    s"""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
      | p AS (SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |     i -> struct_pack(a := t[i], b := t[i + 1]))) AS pr
      |  FROM tk),
      | pairs AS (SELECT pr.a AS a, pr.b AS b FROM p),
      | cab AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY 1, 2
      |   HAVING count(*) >= $pmiMinCount),
      | uni AS (SELECT w, count(*) AS cw FROM
      |   (SELECT a AS w FROM pairs UNION ALL SELECT b FROM pairs) GROUP BY 1),
      | n AS (SELECT count(*) AS n FROM pairs),
      | s AS (SELECT a, b, cab,
      |   floor(ln(cab * 1.0 * n / (ua.cw * 1.0 * ub.cw)) * 1e6 + 0.5) / 1e6 AS pmi
      |  FROM cab JOIN uni ua ON cab.a = ua.w JOIN uni ub ON cab.b = ub.w
      |   CROSS JOIN n)
      |SELECT a, b, cab, pmi,
      | row_number() OVER (ORDER BY pmi DESC, a, b) AS rk
      |FROM s ORDER BY rk LIMIT $pmiTopK""".stripMargin

  private def dupSpansOracleSql: String = {
    // the same 57-bit integer fold as the Spark side (wh is 1-based in
    // both engines' list indexing, so wh[i + k] aligns exactly)
    val fold = (1 to 7).foldLeft("wh[i]")((acc, k) =>
      s"(($acc * 31 + wh[i + $k]) % $exactSubstrPrime)")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      | wt AS (SELECT doc_id, len(t) AS n,
      |   list_transform(t, w -> CAST('0x' || substring(md5(w), 1, 12) AS BIGINT)) AS wh
      |  FROM tk),
      | u AS (SELECT doc_id, unnest(list_transform(range(1, greatest(n - 7, 0) + 1),
      |     i -> struct_pack(p := i, g := $fold))) AS pg
      |  FROM wt),
      | p AS (SELECT doc_id, CAST(pg.p AS BIGINT) AS p, pg.g AS g FROM u),
      | dup AS (SELECT g FROM p GROUP BY g HAVING count(*) >= 2),
      | f AS (SELECT doc_id, p,
      |   CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 8
      |     THEN 1 ELSE 0 END AS brk
      |  FROM p JOIN dup USING (g)
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      | isl AS (SELECT doc_id, p,
      |   sum(brk) OVER (PARTITION BY doc_id ORDER BY p
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM f),
      | spans AS (SELECT doc_id, isl, max(p) + 7 - min(p) + 1 AS len
      |  FROM isl GROUP BY 1, 2),
      | per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |   CAST(sum(len) AS BIGINT) AS dup_tokens,
      |   CAST(max(len) AS BIGINT) AS longest_span
      |  FROM spans GROUP BY 1),
      | n AS (SELECT doc_id, len(t)::BIGINT AS n_tok FROM tk)
      |SELECT n.doc_id, n_tok,
      | coalesce(n_spans, 0) AS n_spans,
      | coalesce(dup_tokens, 0) AS dup_tokens,
      | coalesce(longest_span, 0) AS longest_span,
      | floor((coalesce(dup_tokens, 0) * 1.0 / n_tok) * 1e6 + 0.5) / 1e6 AS dup_ratio
      |FROM n LEFT JOIN per USING (doc_id) ORDER BY 1""".stripMargin
  }

  private def bm25OracleSql: String = {
    val terms = bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (SELECT doc_id,
       |   len(string_split(text, ' '))::BIGINT AS dl FROM documents),
       | st AS (SELECT count(*) AS nd, sum(dl) AS td FROM dl),
       | tf AS (SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term IN ($terms) GROUP BY 1, 2),
       | idf AS (SELECT term,
       |   CAST(floor(ln((nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6 + 0.5) / 1e6
       |     AS DECIMAL(18,6)) AS idf
       |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN st),
       | s AS (SELECT tf.doc_id,
       |   CAST(CAST(idf AS DOUBLE) * (tf * 2.2) /
       |     (tf + 1.2 * (0.25 + 0.75 * dl / (td * 1.0 / nd)))
       |    AS DECIMAL(28,12)) AS s
       |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       | sc AS (SELECT doc_id,
       |   floor(CAST(sum(s) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS score
       |  FROM s GROUP BY 1)
       |SELECT doc_id, score,
       | row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |FROM sc ORDER BY rk LIMIT $bm25TopK""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q74_bm25" -> bm25OracleSql,
    "q78_dup_spans" -> dupSpansOracleSql,
    "q81_pmi_bigrams" -> pmiOracleSql,
    "q82_source_kl" -> sourceKlOracleSql,
    "q71_dsir_weight" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | g AS (SELECT doc_id,
        |   ${Exact.sql.portableHash("gram", 8)} % $DsirBuckets AS b
        |  FROM (SELECT doc_id, unnest(list_concat(t,
        |     list_transform(range(1, greatest(len(t) - 1, 0) + 1),
        |       i -> array_to_string(t[i:i+1], ' ')))) AS gram FROM tk)),
        | tc AS (SELECT b, count(*) AS ct FROM g WHERE doc_id % 7 = 0 GROUP BY 1),
        | rc AS (SELECT b, count(*) AS cr FROM g WHERE doc_id % 7 <> 0 GROUP BY 1),
        | tot AS (SELECT (SELECT sum(ct) FROM tc) AS tt,
        |                (SELECT sum(cr) FROM rc) AS rr),
        | lw AS (SELECT coalesce(tc.b, rc.b) AS b,
        |   CAST(${Exact.sql.r(
               s"ln((coalesce(ct, 0) + 1.0) / (tt + $DsirBuckets))" +
               s" - ln((coalesce(cr, 0) + 1.0) / (rr + $DsirBuckets))", 6)}
        |     AS DECIMAL(18,6)) AS lw
        |  FROM tc FULL JOIN rc ON tc.b = rc.b CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(sum(lw) AS DOUBLE) AS log_w,
        | CAST(sum(lw) AS DOUBLE) > 0 AS keep
        |FROM g JOIN lw USING (b) WHERE doc_id % 7 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q68_lm_quality" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | vocab AS (SELECT w, count(*) AS c FROM tok
        |   WHERE doc_id % 7 = 0 GROUP BY 1),
        | tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab),
        | lp AS (SELECT w,
        |   CAST(floor(ln(c * 1.0 / t) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS lp
        |  FROM vocab CROSS JOIN tot),
        | oov AS (SELECT
        |   CAST(floor(ln(1.0 / t) * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS lp_oov
        |  FROM tot),
        | sc AS (SELECT doc_id, lp.lp IS NULL AS is_oov,
        |   coalesce(lp.lp, oov.lp_oov) AS lpc
        |  FROM tok LEFT JOIN lp USING (w) CROSS JOIN oov)
        |SELECT doc_id, count(*)::BIGINT AS n_tok,
        | CAST(sum(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | floor(CAST(sum(lpc) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp,
        | CAST(min(lpc) AS DOUBLE) AS min_logp
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q63_line_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | l AS (SELECT doc_id, unnest(list_transform(
        |     range(0, cast(ceil(len(w) / $lineLen.0) AS int)),
        |     i -> array_to_string(w[i*$lineLen+1 : i*$lineLen+$lineLen], ' '))) AS line
        |   FROM w),
        | hot AS (SELECT line FROM l GROUP BY 1 HAVING count(*) > 2),
        | fl AS (SELECT doc_id, line,
        |   line IN (SELECT line FROM hot) AS boiler FROM l)
        |SELECT doc_id,
        | count(*)::BIGINT AS n_lines,
        | CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        | CAST(sum(CASE WHEN boiler THEN 0
        |   ELSE len(string_split(line, ' ')) END) AS BIGINT) AS n_kept_tokens,
        | floor((sum(CASE WHEN boiler THEN 1 ELSE 0 END) * 1.0 / count(*))
        |   * 1e6 + 0.5) / 1e6 AS boiler_ratio
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q62_pack_chunks" ->
      s"""WITH t AS (SELECT doc_id,
        |   len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
        | o AS (SELECT doc_id, n_tok,
        |   CAST(sum(n_tok) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
        |    AS BIGINT) AS start_off
        |  FROM t)
        |SELECT doc_id, n_tok, start_off,
        | start_off // $ctxLen AS chunk_id,
        | ((start_off + n_tok - 1) // $ctxLen) - (start_off // $ctxLen) + 1 AS n_chunks,
        | (start_off // $ctxLen) != ((start_off + n_tok - 1) // $ctxLen) AS split_doc
        |FROM o ORDER BY doc_id""".stripMargin,
    "q60_decontaminate" ->
      s"""WITH g AS ($grams8Sql),
        | bg AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 23 = 0),
        | corpus AS (SELECT * FROM g WHERE doc_id % 23 <> 0),
        | hits AS (SELECT doc_id, count(*) AS n_hits FROM corpus
        |   WHERE g8 IN (SELECT g8 FROM bg) GROUP BY 1),
        | sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1)
        |SELECT d.doc_id,
        | coalesce(sizes.n_grams, 0) AS n_grams,
        | coalesce(hits.n_hits, 0) AS n_hits,
        | coalesce(hits.n_hits, 0) > 0 AS contaminated
        |FROM documents d
        | LEFT JOIN sizes ON d.doc_id = sizes.doc_id
        | LEFT JOIN hits ON d.doc_id = hits.doc_id
        |WHERE d.doc_id % 23 <> 0
        |ORDER BY 1""".stripMargin,
    "q61_repetition_ratio" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | c AS (SELECT doc_id,
        |   greatest(len(t) - 2, 0)::BIGINT AS n_total,
        |   len(list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
        |     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))))::BIGINT AS n_distinct
        |  FROM t)
        |SELECT doc_id, n_total, n_distinct,
        | CASE WHEN n_total > 0
        |   THEN floor((1.0 - n_distinct * 1.0 / n_total) * 1e6 + 0.5) / 1e6
        |   ELSE 0.0 END AS rep_ratio,
        | (CASE WHEN n_total > 0
        |   THEN floor((1.0 - n_distinct * 1.0 / n_total) * 1e6 + 0.5) / 1e6
        |   ELSE 0.0 END) > 0.3 AS flagged
        |FROM c ORDER BY 1""".stripMargin,
    "q56_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
        | len AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM tf GROUP BY 1),
        | dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        | n AS (SELECT count(*) AS n FROM documents),
        | scored AS (SELECT doc_id, term, c, df,
        |   floor((c * n * 1.0 / (df * len)) * 1e6 + 0.5) / 1e6 AS tfidf
        |  FROM tf JOIN len USING (doc_id) JOIN dfq USING (term) CROSS JOIN n),
        | ranked AS (SELECT doc_id, term, c, df, tfidf,
        |   row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, term, c, df, tfidf, rk FROM ranked WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin,
    "q57_corpus_pipeline" -> {
      s"""WITH RECURSIVE ${Dedup.minhashSql(16, 4)},
        | e AS (SELECT id1 AS src, id2 AS dst FROM mh WHERE jaccard >= 0.5),
        | bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        | reach(node, r) AS (
        |   SELECT src, dst FROM bidir UNION SELECT src, src FROM bidir
        |   UNION SELECT reach.node, b.dst FROM reach JOIN bidir b ON reach.r = b.src),
        | nd AS (SELECT node AS doc_id, node = min(r) AS keep FROM reach GROUP BY 1),
        | t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | langq AS (SELECT doc_id,
        |   len(list_filter(t, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS c_en,
        |   len(list_filter(t, x -> x = 'der' OR x = 'die' OR x = 'und' OR x = 'nicht')) AS c_de,
        |   len(list_filter(t, x -> x = 'le' OR x = 'la' OR x = 'et' OR x = 'les')) AS c_fr,
        |   len(list_filter(t, x -> x = 'el' OR x = 'los' OR x = 'que' OR x = 'y')) AS c_es
        |  FROM t),
        | lang AS (SELECT doc_id,
        |   CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
        |        WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
        |        WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
        |        WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
        |        ELSE 'es' END AS lang_pred
        |  FROM langq),
        | qual AS (SELECT d.doc_id,
        |   len(t.t)::BIGINT AS n_tok,
        |   floor((least(len(t.t)*1.0/100, 1.0)*0.5
        |     + len(list_distinct(t.t))*0.3/len(t.t)
        |     + least(len(list_filter(t.t, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))*5.0/len(t.t), 1.0)*0.2)
        |    * 1e6 + 0.5) / 1e6 AS quality
        |  FROM documents d JOIN t ON d.doc_id = t.doc_id),
        | ex AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
        |  FROM documents GROUP BY 1),
        | kept AS (SELECT d.doc_id, d.source, qual.n_tok
        |  FROM documents d
        |   JOIN lang ON d.doc_id = lang.doc_id
        |   JOIN qual ON d.doc_id = qual.doc_id
        |   JOIN ex ON md5(d.text) = ex.h
        |   LEFT JOIN nd ON d.doc_id = nd.doc_id
        |  WHERE lang_pred = 'en' AND quality >= 0.5
        |    AND d.doc_id = ex.keep_id AND coalesce(nd.keep, TRUE)),
        | agg AS (SELECT source, count(*) AS n_docs,
        |   CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM kept GROUP BY 1),
        | tot AS (SELECT sum(n_tokens) AS tot FROM agg)
        |SELECT source, n_docs, n_tokens,
        | floor((n_tokens * 1.0 / tot) * 1e6 + 0.5) / 1e6 AS weight
        |FROM agg CROSS JOIN tot ORDER BY 1""".stripMargin
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_tfidf_topterms" -> (q56TfidfTopTerms _),
    "q57_corpus_pipeline" -> (q57CorpusPipeline _),
    "q60_decontaminate" -> (q60Decontaminate _),
    "q61_repetition_ratio" -> (q61RepetitionRatio _),
    "q62_pack_chunks" -> (q62PackChunks _),
    "q63_line_dedup" -> (q63LineDedup _),
    "q68_lm_quality" -> (q68LmQuality _),
    "q71_dsir_weight" -> (q71DsirWeight _),
    "q74_bm25" -> (q74Bm25TopK _),
    "q78_dup_spans" -> (q78DupSpans _),
    "q81_pmi_bigrams" -> (q81PmiBigrams _),
    "q82_source_kl" -> (q82SourceKl _)
  )
}
