package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Classification-metric operators (SURVEY.md §2.D), the distributed
  * analog of the reference's sklearn metric suite (Code for Amazon and
  * Yelp/new_utlis_1.py:35-50 test_model: accuracy / macro precision /
  * recall / F1, roc_auc_score, average_precision_score).
  *
  * "Model output" stand-in: `embeddings.label` is the ground truth
  * (positive class = label 0, ~10% prevalence) and the first embedding
  * component is the score — deterministic, so the DuckDB oracle is exact.
  *
  * Scale notes: confusion counts are one partial-aggregated scan; AUC
  * and AP rank via [[Ranking]]'s two-pass range-bucketed windows — no
  * single-partition global sort anywhere (PlanSpec pins this); AP terms
  * quantize to DECIMAL before the final sum so the result is
  * accumulation-order independent.
  */
object Metrics {

  /** Below this row count an input is "small": at ~300 B/row a 128 MB
    * parquet split holds ~400k rows, so under this bound the scan
    * arrives in at most a split or two and repartition(4) only ever
    * WIDENS the trainers' parallelism. (A larger bound would narrow a
    * well-partitioned multi-split input down to 4 tasks.) Read from
    * parquet footers (statistics-only), never from `.rdd`. */
  private val smallInputRows = 500L * 1000

  /** (vec_id, label∈{0,1}, score) from the embeddings table. */
  private def scored(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      (col("label") === 0).cast("int").as("y"),
      element_at(col("embedding"), 1).cast("double").as("score"))

  private val scoredSql =
    """SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
      |  CAST(embedding[1] AS DOUBLE) AS score FROM embeddings""".stripMargin

  /** q26: confusion matrix → accuracy, per-class and macro
    * precision/recall/F1 (new_utlis_1.py:38-42, average="macro").
    * Threshold 0: pred = score > 0. All outputs are ratios of exact
    * integer counts, so the oracle matches bit-for-bit. */
  def q26ConfusionMetrics(spark: SparkSession, dir: String): DataFrame =
    confusionFrom(scored(spark, dir)
      .withColumn("pred", (col("score") > 0).cast("int")))

  /** The q26 metric core over ANY (y, pred) frame — the oracled operator
    * and [[graft.pipeline.FraudPipeline]]'s held-out evaluation are the
    * same code path, so the flagship reports exactly the numbers the
    * correctness gate checks. */
  private[graft] def confusionFrom(p: DataFrame): DataFrame = {
    // sklearn's zero_division=0 semantics: a class with no predicted (or
    // no true) members contributes 0, not a crash — under ANSI mode a
    // degenerate fold (e.g. a model predicting nothing positive) would
    // otherwise DIVIDE_BY_ZERO. The guard never fires on the oracled
    // q26 input (both classes present on every SF), so the non-zero
    // branch keeps the exact division spelling the oracle hashes.
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(0.0)).otherwise(num / den)
    val c = p.agg(
      sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(col("y") === 0 && col("pred") === 0, 1L).otherwise(0L)).as("tn"),
      sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L)).as("fn"))
    c.select(col("tp"), col("fp"), col("tn"), col("fn"),
        Exact.r(ratio((col("tp") + col("tn")) * lit(1.0),
          col("tp") + col("fp") + col("tn") + col("fn")), 6).as("accuracy"),
        Exact.r(ratio(col("tp") * lit(1.0), col("tp") + col("fp")), 6).as("precision_pos"),
        Exact.r(ratio(col("tp") * lit(1.0), col("tp") + col("fn")), 6).as("recall_pos"),
        Exact.r(ratio(col("tn") * lit(1.0), col("tn") + col("fn")), 6).as("precision_neg"),
        Exact.r(ratio(col("tn") * lit(1.0), col("tn") + col("fp")), 6).as("recall_neg"))
      .withColumn("macro_precision",
        Exact.r((ratio(col("tp") * lit(1.0), col("tp") + col("fp"))
          + ratio(col("tn") * lit(1.0), col("tn") + col("fn"))) / 2, 6))
      .withColumn("macro_recall",
        Exact.r((ratio(col("tp") * lit(1.0), col("tp") + col("fn"))
          + ratio(col("tn") * lit(1.0), col("tn") + col("fp"))) / 2, 6))
      .withColumn("f1_pos",
        Exact.r(ratio(col("tp") * lit(2.0),
          col("tp") * 2 + col("fp") + col("fn")), 6))
      .withColumn("f1_neg",
        Exact.r(ratio(col("tn") * lit(2.0),
          col("tn") * 2 + col("fn") + col("fp")), 6))
      // the reference's headline f1_score(average="macro"),
      // new_utlis_1.py:42: unweighted mean of the per-class F1s
      .withColumn("macro_f1",
        Exact.r((ratio(col("tp") * lit(2.0), col("tp") * 2 + col("fp") + col("fn"))
          + ratio(col("tn") * lit(2.0), col("tn") * 2 + col("fn") + col("fp"))) / 2, 6))
  }

  /** q27: ROC AUC as the Mann–Whitney U rank statistic —
    * AUC = (Σ midrank(positives) − n₊(n₊+1)/2) / (n₊·n₋).
    * Midranks (cum_before + (ties+1)/2) are half-integers, so every
    * partial sum is exact in a double regardless of order.
    *
    * Scale-safe ranking: scores first collapse to per-score groups
    * (one shuffle), then the prefix count comes from [[Ranking]]'s
    * two-pass range-bucketed window — no single-partition global sort
    * anywhere in the plan (pinned by PlanSpec). */
  def q27RocAuc(spark: SparkSession, dir: String): DataFrame =
    rocAucFrom(scored(spark, dir))

  /** The q27 rank-statistic core over ANY (y, score) frame — shared with
    * the FraudPipeline flagship (see [[confusionFrom]]). */
  private[graft] def rocAucFrom(sc: DataFrame): DataFrame = {
    val g = sc
      .groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).cast("long").as("pos"))
    val bk = Release.cache(Ranking.withRangeBucket(g, "score", descending = false))
    val off = Ranking.exclusiveOffsets(bk, Map("cum" -> sum(col("cnt"))))
    val w = Window.partitionBy(col("_b")).orderBy(col("score"))
    val r = bk
      .withColumn("cum_before", sum(col("cnt")).over(w) - col("cnt") + off("cum"))
      // midrank of every row in this score group:
      // rank + (ties−1)/2 = cum_before + (ties+1)/2
      .withColumn("rk", col("cum_before").cast("double") + (col("cnt") + 1) / lit(2.0))
    r.agg(
        sum(col("pos") * col("rk")).as("rsum"),
        sum(col("pos")).cast("double").as("np"),
        sum(col("cnt") - col("pos")).cast("double").as("nn"))
      // AUC is undefined on a single-class sample (sklearn raises
      // there); emit NULL instead of DIVIDE_BY_ZERO so a degenerate
      // held-out fold (tiny SF, no positives) reports honestly rather
      // than crashing the pipeline. Oracle data is two-class, so the
      // guard never fires on the hash gate.
      .select(Exact.r(
          when(col("np") > 0 && col("nn") > 0,
            (col("rsum") - col("np") * (col("np") + 1) / 2) /
              (col("np") * col("nn"))),
          6).as("auc"),
        col("np").cast("long").as("n_pos"), col("nn").cast("long").as("n_neg"))
  }

  /** q28: average precision (sklearn AP = Σ (R_k − R_{k−1})·P_k over the
    * score-desc ranking, vec_id tiebreak). Per-rank terms quantize to
    * DECIMAL(28,12) so the global sum is order-independent. */
  def q28AvgPrecision(spark: SparkSession, dir: String): DataFrame =
    avgPrecisionFrom(scored(spark, dir), "vec_id")

  /** The q28 AP core over ANY (idCol, y, score) frame, `idCol` breaking
    * rank ties — shared with the FraudPipeline flagship. */
  private[graft] def avgPrecisionFrom(sc: DataFrame, idCol: String): DataFrame = {
    // Scale-safe global row_number/prefix-sum: range-bucket on score
    // (descending-monotone), window PARTITIONED by bucket, add the
    // bucket's exclusive row/positive offsets — bit-identical to the
    // single-partition window it replaces (see Ranking).
    val bk = Release.cache(Ranking.withRangeBucket(sc, "score", descending = true))
    val off = Ranking.exclusiveOffsets(bk, Map(
      "rows" -> count(lit(1)), "pos" -> sum(col("y")).cast("long")))
    val w = Window.partitionBy(col("_b")).orderBy(col("score").desc, col(idCol))
    val t = bk
      .withColumn("k", row_number().over(w).cast("long") + off("rows"))
      .withColumn("cum_pos", sum(col("y")).over(w) + off("pos"))
      .withColumn("term",
        (col("y") * col("cum_pos") * lit(1.0) / col("k")).cast("decimal(28,12)"))
    t.agg(sum(col("term")).cast("double").as("s"), sum(col("y")).as("np"))
      // undefined with zero positives (same contract as the AUC guard)
      .select(Exact.r(when(col("np") > 0, col("s") / col("np")), 6)
          .as("avg_precision"),
        col("np").as("n_pos"))
  }

  /** q29: the training-side analog (new_train_*.py) — MLlib
    * LogisticRegression over the embedding vectors. Distributed
    * DataFrame-native train/score; solver RNG is engine-internal, so
    * this is a rows-only driver check (MetricsSpec asserts accuracy). */
  def q29MllibPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.functions.array_to_vector
    // embeddings are narrow: a small-SF read arrives in one partition, so
    // widen to 4 so each LBFGS iteration schedules a few tasks; a
    // cluster-scale input keeps its natural partitioning — no forced
    // shuffle. Gated on the parquet-footer row count (statistics-only,
    // like q22/q46) rather than `.rdd.getNumPartitions`, which forces
    // plan materialization early.
    val base = Tables.embeddings(spark, dir).select(
      col("vec_id"),
      (col("label") === 0).cast("double").as("label"),
      array_to_vector(col("embedding")).as("features"))
    val data =
      if (Tables.embeddings(spark, dir).count() < smallInputRows)
        base.repartition(4)
      else base
    val model = new LogisticRegression()
      .setMaxIter(8).setRegParam(0.01).setStandardization(true)
      .fit(data)
    model.transform(data)
      .select(col("vec_id"), col("label").cast("int").as("y"),
        col("prediction").cast("int").as("pred"))
      .orderBy(col("vec_id"))
  }

  /** q54: the GNN-class model analog, one tier closer than q29 —
    * the reference trains GAT/GCN over node features (Code for
    * Sichuan/src/model.py, layers.py; new_model_*.py). MLlib has no
    * message-passing GNN, so the closest DataFrame-native capability
    * match is a MultilayerPerceptronClassifier over the same embedding
    * features (64 → 16 → 2, seeded). Training is the same distributed
    * treeAggregate gradient loop as q29 — partitioning notes there
    * apply. Solver RNG is engine-internal → rows-only driver check;
    * MetricsSpec gates accuracy against the majority class. */
  def q54MlpPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
    import org.apache.spark.ml.functions.array_to_vector
    val base = Tables.embeddings(spark, dir).select(
      col("vec_id"),
      (col("label") === 0).cast("double").as("label"),
      array_to_vector(col("embedding")).as("features"))
    val data =
      if (Tables.embeddings(spark, dir).count() < smallInputRows)
        base.repartition(4)
      else base
    val model = new MultilayerPerceptronClassifier()
      .setLayers(Array(64, 16, 2))
      .setSeed(42L).setMaxIter(40)
      .fit(data)
    model.transform(data)
      .select(col("vec_id"), col("label").cast("int").as("y"),
        col("prediction").cast("int").as("pred"))
      .orderBy(col("vec_id"))
  }

  val oracles: Map[String, String] = Map(
    "q26_confusion_metrics" ->
      s"""WITH sc AS ($scoredSql),
        | p AS (SELECT y, CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred FROM sc),
        | c AS (SELECT
        |   CAST(sum(CASE WHEN y=1 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |   CAST(sum(CASE WHEN y=0 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |   CAST(sum(CASE WHEN y=0 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |   CAST(sum(CASE WHEN y=1 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM p)
        |SELECT tp, fp, tn, fn,
        | floor(((tp+tn)*1.0/(tp+fp+tn+fn)) * 1e6 + 0.5) / 1e6 AS accuracy,
        | floor((tp*1.0/(tp+fp)) * 1e6 + 0.5) / 1e6 AS precision_pos,
        | floor((tp*1.0/(tp+fn)) * 1e6 + 0.5) / 1e6 AS recall_pos,
        | floor((tn*1.0/(tn+fn)) * 1e6 + 0.5) / 1e6 AS precision_neg,
        | floor((tn*1.0/(tn+fp)) * 1e6 + 0.5) / 1e6 AS recall_neg,
        | floor(((tp*1.0/(tp+fp) + tn*1.0/(tn+fn))/2) * 1e6 + 0.5) / 1e6 AS macro_precision,
        | floor(((tp*1.0/(tp+fn) + tn*1.0/(tn+fp))/2) * 1e6 + 0.5) / 1e6 AS macro_recall,
        | floor((tp*2.0/(tp*2+fp+fn)) * 1e6 + 0.5) / 1e6 AS f1_pos,
        | floor((tn*2.0/(tn*2+fn+fp)) * 1e6 + 0.5) / 1e6 AS f1_neg,
        | floor(((tp*2.0/(tp*2+fp+fn) + tn*2.0/(tn*2+fn+fp))/2) * 1e6 + 0.5) / 1e6 AS macro_f1
        |FROM c""".stripMargin,
    "q27_roc_auc" ->
      s"""WITH sc AS ($scoredSql),
        | r AS (SELECT y,
        |   rank() OVER (ORDER BY score) * 1.0 +
        |    (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS rk
        |  FROM sc)
        |SELECT floor(((sum(CASE WHEN y=1 THEN rk END)
        |   - sum(y)*1.0*(sum(y)+1)/2) / (sum(y)*1.0*sum(1-y))) * 1e6 + 0.5) / 1e6 AS auc,
        | CAST(sum(y) AS BIGINT) AS n_pos, CAST(sum(1-y) AS BIGINT) AS n_neg
        |FROM r""".stripMargin,
    "q28_avg_precision" ->
      s"""WITH sc AS ($scoredSql),
        | t AS (SELECT y,
        |   row_number() OVER (ORDER BY score DESC, vec_id) AS k,
        |   sum(y) OVER (ORDER BY score DESC, vec_id) AS cum_pos
        |  FROM sc)
        |SELECT floor((CAST(sum(CAST(y*cum_pos*1.0/k AS DECIMAL(28,12))) AS DOUBLE)
        |   / sum(y)) * 1e6 + 0.5) / 1e6 AS avg_precision,
        | CAST(sum(y) AS BIGINT) AS n_pos
        |FROM t""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q26_confusion_metrics" -> (q26ConfusionMetrics _),
    "q27_roc_auc" -> (q27RocAuc _),
    "q28_avg_precision" -> (q28AvgPrecision _),
    "q29_mllib_pipeline" -> (q29MllibPipeline _),
    "q54_mlp_pipeline" -> (q54MlpPipeline _)
  )
}
