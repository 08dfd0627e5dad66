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
  * and AP share one ranking pass ([[rankingFrom]]) via [[Ranking]]'s
  * two-pass range-bucketed windows — no single-partition global sort
  * anywhere (PlanSpec pins this); every partial sum is an exact integer
  * or DECIMAL, so the results are accumulation-order independent.
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
    confusionRatios(scored(spark, dir)
      .withColumn("pred", (col("score") > 0).cast("int"))
      .agg(confusionCounts.head, confusionCounts.tail: _*))

  /** q26's four confusion counts as aggregate columns over ANY
    * (y, pred) frame. The oracled operator and
    * [[graft.pipeline.FraudPipeline]]'s held-out evaluation share them
    * and [[confusionRatios]], so the flagship reports exactly the
    * numbers the correctness gate checks; the flagship folds them into
    * its [[rankingFrom]] aggregate. */
  private[graft] val confusionCounts: Seq[Column] = Seq(
    sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("tp"),
    sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L)).as("fp"),
    sum(when(col("y") === 0 && col("pred") === 0, 1L).otherwise(0L)).as("tn"),
    sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L)).as("fn"))

  /** q26's metric row from a frame holding the [[confusionCounts]]: the
    * counts, then every ratio, then the `tail` columns as they are. */
  private[graft] def confusionRatios(c: DataFrame, tail: String*): DataFrame = {
    // sklearn's zero_division=0 semantics: a class with no predicted (or
    // no true) members contributes 0, not a crash — under ANSI mode a
    // degenerate fold (e.g. a model predicting nothing positive) would
    // otherwise DIVIDE_BY_ZERO. The guard never fires on the oracled
    // q26 input (both classes present on every SF), so the non-zero
    // branch keeps the exact division spelling the oracle hashes.
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(0.0)).otherwise(num / den)
    val (tp, fp, tn, fn) = (col("tp"), col("fp"), col("tn"), col("fn"))
    val (precPos, precNeg) = (ratio(tp * lit(1.0), tp + fp), ratio(tn * lit(1.0), tn + fn))
    val (recPos, recNeg) = (ratio(tp * lit(1.0), tp + fn), ratio(tn * lit(1.0), tn + fp))
    val f1Pos = ratio(tp * lit(2.0), tp * 2 + fp + fn)
    val f1Neg = ratio(tn * lit(2.0), tn * 2 + fn + fp)
    c.select(Seq(tp, fp, tn, fn,
        Exact.r(ratio((tp + tn) * lit(1.0), tp + fp + tn + fn), 6).as("accuracy"),
        Exact.r(precPos, 6).as("precision_pos"),
        Exact.r(recPos, 6).as("recall_pos"),
        Exact.r(precNeg, 6).as("precision_neg"),
        Exact.r(recNeg, 6).as("recall_neg"),
        Exact.r((precPos + precNeg) / 2, 6).as("macro_precision"),
        Exact.r((recPos + recNeg) / 2, 6).as("macro_recall"),
        Exact.r(f1Pos, 6).as("f1_pos"),
        Exact.r(f1Neg, 6).as("f1_neg"),
        // the reference's headline f1_score(average="macro"),
        // new_utlis_1.py:42: unweighted mean of the per-class F1s
        Exact.r((f1Pos + f1Neg) / 2, 6).as("macro_f1")) ++ tail.map(col): _*)
  }

  /** q27: ROC AUC as the Mann–Whitney U rank statistic —
    * AUC = (Σ midrank(positives) − n₊(n₊+1)/2) / (n₊·n₋), the
    * `auc` of [[rankingFrom]]. */
  def q27RocAuc(spark: SparkSession, dir: String): DataFrame =
    rankingFrom(scored(spark, dir), "vec_id").select(col("auc"), col("n_pos"), col("n_neg"))

  /** q28: average precision (sklearn AP = Σ (R_k − R_{k−1})·P_k over the
    * score-desc ranking, vec_id tiebreak), the `avg_precision` of
    * [[rankingFrom]]. */
  def q28AvgPrecision(spark: SparkSession, dir: String): DataFrame =
    rankingFrom(scored(spark, dir), "vec_id").select(col("avg_precision"), col("n_pos"))

  /** The q27/q28 ranking core over ANY (`idCol`, y, score) frame, ONE
    * pass for both rank metrics: one 1-row aggregate emitting `auc`,
    * `avg_precision`, `n_pos` and `n_neg`, after the `extra` aggregate
    * columns (the FraudPipeline flagship folds q26's
    * [[confusionCounts]] in here). `idCol` breaks AP's rank ties.
    *
    * Scale-safe global ranking: one descending range bucket on score,
    * windows PARTITIONED by bucket, plus the bucket's exclusive
    * row/positive offsets from one metadata collect — bit-identical to
    * the single-partition windows they replace (see [[Ranking]]; no
    * single-partition window anywhere, PlanSpec pins it).
    *  - AP: the row at (score desc, id) rank k adds y·cum_pos/k,
    *    quantized to DECIMAL(28,12) so the sum is order-independent.
    *  - AUC: a score group's descending midrank is
    *    gt + (ties+1)/2 (gt rows strictly above it), so twice it,
    *    gt + ge + 1 (ge rows at or above), is an integer; the ascending
    *    rank sum the U statistic needs is the reflection
    *    Σ₊asc = n₊(N+1) − Σ₊desc. Every partial sum is an exact long,
    *    and AUC is one IEEE division of two exact integers. */
  private[graft] def rankingFrom(sc: DataFrame, idCol: String,
      extra: Seq[Column] = Nil): DataFrame = {
    val bk = Release.cache(Ranking.withRangeBucket(sc, "score", descending = true))
    val off = Ranking.exclusiveOffsets(bk, Map(
      "rows" -> count(lit(1)), "pos" -> sum(col("y")).cast("long")))
    val byRow = Window.partitionBy(col("_b")).orderBy(col("score").desc, col(idCol))
    // ordered by score alone, so the RANGE frame's peers are the score ties
    val byScore = Window.partitionBy(col("_b")).orderBy(col("score").desc)
    // byScore's columns come second: its sort order is a prefix of
    // byRow's, so both windows share one sort
    val t = bk
      .withColumn("k", row_number().over(byRow).cast("long") + off("rows"))
      .withColumn("cum_pos", sum(col("y")).over(byRow) + off("pos"))
      .withColumn("gt", (rank().over(byScore) - 1).cast("long") + off("rows"))
      .withColumn("ge", count(lit(1)).over(byScore) + off("rows"))
    val aggs = extra ++ Seq(
      sum(col("y") * (col("gt") + col("ge") + 1)).as("r2"),
      sum((col("y") * col("cum_pos") * lit(1.0) / col("k")).cast("decimal(28,12)"))
        .cast("double").as("s"),
      sum(col("y")).cast("long").as("np"),
      count(lit(1)).as("n"))
    val (np, n) = (col("np"), col("n"))
    t.agg(aggs.head, aggs.tail: _*)
      // AUC is undefined on a single-class sample and AP without
      // positives (sklearn raises there); emit NULL instead of
      // DIVIDE_BY_ZERO so a degenerate held-out fold (tiny SF, no
      // positives) reports honestly rather than crashing the pipeline.
      // Oracle data is two-class, so the guards never fire on the hash
      // gate.
      .select(col("*"),
        Exact.r(when(np > 0 && n - np > 0,
          (lit(2) * np * (n + 1) - col("r2") - np * (np + 1)).cast("double") /
            (lit(2) * np * (n - np)).cast("double")), 6).as("auc"),
        Exact.r(when(np > 0, col("s") / np), 6).as("avg_precision"),
        np.as("n_pos"), (n - np).as("n_neg"))
      .drop("r2", "s", "np", "n")
  }

  /** The q29/q54 training input: each embedding as a `features`
    * vector with its binary `label`. Embeddings are narrow: a small-SF
    * read arrives in one partition, so it widens to 4 and each solver
    * iteration schedules a few tasks; a cluster-scale input keeps its
    * natural partitioning — no forced shuffle. Gated on the memoized
    * parquet-footer row count (statistics-only, like q22/q46) rather
    * than `.rdd.getNumPartitions`, which forces plan materialization
    * early. */
  private def embeddingTrainSet(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val base = Tables.embeddings(spark, dir).select(
      col("vec_id"),
      (col("label") === 0).cast("double").as("label"),
      array_to_vector(col("embedding")).as("features"))
    if (Tables.cachedRowCount(spark, dir, "embeddings") < smallInputRows)
      base.repartition(4)
    else base
  }

  /** q29: the training-side analog (new_train_*.py) — MLlib
    * LogisticRegression over the embedding vectors. Distributed
    * DataFrame-native train/score; solver RNG is engine-internal, so
    * this is a rows-only driver check (MetricsSpec asserts accuracy). */
  def q29MllibPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    val data = embeddingTrainSet(spark, dir)
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
    * treeAggregate gradient loop over the same input as q29
    * ([[embeddingTrainSet]]). Solver RNG is engine-internal → rows-only driver check;
    * MetricsSpec gates accuracy against the majority class. */
  def q54MlpPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
    val data = embeddingTrainSet(spark, dir)
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
