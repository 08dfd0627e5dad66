package graft.pipeline

import graft.{ops, Release, Tables}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's end-to-end Sichuan workflow as ONE composable call
  * (Code for Sichuan: data_process.py main → feature tensors → GNN
  * train → test_model metrics):
  *
  *   CDR log → the COMPLETE 32-slot slice_feature parity matrix (q59:
  *             q19's events-native features + the four graph slots)
  *           → label join → deterministic stratified split (q18 hash)
  *           → MLlib's LogisticRegression objective on the assembled
  *             vector, fitted on the driver
  *           → the full test_model metric suite on the held-out fold
  *             (new_utlis_1.py:35-50): accuracy, macro precision /
  *             recall / F1, ROC AUC, average precision — every number
  *             computed by the SAME operator cores the correctness
  *             gate oracles (q26 confusion, q27 rank-AUC, q28 AP),
  *             over the one scored DataFrame the model emits.
  *
  * Everything upstream of the model is a declarative Catalyst plan —
  * a user of the reference runs `FraudPipeline.run(spark, dir)` and
  * gets the same artifacts the Python pipeline produces, distributed.
  * The model stage reads that plan through an eager local checkpoint,
  * a plan leaf: one collect brings the assembly to the driver, which
  * fits [[LocalLogistic]] (MLlib's objective and LBFGS, so the same
  * model up to rounding; [[mllibFit]] stays as the reference the tests
  * hold it to) and scores the held-out fold there, a fixed handful of
  * jobs whatever the iteration count, where MLlib's fit runs a
  * summarizer job and one treeAggregate job per LBFGS iteration.
  *
  * The driver fit was the faster one at every size measured, on ScaleGen
  * replicas of sf0.1 (local[4], 3g heap, 4-core VM): at ×4 (6,000 users
  * × 35 features) collect, fit and scoring took 1.95 s against 3.79 s
  * for MLlib's fit, transform and checkpoint; at ×20 (30,000 users)
  * 2.79 s against 4.65 s; at ×100, the sf10 size and ScaleGen's largest
  * (150,000 users, one cold JVM a path), 4.28 s against 6.72 s with the
  * 35 parity features and 10.2 s against 12.3 s at the widest tier
  * stack's width, 193 (the 35 plus 158 noise columns). At ×100 the
  * collected rows held 65 MB (35 features) and 255 MB (193), 8 bytes a
  * cell plus ~150 a row, and collecting and fitting raised the peak heap
  * after GC by 330 MB and 724 MB (MLlib's fit, which caches its own copy
  * of the rows in the same local-mode heap: 277 MB and 521 MB). So
  * the driver's heap, not time, bounds this stage: an input past
  * ScaleGen's ×100 needs a heap that grows with its cells.
  *
  * The metric suite is one ranking pass with the confusion counts
  * folded into its aggregate ([[graft.ops.Metrics.rankingFrom]]).
  *
  * Each stage labels its Spark jobs ([[Stage]]): `features` (the
  * feature DAG into the assembly checkpoint), `fit` and `metrics`.
  *
  * The call owns what it materializes: `run` is one
  * [[graft.Release.scope]], and every cache and checkpoint the ops and
  * the model stage register in it is released when `run` returns, so
  * back-to-back calls leave the session as they found it. What
  * outlives the call is the [[Result]]: `scored` and `metrics` (the
  * one metric row, collected inside the call) are driver-local frames,
  * and `features` stays a lazy plan whose round checkpoints (q73/q75
  * under [[Tier.Extended]]) are kept as its leaves; reading it
  * recomputes what the released caches held.
  *
  * Trade: checkpoint blocks live only on the executors that wrote
  * them, so a lost executor fails the run instead of recomputing the
  * lost partitions — the same trade [[graft.ops.Components]] and
  * [[CurationPipeline]] accept.
  */
object FraudPipeline {

  /** `scored` is the held-out fold, one (user_id, y, pred, score) row
    * per user: y the label, pred the model's hard prediction and score
    * its P(fraud). It is a driver-local frame, so reading it runs no
    * job. `features` is the feature matrix in no particular row order.
    *
    * `nUsers` is counted from the checkpointed assembly during the run
    * — callers report it instead of re-counting `features`, whose plan
    * would re-execute the whole multi-tier feature DAG. The assembly is
    * the frame AFTER the inner label join with `customer`, so `nUsers`
    * is the LABELED (trainable) user count: a feature user_id absent
    * from the account table is not in it. On the generated testdata the
    * two counts are equal (every events user is a customer);
    * PipelineRun's `n_users` JSON field carries this labeled-count
    * semantics. */
  case class Result(features: DataFrame, scored: DataFrame,
    metrics: DataFrame, nUsers: Long)

  /** An optional feature source stacked onto the 32-slot parity matrix.
    * [[run]] left-joins each tier's user_id-keyed frames in order and
    * zero-fills the columns they add, so the matrix stays one row
    * per user and a user a tier does not reach reads zero. All tiers are
    * off by default: the default run is the reference-parity static
    * matrix. */
  sealed trait Tier

  object Tier {

    /** The engine's beyond-parity signals the reference never had —
      * PageRank importance (q73), k-core membership + residual degree
      * (q75) and the EWMA burst score (q77), zero-filled for users
      * outside the graph/core. */
    case object Extended extends Tier

    /** The flattened q85 DYNAMIC tensor — the reference model's actual
      * input shape (model.py:25 consumes four stacked time-scale
      * tensors; TemporalAttention pools each scale's buckets into one
      * per-scale vector, layers.py:10-68). The four pooled vectors
      * pivot into `s{1..4}_<slot>` columns — 4×33
      * extra features per user, zero-filled where a user has no events
      * at a scale.
      *
      * `attention = false` pools with uniform weights (bucket-mean per
      * slot), the linear stand-in. `attention = true` pools with q87's
      * temporal attention — the MultiLstm/`weekmonthattn` analog
      * (layers.py:27,70-71): a tanh gate scores each bucket and a
      * per-(user, scale) softmax weights the pooling, so high-activity
      * buckets dominate the per-scale summary instead of diluting into
      * the mean. Same output shape (the q87 bookkeeping columns are
      * dropped), so the README A/B isolates the pooling change alone. */
    case class Slices(attention: Boolean = false) extends Tier

    /** q88's ε-residual multi-relation layer outputs h_r1/h_r2/h_r3 —
      * the reference model's layer algebra (new_model_1.py:97-112:
      * `eps*raw1 + layer1_r(h)` → `torch.cat`) as three per-user
      * columns, zero-filled for users outside the purchase graph. The
      * reference's thesis is that the per-relation channel beats a plain
      * GCN summary; the README A/B row tests exactly that. */
    case object Residual extends Tier

    /** q90's final recurrent state — the MultiLstm stage's (h, c) per
      * time scale as `lstm_s{1..4}_<field>` columns, zero-filled for
      * users without events. The reference feeds the LSTM outputs (not
      * the raw tensor) to its classifier head; this tier tests whether
      * the recurrent summary adds signal over the attention pool.
      *
      * `units` picks one of the shipped cells
      * ([[ops.Features.lstmShipped]]): 1 folds q90's scalar cell (8
      * columns: h, c), 2 folds q92's coupled 2-unit cell (16 columns:
      * h1, c1, h2, c2) — the lstm-vs-lstm2 README A/B isolates what the
      * second unit buys. `fixedCells = true` serves the pre-training
      * dyadic cell tables instead of the LstmFit-trained ones, the
      * trained-vs-fixed A/B baseline. */
    case class Lstm(units: Int = 1, fixedCells: Boolean = false) extends Tier {
      require(ops.Features.lstmShipped.contains(units),
        s"Lstm tier units must be one of ${ops.Features.lstmShipped.keys.mkString(", ")}, got $units")
    }

    /** q94's fused BD_BGL outputs — the MultiLstm softmax readout and
      * the two DualChannel log-softmax scores — as three per-user
      * columns: the reference's COMPLETE forward pass (model.py:25-29)
      * compressed to its class scores, riding as features next to the
      * tiers that feed it. Zero-filled for users outside the purchase
      * graph. */
    case object Fused extends Tier
  }

  /** The frames `tier` joins, in join order. `tensor` is the q85 tensor
    * shared by every tier that reads it, so the engine's heaviest
    * sub-DAG builds once however many such tiers are on. The graph
    * tiers key on `node`, whose space shares ids with user_id (the
    * graph family's shared-id convention). */
  private def framesOf(tier: Tier, spark: SparkSession, dir: String,
      tensor: => DataFrame): Seq[DataFrame] = tier match {
    case Tier.Extended => Seq(
      ops.Graph.q73PageRank(spark, dir)
        .select(col("node").as("user_id"), col("pr_scaled")),
      ops.Graph.q75KCore(spark, dir)
        .select(col("node").as("user_id"),
          lit(1.0).as("in_kcore"), col("d").cast("double").as("kcore_deg")),
      ops.Features.q77EwmaBurst(spark, dir)
        .select(col("user_id"), coalesce(col("burst"), lit(0.0)).as("burst")))
    case Tier.Slices(attention) =>
      // both pools are sort-free cores: the pivot re-aggregates, so an
      // operator's presentation orderBy would be a wasted exchange+sort
      val pooled =
        if (attention) ops.Features.q87PoolFrom(tensor).drop("n_buckets", "att_max")
        else {
          val slotCols = tensor.columns
            .filterNot(Set("user_id", "scale", "bucket").contains)
          // every slot is a count or a 6-dp value (Exact.r), so an exact
          // 6-dp decimal sum makes the mean independent of row order
          val means = slotCols.map(c => ops.Exact.davg(col(c), 6).as(c))
          tensor.groupBy(col("user_id"), col("scale")).agg(means.head, means.tail: _*)
        }
      Seq(pivotScales(pooled, ""))
    case Tier.Residual => Seq(
      ops.Graph.q88Core(spark, dir)
        .select(col("node").as("user_id"), col("h_r1").as("res_r1"),
          col("h_r2").as("res_r2"), col("h_r3").as("res_r3")))
    case Tier.Lstm(units, fixedCells) =>
      val cell = ops.Features.lstmShipped(units)
      val st = ops.Features.q90FromH(tensor, if (fixedCells) cell.fixed else cell.trained)
      val fields = ops.Features.lstmStateNames(units).flatMap { case (h, c) => Seq(h, c) }
      Seq(pivotScales(st.select(col("user_id") +: col("scale") +:
        fields.map(f => col(s"${f}_last").as(f)): _*), "lstm_"))
    case Tier.Fused => Seq(
      ops.Fused.q94Core(spark, dir).select(
        col("node").as("user_id"), col("lstm_score").as("fused_lstm_score"),
        col("dual_ls0").as("fused_dual_ls0"), col("dual_ls1").as("fused_dual_ls1")))
  }

  /** One user-grain row from per-(user_id, scale) rows: every column but
    * the keys becomes `${prefix}s{scale}_<column>` for scales 1–4, in
    * (scale, column) order. The names are rebuilt from that cross
    * product, never by slicing Spark's "<value>_<alias>" pivot naming,
    * which would silently mangle if the convention or the scale count
    * ever changed. */
  private def pivotScales(df: DataFrame, prefix: String): DataFrame = {
    val cols = df.columns.filterNot(Set("user_id", "scale").contains)
    val pivoted = df.groupBy(col("user_id"))
      .pivot("scale", Seq(1, 2, 3, 4))
      .agg(first(col(cols.head)).as(cols.head),
        cols.tail.map(c => first(col(c)).as(c)): _*)
    pivoted.select(col("user_id") +:
      (for { s <- Seq(1, 2, 3, 4); c <- cols }
        yield col(s"${s}_$c").as(s"${prefix}s${s}_$c")): _*)
  }

  private val maxIter = 20
  private val regParam = 0.01

  /** The labeled, split, vector-assembled users of `features`:
    * `user_id`, the feature columns, `label`, `is_train`, and `fvec`
    * assembling every feature column. */
  private[graft] def assemble(spark: SparkSession, dir: String,
      features: DataFrame): DataFrame = {
    // labels from the account table (user_id keys into customer)
    val labeled = features.join(
      Tables.customer(spark, dir).select(
        col("c_custkey").as("user_id"),
        (col("c_acctbal") < 0).cast("double").as("label")),
      "user_id")
    // reproducible stratified 80/20 split (same LCG hash as q18)
    val withSplit = labeled.withColumn("is_train", ops.Exact.lcgTrain80("user_id"))
    new VectorAssembler()
      .setInputCols(features.columns.filterNot(_ == "user_id"))
      .setOutputCol("fvec").setHandleInvalid("keep")
      .transform(withSplit)
  }

  /** MLlib's fit on (`fvec`, `label`) rows: the reference the driver
    * fit is tested against. */
  private[graft] def mllibFit(train: DataFrame): LogisticRegressionModel =
    new LogisticRegression()
      .setFeaturesCol("fvec").setLabelCol("label")
      .setMaxIter(maxIter).setRegParam(regParam)
      .fit(train)

  /** The assembly's (user_id, label, is_train, fvec) rows on the driver,
    * in user_id order, so the driver fit sums in one fixed order
    * whatever the partitioning. */
  private[graft] def driverRows(assembled: DataFrame): Array[Row] =
    assembled.select("user_id", "label", "is_train", "fvec").collect()
      .sortBy(_.getLong(0))

  /** The model stage's driver fit on [[driverRows]]: the same objective
    * and optimizer as [[mllibFit]]. */
  private[graft] def driverFit(train: Seq[Row]): LocalLogistic =
    LocalLogistic.fit(train.map(_.getAs[Vector](3).toArray).toArray,
      train.map(_.getDouble(1)).toArray, regParam, maxIter)

  /** Runs the workflow on the scale-factor directory `dir`, with the
    * feature `tiers` stacked onto the parity matrix in the order given
    * (none by default). */
  def run(spark: SparkSession, dir: String, tiers: Seq[Tier] = Nil): Result = Release.scope {
    // 1. the full 32-slot feature matrix per user (the reference's
    //    slice_feature incl. signed degrees / neighbor degree /
    //    clustering — data_process.py:159-168), then each tier's frames;
    //    sort-free, as nothing downstream needs its order.
    // 2. labels, the stratified split and the feature vector. The
    //    assembly feeds the fit AND the held-out scoring, so the feature
    //    DAG runs once, into a checkpoint both read as a leaf; its row
    //    count is the labeled user count
    val (features, assembled, nUsers) = Stage(spark, "features") {
      val parity = ops.Features.q59Core(spark, dir)
      lazy val tensor = ops.Features.q85Core(spark, dir)
      val features = tiers.foldLeft(parity) { (acc, tier) =>
        // one zero fill per tier, after all of its joins
        val frames = framesOf(tier, spark, dir, tensor)
        frames.foldLeft(acc)(_.join(_, Seq("user_id"), "left"))
          .na.fill(0.0, frames.flatMap(_.columns).filterNot(_ == "user_id"))
      }
      val assembled = Release.checkpoint(assemble(spark, dir, features))
      (features, assembled, assembled.count())
    }

    // 3. train on the train fold only, score the held-out fold: hard
    //    prediction for the confusion suite, P(fraud) for the ranking
    //    metrics, all on the driver
    val scored = Stage(spark, "fit") {
      val (train, test) = driverRows(assembled).partition(_.getBoolean(2))
      val model = driverFit(train.toSeq)
      spark.createDataFrame(java.util.List.of(test.map { r =>
        val x = r.getAs[Vector](3).toArray
        Row(r.getLong(0), r.getDouble(1).toInt, model.predict(x), model.score(x))
      }: _*), scoredSchema)
    }

    // 4. the reference's full test_model suite (new_utlis_1.py:35-50:
    //    accuracy + macro P/R/F1 + roc_auc_score + average_precision),
    //    via the SAME metric cores the oracle gate checks as q26-q28 —
    //    the confusion counts fold into the one ranking aggregate, and
    //    the row is collected while the call's caches are live and
    //    handed back as a driver-local frame, so reading it never runs
    //    a job
    val metrics = Stage(spark, "metrics") {
      val m = ops.Metrics.confusionRatios(
        ops.Metrics.rankingFrom(scored, "user_id", ops.Metrics.confusionCounts),
        "auc", "avg_precision")
      spark.createDataFrame(java.util.List.of(m.head()), m.schema)
    }
    Result(features, scored, metrics, nUsers)
  }

  private val scoredSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("y", IntegerType),
    StructField("pred", IntegerType), StructField("score", DoubleType)))
}
