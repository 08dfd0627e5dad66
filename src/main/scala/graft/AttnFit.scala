package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ops.Exact.dyad

/** Training seam for the attention-weight plan literals — the q35/q71
  * pattern run in reverse: the reference TRAINS its attention weights
  * end-to-end (FALayer gate, new_model_1.py:23-31; MultiLstm temporal
  * attention `weekmonthattn`, src/layers.py:27,70-71) while this engine
  * inlines inference weights as dyadic plan literals. This main FITS
  * those literals with the same MLlib seam q29/q54 use, then PRINTS the
  * dyadic-rounded values for inlining into [[ops.Features.q87FeatureAttn]]
  * / q87GateW/q87GateB and [[ops.Graph.faGateWDst]]/faGateWSrc/faGateBias:
  *
  *  - q87: a bucket-grain LogisticRegression on the q85 slice tensor
  *    (33 slots → user fraud label, TRAIN fold only) — the learned
  *    logit direction becomes the feature-attention vector; the
  *    temporal gate rescales/centers the logit into tanh's responsive
  *    range (gateW a power of two, gateB the centering offset).
  *  - q86: an edge-grain LogisticRegression (deg_dst, deg_src →
  *    homophily) over [[ops.Graph.q86GateFitBase]] — FALayer's design
  *    point made explicit: the gate learns which edges connect
  *    same-label endpoints; its sign carries the low/high-frequency
  *    split, so the logit is only SCALED, never centered.
  *
  * Every printed weight is dyadic-rounded to 1/2²⁰ so the downstream
  * tanh argument stays the same IEEE chain in both engines (the q86/q87
  * exactness discipline), and the oracle mechanism is untouched — it
  * derives from the same literals.
  *
  *   sbt "runMain graft.AttnFit [<fitDir>]"   (default $SPARK_GRAFT_SF_DIR)
  *
  * Leakage discipline: fits read ONLY the LCG train fold, so inlined
  * literals stay honest even when the README A/B evaluates at the same
  * SF (its metrics come from the held-out fold).
  */
object AttnFit {

  /** Largest power-of-two scale s with s·q99 ≤ 2 — puts the 99th
    * percentile |logit| at tanh's responsive edge without saturating. */
  private def scaleFor(q99: Double): Double = {
    var s = 1.0
    while (s * q99 > 2.0 && s > 1e-9) s /= 2
    s
  }

  private def fitLr(data: DataFrame, featCols: Seq[String]):
      (Array[Double], Double, DataFrame) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.functions.vector_to_array
    val assembled = Release.cache(new VectorAssembler()
      .setInputCols(featCols.toArray).setOutputCol("fvec")
      .setHandleInvalid("keep")
      .transform(data))
    val model = new LogisticRegression()
      .setFeaturesCol("fvec").setLabelCol("label")
      .setMaxIter(50).setRegParam(0.01)
      .fit(assembled)
    val scored = model.transform(assembled)
      .select(col("label").cast("int").as("y"),
        vector_to_array(col("probability")).getItem(1).as("score"))
    (model.coefficients.toArray, model.intercept, scored)
  }

  // AUC ignores the id the ranking core breaks AP's ties with
  private def aucOf(scored: DataFrame): Double =
    ops.Metrics.rankingFrom(scored.withColumn("id", monotonically_increasing_id()), "id")
      .head().getAs[Double]("auc")

  def main(args: Array[String]): Unit = {
    val dir = Cli.sfDirOf(args, usage).getOrElse(return)
    val spark = GraftSession.fromEnv()
    try Release.scope { fitQ87(spark, dir); fitQ86(spark, dir) }
    finally spark.stop()
  }

  private def fitQ87(spark: SparkSession, dir: String): Unit = {
    val slots = ops.Features.q87FeatureAttn.map(_._1)
    // bucket-grain training rows: every tensor slot coalesced exactly
    // like q87PoolFrom's slot(), user fraud label, TRAIN fold only
    val data = Release.cache(ops.Features.q85Core(spark, dir)
      .join(Tables.customer(spark, dir).select(
        col("c_custkey").as("user_id"),
        (col("c_acctbal") < 0).cast("double").as("label")), "user_id")
      .filter(ops.Exact.lcgTrain80("user_id"))
      .select(col("label") +:
        slots.map(c => coalesce(col(c).cast("double"), lit(0.0)).as(c)): _*))
    val (coef, b0, scored) = fitLr(data, slots)
    val auc = aucOf(scored)
    // logit distribution over train buckets → gate scale and center
    val w = slots.zip(coef).map { case (c, v) => col(c) * lit(v) }
      .reduce(_ + _) + lit(b0)
    val mu = data.select(avg(w)).head().getDouble(0)
    val q99 = data.select(
      percentile_approx(abs(w - lit(mu)), lit(0.99), lit(10000)))
      .head().getDouble(0)
    val s = scaleFor(math.max(q99, 1e-9))
    println(s"[attnfit] q87 bucket-LR train AUC = $auc, intercept = $b0, " +
      s"logit mu = $mu, |logit-mu| q99 = $q99, gate scale = $s")
    println("[attnfit] q87FeatureAttn (paste into Features.scala):")
    slots.zip(coef).foreach { case (c, v) =>
      println(s"""[attnfit]   "$c" -> ${dyad(v)},""")
    }
    // arg = s·pooled + gateB must equal s·(logit − mu): pooled carries
    // no intercept, so the centering offset folds b0 in
    println(s"[attnfit] q87GateW = ${dyad(s)}")
    println(s"[attnfit] q87GateB = ${dyad(s * (b0 - mu))}")
  }

  private def fitQ86(spark: SparkSession, dir: String): Unit = {
    val data = Release.cache(ops.Graph.q86GateFitBase(spark, dir))
    val (coef, b0, scored) = fitLr(data, Seq("di", "dj"))
    val auc = aucOf(scored)
    val w = col("di") * lit(coef(0)) + col("dj") * lit(coef(1)) + lit(b0)
    val q99 = data.select(
      percentile_approx(abs(w), lit(0.99), lit(10000))).head().getDouble(0)
    val s = scaleFor(math.max(q99, 1e-9))
    println(s"[attnfit] q86 edge-LR homophily train AUC = $auc, " +
      s"|arg| q99 = $q99, gate scale = $s")
    println(s"[attnfit] faGateWDst = ${dyad(s * coef(0))}")
    println(s"[attnfit] faGateWSrc = ${dyad(s * coef(1))}")
    println(s"[attnfit] faGateBias = ${dyad(s * b0)}")
  }

  private[graft] val usage: String =
    """usage: sbt "runMain graft.AttnFit [<fitDir>]"
      |  <fitDir>  scale-factor directory to fit on (default
      |            $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.01)
      |  --help    print this and exit
      |env: SPARK_GRAFT_CPUS (threads)
      |prints dyadic-rounded attention literals for q86/q87""".stripMargin
}
