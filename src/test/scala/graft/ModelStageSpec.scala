package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import pipeline.{FraudPipeline, LocalLogistic}

/** FraudPipeline's model stage: the driver fit against MLlib's, the
  * reference fit it replaced. Both fit paths are called directly on one
  * assembly, and the whole call is held to MLlib's metric row. */
class ModelStageSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  /** The sf0.01 assembly with a constant and an all-zero column added:
    * two zero-variance features MLlib standardizes to zero. */
  private def assembly(): DataFrame = Release.checkpoint(FraudPipeline.assemble(spark, sf01,
    ops.Features.q59Core(spark, sf01)
      .withColumn("const_three", lit(3.0)).withColumn("all_zero", lit(0.0))))

  /** (user_id → (prediction, P(y = 1))) over `test` from each model. */
  private def mllibScores(m: LogisticRegressionModel, test: DataFrame): Map[Long, (Int, Double)] =
    m.transform(test).select(col("user_id"), col("prediction").cast("int"),
        vector_to_array(col("probability")).getItem(1))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap

  private def driverScores(m: LocalLogistic, test: Seq[Row]): Map[Long, (Int, Double)] =
    test.map { r =>
      val x = r.getAs[org.apache.spark.ml.linalg.Vector](3).toArray
      r.getLong(0) -> ((m.predict(x), m.score(x)))
    }.toMap

  /** Both score maps give every pair of users the same order (ties too). */
  private def assertSameOrder(a: Map[Long, (Int, Double)], b: Map[Long, (Int, Double)]): Unit = {
    val ids = a.keys.toSeq.sorted
    for (i <- ids; j <- ids if i < j)
      assert(math.signum(a(i)._2 - a(j)._2) == math.signum(b(i)._2 - b(j)._2),
        s"users $i, $j: ${a(i)._2} vs ${a(j)._2} (MLlib) but ${b(i)._2} vs ${b(j)._2} (driver)")
  }

  test("the driver fit matches MLlib's on the sf0.01 assembly, zero-variance columns included") {
    Release.scope {
      val a = assembly()
      val (train, test) = FraudPipeline.driverRows(a).partition(_.getBoolean(2))
      assert(train.map(_.getDouble(1)).toSet == Set(0.0, 1.0), "the fold must carry both classes")
      val local = FraudPipeline.driverFit(train.toSeq)
      val ml = FraudPipeline.mllibFit(a.filter(col("is_train")))

      val mlCoef = ml.coefficients.toArray
      assert(local.coefficients.length == mlCoef.length)
      local.coefficients.zip(mlCoef).zipWithIndex.foreach { case ((l, m), j) =>
        assert(math.abs(l - m) <= 1e-9, s"coefficient $j: driver $l vs MLlib $m")
      }
      assert(math.abs(local.intercept - ml.intercept) <= 1e-9,
        s"intercept: driver ${local.intercept} vs MLlib ${ml.intercept}")
      // the zero-variance columns get exactly zero weight on both paths
      val cols = a.columns.filterNot(Set("user_id", "label", "is_train", "fvec").contains)
      for (c <- Seq("const_three", "all_zero")) {
        val j = cols.indexOf(c)
        assert(local.coefficients(j) == 0.0 && mlCoef(j) == 0.0, c)
      }
      // the informative columns are not all zeroed
      assert(local.coefficients.exists(_ != 0.0))

      val mlS = mllibScores(ml, a.filter(!col("is_train")))
      val localS = driverScores(local, test.toSeq)
      assert(mlS.keySet == localS.keySet && mlS.nonEmpty)
      for (u <- mlS.keys) {
        assert(mlS(u)._1 == localS(u)._1, s"user $u prediction")
        assert(math.abs(mlS(u)._2 - localS(u)._2) <= 1e-9, s"user $u score")
      }
      assertSameOrder(mlS, localS)
    }
  }

  test("the pipeline's held-out fold and metric row are the ones MLlib's model gives on sf0.01") {
    val r = FraudPipeline.run(spark, sf01)
    Release.scope {
      // MLlib's fit, transform and metric suite on the pipeline's own assembly
      val a = Release.checkpoint(
        FraudPipeline.assemble(spark, sf01, ops.Features.q59Core(spark, sf01)))
      val ml = FraudPipeline.mllibFit(a.filter(col("is_train")))
      val mlScored = Release.checkpoint(ml.transform(a.filter(!col("is_train")))
        .select(col("user_id"), col("label").cast("int").as("y"),
          col("prediction").cast("int").as("pred"),
          vector_to_array(col("probability")).getItem(1).as("score")))
      val mlMetrics = ops.Metrics.confusionRatios(
        ops.Metrics.rankingFrom(mlScored, "user_id", ops.Metrics.confusionCounts),
        "auc", "avg_precision")
      assert(r.nUsers == a.count())
      assert(r.metrics.columns.toSeq == mlMetrics.columns.toSeq)
      assert(r.metrics.head() == mlMetrics.head(),
        s"driver ${r.metrics.head()} vs MLlib ${mlMetrics.head()}")

      def byUser(df: DataFrame) = df.collect()
        .map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2), x.getDouble(3)))).toMap
      val (d, m) = (byUser(r.scored), byUser(mlScored))
      assert(d.keySet == m.keySet && d.nonEmpty)
      for (u <- d.keys) {
        assert(d(u)._1 == m(u)._1 && d(u)._2 == m(u)._2 && math.abs(d(u)._3 - m(u)._3) <= 1e-9,
          s"user $u: driver ${d(u)} vs MLlib ${m(u)}")
      }
    }
  }

  test("a single-class train fold gives MLlib's model: zero coefficients, infinite intercept") {
    Release.scope {
      val a = assembly()
      val (train, test) = FraudPipeline.driverRows(a).partition(_.getBoolean(2))
      for (label <- Seq(0.0, 1.0)) {
        val local = FraudPipeline.driverFit(
          train.toSeq.map(r => Row(r.getLong(0), label, r.getBoolean(2), r.get(3))))
        val ml = FraudPipeline.mllibFit(a.filter(col("is_train")).withColumn("label", lit(label)))
        assert(ml.coefficients.toArray.forall(_ == 0.0), s"label $label: MLlib")
        assert(local.coefficients.forall(_ == 0.0), s"label $label: driver")
        val inf = if (label == 0.0) Double.NegativeInfinity else Double.PositiveInfinity
        assert(ml.intercept == inf && local.intercept == inf,
          s"label $label: MLlib ${ml.intercept}, driver ${local.intercept}")
        assert(mllibScores(ml, a.filter(!col("is_train"))) == driverScores(local, test.toSeq),
          s"label $label: held-out scores")
      }
    }
  }

  test("an all-negative fold still yields the pipeline's NULL-AUC metric row") {
    // sf0.001 with every account balance made non-negative: no fraud
    // label anywhere, so the train fold is all negative
    val dir = Files.createTempDirectory("graft_one_class")
    for (t <- Seq("region", "nation", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))
      Files.createSymbolicLink(dir.resolve(s"$t.parquet"), Paths.get(s"$sf/$t.parquet"))
    Tables.customer(spark, sf).withColumn("c_acctbal", abs(col("c_acctbal")))
      .write.parquet(s"$dir/customer.parquet")

    try {
      val r = FraudPipeline.run(spark, dir.toString)
      val m = r.metrics.head()
      assert(m.isNullAt(m.fieldIndex("auc")) && m.isNullAt(m.fieldIndex("avg_precision")), m)
      val total = r.scored.count()
      assert(total > 0)
      // the model predicts nothing positive, and every user is negative
      assert(m.getAs[Long]("tn") == total && m.getAs[Double]("accuracy") == 1.0, m)
      assert(r.scored.filter(col("score") =!= 0.0 || col("pred") =!= 0).isEmpty)
    } finally {
      // the links go, never their targets: walk does not follow links
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
