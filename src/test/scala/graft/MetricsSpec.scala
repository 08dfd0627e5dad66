package graft

/** Semantic invariants for the metric operators (SURVEY.md §2.D). */
class MetricsSpec extends SparkSpec {

  test("q26 confusion counts partition the dataset") {
    val r = ops.Metrics.q26ConfusionMetrics(spark, sf).head()
    val total = r.getLong(0) + r.getLong(1) + r.getLong(2) + r.getLong(3)
    assert(total == Tables.embeddings(spark, sf).count())
    val acc = r.getDouble(4)
    assert(acc >= 0.0 && acc <= 1.0)
  }

  test("q27 AUC in [0,1] and pos/neg counts sum to n") {
    val r = ops.Metrics.q27RocAuc(spark, sf).head()
    val auc = r.getDouble(0)
    assert(auc >= 0.0 && auc <= 1.0)
    assert(r.getLong(1) + r.getLong(2) == Tables.embeddings(spark, sf).count())
  }

  test("q28 average precision >= prevalence baseline sanity") {
    val r = ops.Metrics.q28AvgPrecision(spark, sf).head()
    val ap = r.getDouble(0)
    assert(ap > 0.0 && ap <= 1.0)
  }

  test("the fused ranking core equals brute-force AUC and AP on tie-heavy frames") {
    val rnd = new scala.util.Random(7)
    // 65 distinct scores k/64: with the core's 1024 equi-width buckets
    // over [0, 1] every score sits exactly on a bucket edge, and each is
    // shared by ~45 rows; the third frame is one giant tie
    val graded = (0 until 3000).map { i =>
      val k = rnd.nextInt(65)
      (i.toLong, if (rnd.nextDouble() < 0.2 + 0.6 * k / 64) 1 else 0, k / 64.0)
    }
    val frames = Seq(graded, graded.map { case (i, y, s) => (i, 1 - y, s) },
      graded.map { case (i, y, _) => (i, y, 0.25) })
    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    for ((rows, f) <- frames.zipWithIndex; parts <- Seq(1, 7)) {
      val df = spark.createDataFrame(rows).toDF("id", "y", "score").repartition(parts)
      val got = Release.scope(ops.Metrics.rankingFrom(df, "id").head())
      // sklearn's roc_auc_score: P(pos > neg) + ½·P(pos = neg)
      val pos = rows.filter(_._2 == 1).map(_._3)
      val neg = rows.filter(_._2 == 0).map(_._3)
      val wins = (for (p <- pos; n <- neg) yield
        if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      // sklearn's AP formula Σ (R_k − R_{k−1})·P_k over the strict
      // (score desc, id) ranking, each term quantized as q28 does
      var cum = 0L
      val terms = rows.sortBy(r => (-r._3, r._1)).zipWithIndex.collect {
        case ((_, 1, _), k) =>
          cum += 1
          BigDecimal(cum.toDouble / (k + 1)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }
      val ctx = s"frame $f, $parts partitions: $got"
      assert(got.getAs[Long]("n_pos") == pos.length && got.getAs[Long]("n_neg") == neg.length, ctx)
      assert(got.getAs[Double]("auc") == round6(wins / (pos.length.toDouble * neg.length)), ctx)
      assert(got.getAs[Double]("avg_precision") == round6(terms.sum.toDouble / pos.length), ctx)
    }
  }

  test("q29 MLlib logistic regression scores every vector") {
    val df = ops.Metrics.q29MllibPipeline(spark, sf)
    assert(df.count() == Tables.embeddings(spark, sf).count())
    // separable synthetic clusters: the model must beat majority-class
    val agree = df.filter("y = pred").count().toDouble / df.count()
    assert(agree > 0.85, s"train accuracy $agree")
  }

  test("q54 MLP scores every vector and beats majority-class") {
    val df = ops.Metrics.q54MlpPipeline(spark, sf)
    assert(df.count() == Tables.embeddings(spark, sf).count())
    val agree = df.filter("y = pred").count().toDouble / df.count()
    assert(agree > 0.85, s"train accuracy $agree")
  }
}
