package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import pipeline.FraudPipeline.Tier

/** End-to-end pipeline: 32-slot features → split → train → the full
  * held-out test_model metric suite (reference new_utlis_1.py:35-50). */
class PipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("FraudPipeline trains on the full q59 matrix and emits the test_model suite") {
    // sf0.001's held-out fold is 3 users, all one class — ROC AUC is
    // undefined there (sklearn's roc_auc_score raises on it too); sf0.01
    // is the smallest SF whose fold carries both classes (25 neg / 4 pos)
    val r = pipeline.FraudPipeline.run(spark, "/root/testdata/sf0.01")
    val nUsers = r.features.count()
    assert(nUsers > 0)
    // user_id + q19's 31 events-native features + the 4 graph slots
    assert(r.features.columns.length == 36, r.features.columns.mkString(","))
    for (slot <- Seq("out_deg_signed", "in_deg_signed", "nbr_avg_deg", "clustering"))
      assert(r.features.columns.contains(slot), slot)

    val m = r.metrics.head()
    val tp = m.getAs[Long]("tp"); val fp = m.getAs[Long]("fp")
    val tn = m.getAs[Long]("tn"); val fn = m.getAs[Long]("fn")
    val total = tp + fp + tn + fn
    // held-out fold ≈ 20% of labeled users, scored exactly once each
    assert(total == r.scored.count())
    assert(total > 0 && total < nUsers)

    // the complete reference metric row: every number present, in range,
    // and arithmetically consistent with the confusion counts
    val acc = m.getAs[Double]("accuracy")
    assert(acc == math.floor((tp + tn) * 1.0 / total * 1e6 + 0.5) / 1e6)
    for (c <- Seq("accuracy", "macro_precision", "macro_recall", "macro_f1",
        "f1_pos", "f1_neg", "auc", "avg_precision")) {
      val v = m.getAs[Double](c)
      assert(!v.isNaN && v >= 0.0 && v <= 1.0, s"$c = $v")
    }

    // ranking metrics come from the same scored frame: AUC must agree
    // with a direct Mann-Whitney recompute over the collected fold
    val rows = r.scored.select("y", "score").collect()
      .map(x => (x.getInt(0), x.getDouble(1)))
    val pos = rows.filter(_._1 == 1).map(_._2)
    val neg = rows.filter(_._1 == 0).map(_._2)
    assert(pos.nonEmpty && neg.nonEmpty, "held-out fold must contain both classes")
    val wins = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val aucDirect = wins / (pos.length.toDouble * neg.length)
    assert(math.abs(m.getAs[Double]("auc") - aucDirect) < 1e-5,
      s"auc ${m.getAs[Double]("auc")} vs direct $aucDirect")
  }

  test("extended features add the engine's beyond-parity signals, zero-filled") {
    val r = pipeline.FraudPipeline.run(spark, sf, Seq(Tier.Extended))
    for (c <- Seq("pr_scaled", "in_kcore", "kcore_deg", "burst"))
      assert(r.features.columns.contains(c), c)
    // still one row per user, no fan-out from the joins
    assert(r.features.count() ==
      pipeline.FraudPipeline.run(spark, sf).features.count())
    assert(r.features.groupBy("user_id").count()
      .filter(col("count") > 1).count() == 0)
    // at this SF the 25-core is empty, so the membership flag must be
    // uniformly zero-filled — the left-join fill path, proven not vacuous
    val flags = r.features.select("in_kcore").distinct()
      .collect().map(_.getDouble(0)).toSet
    assert(flags == Set(0.0), flags.toString)
    // pagerank joins real mass for every user in the purchase graph
    assert(r.features.filter(col("pr_scaled") > 0).count() > 0)
  }

  test("slice features flatten the q85 tensor: 4 scales × 33 pooled slots, exact pooling") {
    val r = pipeline.FraudPipeline.run(spark, sf, Seq(Tier.Slices()))
    val sliceCols = r.features.columns.filter(_.matches("s[1-4]_.*"))
    // 33 per-slice slots (n_events + 4 stats + 24 hour bins + 4 graph) × 4 scales
    assert(sliceCols.length == 4 * 33, s"${sliceCols.length}: ${sliceCols.take(8).mkString(",")}")
    for (s <- 1 to 4; c <- Seq("n_events", "clustering", "h00"))
      assert(r.features.columns.contains(s"s${s}_$c"), s"s${s}_$c")
    // still one row per user
    assert(r.features.groupBy("user_id").count()
      .filter(col("count") > 1).count() == 0)
    // the pooled value IS the bucket-mean of the q85 tensor for a user
    // with events: recompute one cell independently
    val slices = ops.Features.q85SliceFeatureTensor(spark, sf)
      .select("user_id", "scale", "n_events").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    val uid = slices.head._1
    for (s <- 1 to 4) {
      val vals = slices.filter(x => x._1 == uid && x._2 == s).map(_._3)
      val expected = if (vals.isEmpty) 0.0 else vals.sum.toDouble / vals.length
      val got = r.features.filter(col("user_id") === uid)
        .select(s"s${s}_n_events").head().getDouble(0)
      assert(math.abs(got - expected) < 1e-9, s"scale $s: $got vs $expected")
    }
    // a user with NO per-slice rows is zero-filled, not dropped
    val sliceUsers = slices.map(_._1).toSet
    val all = r.features.select("user_id").collect().map(_.getLong(0)).toSet
    val noSlice = all -- sliceUsers
    if (noSlice.nonEmpty) {
      val row = r.features.filter(col("user_id") === noSlice.head)
        .select(sliceCols.map(col): _*).head()
      assert((0 until sliceCols.length).forall(i => row.getDouble(i) == 0.0))
    }
  }

  test("attention tier: 4 scales × 33 slots, one row per user, q87 pooling") {
    val r = pipeline.FraudPipeline.run(spark, sf, Seq(Tier.Slices(attention = true)))
    val sliceCols = r.features.columns.filter(_.matches("s[1-4]_.*"))
    assert(sliceCols.length == 4 * 33,
      s"${sliceCols.length}: ${sliceCols.take(8).mkString(",")}")
    assert(r.features.groupBy("user_id").count()
      .filter(col("count") > 1).count() == 0)
    // the pivoted cells ARE q87's pooled outputs: cross-check one user
    // against the operator itself
    val pooled = ops.Features.q87TemporalAttentionPool(spark, sf)
      .select("user_id", "scale", "n_events").collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> x.getDouble(2)).toMap
    val uid = pooled.keys.head._1
    for (s <- 1 to 4 if pooled.contains((uid, s))) {
      val got = r.features.filter(col("user_id") === uid)
        .select(s"s${s}_n_events").head().getDouble(0)
      assert(got == pooled((uid, s)), s"scale $s")
    }
  }

  test("residual tier joins q88's layer outputs, zero-filled off-graph") {
    val r = pipeline.FraudPipeline.run(spark, sf, Seq(Tier.Residual))
    for (c <- Seq("res_r1", "res_r2", "res_r3"))
      assert(r.features.columns.contains(c), c)
    // one row per user, no fan-out from the node join
    assert(r.features.count() ==
      pipeline.FraudPipeline.run(spark, sf).features.count())
    // the columns ARE q88's values where the user is in the graph
    val q88 = ops.Graph.q88RelationResidualPropagate(spark, sf).collect()
      .map(row => row.getLong(0) ->
        ((row.getDouble(1), row.getDouble(2), row.getDouble(3)))).toMap
    val got = r.features.select("user_id", "res_r1", "res_r2", "res_r3")
      .collect()
    assert(got.exists(row => q88.contains(row.getLong(0))))
    got.foreach { row =>
      val expected = q88.getOrElse(row.getLong(0), (0.0, 0.0, 0.0))
      assert((row.getDouble(1), row.getDouble(2), row.getDouble(3)) == expected,
        s"user ${row.getLong(0)}")
    }
  }

  test("lstm tier joins q90's final state per scale, zero-filled off-events") {
    val r = pipeline.FraudPipeline.run(spark, sf, Seq(Tier.Lstm()))
    val lstmCols = for { s <- 1 to 4; f <- Seq("h", "c") } yield s"lstm_s${s}_$f"
    for (c <- lstmCols) assert(r.features.columns.contains(c), c)
    // one row per user, no fan-out from the pivot join
    assert(r.features.count() ==
      pipeline.FraudPipeline.run(spark, sf).features.count())
    // the pivoted cells ARE q90's outputs: cross-check against the operator
    val q90 = ops.Features.q90LstmState(spark, sf).collect()
      .map(x => (x.getLong(0), x.getInt(1)) ->
        ((x.getDouble(3), x.getDouble(4)))).toMap
    val uid = q90.keys.head._1
    val row = r.features.filter(col("user_id") === uid)
      .select(col("user_id") +: lstmCols.map(col): _*).head()
    for (s <- 1 to 4) {
      val (h, c) = q90.getOrElse((uid, s), (0.0, 0.0))
      assert(row.getAs[Double](s"lstm_s${s}_h") == h, s"scale $s h")
      assert(row.getAs[Double](s"lstm_s${s}_c") == c, s"scale $s c")
    }
  }

  test("lstm2 tier joins q92's 2-unit state per scale, zero-filled off-events") {
    val r = pipeline.FraudPipeline.run(spark, sf, Seq(Tier.Lstm(units = 2)))
    val cols = for { s <- 1 to 4; f <- Seq("h1", "c1", "h2", "c2") }
      yield s"lstm_s${s}_$f"
    for (c <- cols) assert(r.features.columns.contains(c), c)
    assert(r.features.count() ==
      pipeline.FraudPipeline.run(spark, sf).features.count())
    // the pivoted cells ARE q92's outputs: cross-check against the operator
    val q92 = ops.Features.q90LstmState2(spark, sf).collect()
      .map(x => (x.getLong(0), x.getInt(1)) ->
        ((x.getDouble(3), x.getDouble(4), x.getDouble(5), x.getDouble(6)))).toMap
    val uid = q92.keys.head._1
    val row = r.features.filter(col("user_id") === uid)
      .select(col("user_id") +: cols.map(col): _*).head()
    for (s <- 1 to 4) {
      val (h1, c1, h2, c2) = q92.getOrElse((uid, s), (0.0, 0.0, 0.0, 0.0))
      assert(row.getAs[Double](s"lstm_s${s}_h1") == h1, s"scale $s h1")
      assert(row.getAs[Double](s"lstm_s${s}_c1") == c1, s"scale $s c1")
      assert(row.getAs[Double](s"lstm_s${s}_h2") == h2, s"scale $s h2")
      assert(row.getAs[Double](s"lstm_s${s}_c2") == c2, s"scale $s c2")
    }
  }

  test("every tier stacked: the fixed column order, one row per user, fused and fixed-cell values") {
    val r = pipeline.FraudPipeline.run(spark, sf, PipelineRun.tiersOf(Seq(
      "--extended", "--slices-attn", "--residual", "--lstm2", "--lstm-fixed", "--fused")))
    val hours = (0 until 24).map(h => f"h$h%02d")
    val parityCols = Seq("user_id", "n_events", "mean_val", "var_val", "n_types",
      "mean_gap", "recall_rate", "repeat_rate") ++ hours ++
      Seq("out_deg_signed", "in_deg_signed", "nbr_avg_deg", "clustering")
    val slots = Seq("n_events", "mean_val", "var_val", "recall_rate", "repeat_rate",
      "out_deg", "in_deg", "nbr_avg_deg", "clustering") ++ hours
    val lstmFields = Seq("h1", "c1", "h2", "c2")
    val expected = parityCols ++
      Seq("pr_scaled", "in_kcore", "kcore_deg", "burst") ++
      (for { s <- 1 to 4; c <- slots } yield s"s${s}_$c") ++
      Seq("res_r1", "res_r2", "res_r3") ++
      (for { s <- 1 to 4; f <- lstmFields } yield s"lstm_s${s}_$f") ++
      Seq("fused_lstm_score", "fused_dual_ls0", "fused_dual_ls1")
    assert(r.features.columns.toSeq == expected, r.features.columns.mkString(","))
    // one row per user: the five tiers' joins add none
    val rows = r.features.collect()
    val users = rows.map(_.getAs[Long]("user_id"))
    assert(users.length == users.distinct.length)
    assert(users.length == pipeline.FraudPipeline.run(spark, sf).features.count())

    // the fused columns ARE q94's scores, zero-filled off the graph
    val q94 = ops.Fused.q94Core(spark, sf).collect()
      .map(x => x.getAs[Long]("node") -> ((x.getAs[Double]("lstm_score"),
        x.getAs[Double]("dual_ls0"), x.getAs[Double]("dual_ls1")))).toMap
    // every user at this SF is on the purchase graph; the fold's shared
    // zero fill is exercised by the extended test's empty k-core
    assert(users.exists(q94.contains))
    rows.foreach { row =>
      val got = (row.getAs[Double]("fused_lstm_score"),
        row.getAs[Double]("fused_dual_ls0"), row.getAs[Double]("fused_dual_ls1"))
      assert(got == q94.getOrElse(row.getAs[Long]("user_id"), (0.0, 0.0, 0.0)),
        s"user ${row.getAs[Long]("user_id")}")
    }

    // the lstm columns come from the fixed 2-unit cells, not the trained ones
    def finals(units: ops.Features.LstmUnits): Map[(Long, Int), Seq[Double]] =
      ops.Features.q90FromH(ops.Features.q85Core(spark, sf), units).collect()
        .map(x => (x.getAs[Long]("user_id"), x.getAs[Int]("scale")) ->
          lstmFields.map(f => x.getAs[Double](s"${f}_last"))).toMap
    val fixed = finals(ops.Features.q90UnitsFixed)
    assert(fixed != finals(ops.Features.q90Units), "fixed and trained cells must differ here")
    for (row <- rows; s <- 1 to 4) {
      val got = lstmFields.map(f => row.getAs[Double](s"lstm_s${s}_$f"))
      assert(got == fixed.getOrElse((row.getAs[Long]("user_id"), s), Seq.fill(4)(0.0)),
        s"user ${row.getAs[Long]("user_id")} scale $s")
    }
  }

  test("the model stage hands off through checkpoint leaves, not caches") {
    // `scored` is a plan leaf, the driver fit's local frame: reading it
    // neither re-runs the feature DAG (no file scan) nor holds a cache;
    // the metric suite reads only it
    val r = pipeline.FraudPipeline.run(spark, sf)
    val sp = r.scored.queryExecution.executedPlan
    assert(stripAQEPlan(sp).isInstanceOf[LocalTableScanExec], s"scored is not a plan leaf:\n$sp")
    assert(r.scored.storageLevel == StorageLevel.NONE, r.scored.storageLevel)
    val mp = r.metrics.queryExecution.executedPlan
    assert(collect(mp) { case s: FileSourceScanExec => s }.isEmpty,
      s"metrics re-read the source tables:\n$mp")
  }

  test("every job a call starts carries one of the pipeline's stage labels") {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(pipeline.Stage.Key)
    val (r, jobs) = jobsDuring(pipeline.FraudPipeline.run(spark, sf))
    assert(r.nUsers > 0 && jobs.nonEmpty)
    val stray = unlabeled(jobs, Set("features", "fit", "metrics"))
    assert(stray.isEmpty, stray)
    // the label is the call's own: the caller's value reads as before
    assert(sc.getLocalProperty(pipeline.Stage.Key) == before)
  }

  test("pipeline split is reproducible") {
    // each call leaves no cache entry and no persisted RDD but the
    // checkpoint leaves of the Results still alive
    val (e0, p0) = (cacheEntries, persistedRdds)
    val ra = pipeline.FraudPipeline.run(spark, sf)
    assertSessionAsFound(e0, p0, ra)
    val rb = pipeline.FraudPipeline.run(spark, sf)
    assertSessionAsFound(e0, p0, ra, rb)
    val a = ra.scored.select("user_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = rb.scored.select("user_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
    // back-to-back calls agree on the whole metric row, not just the fold
    assert(ra.metrics.head() == rb.metrics.head(),
      s"${ra.metrics.head()} vs ${rb.metrics.head()}")
    assert(ra.nUsers == rb.nUsers)
  }
}
