package graft

import graft.ops.Features
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

class FeaturesSpec extends SparkSpec {

  test("q10 multi-scale stats cover the 4 reference scales, n sums to 4x events") {
    val rows = Features.q10WindowedStats(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("scale")).distinct.sorted.toSeq == Seq(1, 2, 3, 4))
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n == 4 * Tables.events(spark, sf).count())
  }

  test("q11 shares per user are a probability distribution") {
    val rows = Features.q11EnergyDispersion(spark, sf).collect()
    // mean of shares * n_types == 1 for every user (shares sum to 1)
    rows.foreach { r =>
      val approx1 = r.getAs[Double]("mean_share") * r.getAs[Long]("n_types")
      assert(math.abs(approx1 - 1.0) < 1e-4, s"user ${r.get(0)}: $approx1")
    }
  }

  test("q12 hour shares sum to 1 per user") {
    val rows = Features.q12HourHistogram(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val s = rs.map(_.getAs[Double]("share")).sum
      assert(math.abs(s - 1.0) < 1e-3, s"user $u share sum $s")
    }
  }

  test("q13 gaps are non-negative") {
    val rows = Features.q13TimeGaps(spark, sf).collect()
    rows.foreach { r =>
      if (!r.isNullAt(1)) assert(r.getAs[Double]("mean_gap") >= 0)
    }
  }

  test("q14 jaccard in [0,1]") {
    val rows = Features.q14RepeatRate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("q15 recall rate in [0,1]") {
    val rows = Features.q15RecallRate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("recall_rate") >= 0.0 &&
      r.getAs[Double]("recall_rate") <= 1.0))
  }

  test("q17 z-scores have ~zero mean") {
    val rows = Features.q17ZScore(spark, sf).collect()
    val mean = rows.map(_.getAs[Double]("z")).sum / rows.length
    assert(math.abs(mean) < 1e-3)
  }

  test("q18 stratified split keeps both strata at ~80%") {
    val labeled = Tables.customer(spark, sf)
      .withColumn("label", (org.apache.spark.sql.functions.col("c_acctbal") < 0).cast("int"))
    val byLabel = labeled.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sampled = Features.q18StratifiedSplit(spark, sf).collect()
    val sampledByLabel = sampled.groupBy(_.getInt(1)).view.mapValues(_.length).toMap
    sampledByLabel.foreach { case (label, n) =>
      val frac = n.toDouble / byLabel(label)
      assert(frac > 0.5 && frac <= 1.0, s"label $label sampled frac $frac")
    }
  }

  test("q59 full matrix: q19 grain + all four graph slots, zero-filled") {
    val q19 = Features.q19FeatureMatrix(spark, sf)
    val full = Features.q59FullFeatureMatrix(spark, sf).cache()
    assert(full.count() == q19.count())
    for (c <- Seq("out_deg_signed", "in_deg_signed", "nbr_avg_deg", "clustering"))
      assert(full.filter(col(c).isNull).count() == 0, c)
    // at least one user carries a real (non-zero) graph feature
    assert(full.filter(col("out_deg_signed") > 0).count() > 0)
    assert(full.filter(col("nbr_avg_deg") > 0).count() > 0)
    full.unpersist()
  }

  test("q85 slice tensor: q10 grain, bounded slots, driver-side graph replay") {
    val rows = Features.q85SliceFeatureTensor(spark, sf).collect()
    // grain = exactly q10's (user, scale, bucket) set
    assert(rows.length == Features.q10WindowedStats(spark, sf).count())
    rows.foreach { r =>
      for (c <- Seq("recall_rate", "repeat_rate", "clustering"))
        assert(r.getAs[Double](c) >= 0.0 && r.getAs[Double](c) <= 1.0, c)
      assert(r.getAs[Long]("out_deg") >= 0 && r.getAs[Long]("in_deg") >= 0)
    }
    // per scale, n_events over all slices partitions the event count
    val total = Tables.events(spark, sf).count()
    rows.groupBy(_.getAs[Int]("scale")).foreach { case (s, rs) =>
      assert(rs.map(_.getAs[Long]("n_events")).sum == total, s"scale $s")
    }
    // driver-side replay of the graph slots on the densest slice
    // (scale=4, bucket=0): degrees and clustering recomputed from the
    // raw events must match the tensor's values exactly
    import org.apache.spark.sql.functions.{datediff, get_json_object, lit}
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("peer"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("day_idx"))
      .collect()
    val slice = ev.filter { r =>
      !r.isNullAt(1) && r.getInt(2) / 28 == 0
    }.map(r => (r.getLong(0), r.getLong(1))).distinct
    val out = slice.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val in = slice.groupBy(_._2).map { case (p, es) => p -> es.map(_._1).toSet }
    val und = (slice ++ slice.map(e => (e._2, e._1))).distinct
    val adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val s4b0 = rows.filter(r => r.getAs[Int]("scale") == 4 && r.getAs[Long]("bucket") == 0L)
    assert(s4b0.nonEmpty)
    s4b0.foreach { r =>
      val u = r.getAs[Long]("user_id")
      assert(r.getAs[Long]("out_deg") == out.getOrElse(u, Set.empty[Long]).size, s"out $u")
      assert(r.getAs[Long]("in_deg") == in.getOrElse(u, Set.empty[Long]).size, s"in $u")
      // clustering from the self-loop-free undirected adjacency
      val nbrs = adj.getOrElse(u, Set.empty[Long]) - u
      val d = nbrs.size
      val expected = if (d >= 2) {
        val links = nbrs.toSeq.combinations(2).count { case Seq(a, b) =>
          adj.getOrElse(a, Set.empty[Long]).contains(b)
        }
        math.floor(links * 2.0 / (d * (d - 1)) * 1e6 + 0.5) / 1e6
      } else 0.0
      assert(r.getAs[Double]("clustering") == expected, s"clustering $u")
    }
  }

  test("q85 cache gate: past the footer bound the uncached branch is bit-identical") {
    // the q63 discipline on q85's narrow events projection — force the
    // gate shut (limit 0 < any event count) and pin BOTH properties:
    // the plan really drops the InMemoryRelation (no silent cache), and
    // every value is bit-identical to the cached path
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val cached = Features.q85SliceFeatureTensor(spark, sf).collect().toSeq
    // drop the first run's registrations — CacheManager would otherwise
    // substitute the still-live raw-projection cache into the gated plan
    spark.catalog.clearCache()
    try {
      val df = Features.q85CoreFromEv(Features.q85Ev(spark, sf, cacheEventLimit = 0),
          Features.q85CcIntersect(spark, sf))
        .orderBy(col("user_id"), col("scale"), col("bucket"))
      // the day-grain uw/e0/und caches stay (bounded by design); only
      // the RAW events projection — the one with ts+value columns —
      // must not be cached when the gate is shut
      val rawImrs = df.queryExecution.executedPlan.collect {
        case s: InMemoryTableScanExec
          if s.output.exists(_.name == "ts") && s.output.exists(_.name == "value") => s
      }
      assert(rawImrs.isEmpty, "gate shut must mean no raw-projection cache")
      assert(df.collect().toSeq == cached)
    } finally {
      spark.catalog.clearCache()
    }
  }

  test("q85 packed hour pairs: unpack inverts packing, incl. high fields past 2^31") {
    import org.apache.spark.sql.functions._
    // a packed long whose HIGH field exceeds 2^31 is a negative long —
    // an arithmetic shiftright would sign-extend and corrupt the count;
    // this pins shiftrightunsigned semantics plus the low-field mask
    val hi = (1L << 31) + 5L // odd-hour count past the sign bit
    val lo = 3L
    val packed = (hi << 32) | lo
    assert(packed < 0, "fixture must exercise the negative-long case")
    val df = spark.range(1).select(
      Features.unpackHour(lit(packed), 0).as("low"),
      Features.unpackHour(lit(packed), 1).as("high"))
    val r = df.head()
    assert(r.getLong(0) == lo && r.getLong(1) == hi, r.toString)
    // and the additive claim the day→slice rollup relies on: packed
    // longs SUM field-wise while both fields stay below 2^32
    val a = (7L << 32) | 11L
    val b = (9L << 32) | 2L
    val s = spark.range(1).select(
      Features.unpackHour(lit(a) + lit(b), 0).as("low"),
      Features.unpackHour(lit(a) + lit(b), 1).as("high")).head()
    assert(s.getLong(0) == 13L && s.getLong(1) == 16L, s.toString)
  }

  test("q85 rollup property: day-grain rollup ≡ naive one-level aggregation " +
      "on a randomized adversarial fixture") {
    // The bit-exactness of the day→slice rollup (q85Activity) vs the
    // oracle's one-level spelling was previously proven only by a
    // manual ProfileQ85 --check run at sf0.01; this pins it in CI on a
    // fixture with every adversarial shape: exact duplicate rows, NULL
    // values (incl. all-NULL users ⇒ NULL mean/var), purchase-less and
    // view-only users, day-boundary + pre-epoch timestamps (negative
    // day_idx ⇒ negative trunc-div buckets) and US-DST-straddling dates
    // (inert under the UTC session, pinned so a TZ change would trip).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    val rnd = new scala.util.Random(20260815L)
    def ts(s: String) = Timestamp.valueOf(s)
    val epochMs = ts("2024-01-01 00:00:00").getTime
    val types = Seq("view", "purchase", "click")
    val base = (1 to 1500).map { i =>
      val u = 1L + rnd.nextInt(20)
      val t = new Timestamp(epochMs + (rnd.nextInt(240) - 40).toLong * 86400000L +
        rnd.nextInt(86400000))
      val ty = u match {
        case 1L => if (rnd.nextBoolean()) "view" else "click" // purchase-less
        case 2L => "purchase"                                 // view-less
        case _  => types(rnd.nextInt(3))
      }
      val v: java.lang.Double =
        if (u == 3L || rnd.nextInt(10) == 0) null
        else rnd.nextInt(100000) / 100.0
      val props = if (rnd.nextInt(4) == 0) """{"x":1}"""
        else s"""{"k": ${1 + rnd.nextInt(20)}}"""
      (u, t, ty, v, props)
    } ++ Seq( // pinned boundary stamps
      (1L, ts("2024-03-10 02:30:00"), "view", java.lang.Double.valueOf(1.25), """{"k": 2}"""),
      (2L, ts("2024-11-03 01:30:00"), "purchase", java.lang.Double.valueOf(2.50), """{"k": 3}"""),
      (4L, ts("2024-01-01 00:00:00"), "view", java.lang.Double.valueOf(0.01), """{"k": 4}"""),
      (4L, ts("2024-01-07 23:59:59"), "purchase", null.asInstanceOf[java.lang.Double], """{"k": 5}"""),
      (5L, ts("2023-12-31 23:59:59"), "purchase", java.lang.Double.valueOf(9.99), """{"k": 6}"""))
    val rows = base ++ rnd.shuffle(base).take(150) // exact duplicates
    import spark.implicits._
    // event_id rides through q85EvBaseFrom for q94's signed-degree side;
    // the tensor builders under test never read it, any value works
    val fixture = rows.zipWithIndex.map { case ((u, t, ty, v, p), i) =>
      (u, i.toLong, t, ty, v, p)
    }.toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val ev = Features.q85EvBaseFrom(fixture)
    // the naive one-level spelling: explode raw events to all four
    // scales, window-resolve the slice's max purchase ts, aggregate in
    // one level — the oracle's a0/act CTEs in Spark clothing
    val exploded = ev
      .withColumn("scale", explode(array(lit(1), lit(2), lit(3), lit(4))))
      .withColumn("bucket", expr("CAST(day_idx AS BIGINT) div CAST(7 * scale AS BIGINT)"))
    val w = Window.partitionBy(col("user_id"), col("scale"), col("bucket"))
    val a0 = exploded.withColumn("mp",
      max(when(col("event_type") === "purchase", col("ts"))).over(w))
    val nView = sum(when(col("event_type") === "view", 1L).otherwise(0L))
    val aggs = Seq(
      count(lit(1)).as("n_events"),
      ops.Exact.r(ops.Exact.davg(col("value")), 6).as("mean_val"),
      ops.Exact.r(ops.Exact.dvarPop(col("value")), 6).as("var_val"),
      when(nView === 0, lit(0.0)).otherwise(ops.Exact.r(
        sum(when(col("event_type") === "view" && col("mp") > col("ts"), 1L)
          .otherwise(0L)) * lit(1.0) / nView, 6)).as("recall_rate")) ++
      (0 until 24).map(h => ops.Exact.r(
        sum(when(hour(col("ts")) === h, 1L).otherwise(0L)) * lit(1.0) /
          count(lit(1)), 6).as(f"h$h%02d"))
    val naive = a0.groupBy(col("user_id"), col("scale"), col("bucket"))
      .agg(aggs.head, aggs.tail: _*)
    val rollup = Features.q85Activity(ev)
    // exact multiset equality — doubles compare bit-for-bit, which is
    // the rollup's whole claim (decimal partials are associative)
    assert(rollup.count() == naive.count())
    assert(rollup.exceptAll(naive).count() == 0, "rollup-only rows")
    assert(naive.exceptAll(rollup).count() == 0, "naive-only rows")
    // the fixture really exercised the adversarial branches
    assert(ev.filter(col("value").isNull).count() > 0)
    assert(ev.filter(col("day_idx") < 0).count() > 0)
    val allNull = rollup.filter(col("user_id") === 3L && col("mean_val").isNull)
    assert(allNull.count() > 0, "all-NULL user must yield NULL mean_val slices")
  }

  test("q87 pooling: an all-NULL-value bucket keeps its softmax mass") {
    // q85 reports mean_val/var_val as NULL for a slice whose values are
    // all NULL; the pool must treat the slot as zero mass, not drop the
    // bucket — un-coalesced, the NULL would null the gate score, vanish
    // the bucket from the denominator and null every pooled output.
    // (Driver testdata has no NULL values, so only a synthetic tensor
    // exercises this.)
    def bucket(b: Long, nEvents: Long, meanVal: Option[Double]) = {
      val slots = Features.q87FeatureAttn.map {
        case ("n_events", _) => lit(nEvents).as("n_events")
        case ("mean_val", _) => meanVal.map(lit(_))
          .getOrElse(lit(null)).cast("double").as("mean_val")
        case ("var_val", _) => meanVal.map(_ => lit(0.25))
          .getOrElse(lit(null)).cast("double").as("var_val")
        case (c, _) => lit(0.125).as(c)
      }
      spark.range(1).select(
        lit(1L).as("user_id") +: lit(1).as("scale") +: lit(b).as("bucket") +:
          slots: _*)
    }
    val t = bucket(0, 10L, Some(2.0)).unionByName(bucket(1, 40L, None))
    val out = Features.q87PoolFrom(t).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_buckets") == 2)
    // both buckets hold softmax mass — were the NULL bucket dropped,
    // the surviving bucket's attention would be exactly 1.0
    assert(r.getAs[Double]("att_max") < 1.0, r.toString)
    for ((c, _) <- Features.q87FeatureAttn)
      assert(!r.isNullAt(r.fieldIndex(c)), s"pooled $c must not be NULL")
    // the NULL bucket's n_events (40, the larger activity) still
    // dominates the pooled activity slot
    assert(r.getAs[Double]("n_events") > 10.0, r.toString)
  }

  test("q87 attention pool: driver replay + quantization margin audit + weight sanity") {
    // the trained feature-attention literals are dyadic at 1/2^20 (the
    // cross-engine exactness contract) and carry real signal (not all 0)
    for ((c, w) <- Features.q87FeatureAttn) {
      assert(w * (1L << 20) == math.rint(w * (1L << 20)), s"$c weight not dyadic")
      assert(math.abs(w) < 16.0, s"$c weight out of the audited range")
    }
    assert(Features.q87FeatureAttn.count(_._2 != 0.0) > 10)
    assert(Features.q87GateW * (1L << 20) == math.rint(Features.q87GateW * (1L << 20)))
    assert(Features.q87GateB * (1L << 20) == math.rint(Features.q87GateB * (1L << 20)))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def q12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val tensor = Features.q85SliceFeatureTensor(spark, sf).collect()
    // per-bucket raw score chain, exactly the plan's op order (null →
    // 0.0 mirrors the operator's slot coalesce)
    def slotOf(r: org.apache.spark.sql.Row, c: String): Double =
      r.get(r.fieldIndex(c)) match {
        case null => 0.0
        case l: Long => l.toDouble
        case d: Double => d
      }
    def pooledOf(r: org.apache.spark.sql.Row): Double =
      Features.q87FeatureAttn.map { case (c, w) => w * slotOf(r, c) }
        .reduce(_ + _)
    def sRaw(r: org.apache.spark.sql.Row): Double = {
      val arg = Features.q87GateW * pooledOf(r) + Features.q87GateB
      1.0 - 2.0 / (math.exp(2.0 * arg) + 1.0)
    }
    // margin audit (q86's discipline): both 6dp quantizations — tanh
    // score and softmax numerator — must sit ≥1e-8 grid steps from the
    // floor(x+0.5) jump; cross-engine exp disagreement is ulp-scale
    val margins = tensor.flatMap { r =>
      val s = sRaw(r)
      Seq(s, math.exp(r6(s))).map { x =>
        math.abs(x * 1e6 - math.floor(x * 1e6) - 0.5)
      }
    }
    assert(margins.min > 1e-8, s"quantization margin ${margins.min} too tight")
    // full replay: 6dp e^s, exact DECIMAL(18,6) denominator,
    // DECIMAL(28,12) messages, 6dp outputs
    val out = Features.q87TemporalAttentionPool(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("scale")) -> r).toMap
    tensor.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[Int]("scale")))
      .foreach { case (key, rows) =>
        val es = rows.map(r => r6(math.exp(r6(sRaw(r)))))
        val den = es.map(q6).sum.toDouble
        val as = es.map(_ / den)
        val got = out(key)
        assert(got.getAs[Long]("n_buckets") == rows.length)
        assert(got.getAs[Double]("att_max") == r6(as.max), s"att_max $key")
        for ((c, _) <- Features.q87FeatureAttn.take(5)) {
          val exp0 = r6(as.zip(rows).map { case (a, r) =>
            q12(a * slotOf(r, c))
          }.sum.toDouble)
          assert(got.getAs[Double](c) == exp0, s"$c $key")
        }
        // attention is a distribution over the buckets
        assert(math.abs(as.sum - 1.0) < 1e-9)
      }
  }

  test("q19 feature matrix is one row per active user") {
    val rows = Features.q19FeatureMatrix(spark, sf).collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.length == users)
  }

  test("q19 recall counts only strictly later purchases") {
    // per user: a view and a purchase at the SAME ts, the purchase after
    // it in event_id order (not recalled: the test is strict >); a view
    // followed by a later purchase (recalled); a purchase BEFORE a view
    // (not recalled: an earlier purchase must not leak in through the
    // whole-partition max)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q19-recall").toString
    val ns = 1704067200L * 1000000000L // 2024-01-01 in parquet nanos
    val sec = 1000000000L
    Seq(
      (1L, ns, 10L, "view", 1.0, "{}"),
      (2L, ns, 10L, "purchase", 1.0, "{}"),
      (3L, ns, 20L, "view", 1.0, "{}"),
      (4L, ns + sec, 20L, "purchase", 1.0, "{}"),
      (5L, ns, 30L, "purchase", 1.0, "{}"),
      (6L, ns + sec, 30L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val recall = Features.q19FeatureMatrix(spark, dir)
      .select("user_id", "recall_rate").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(recall == Map(10L -> 0.0, 20L -> 1.0, 30L -> 0.0), recall)
  }

  test("q16 yields NULL areas (not \"\") for an all-NULL area group") {
    // No current SF carries a NULL props.k, so the NULL branch is dead
    // code against the oracle gate — pin it here on synthetic data.
    // DuckDB's list(DISTINCT) returns NULL for an all-NULL group and
    // drops NULLs from a mixed one (verified against duckdb directly);
    // collect_set would return [] — the `when(count(area) = 0)` guard is
    // what keeps the two engines hash-equal if NULL areas ever appear.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q16-null").toString
    val ns = 1704067200L * 1000000000L // 2024-01-01 in parquet nanos
    Seq(
      (1L, ns, 10L, "view", "{}"),             // no props.k at all
      (2L, ns + 2000000000L, 10L, "view", "{\"x\": 1}"), // k absent, other key present
      (3L, ns, 20L, "view", "{\"k\": 7}"),     // mixed group: one real area...
      (4L, ns + 2000000000L, 20L, "view", "{}")) // ...and one NULL
      .toDF("event_id", "ts", "user_id", "event_type", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Features.q16AreaChange(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(10L).getLong(2) == 0L, "all-NULL group: n_areas must be 0")
    assert(rows(10L).isNullAt(3), "all-NULL group: areas must be NULL, not \"\"")
    assert(rows(20L).getLong(2) == 1L, "mixed group counts only non-NULL areas")
    assert(rows(20L).getString(3) == "7", "mixed group drops NULLs from the list")
  }

  test("q79 transitions: rows are a proper conditional distribution; mass conserved") {
    val rows = ops.Features.q79Transitions(spark, sf).collect()
    assert(rows.nonEmpty)
    // P(·|a) sums to 1 per current type (up to the 6dp quantization)
    rows.groupBy(_.getString(0)).foreach { case (a, rs) =>
      val mass = rs.map(_.getDouble(3)).sum
      assert(math.abs(mass - 1.0) < 1e-4, s"cur=$a mass $mass")
    }
    // total transition count = Σ_user (n_events − 1)
    val expected = Tables.events(spark, sf).groupBy(col("user_id"))
      .count().collect().map(_.getLong(1) - 1).sum
    assert(rows.map(_.getLong(2)).sum == expected)
  }

  test("q83 Gini: bounds, driver-side replay, uniform counts give zero") {
    val rows = ops.Features.q83ActivityGini(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getDouble(3)
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)} gini $g out of bounds")
    }
    // driver replay of the ALL row from per-user counts
    val xs = Tables.events(spark, sf).groupBy(col("user_id")).count()
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .sortBy(identity).map(_._1)
    val n = xs.length.toLong
    val total = xs.sum
    val s1 = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
    val exp = math.floor((2.0 * s1 - (n + 1.0) * total) /
      (n * 1.0 * total) * 1e6 + 0.5) / 1e6
    val all = rows.find(_.getString(0) == "ALL").get
    assert(all.getLong(1) == n && all.getLong(2) == total)
    assert(all.getDouble(3) == exp, s"ALL gini ${all.getDouble(3)} != $exp")
  }

  test("q77 EWMA burst: full driver-side integer replay") {
    val rows = Features.q77EwmaBurst(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1)
    assert(rows.keySet == byUser.keySet)
    byUser.foreach { case (u, es) =>
      // exact integer replay: cents·2^(16-rn) over the 16 most recent
      val recent = es.sortBy(e => (-e._2, -e._3)).take(16)
      val terms = recent.zipWithIndex.map { case (e, i) =>
        val cents = BigDecimal(e._4).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100
        (cents.toLongExact * (1L << (15 - i)), 1L << (15 - i))
      }
      val ewmaRaw = terms.map(_._1).sum.toDouble / (100.0 * terms.map(_._2).sum)
      val meanRaw = es.map(e => BigDecimal(e._4).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / es.length
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val got = rows(u)
      assert(got.getLong(1) == es.length.toLong, s"user $u n_events")
      assert(got.getDouble(2) == r6(meanRaw), s"user $u mean")
      assert(got.getDouble(3) == r6(ewmaRaw), s"user $u ewma16")
      if (meanRaw == 0.0) assert(got.isNullAt(4))
      else assert(got.getDouble(4) == r6(ewmaRaw / meanRaw), s"user $u burst")
    }
  }

  // --- q90: the LSTM fold against an independent in-JVM reference ----

  // q90's plain-Scala reference cell lives in [[Q90Ref]] — independent
  // of the SQL expression text AND of the packed-double encoding, so it
  // catches a bug in either (e.g. the DuckDB in-place struct-field
  // pitfall the packed accumulator exists to dodge).
  private def q90RefCell(x: Double, h: Double, c: Double): (Double, Double) =
    Q90Ref.cell(x, h, c)

  private def q90Tensor(rows: Seq[(Long, Int, Long, Long, Double)]) = {
    // (user, scale, bucket, n_events, mean_val); other slots constant.
    // One local frame: a union of one-row frames would plan and run one
    // partition per row
    val slots = Features.q87FeatureAttn.map(_._1)
    val schema = StructType(Seq(StructField("user_id", LongType, false),
        StructField("scale", IntegerType, false), StructField("bucket", LongType, false)) ++
      slots.map(c => StructField(c, if (c == "n_events") LongType else DoubleType, false)))
    spark.createDataFrame(java.util.List.of(rows.map { case (u, s, b, n, m) =>
      Row.fromSeq(Seq[Any](u, s, b) ++ slots.map {
        case "n_events" => n
        case "mean_val" => m
        case _ => 0.125
      })
    }: _*), schema)
  }

  private def q90RefX(n: Long, m: Double): Double = Q90Ref.x(n, m)

  test("q90 fold matches an independent reference, out-of-order buckets") {
    // bucket rows arrive DESCENDING — the sort_array must restore time order
    val rows = Seq(
      (1L, 1, 3L, 7L, 2.5), (1L, 1, 2L, 90L, -1.0), (1L, 1, 1L, 4L, 0.0),
      (1L, 1, 0L, 55L, 12.0),
      (2L, 1, 0L, 10L, 3.0), (2L, 1, 1L, 20L, 4.0),
      (2L, 2, 5L, 1L, -6.0))
    val out = Features.q90FromH(q90Tensor(rows), Features.q90Scalar)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    for (((u, s), grp) <- rows.groupBy(r => (r._1, r._2))) {
      val (h, c) = grp.sortBy(_._3).foldLeft((0.0, 0.0)) {
        case ((h, c), (_, _, _, n, m)) => q90RefCell(q90RefX(n, m), h, c)
      }
      val (nb, hGot, cGot) = out((u, s))
      assert(nb == grp.size.toLong, s"group ($u,$s) n_buckets")
      assert(hGot == h, s"group ($u,$s) h_last: got $hGot want $h")
      assert(cGot == c, s"group ($u,$s) c_last: got $cGot want $c")
    }
  }

  test("q90: real-data replay + quantization margin audit") {
    // replay the whole recurrence over the REAL tensor in the JVM and
    // audit every raw value the cell quantizes: each must sit ≥1e-8
    // grid steps from the floor(x·10⁶ + 0.5) jump, so an ulp-scale
    // cross-engine exp disagreement cannot split the 6dp grid (the
    // q86/q87 discipline, extended to a RECURRENCE where one split
    // step would corrupt every later step of that key)
    def slotOf(r: org.apache.spark.sql.Row, c: String): Double =
      r.get(r.fieldIndex(c)) match {
        case null => 0.0
        case l: Long => l.toDouble
        case d: Double => d
      }
    var minMargin = Double.MaxValue
    def probe(x: Double): Unit = {
      val d = math.abs(x * 1e6 - math.floor(x * 1e6) - 0.5)
      if (d < minMargin) minMargin = d
    }
    val out = Features.q90LstmState(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val tensor = Features.q85SliceFeatureTensor(spark, sf).collect()
    val groups = tensor.groupBy(r =>
      (r.getAs[Long]("user_id"), r.getAs[Int]("scale")))
    assert(out.keySet == groups.keySet)
    groups.foreach { case (key, rows) =>
      val xs = rows.sortBy(_.getAs[Long]("bucket")).map { r =>
        val pooled = Features.q87FeatureAttn
          .map { case (c, w) => w * slotOf(r, c) }.reduce(_ + _)
        probe(pooled)
        Q90Ref.r6(pooled)
      }
      val (h, c) = xs.foldLeft((0.0, 0.0)) {
        case ((h, c), x) => Q90Ref.cell(x, h, c, probe)
      }
      assert(out(key) == ((xs.length.toLong, h, c)), s"group $key")
    }
    assert(minMargin > 1e-8, s"quantization margin $minMargin too tight")
  }

  test("q90 cell state saturates at the +-4.0 clip and stays pack-safe") {
    // huge projections (|mean_val| 5e4 => |x| ~ 41) pin the gates and
    // the cell integrates ~±1 per bucket until the clip holds it; the
    // trained table's i/f gates open under NEGATIVE x (wx < 0), so the
    // saturating direction is driven by mean_val = -5e4 (the fixed
    // table's was +5e4 — the invariant under test is the clip and the
    // pack bounds, not the sign)
    val rows = (0L until 12L).map(b => (9L, 1, b, 1L, -50000.0))
    val out = Features.q90FromH(q90Tensor(rows), Features.q90Scalar).collect()
    assert(out.length == 1)
    val (h, c) = rows.foldLeft((0.0, 0.0)) {
      case ((h, c), (_, _, _, n, m)) => q90RefCell(q90RefX(n, m), h, c)
    }
    assert(math.abs(c) == 4.0, s"clip must engage: ref c=$c") // the clip is live
    assert(out.head.getDouble(4) == c)
    assert(out.head.getDouble(3) == h)
    assert(math.abs(h) > 0.0 && math.abs(h) < 1.0)
  }

  test("q90FromH compiled fold is bit-identical to the aggregate() HOF " +
      "spelling (H=2 and H=4, randomized + clip-saturating inputs)") {
    // The compiled UDF twin must reproduce the generated cell text's
    // IEEE op chain EXACTLY — any drift breaks the hash oracle. Drive
    // both spellings over a randomized multi-group tensor (out-of-order
    // buckets, clip-saturating magnitudes, negative values, long
    // sequences) and require exceptAll == 0 both directions. The loop
    // covers H=1 (q90's scalar cell) too, beyond what the name says.
    val rnd = new scala.util.Random(9012L)
    val rows = (for {
      u <- 1L to 25L
      s <- 1 to 2
      b <- 0L until (5 + rnd.nextInt(30)).toLong
    } yield {
      val m = rnd.nextInt(5) match {
        case 0 => -50000.0 // saturate the clip
        case 1 => 50000.0
        case _ => math.floor(rnd.nextDouble() * 2e6 - 1e6) / 100.0
      }
      (u, s, b, 1L + rnd.nextInt(100).toLong, m)
    }).toSeq
    for (units <- Seq(Features.q90Scalar, Features.q90Units, Features.q93Units)) {
      val t = q90Tensor(rnd.shuffle(rows))
      val hof = Features.q90FromH(t, units, compiled = false)
      val udfF = Features.q90FromH(t, units)
      assert(udfF.exceptAll(hof).isEmpty && hof.exceptAll(udfF).isEmpty,
        s"compiled fold diverged from HOF at H=${units.length}")
      assert(udfF.count() == rows.map(r => (r._1, r._2)).distinct.size)
    }
  }
}
