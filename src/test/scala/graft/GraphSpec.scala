package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the graph operators (SURVEY.md §2.C). */
class GraphSpec extends SparkSpec {

  test("q20 degrees: sum(out_deg) == sum(in_deg) == |distinct edges|") {
    val d = ops.Graph.q20Degrees(spark, sf)
      .agg(sum("out_deg").as("o"), sum("in_deg").as("i")).head()
    val e = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    assert(d.getLong(0) == e && d.getLong(1) == e)
  }

  test("q21 common neighbors: canonical order, threshold respected") {
    val rows = ops.Graph.q21CommonNeighbors(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getLong(2) >= 3))
  }

  test("q23 clustering coefficient within [0,1]") {
    val rows = ops.Graph.q23Triangles(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val c = r.getDouble(3); c >= 0.0 && c <= 1.0
    })
  }

  test("q24 sampling probabilities sum to 1 and cover all customers") {
    val df = ops.Graph.q24DegreeSamplingProb(spark, sf)
    val n = Tables.customer(spark, sf).count()
    assert(df.count() == n)
    val tot = df.agg(sum("prob")).head().getDouble(0)
    assert(math.abs(tot - 1.0) < 1e-4, s"prob sum $tot")
  }

  test("q64 two-exponent probs: sum to 1, train-only, degree-monotone within class") {
    val df = ops.Graph.q64MultiRelationSamplingProb(spark, sf).collect()
    val tot = df.map(_.getAs[Double]("prob")).sum
    assert(math.abs(tot - 1.0) < 1e-4, s"prob sum $tot")
    // train split only: strictly fewer rows than suppliers
    val nSup = Tables.supplier(spark, sf).count()
    assert(df.length < nSup && df.length > 0)
    // within a class, prob is monotone in degree (deg^0.75 numerator,
    // shared class denominator)
    for (cls <- Seq(0, 1)) {
      val byDeg = df.filter(_.getAs[Int]("label") == cls)
        .sortBy(_.getAs[Long]("deg"))
      val probs = byDeg.map(_.getAs[Double]("prob")).toSeq
      assert(probs == probs.sorted, s"class $cls probs not degree-monotone")
    }
  }

  test("q65 class-balanced edge probs: sum to 1, rarer classes boosted vs raw degree product") {
    val rows = ops.Graph.q65EdgeClassBalancedProb(spark, sf).collect()
    val tot = rows.map(_.getAs[Double]("prob")).sum
    assert(math.abs(tot - 1.0) < 1e-4, s"prob sum $tot")
    assert(rows.forall(_.getAs[Double]("prob") > 0.0))
    // the class-rate division means each class's probability mass is the
    // raw-degree-product mass boosted by 1/rate_class — so the per-edge
    // AVERAGE boost (q65 prob / q46 prob) must be strictly ordered
    // inversely to class frequency
    val q46 = ops.Graph.q46EdgeSamplingProb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("prob")).toMap
    val boostByClass = rows.groupBy(_.getAs[Int]("edge_class")).map {
      case (c, rs) =>
        val boosts = rs.flatMap { r =>
          val p46 = q46.get((r.getLong(0), r.getLong(1)))
          p46.filter(_ > 0).map(r.getAs[Double]("prob") / _)
        }
        c -> (boosts.sum / boosts.length, rs.length)
    }
    val byFreq = boostByClass.toSeq.sortBy(_._2._2) // ascending class size
    val boosts = byFreq.map(_._2._1)
    assert(boosts == boosts.sorted.reverse,
      s"boost not inversely ordered to class size: $byFreq")
  }

  test("q66 GCN propagation matches an independent driver-side SpMV") {
    val out = ops.Graph.q66GcnPropagate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // independent recompute: symmetrized distinct purchase pairs
    val und = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap(e => Seq(e, e.swap)).distinct
    val deg = und.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val nodes = und.map(_._1).distinct
    assert(out.keySet == nodes.toSet)
    nodes.foreach { i =>
      val nbrs = und.filter(_._1 == i).map(_._2)
      val hDeg = nbrs.map(j =>
        BigDecimal(1.0 / math.sqrt(deg(i)) * (1.0 / math.sqrt(deg(j))) * deg(j))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
      val hCnt = nbrs.map(j =>
        BigDecimal(1.0 / math.sqrt(deg(i)) * (1.0 / math.sqrt(deg(j))))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(out(i)._1 == r6(hDeg.toDouble), s"node $i h_deg")
      assert(out(i)._2 == r6(hCnt.toDouble), s"node $i h_cnt")
      // symmetric normalization bound: h_cnt ≤ sqrt(deg)
      assert(out(i)._2 <= math.sqrt(deg(i).toDouble) + 1e-9)
    }
  }

  test("q86 attention propagation: driver-side replay + tanh quantization margin audit") {
    val out = ops.Graph.q86AttentionPropagate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val und = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val deg = adj.map { case (n, js) => n -> js.length.toLong }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    // the overflow-safe tanh spelling the engine and the oracle share
    def alphaRaw(di: Long, dj: Long): Double =
      1.0 - 2.0 / (math.exp(2.0 * (ops.Graph.faGateWDst * di +
        ops.Graph.faGateWSrc * dj + ops.Graph.faGateBias)) + 1.0)
    // margin audit (q68's ln discipline): every distinct (deg_i, deg_j)
    // pair's pre-quantization α must sit ≥1e-8 grid steps away from the
    // floor(x+0.5) jump — cross-engine exp disagreement is ulp-scale
    // (~1e-15 relative), so the 6dp gate cannot flake
    val pairs = und.map(e => (deg(e._1), deg(e._2))).distinct
    val minMargin = pairs.map { case (di, dj) =>
      val x = alphaRaw(di, dj) * 1e6
      math.abs(x - math.floor(x) - 0.5)
    }.min
    assert(minMargin > 1e-8, s"tanh quantization margin $minMargin too tight")
    // full replay: α quantized at 6dp, e = α·(deg+1)^-1/2 products in
    // the plan's association order, DECIMAL(28,12) messages, 6dp output
    assert(out.keySet == adj.keySet)
    adj.foreach { case (i, js) =>
      val zDeg = r6(js.map { j =>
        val e = r6(alphaRaw(deg(i), deg(j))) * (1.0 / math.sqrt(deg(i) + 1.0)) *
          (1.0 / math.sqrt(deg(j) + 1.0))
        q12(e * deg(j))
      }.sum.toDouble)
      val zCnt = r6(js.map { j =>
        q12(r6(alphaRaw(deg(i), deg(j))) * (1.0 / math.sqrt(deg(i) + 1.0)) *
          (1.0 / math.sqrt(deg(j) + 1.0)))
      }.sum.toDouble)
      assert(out(i)._1 == zDeg, s"node $i z_deg")
      assert(out(i)._2 == zCnt, s"node $i z_cnt")
    }
    // attention is signed by design (FALayer's point) — the MECHANISM
    // must support negative attention even though the TRAINED gate
    // (AttnFit: homophily is degree-flat on this data, AUC 0.539) is
    // mildly positive everywhere: a negative gate argument flows
    // through to a negative α
    assert(alphaRaw(0, 0) > 0.0, "trained gate is positive at the bias point")
    assert(1.0 - 2.0 / (math.exp(2.0 * -0.5) + 1.0) < 0.0,
      "the tanh spelling must carry negative arguments to negative attention")
    assert(out.values.forall(_._2 > 0.0),
      "with the trained (uniformly positive) gate every aggregate is positive")
  }

  test("q67 two-round GCN chains round 1 through the same SpMV (driver cross-check)") {
    val out = ops.Graph.q67GcnPropagate2(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val und = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val deg = adj.map { case (n, js) => n -> js.length.toLong }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    // round 1 with the 1e-6 quantization the engine emits between rounds
    val h1 = adj.map { case (i, js) =>
      i -> (
        r6(js.map(j => q12(
          1.0 / math.sqrt(deg(i)) * (1.0 / math.sqrt(deg(j))) * deg(j))).sum.toDouble),
        r6(js.map(j => q12(
          1.0 / math.sqrt(deg(i)) * (1.0 / math.sqrt(deg(j))))).sum.toDouble))
    }
    assert(out.keySet == adj.keySet)
    adj.foreach { case (i, js) =>
      val hDeg = r6(js.map(j => q12(
        1.0 / math.sqrt(deg(i)) * (1.0 / math.sqrt(deg(j))) * h1(j)._1)).sum.toDouble)
      val hCnt = r6(js.map(j => q12(
        1.0 / math.sqrt(deg(i)) * (1.0 / math.sqrt(deg(j))) * h1(j)._2)).sum.toDouble)
      assert(out(i)._1 == hDeg, s"node $i h_deg round 2")
      assert(out(i)._2 == hCnt, s"node $i h_cnt round 2")
    }
    // smoothing sanity: two rounds keep the symmetric-normalization bound
    out.values.foreach { case (_, hc) => assert(hc >= 0.0) }
  }

  test("adjacency cap bounds pair blowup under a synthetic hub vertex") {
    import spark.implicits._
    val cap = 16
    // one hub (dst=0) with 1000 distinct neighbors + a small clique side
    val hub = (1 to 1000).map(i => (i.toLong, 0L)).toDF("src", "dst")
    val capped = ops.Graph.capPerKeys(hub, Seq("dst"), "src", cap)
    assert(capped.count() == cap)
    // deterministic: the cap keeps the SMALLEST src ids
    assert(capped.agg(max("src")).head().getLong(0) == cap.toLong)
    // the quadratic pairing on the capped graph is bounded by cap²/2,
    // not the 1000²/2 the raw hub would produce
    val pairs = capped.as("a").join(capped.as("b"),
      col("a.dst") === col("b.dst") && col("a.src") < col("b.src")).count()
    assert(pairs == cap.toLong * (cap - 1) / 2)
  }

  test("keyed triangle core: intersect spelling exact-equals the pair join") {
    // the density-gated alternative (the `intersect` spelling, chosen by
    // q85Core past the events footer gate) must be value-identical to
    // the join spelling on a graph with shared neighbors, hubs
    // (cap-exercising), isolated pairs and multiple slices
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    val edges = (1 to 4000).map { _ =>
      (1 + rnd.nextInt(2), rnd.nextInt(3).toLong, // (scale, bucket)
        rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    }.toDF("scale", "bucket", "src", "dst")
    val keys = Seq("scale", "bucket")
    val und = ops.Graph.symmetrized(edges, keys)
      .distinct().filter(col("src") =!= col("dst"))
    val a = ops.Graph.q23FromUndKeyed(und, keys)
    val b = ops.Graph.q23FromUndKeyed(und, keys, intersect = true)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // zero keys is the static core: over one slice's edges it gives
    // exactly that slice's keyed rows, in both spellings
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("node", "deg", "triangles", "clustering").collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
    val slices = und.select(keys.map(col): _*).distinct().collect()
    assert(slices.length == 6)
    for (intersect <- Seq(false, true); s <- slices) {
      val inSlice = col("scale") === s.getInt(0) && col("bucket") === s.getLong(1)
      val static = ops.Graph.q23FromUndKeyed(
        und.filter(inSlice).select("src", "dst"), Nil, intersect)
      assert(rows(static) == rows((if (intersect) b else a).filter(inSlice)),
        s"slice $s, intersect = $intersect")
    }
    spark.catalog.clearCache() // canon/adj caches
  }

  test("src/main gates broadcasts only through Graph.gate") {
    // one broadcast gate: the node limit appears only where the gate is
    // defined, so no operator can re-spell or shadow it
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val limit = """broadcastNodeLimit|50L \* 1000 \* 1000""".r
    val definition = Set(
      "private val broadcastNodeLimit = 50L * 1000 * 1000",
      "private[ops] def broadcastable(rows: Long): Boolean = rows <= broadcastNodeLimit")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if limit.findFirstIn(line).nonEmpty &&
              !(f.getFileName.toString == "Graph.scala" && definition(line.trim)) =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q25 row-normalized weights sum to 1 per src") {
    val bad = ops.Graph.q25RowNormalizeAdj(spark, sf)
      .groupBy("src").agg(sum("norm_w").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-3).count()
    assert(bad == 0)
  }

  test("q73 PageRank matches an independent driver-side power iteration; mass conserved") {
    val out = ops.Graph.q73PageRank(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val und = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val deg = adj.map { case (n, js) => n -> js.length.toLong }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    // 3 damped power iterations with the same quantization the engine runs
    var rs: Map[Long, Double] = deg.map { case (n, _) => n -> 1.0 }
    for (_ <- 1 to ops.Graph.pagerankRounds) {
      rs = adj.map { case (i, js) =>
        i -> r6(0.15 + 0.85 * js.map(j => q12(rs(j) / deg(j))).sum.toDouble)
      }
    }
    val n = deg.size
    assert(out.keySet == adj.keySet)
    adj.keys.foreach { i =>
      assert(out(i)._1 == deg(i), s"node $i deg")
      assert(out(i)._2 == rs(i), s"node $i pr_scaled")
      assert(out(i)._3 == math.floor(rs(i) / n * 1e9 + 0.5) / 1e9, s"node $i pr")
    }
    // probability mass: Σ pr = Σ rs/N ≈ 1 (no dangling nodes; deviation
    // only from the per-round 1e-6 quantization)
    val mass = out.values.map(_._3).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"pr mass $mass")
  }

  test("q80 weighted PageRank: mass conserved, weights actually move rank vs q73") {
    val wrows = ops.Graph.q80WeightedPagerank(spark, sf).collect()
    val urows = ops.Graph.q73PageRank(spark, sf).collect()
    assert(wrows.length == urows.length, "same node universe")
    val mass = wrows.map(_.getDouble(3)).sum
    assert(math.abs(mass - 1.0) < 1e-3, s"pr mass $mass")
    // weighted degree ≥ unweighted degree everywhere (each und edge
    // carries ≥1 line), strictly greater somewhere
    val ud = urows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wrows.forall(r => r.getLong(1) >= ud(r.getLong(0))))
    assert(wrows.exists(r => r.getLong(1) > ud(r.getLong(0))))
    // and the weighting genuinely changes the ranking for some node
    val up = urows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(wrows.exists(r => r.getDouble(2) != up(r.getLong(0))),
      "weighted ranks identical to uniform — weights had no effect")
  }

  test("q75 k-core peel: synthetic cycle+tail cascades over multiple rounds to the exact core") {
    import spark.implicits._
    // 6-cycle (the 2-core) with a 5-node tail hanging off node 0: each
    // peel round removes exactly one tail endpoint, so reaching the
    // fixpoint takes 5 cascading rounds — the multi-round semantics the
    // purchase graph (which converges in one peel) never exercises
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    val tail = Seq((0L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
    val und = (cycle ++ tail).flatMap(e => Seq(e, e.swap)).distinct
      .toDF("src", "dst")
    val core = ops.Graph.kcorePeel(und, 2, ops.Graph.kcoreRounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet == (0L until 6L).toSet, s"core ${core.keySet}")
    assert(core.values.forall(_ == 2L), "cycle residual degrees must all be 2")
    // under-budgeted peel (2 rounds) must leave the partially-peeled tail
    val partial = ops.Graph.kcorePeel(und, 2, 2).collect()
      .map(_.getLong(0)).toSet
    assert(partial == (0L until 6L).toSet ++ Set(10L, 11L, 12L),
      s"2-round peel $partial")
  }

  test("q75 on the purchase graph: converged at the round bound, residuals >= k") {
    val rows = ops.Graph.q75KCore(spark, sf).collect()
    // (at this SF the 25-core is genuinely empty — 150 nodes, median
    // degree 10 — which is itself the correct answer; the sf0.01 oracle
    // gate runs the same operator against a 1199-survivor core)
    // residual degree ≥ k for every survivor ⇔ the peel reached its
    // fixpoint within kcoreRounds — the convergence claim the bounded
    // oracle unroll relies on
    assert(rows.forall(_.getLong(1) >= ops.Graph.kcoreK.toLong),
      "peel did not converge within the round bound")
    // and one more round changes nothing
    val und = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
    val sym = und.select(col("src"), col("dst"))
      .unionAll(und.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val more = ops.Graph.kcorePeel(sym, ops.Graph.kcoreK, ops.Graph.kcoreRounds + 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == rows.map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("q88 eps-residual layer matches a driver-side per-relation SpMV") {
    val out = ops.Graph.q88RelationResidualPropagate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // independent recompute straight from the raw tables: relation-tagged
    // distinct pairs, symmetrized per relation
    val rel = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"), col("o_orderpriority"))
      .collect()
      .map { r =>
        val rl = r.getString(2) match {
          case "1-URGENT" | "2-HIGH" => 1
          case "3-MEDIUM" => 2
          case _ => 3
        }
        (rl, r.getLong(0), r.getLong(1))
      }.distinct
      .flatMap { case (rl, s, d) => Seq((rl, s, d), (rl, d, s)) }.distinct
    val deg: Map[(Int, Long), Long] =
      rel.groupBy(t => (t._1, t._2)).map { case (k, es) => k -> es.length.toLong }
    val h0: Map[Long, Long] =
      deg.groupBy(_._1._2).map { case (n, m) => n -> m.values.sum }
    val adj = rel.groupBy(t => (t._1, t._2))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out.keySet == h0.keySet)
    h0.keys.foreach { i =>
      val expected = (1 to 3).map { k =>
        val nbrs = adj.getOrElse((k, i), Array.empty[(Int, Long, Long)]).map(_._3)
        val z = nbrs.map { j =>
          BigDecimal(1.0 / math.sqrt(deg((k, i)).toDouble) *
            (1.0 / math.sqrt(deg((k, j)).toDouble)) * h0(j))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        r6(0.5 * h0(i) + z.toDouble)
      }
      assert(out(i) == ((expected(0), expected(1), expected(2))), s"node $i")
    }
    // isolated-in-relation nodes keep the pure residual eps*h0: at least
    // one node must miss some relation at this SF, or the coalesce path
    // is untested
    assert(h0.keys.exists(i => (1 to 3).exists(k => !deg.contains((k, i)))),
      "every node present in every relation — residual-only path unexercised")
  }

  test("q89 neighbor sample: k bound, rank contiguity, prob-monotone inclusion") {
    // sf0.01: at sf0.001 no node has train-degree > k, so the sampler
    // never drops anyone and the monotonicity claim would be vacuous
    val sf = "/root/testdata/sf0.01"
    val sample = ops.Graph.q89NeighborSample(spark, sf).collect()
    assert(sample.nonEmpty)
    val probs = ops.Graph.q46EdgeSamplingProb(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    val pmap = probs.toMap
    val bySrc = sample.groupBy(_.getLong(0))
    val trainDeg = probs.groupBy(_._1._1).map { case (s, es) => s -> es.length }
    // every train-edge node sampled, exactly min(k, train-degree) rows,
    // ranks contiguous from 1
    assert(bySrc.keySet == trainDeg.keySet)
    bySrc.foreach { case (s, rows) =>
      assert(rows.length == math.min(10, trainDeg(s)), s"src $s row count")
      assert(rows.map(_.getInt(4)).sorted.sameElements(1 to rows.length),
        s"src $s ranks not contiguous")
    }
    // sampled edges are real candidates carrying q46's exact prob
    sample.foreach { r =>
      assert(pmap((r.getLong(0), r.getLong(1))) == r.getDouble(3))
    }
    // inclusion monotone in probability WITHIN each contested node
    // (train-degree > k, so the sampler actually drops someone): kept
    // neighbors' mean prob exceeds dropped neighbors' on aggregate and
    // for a clear majority of nodes — the per-class sample-rate claim
    val kept = sample.map(r => (r.getLong(0), r.getLong(1))).toSet
    val contested = trainDeg.filter(_._2 > 10).keySet
    assert(contested.nonEmpty, "no contested nodes at this SF")
    val deltas = contested.toSeq.map { s =>
      val es = probs.filter(_._1._1 == s)
      val (in, outE) = es.partition(e => kept(e._1))
      in.map(_._2).sum / in.length - outE.map(_._2).sum / outE.length
    }
    assert(deltas.sum > 0,
      s"aggregate kept-vs-dropped prob delta not positive: ${deltas.sum}")
    val posFrac = deltas.count(_ > 0).toDouble / deltas.length
    assert(posFrac > 0.5, s"only $posFrac of contested nodes prob-monotone")
  }

  test("q89 epochs: intra-epoch determinism, fresh draw across epochs") {
    val sf = "/root/testdata/sf0.01"
    def draw(epoch: Int) =
      ops.Graph.q89NeighborSampleEpoch(spark, sf, epoch).collect()
    val e0 = draw(0); val e0b = draw(0); val e1 = draw(1)
    // intra-epoch determinism: a rerun reproduces the draw exactly
    // (the race is a hash, not an RNG)
    assert(e0.map(_.toSeq).toSeq == e0b.map(_.toSeq).toSeq)
    // epoch 0 IS the default q89 entry
    assert(ops.Graph.q89NeighborSample(spark, sf).collect()
      .map(_.toSeq).toSeq == e0.map(_.toSeq).toSeq)
    // same per-node cardinality structure in every epoch: min(k, deg)
    def counts(s: Array[org.apache.spark.sql.Row]) =
      s.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(counts(e0) == counts(e1))
    // the epoch salt changes WHICH neighbors win somewhere…
    val s0 = e0.map(r => (r.getLong(0), r.getLong(1))).toSet
    val s1 = e1.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s0 != s1, "epoch 1 drew the identical sample — the salt is inert")
    // …but ONLY at contested nodes (train-degree > k); an uncontested
    // node keeps its whole neighbor list under any salt
    val trainDeg = ops.Graph.q46EdgeSamplingProb(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val changed = (s0.diff(s1) ++ s1.diff(s0)).map(_._1)
    assert(changed.nonEmpty && changed.forall(trainDeg(_) > 10),
      "an uncontested node's sample changed across epochs")
  }
}
