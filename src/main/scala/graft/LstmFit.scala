package graft

import org.apache.spark.sql.SparkSession

/** Training seam for the q90/q92 LSTM cell weights — the last place
  * the engine served fixed plan literals where the reference trains
  * end-to-end (MultiLstm, `Code for Sichuan/src/layers.py:17-24`;
  * training loop `main.py`). The [[AttnFit]] pattern one layer down:
  * this main FITS the recurrent cell by BPTT on the driver over the
  * EXACT per-bucket inputs the shipped folds consume (pooled q85
  * tensor projection, 6dp-rounded, bucket-sorted — see
  * [[ops.Features.lstmTrainSequences]]), then PRINTS the
  * 1/2²⁰-dyadic-quantized tables for inlining into
  * [[ops.Features.q90ScalarW]] (H=1) and [[ops.Features.q90Units]]
  * (H=2).
  *
  * Why the driver and not MLlib: MLlib has no recurrent estimator, and
  * the training set is bounded by |customers|×4 sequences (the
  * collect is customer-sized, never event-sized) — exactly the regime
  * where a one-time driver-side fit is cheaper than distributing the
  * optimizer. The SERVING path is untouched: queries still fold the
  * cell as portable SQL over the shipped literals, so the hash oracle
  * stays green with trained weights for the same reason it was green
  * with fixed ones.
  *
  * The fitted forward matches the serving cell exactly except for the
  * 6dp gate quantization (±5e-7 noise, not differentiable) and uses
  * the same simultaneous-update semantics (all units read the
  * PREVIOUS step's h — the array accumulator is a snapshot) and the
  * same ±4 cell clip (pass-through gradient inside the clip, zero
  * outside).
  *
  * The readout (logistic head on h_last) exists only to give the
  * recurrence a supervised signal — the queries ship the STATE, and
  * the pipeline trains its own LR head downstream; the honest
  * comparison is therefore the readout-only fit on the FIXED tables
  * vs the full fit, printed side by side, plus the README pipeline
  * A/B at sf1/sf10.
  *
  *   sbt "runMain graft.LstmFit [<fitDir>]"   (default $SPARK_GRAFT_SF_DIR)
  *
  * Leakage discipline: fits read ONLY the LCG train fold, so inlined
  * literals stay honest even when the README A/B evaluates at the same
  * SF (its metrics come from the held-out fold).
  */
object LstmFit {

  private val grain = 1L << 20
  private def dyad(x: Double): Double = math.rint(x * grain) / grain

  private val Gates = Array("i", "f", "g", "o")

  /** Flat parameter vector layout for H units:
    * [u][gate](wx, wh_0..wh_{H-1}, b) then readout wr_0..wr_{H-1}, br. */
  private[graft] final class Layout(val h: Int) {
    val perGate = h + 2
    val cellLen = h * 4 * perGate
    val len = cellLen + h + 1
    def wx(u: Int, g: Int) = (u * 4 + g) * perGate
    def wh(u: Int, g: Int, j: Int) = (u * 4 + g) * perGate + 1 + j
    def b(u: Int, g: Int) = (u * 4 + g) * perGate + 1 + h
    def wr(u: Int) = cellLen + u
    def br = cellLen + h
  }

  private def sigm(z: Double) = 1.0 / (1.0 + math.exp(-z))

  /** Forward + backward for one sequence; returns the loss and the
    * predicted probability, accumulating gradients into `grad`. */
  private[graft] def bptt(L: Layout, p: Array[Double], xs: Array[Double],
      y: Double, grad: Array[Double]): (Double, Double) = {
    val h = L.h; val t = xs.length
    // caches per step: gate activations, cPrev, cRaw, c, hPrev
    val gi = Array.ofDim[Double](t, h); val gf = Array.ofDim[Double](t, h)
    val gg = Array.ofDim[Double](t, h); val go = Array.ofDim[Double](t, h)
    val cRaw = Array.ofDim[Double](t, h); val cc = Array.ofDim[Double](t, h)
    val hh = Array.ofDim[Double](t + 1, h); val ccPrev = Array.ofDim[Double](t + 1, h)
    var s = 0
    while (s < t) {
      val x = xs(s)
      var u = 0
      while (u < h) {
        var g = 0; val z = new Array[Double](4)
        while (g < 4) {
          var acc = p(L.wx(u, g)) * x + p(L.b(u, g))
          var j = 0
          while (j < h) { acc += p(L.wh(u, g, j)) * hh(s)(j); j += 1 }
          z(g) = acc; g += 1
        }
        gi(s)(u) = sigm(z(0)); gf(s)(u) = sigm(z(1))
        gg(s)(u) = math.tanh(z(2)); go(s)(u) = sigm(z(3))
        cRaw(s)(u) = gf(s)(u) * ccPrev(s)(u) + gi(s)(u) * gg(s)(u)
        cc(s)(u) = math.max(-4.0, math.min(4.0, cRaw(s)(u)))
        hh(s + 1)(u) = go(s)(u) * math.tanh(cc(s)(u))
        ccPrev(s + 1)(u) = cc(s)(u)
        u += 1
      }
      s += 1
    }
    var logit = p(L.br)
    var u = 0
    while (u < h) { logit += p(L.wr(u)) * hh(t)(u); u += 1 }
    val prob = sigm(logit)
    val loss = -(y * math.log(math.max(prob, 1e-12)) +
      (1 - y) * math.log(math.max(1 - prob, 1e-12)))
    // backward
    val dLogit = prob - y
    grad(L.br) += dLogit
    val dh = new Array[Double](h); val dc = new Array[Double](h)
    u = 0
    while (u < h) {
      grad(L.wr(u)) += dLogit * hh(t)(u)
      dh(u) = dLogit * p(L.wr(u)); u += 1
    }
    s = t - 1
    while (s >= 0) {
      val x = xs(s)
      val dhPrev = new Array[Double](h); val dcPrev = new Array[Double](h)
      u = 0
      while (u < h) {
        val tc = math.tanh(cc(s)(u))
        val dO = dh(u) * tc
        var dC = dc(u) + dh(u) * go(s)(u) * (1 - tc * tc)
        if (math.abs(cRaw(s)(u)) > 4.0) dC = 0.0 // clip: zero outside
        val dI = dC * gg(s)(u); val dF = dC * ccPrev(s)(u)
        val dG = dC * gi(s)(u)
        dcPrev(u) += dC * gf(s)(u)
        val dz = Array(
          dI * gi(s)(u) * (1 - gi(s)(u)),
          dF * gf(s)(u) * (1 - gf(s)(u)),
          dG * (1 - gg(s)(u) * gg(s)(u)),
          dO * go(s)(u) * (1 - go(s)(u)))
        var g = 0
        while (g < 4) {
          grad(L.wx(u, g)) += dz(g) * x
          grad(L.b(u, g)) += dz(g)
          var j = 0
          while (j < h) {
            grad(L.wh(u, g, j)) += dz(g) * hh(s)(j)
            dhPrev(j) += dz(g) * p(L.wh(u, g, j))
            j += 1
          }
          g += 1
        }
        u += 1
      }
      System.arraycopy(dhPrev, 0, dh, 0, h)
      System.arraycopy(dcPrev, 0, dc, 0, h)
      s -= 1
    }
    (loss, prob)
  }

  /** Rank-based ROC AUC with average ranks on ties. */
  private[graft] def auc(scored: Array[(Double, Double)]): Double = {
    val sorted = scored.sortBy(_._1)
    val n = sorted.length
    var i = 0; var sumPosRank = 0.0; var nPos = 0.0
    while (i < n) {
      var j = i
      while (j < n && sorted(j)._1 == sorted(i)._1) j += 1
      val avgRank = (i + 1 + j) / 2.0 // average of ranks i+1..j
      var k = i
      while (k < j) { if (sorted(k)._2 > 0.5) { sumPosRank += avgRank; nPos += 1 }; k += 1 }
      i = j
    }
    val nNeg = n - nPos
    if (nPos == 0 || nNeg == 0) 0.5
    else (sumPosRank - nPos * (nPos + 1) / 2) / (nPos * nNeg)
  }

  /** Adam over deterministic fixed-order mini-batches. `cellFrozen`
    * masks the recurrent parameters so only the readout trains — the
    * honest fixed-weights baseline uses the same optimizer budget. */
  private def fit(L: Layout, init: Array[Double],
      data: Array[(Array[Double], Double)], epochs: Int,
      cellFrozen: Boolean): (Array[Double], Double, Double) = {
    val p = init.clone()
    val m = new Array[Double](L.len); val v = new Array[Double](L.len)
    val lr = 0.02; val b1 = 0.9; val b2 = 0.999; val eps = 1e-8
    val batch = 1024
    var step = 0
    var lastLoss = 0.0
    for (_ <- 1 to epochs) {
      var off = 0
      lastLoss = 0.0
      while (off < data.length) {
        val end = math.min(off + batch, data.length)
        val grad = new Array[Double](L.len)
        var i = off
        while (i < end) {
          lastLoss += bptt(L, p, data(i)._1, data(i)._2, grad)._1
          i += 1
        }
        val scale = 1.0 / (end - off)
        step += 1
        val c1 = 1 - math.pow(b1, step); val c2 = 1 - math.pow(b2, step)
        var k = 0
        while (k < L.len) {
          if (!(cellFrozen && k < L.cellLen)) {
            val g = grad(k) * scale
            m(k) = b1 * m(k) + (1 - b1) * g
            v(k) = b2 * v(k) + (1 - b2) * g * g
            p(k) -= lr * (m(k) / c1) / (math.sqrt(v(k) / c2) + eps)
          }
          k += 1
        }
        off = end
      }
    }
    val scored = data.map { case (xs, y) =>
      val g = new Array[Double](L.len) // scratch; scoring reuses bptt's forward
      (bptt(L, p, xs, y, g)._2, y)
    }
    (p, auc(scored), lastLoss / data.length)
  }

  private def packInit(L: Layout,
      units: IndexedSeq[Map[String, (Double, IndexedSeq[Double], Double)]]): Array[Double] = {
    val p = new Array[Double](L.len)
    for (u <- 0 until L.h; (g, gi) <- Gates.zipWithIndex) {
      val (wx, wh, b) = units(u)(g)
      p(L.wx(u, gi)) = wx
      for (j <- 0 until L.h) p(L.wh(u, gi, j)) = wh(j)
      p(L.b(u, gi)) = b
    }
    for (u <- 0 until L.h) p(L.wr(u)) = 1.0 / L.h
    p
  }

  def main(args: Array[String]): Unit = {
    val dir = Cli.sfDirOf(args, usage).getOrElse(return)
    val spark = GraftSession.fromEnv()
    try Release.scope(run(spark, dir)) finally spark.stop()
  }

  private def run(spark: SparkSession, dir: String): Unit = {
    // deterministic example order (collect order is not): sort by the
    // (user, scale) key so batches — and therefore the fitted literals —
    // are reproducible run over run
    val rows = ops.Features.lstmTrainSequences(spark, dir).collect()
      .map { r =>
        val key = (r.getAs[Number]("user_id").longValue,
          r.getAs[Number]("scale").longValue)
        val xs = r.getAs[scala.collection.Seq[Double]]("xs").toArray
        (key, xs, r.getAs[Double]("label"))
      }.sortBy(_._1)
    val data = rows.map { case (_, xs, y) => (xs, y) }
    require(data.nonEmpty,
      s"[lstmfit] zero train sequences from $dir — wrong fitDir? " +
        "(lstmTrainSequences needs events + customer parquet there)")
    val xAll = data.flatMap(_._1)
    println(f"[lstmfit] ${data.length} train sequences, " +
      f"${xAll.length} steps, |x| mean ${xAll.map(math.abs).sum / xAll.length}%.4f " +
      f"max ${xAll.map(math.abs).max}%.4f, pos rate ${data.map(_._2).sum / data.length}%.4f")
    val epochs = sys.env.getOrElse("SPARK_GRAFT_LSTM_EPOCHS", "200").toInt

    // H=1 (scalar cell, q90). Both runs start from the PRE-training
    // FIXED table, not the shipped (already-trained) q90ScalarW:
    // warm-starting from trained weights would make the printed
    // "readout-only (fixed cell)" baseline a trained-cell number and
    // the whole comparison irreproducible after one paste-back.
    locally {
      val L = new Layout(1)
      val init = packInit(L, IndexedSeq(
        ops.Features.q90ScalarWFixed.map { case (g, (wx, wh, b)) =>
          g -> ((wx, IndexedSeq(wh), b)) }))
      val (_, auc0, loss0) = fit(L, init, data, epochs, cellFrozen = true)
      val (p, auc1, loss1) = fit(L, init, data, epochs, cellFrozen = false)
      println(f"[lstmfit] H=1 readout-only (fixed cell) train AUC $auc0%.4f loss $loss0%.4f")
      println(f"[lstmfit] H=1 full BPTT              train AUC $auc1%.4f loss $loss1%.4f")
      println("[lstmfit] q90ScalarW (paste into Features.scala):")
      for ((g, gi) <- Gates.zipWithIndex)
        println(s"""[lstmfit]   "$g" -> (${dyad(p(L.wx(0, gi)))}, ${dyad(p(L.wh(0, gi, 0)))}, ${dyad(p(L.b(0, gi)))}),""")
    }

    // H=2 (vector cell, q92) — same fixed-table start as H=1
    locally {
      val L = new Layout(2)
      val init = packInit(L, ops.Features.q90UnitsFixed)
      val (_, auc0, loss0) = fit(L, init, data, epochs, cellFrozen = true)
      val (p, auc1, loss1) = fit(L, init, data, epochs, cellFrozen = false)
      println(f"[lstmfit] H=2 readout-only (fixed cell) train AUC $auc0%.4f loss $loss0%.4f")
      println(f"[lstmfit] H=2 full BPTT              train AUC $auc1%.4f loss $loss1%.4f")
      println("[lstmfit] q90Units (paste into Features.scala):")
      for (u <- 0 until 2) {
        println(s"[lstmfit]   Map(")
        for ((g, gi) <- Gates.zipWithIndex)
          println(s"""[lstmfit]     "$g" -> (${dyad(p(L.wx(u, gi)))}, IndexedSeq(${dyad(p(L.wh(u, gi, 0)))}, ${dyad(p(L.wh(u, gi, 1)))}), ${dyad(p(L.b(u, gi)))}),""")
        println(s"[lstmfit]   ),")
      }
    }
  }

  private[graft] val usage: String =
    """usage: sbt "runMain graft.LstmFit [<fitDir>]"
      |  <fitDir>  scale-factor directory to fit on (default
      |            $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.01)
      |  --help    print this and exit
      |env: SPARK_GRAFT_CPUS (threads), SPARK_GRAFT_LSTM_EPOCHS (default 200)
      |prints dyadic-rounded LSTM cell tables for q90/q92""".stripMargin
}
