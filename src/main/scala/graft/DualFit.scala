package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import ops.Exact.dyad
import ops.Fused.DualHeads

/** Training seam for the q94 fused-pass head weights — the analog of
  * [[LstmFit]] one composition up: the reference trains BD_BGL
  * end-to-end (`Code for Sichuan/main.py:118-140`, joint loss
  * γ·CE(multilstm_pre) + (1−γ)·NLL(dual_pre), γ = 0.4 at main.py:27),
  * so this main fits the clf/t1/t2 heads by full-batch gradient
  * descent THROUGH the 2-layer ε-residual propagation on the driver,
  * over the EXACT per-node features and the EXACT purchase graph the
  * served q94 consumes, then prints the 1/2²⁰-dyadic tables for
  * inlining into [[ops.Fused.q94Heads]].
  *
  * Why the driver: the trainable state is 50 scalars, the node table
  * is customer-bounded and the edge list is the distinct purchase
  * pair set — both collect comfortably at the fit SF (sf0.1: ~16k
  * nodes, ~120k directed pairs), and the propagation operator Â is
  * symmetric, so backprop needs no transpose graph. The LSTM cell
  * below the features stays FROZEN at its own LstmFit-trained table
  * (its gradient path runs through the serving fold's 6dp
  * quantization, which is exactly the seam LstmFit already owns).
  *
  * The fitted forward matches the served q94 except for the 6dp/
  * decimal quantization (±5e-7 noise, not differentiable). Both runs
  * warm-start from [[ops.Fused.q94HeadsFixed]] (the LstmFit paste-back
  * lesson: starting from the shipped — possibly already trained —
  * table would make the printed baseline irreproducible).
  *
  *   sbt "runMain graft.DualFit [<fitDir>]"   (default $SPARK_GRAFT_SF_DIR)
  *
  * Leakage discipline: the loss reads ONLY LCG-train-fold customer
  * nodes; propagation runs over the full graph (transductive message
  * passing, exactly the reference's full-graph forward with a
  * train-index loss, main.py:131-135), and the printed AUCs separate
  * the train fold from the held-out fold.
  */
object DualFit {

  private val eps = 0.3 // main.py:24 default; exact-decimal in serving
  private val gamma = 0.4 // main.py:27 joint-loss mix

  /** Flat layout: clfW(2×10), clfB(2), t1W(2×10), t1B(2), t2W(2×2),
    * t2B(2) — 50 params. */
  private[graft] object L {
    val nf = 10
    def clfW(k: Int, i: Int) = k * nf + i
    def clfB(k: Int) = 20 + k
    def t1W(k: Int, i: Int) = 22 + k * nf + i
    def t1B(k: Int) = 42 + k
    def t2W(k: Int, j: Int) = 44 + k * 2 + j
    def t2B(k: Int) = 48 + k
    val len = 50
  }

  private[graft] def pack(h: DualHeads): Array[Double] = {
    val p = new Array[Double](L.len)
    for (k <- 0 until 2; i <- 0 until L.nf) {
      p(L.clfW(k, i)) = h.clfW(k)(i); p(L.t1W(k, i)) = h.t1W(k)(i)
    }
    for (k <- 0 until 2) {
      p(L.clfB(k)) = h.clfB(k); p(L.t1B(k)) = h.t1B(k); p(L.t2B(k)) = h.t2B(k)
      for (j <- 0 until 2) p(L.t2W(k, j)) = h.t2W(k)(j)
    }
    p
  }

  /** The graph + node tensors the fit runs on. `es`/`ed` list BOTH
    * directions of every undirected edge (the served und frame), so
    * one pass computes Âh and — Â being symmetric — the same pass
    * backpropagates it. */
  private[graft] final case class FitData(
      x: Array[Array[Double]], // n × 10
      y: Array[Int], // class 0/1 (−1 = unlabeled)
      train: Array[Boolean],
      es: Array[Int], ed: Array[Int], enorm: Array[Double])

  /** Forward + backward of the whole fused pass; accumulates dL/dp
    * into `grad` and returns (loss, dualPos, lstmPos) where the score
    * arrays hold the positive-class probabilities per node. */
  private[graft] def step(p: Array[Double], d: FitData,
      grad: Array[Double]): (Double, Array[Double], Array[Double]) = {
    val n = d.x.length
    val nTr = d.train.count(identity).max(1)
    // forward: heads on node features
    val pre = Array.ofDim[Double](n, 2) // t1 pre-activation
    val h0 = Array.ofDim[Double](n, 2)
    val ul = Array.ofDim[Double](n, 2)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < 2) {
        var a = p(L.t1B(k)); var c = p(L.clfB(k))
        var j = 0
        while (j < L.nf) {
          a += p(L.t1W(k, j)) * d.x(i)(j); c += p(L.clfW(k, j)) * d.x(i)(j)
          j += 1
        }
        pre(i)(k) = a; h0(i)(k) = math.max(a, 0.0); ul(i)(k) = c
        k += 1
      }
      i += 1
    }
    def spmv(h: Array[Array[Double]]): Array[Array[Double]] = {
      val z = Array.ofDim[Double](n, 2)
      var e = 0
      while (e < d.es.length) {
        val s = d.es(e); val t = d.ed(e); val w = d.enorm(e)
        z(s)(0) += w * h(t)(0); z(s)(1) += w * h(t)(1)
        e += 1
      }
      z
    }
    def resid(raw: Array[Array[Double]], z: Array[Array[Double]]): Array[Array[Double]] = {
      val r = Array.ofDim[Double](n, 2)
      var i2 = 0
      while (i2 < n) {
        r(i2)(0) = eps * raw(i2)(0) + z(i2)(0)
        r(i2)(1) = eps * raw(i2)(1) + z(i2)(1); i2 += 1
      }
      r
    }
    val h1 = resid(h0, spmv(h0))
    val h2 = resid(h0, spmv(h1))
    // readouts
    val dualPos = new Array[Double](n); val lstmPos = new Array[Double](n)
    val pDual = Array.ofDim[Double](n, 2); val pL = Array.ofDim[Double](n, 2)
    val du = Array.ofDim[Double](n, 2)
    var loss = 0.0
    i = 0
    while (i < n) {
      var k = 0
      while (k < 2) {
        du(i)(k) = p(L.t2B(k)) + p(L.t2W(k, 0)) * h2(i)(0) + p(L.t2W(k, 1)) * h2(i)(1)
        k += 1
      }
      def smax(u: Array[Double], out: Array[Double]): Unit = {
        val m = math.max(u(0), u(1))
        val e0 = math.exp(u(0) - m); val e1 = math.exp(u(1) - m)
        out(0) = e0 / (e0 + e1); out(1) = e1 / (e0 + e1)
      }
      smax(du(i), pDual(i)); smax(ul(i), pL(i))
      dualPos(i) = pDual(i)(1); lstmPos(i) = pL(i)(1)
      if (d.train(i)) {
        val y = d.y(i)
        loss += gamma * -math.log(math.max(pL(i)(y), 1e-12)) +
          (1 - gamma) * -math.log(math.max(pDual(i)(y), 1e-12))
      }
      i += 1
    }
    loss /= nTr
    // backward
    val dh2 = Array.ofDim[Double](n, 2)
    i = 0
    while (i < n) {
      if (d.train(i)) {
        val y = d.y(i)
        var k = 0
        while (k < 2) {
          val gDu = (1 - gamma) / nTr * (pDual(i)(k) - (if (k == y) 1.0 else 0.0))
          val gUl = gamma / nTr * (pL(i)(k) - (if (k == y) 1.0 else 0.0))
          grad(L.t2B(k)) += gDu
          grad(L.t2W(k, 0)) += gDu * h2(i)(0)
          grad(L.t2W(k, 1)) += gDu * h2(i)(1)
          dh2(i)(0) += gDu * p(L.t2W(k, 0))
          dh2(i)(1) += gDu * p(L.t2W(k, 1))
          grad(L.clfB(k)) += gUl
          var j = 0
          while (j < L.nf) { grad(L.clfW(k, j)) += gUl * d.x(i)(j); j += 1 }
          k += 1
        }
      }
      i += 1
    }
    // h2 = eps*h0 + A h1 ; h1 = eps*h0 + A h0 ; A symmetric
    def spmvT(g: Array[Array[Double]]): Array[Array[Double]] = {
      val z = Array.ofDim[Double](n, 2)
      var e = 0
      while (e < d.es.length) {
        val s = d.es(e); val t = d.ed(e); val w = d.enorm(e)
        z(t)(0) += w * g(s)(0); z(t)(1) += w * g(s)(1)
        e += 1
      }
      z
    }
    val dh1 = spmvT(dh2)
    val dh0 = spmvT(dh1)
    i = 0
    while (i < n) {
      var k = 0
      while (k < 2) {
        val g0 = dh0(i)(k) + eps * (dh1(i)(k) + dh2(i)(k))
        if (pre(i)(k) > 0.0) {
          grad(L.t1B(k)) += g0
          var j = 0
          while (j < L.nf) { grad(L.t1W(k, j)) += g0 * d.x(i)(j); j += 1 }
        }
        k += 1
      }
      i += 1
    }
    (loss, dualPos, lstmPos)
  }

  private def fit(init: Array[Double], d: FitData, epochs: Int): Array[Double] = {
    val p = init.clone()
    val m = new Array[Double](L.len); val v = new Array[Double](L.len)
    val lr = 0.02; val b1 = 0.9; val b2 = 0.999; val ae = 1e-8
    var step0 = 0
    for (_ <- 1 to epochs) {
      val grad = new Array[Double](L.len)
      step(p, d, grad)
      step0 += 1
      val c1 = 1 - math.pow(b1, step0); val c2 = 1 - math.pow(b2, step0)
      var k = 0
      while (k < L.len) {
        m(k) = b1 * m(k) + (1 - b1) * grad(k)
        v(k) = b2 * v(k) + (1 - b2) * grad(k) * grad(k)
        p(k) -= lr * (m(k) / c1) / (math.sqrt(v(k) / c2) + ae)
        k += 1
      }
    }
    p
  }

  private def report(tag: String, p: Array[Double], d: FitData): Unit = {
    val (loss, dualPos, lstmPos) = step(p, d, new Array[Double](L.len))
    def aucOf(s: Array[Double], fold: Boolean) = LstmFit.auc(
      s.indices.filter(i => d.y(i) >= 0 && d.train(i) == fold)
        .map(i => (s(i), d.y(i).toDouble)).toArray)
    println(f"[dualfit] $tag%-22s loss $loss%.4f " +
      f"dual AUC train ${aucOf(dualPos, true)}%.4f held-out ${aucOf(dualPos, false)}%.4f " +
      f"lstm AUC train ${aucOf(lstmPos, true)}%.4f held-out ${aucOf(lstmPos, false)}%.4f")
  }

  def main(args: Array[String]): Unit = {
    val dir = Cli.sfDirOf(args, usage).getOrElse(return)
    val spark = GraftSession.fromEnv()
    try Release.scope(run(spark, dir)) finally spark.stop()
  }

  private def run(spark: SparkSession, dir: String): Unit = {
    val und = ops.Fused.q94Und(spark, dir)
    val deg = und.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val feat = ops.Fused.q94Feat(spark, dir, deg.select(col("n").as("node")), identity)
    val lab = Tables.customer(spark, dir).select(
      col("c_custkey").as("node"),
      (col("c_acctbal") < 0).cast("int").as("y"),
      ops.Exact.lcgTrain80("c_custkey").cast("int").as("tr"))
    // deterministic node order (collect order is not)
    val rows = feat.join(lab, Seq("node"), "left").collect().map { r =>
      val x = (1 to 10).map(i => r.getAs[Double](s"f$i")).toArray
      (r.getAs[Number]("node").longValue, x,
        if (r.isNullAt(r.fieldIndex("y"))) -1 else r.getAs[Int]("y"),
        !r.isNullAt(r.fieldIndex("tr")) && r.getAs[Int]("tr") == 1)
    }.sortBy(_._1)
    require(rows.nonEmpty, s"[dualfit] zero graph nodes from $dir — wrong fitDir?")
    val idx = rows.iterator.map(_._1).zipWithIndex.toMap
    val degs = new Array[Double](rows.length)
    // (src, dst) order like the rows (idx rises with the node id), so
    // the float sums never follow the shuffle layout
    val edges = und.collect().map { r =>
      (idx(r.getAs[Number]("src").longValue), idx(r.getAs[Number]("dst").longValue))
    }.sorted
    edges.foreach { case (s, _) => degs(s) += 1 }
    val d = FitData(
      x = rows.map(_._2),
      y = rows.map(_._3),
      train = rows.map(t => t._4 && t._3 >= 0),
      es = edges.map(_._1), ed = edges.map(_._2),
      enorm = edges.map { case (s, t) => 1.0 / math.sqrt(degs(s) * degs(t)) })
    println(s"[dualfit] ${rows.length} nodes, ${edges.length} directed edges, " +
      s"${d.train.count(identity)} train-fold labels, " +
      f"pos rate ${d.y.zip(d.train).collect { case (y, true) => y }.sum.toDouble / d.train.count(identity)}%.4f")
    val epochs = sys.env.getOrElse("SPARK_GRAFT_DUAL_EPOCHS", "400").toInt
    val init = pack(ops.Fused.q94HeadsFixed)
    report("fixed heads", init, d)
    val p = fit(init, d, epochs)
    report(s"trained ($epochs epochs)", p, d)
    def row(f: Int => Int): String =
      (0 until L.nf).map(i => dyad(p(f(i)))).mkString("IndexedSeq(", ", ", ")")
    println("[dualfit] q94Heads (paste into Fused.scala):")
    println(s"[dualfit]   clfW = IndexedSeq(\n[dualfit]     ${row(L.clfW(0, _))},\n[dualfit]     ${row(L.clfW(1, _))}),")
    println(s"[dualfit]   clfB = IndexedSeq(${dyad(p(L.clfB(0)))}, ${dyad(p(L.clfB(1)))}),")
    println(s"[dualfit]   t1W = IndexedSeq(\n[dualfit]     ${row(L.t1W(0, _))},\n[dualfit]     ${row(L.t1W(1, _))}),")
    println(s"[dualfit]   t1B = IndexedSeq(${dyad(p(L.t1B(0)))}, ${dyad(p(L.t1B(1)))}),")
    println(s"[dualfit]   t2W = IndexedSeq(IndexedSeq(${dyad(p(L.t2W(0, 0)))}, ${dyad(p(L.t2W(0, 1)))}), " +
      s"IndexedSeq(${dyad(p(L.t2W(1, 0)))}, ${dyad(p(L.t2W(1, 1)))})),")
    println(s"[dualfit]   t2B = IndexedSeq(${dyad(p(L.t2B(0)))}, ${dyad(p(L.t2B(1)))}),")
  }

  private[graft] val usage: String =
    """usage: sbt "runMain graft.DualFit [<fitDir>]"
      |  <fitDir>  scale-factor directory to fit on (default
      |            $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.01)
      |  --help    print this and exit
      |env: SPARK_GRAFT_CPUS (threads), SPARK_GRAFT_DUAL_EPOCHS (default 400)
      |prints the dyadic-rounded q94 head tables""".stripMargin
}
