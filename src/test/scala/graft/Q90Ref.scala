package graft

/** Plain-Scala reference of q90's LSTM cell — independent of the SQL
  * expression text AND of the packed-double state encoding, shared by
  * FeaturesSpec (fixed cases) and PropertySpec (random sequences). */
object Q90Ref {
  def r6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6

  /** One cell step; `probe` observes every RAW value the cell is about
    * to 6dp-quantize (gate outputs, clipped cell state, gated hidden) —
    * FeaturesSpec's margin audit uses it to prove none sits on the
    * floor(x·10⁶ + 0.5) jump where a cross-engine exp ulp could split. */
  def cell(x: Double, h: Double, c: Double,
      probe: Double => Unit = _ => ()): (Double, Double) = {
    def sig(z: Double) = { val r = 1.0 / (1.0 + math.exp(-z)); probe(r); r6(r) }
    def th(z: Double) = { val r = 1.0 - 2.0 / (math.exp(2.0 * z) + 1.0); probe(r); r6(r) }
    // weights from the SAME table the SQL text is generated from (the
    // LstmFit seam) in the SAME left-associated IEEE order — what this
    // reference checks independently is the fold/encoding/engine
    // plumbing, not the literals
    def z(g: String): Double = {
      val (wx, wh, b) = ops.Features.q90Scalar(0)(g)
      wx * x + wh(0) * h + b
    }
    val i = sig(z("i"))
    val f = sig(z("f"))
    val g = th(z("g"))
    val o = sig(z("o"))
    val cClip = math.max(math.min(f * c + i * g, 4.0), -4.0)
    probe(cClip)
    val cN = math.floor(cClip * 1e6 + 0.5) / 1e6
    val hRaw = o * th(cN)
    probe(hRaw)
    val hN = math.floor(hRaw * 1e6 + 0.5) / 1e6
    (hN, cN)
  }

  /** x for a tensor row where n_events/mean_val vary and every other
    * slot is 0.125 — the same left-associated weight order as the
    * production projection. */
  def x(nEvents: Long, meanVal: Double): Double =
    r6(ops.Features.q87FeatureAttn.foldLeft(0.0) {
      case (acc, ("n_events", w)) => acc + w * nEvents
      case (acc, ("mean_val", w)) => acc + w * meanVal
      case (acc, (_, w)) => acc + w * 0.125
    })

  def fold(xs: Seq[Double]): (Double, Double) =
    xs.foldLeft((0.0, 0.0)) { case ((h, c), x) => cell(x, h, c) }
}
