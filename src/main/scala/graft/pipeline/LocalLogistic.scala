package graft.pipeline

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS}

/** A binary logistic model fitted on the driver, to the objective MLlib's
  * `LogisticRegression` minimizes with `standardization = true`,
  * `elasticNetParam = 0` and an intercept:
  *
  *   (1/n) Σᵢ logloss(yᵢ, β̃·(xᵢ − μ)/σ + b̃) + regParam/2 · ‖β̃‖²
  *
  * over the features standardized by their sample std σ (a column with
  * σ = 0 is zeroed, so its coefficient stays 0), with the intercept
  * unpenalized, started at the train fold's log-odds and optimized by
  * the same `breeze.optimize.LBFGS(maxIter, m = 10, tol = 1e-6)`. The loss,
  * gradient and centering follow MLlib's binary block aggregator term
  * for term, so both fits take the same LBFGS steps up to rounding.
  * Like MLlib, a single-class fold gives zero coefficients and an
  * infinite intercept (−∞ all negative, +∞ all positive).
  *
  * Scoring matches `LogisticRegressionModel.transform`: `score` is
  * P(y = 1) = σ(margin) and `predict` thresholds the margin at 0 (the
  * raw threshold of MLlib's default 0.5).
  */
private[graft] final case class LocalLogistic(coefficients: Array[Double], intercept: Double) {

  def margin(x: Array[Double]): Double = {
    var m = 0.0
    var j = 0
    while (j < x.length) { m += x(j) * coefficients(j); j += 1 }
    m + intercept
  }

  def score(x: Array[Double]): Double = 1.0 / (1.0 + math.exp(-margin(x)))

  def predict(x: Array[Double]): Int = if (margin(x) > 0) 1 else 0
}

private[graft] object LocalLogistic {

  /** Fits rows `x` (one feature array each) to labels `y` ∈ {0, 1}. */
  def fit(x: Array[Array[Double]], y: Array[Double], regParam: Double,
      maxIter: Int): LocalLogistic = {
    val n = x.length
    require(n > 0, "logistic fit on an empty train fold")
    val d = x.head.length
    val nPos = y.count(_ > 0)
    if (nPos == 0 || nPos == n)
      return LocalLogistic(new Array[Double](d),
        if (nPos == 0) Double.NegativeInfinity else Double.PositiveInfinity)

    val mean = Array.tabulate(d)(j => x.map(_(j)).sum / n)
    // a constant column is exactly zero-variance, as in MLlib's summarizer
    // (a two-pass variance could leave it a rounding residue)
    val std = Array.tabulate(d) { j =>
      if (x.forall(_(j) == x.head(j))) 0.0
      else math.sqrt(x.map(r => (r(j) - mean(j)) * (r(j) - mean(j))).sum / (n - 1))
    }
    val inverseStd = std.map(s => if (s != 0) 1.0 / s else 0.0)
    val scaledMean = Array.tabulate(d)(j => inverseStd(j) * mean(j))

    // parameters are (β̃, b̃): standardized coefficients, then the
    // intercept of the centered features
    val loss = new DiffFunction[BDV[Double]] {
      def calculate(theta: BDV[Double]): (Double, BDV[Double]) = {
        val w = theta.toArray
        val offset = w(d) - inner(w, scaledMean)
        val grad = new Array[Double](d + 1)
        // one scaled row, reused: each row is scaled as it is read, so
        // the driver holds no scaled copy of the fold
        val r = new Array[Double](d)
        var lossSum = 0.0
        var multiplierSum = 0.0
        var i = 0
        while (i < n) {
          var j = 0
          while (j < d) { r(j) = x(i)(j) * inverseStd(j); j += 1 }
          val margin = inner(w, r) + offset
          lossSum +=
            (if (y(i) > 0) log1pExp(-margin) else log1pExp(-margin) + margin)
          val multiplier = 1.0 / (1.0 + math.exp(-margin)) - y(i)
          multiplierSum += multiplier
          j = 0
          while (j < d) { grad(j) += multiplier * r(j); j += 1 }
          i += 1
        }
        var j = 0
        var reg = 0.0
        while (j < d) {
          grad(j) = (grad(j) - multiplierSum * scaledMean(j)) * (1.0 / n) + regParam * w(j)
          reg += w(j) * w(j)
          j += 1
        }
        grad(d) = multiplierSum * (1.0 / n)
        (lossSum / n + 0.5 * reg * regParam, BDV(grad))
      }
    }

    val init = new Array[Double](d + 1)
    init(d) = math.log(nPos.toDouble / (n - nPos))
    // MLlib's memory (10) and its default convergence tolerance (1e-6)
    val lbfgs = new LBFGS[BDV[Double]](maxIter, 10, 1e-6)
    val states = lbfgs.iterations(new CachedDiffFunction(loss), BDV(init))
    var last: lbfgs.State = states.next()
    while (states.hasNext) last = states.next()
    val w = last.x.toArray
    LocalLogistic(Array.tabulate(d)(j => if (std(j) != 0) w(j) / std(j) else 0.0),
      w(d) - inner(w, scaledMean))
  }

  /** Σ a(j)·b(j) over b's length, in index order. */
  private def inner(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < b.length) { s += a(j) * b(j); j += 1 }
    s
  }

  /** log(1 + eˣ) without overflow. */
  private def log1pExp(x: Double): Double =
    if (x > 0) x + math.log1p(math.exp(-x)) else math.log1p(math.exp(x))
}
