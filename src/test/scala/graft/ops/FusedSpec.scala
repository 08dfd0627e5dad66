package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic invariants of the fused pass the hash oracle can't state:
  * the probability algebra of the readouts, the node-domain contract,
  * and the algebraic tie between q95's two channels and q66's plain
  * propagation round. */
class FusedSpec extends SparkSpec {

  test("q94: readouts are proper (log-)probabilities over the graph domain") {
    val out = Fused.q94BdbglScore(spark, sf).collect()
    val nodes = Graph.purchaseUnd(spark, sf).select(col("src")).distinct().count()
    assert(out.length == nodes, s"${out.length} rows != $nodes graph nodes")
    out.foreach { r =>
      val s = r.getAs[Double]("lstm_score")
      assert(s > 0.0 && s < 1.0, s"lstm_score $s outside (0,1)")
      val l0 = r.getAs[Double]("dual_ls0"); val l1 = r.getAs[Double]("dual_ls1")
      assert(l0 <= 0.0 && l1 <= 0.0, s"log-softmax must be <= 0: $l0 $l1")
      val mass = math.exp(l0) + math.exp(l1)
      // each log-prob is 6dp-rounded, so the mass can drift a few 1e-6
      assert(math.abs(mass - 1.0) < 5e-6, s"softmax mass $mass != 1")
    }
  }

  test("q95: channel difference equals 0.6x the plain propagation round") {
    // out_hi = .3r + Â(.3r + Âr), out_lo = .3r − Â(.3r − Âr)
    // ⇒ out_hi − out_lo = 0.6·Âr, and Âr IS q66's one-round output —
    // a cross-operator identity that pins both channels' signs and the
    // shared-shuffle wiring to the established propagation semantics
    // (each side stacks two 6dp rounds, so tolerance is a few 1e-6).
    val dual = Fused.q95DualChannelPropagate(spark, sf)
    val one = Graph.q66GcnPropagate(spark, sf)
    val joined = dual.join(one, "node").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val dDeg = r.getAs[Double]("hi_deg") - r.getAs[Double]("lo_deg")
      val dCnt = r.getAs[Double]("hi_cnt") - r.getAs[Double]("lo_cnt")
      assert(math.abs(dDeg - 0.6 * r.getAs[Double]("h_deg")) < 1e-5,
        s"node ${r.get(0)}: hi-lo deg $dDeg vs 0.6*${r.getAs[Double]("h_deg")}")
      assert(math.abs(dCnt - 0.6 * r.getAs[Double]("h_cnt")) < 1e-5,
        s"node ${r.get(0)}: hi-lo cnt $dCnt vs 0.6*${r.getAs[Double]("h_cnt")}")
    }
    spark.catalog.clearCache() // q95's und cache
  }

  test("q94/q95: each round reads the PREVIOUS round's checkpoint, never the DAG") {
    // the q67 lineage discipline: round inputs must be materialized
    // node-sized tables (Scan ExistingRDD), exactly two reads each
    // (residual side + message side) — a third means some consumer
    // re-executes the expensive upstream DAG. Mutation-verified: lifting
    // r1's localCheckpoint reads 3 scans → red. NOTE the pin cannot see
    // q94's BASE checkpoint — r1's eager checkpoint truncates it out of
    // the final plan; its guard is the one-time-materialization cost of
    // the LSTM DAG (runtime, not plan shape), so it has no plan pin.
    def rddScans(df: org.apache.spark.sql.DataFrame): Int =
      """\(\d+\) Scan ExistingRDD""".r.findAllIn(
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)).size
    assert(rddScans(Fused.q94BdbglScore(spark, sf)) == 2)
    assert(rddScans(Fused.q95DualChannelPropagate(spark, sf)) == 2)
    spark.catalog.clearCache()
  }
}
