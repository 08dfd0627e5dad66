package graft.ops

import graft.Release
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fused BD_BGL forward pass and the dual-channel propagation —
  * the reference's actual inference composition, served end-to-end.
  *
  * The reference model (Code for Sichuan/src/model.py:18-29) chains
  * MultiLstm finals over the four time scales (layers.py:31-62: ONE
  * shared-weight LSTM consumes oneweek/twoweek/threeweek/month, the
  * four final hidden states concat with the id features) into
  * DualChannel (layers.py:108-133: relu(t1(h)), then layer_num = 2
  * rounds of h ← ε·raw + Â_g·h with the gated symmetric norm, then
  * t2 + log_softmax), alongside the MultiLstm's own softmax readout
  * (layers.py:28,60-62). Every stage already serves standalone
  * (q92 finals, q66/q88 propagation algebra, q86 trained gate); this
  * file serves the COMPOSITION behind the hash oracle.
  *
  * ε here is the reference's DEFAULT 0.3 (main.py:24) — NOT dyadic.
  * 0.3·h in IEEE doubles is inexact and engine-order-sensitive, so the
  * residual is spelled in exact decimal arithmetic instead:
  * CAST(0.3 AS DECIMAL(2,1)) · CAST(h AS DECIMAL(18,6)) + z, all exact
  * (h is always 6dp-quantized, z is the DECIMAL(28,12) message sum),
  * cast to double only for the final 6dp round. This closes the
  * "dyadic-only residual" caveat: any ε with a short decimal spelling
  * is hash-oracleable.
  */
object Fused {

  /** Head weights of the fused pass: the MultiLstm classifier
    * (layers.py:28 `clf = Linear(4H + id_size, 2)`), DualChannel's t1
    * (layers.py:117 `Linear(num_features, num_hidden)`) and t2
    * (layers.py:118 `Linear(num_hidden, num_classes)`). Rows are
    * output units; 10 inputs = 4 scales × H=2 finals + 2 id features
    * (the reference's id_feature_size default, main.py:20). */
  private[graft] final case class DualHeads(
      clfW: IndexedSeq[IndexedSeq[Double]], clfB: IndexedSeq[Double],
      t1W: IndexedSeq[IndexedSeq[Double]], t1B: IndexedSeq[Double],
      t2W: IndexedSeq[IndexedSeq[Double]], t2B: IndexedSeq[Double])

  /** Hand-listed pre-training dyadics — the [[graft.DualFit]] trainer's
    * warm-start and the fixed-head A/B baseline (the q90UnitsFixed
    * convention). */
  private[graft] val q94HeadsFixed: DualHeads = DualHeads(
    clfW = IndexedSeq(
      IndexedSeq(0.25, -0.125, 0.25, 0.125, -0.25, 0.125, 0.25, -0.125, 0.03125, -0.03125),
      IndexedSeq(-0.125, 0.25, 0.125, -0.25, 0.25, 0.125, -0.125, 0.25, -0.03125, 0.03125)),
    clfB = IndexedSeq(0.0625, -0.0625),
    t1W = IndexedSeq(
      IndexedSeq(0.5, 0.25, -0.25, 0.125, 0.25, -0.125, 0.5, 0.25, 0.03125, 0.0625),
      IndexedSeq(-0.25, 0.5, 0.125, -0.125, 0.5, 0.25, -0.25, 0.125, 0.0625, -0.03125)),
    t1B = IndexedSeq(0.0625, 0.125),
    t2W = IndexedSeq(IndexedSeq(0.5, -0.25), IndexedSeq(-0.25, 0.5)),
    t2B = IndexedSeq(0.0, 0.0625),
  )

  /** The served table — [[graft.DualFit]]'s paste target: 400-epoch
    * fit on the sf0.1 LCG train fold, 1/2²⁰-quantized (train loss
    * 0.659 → 0.299). HONEST finding (the q86 convention): on this
    * synthetic label the fused features are nearly signal-flat (dual
    * AUC ~0.51 train / ~0.50 held-out; the loss drop is calibration to
    * the 0.0885 base rate) — the trained table keeps the composition's
    * full expressiveness, and a deployment with the reference's real
    * CDR structure refits via DualFit and only these literals change. */
  private[graft] val q94Heads: DualHeads = DualHeads(
    clfW = IndexedSeq(
      IndexedSeq(-0.29504966735839844, 0.041243553161621094, -0.47589683532714844, 0.1883220672607422, 0.13153743743896484, 0.8018379211425781, -0.4876394271850586, -0.1097707748413086, -0.002079010009765625, -2.193450927734375E-4),
      IndexedSeq(0.42004966735839844, 0.0837564468383789, 0.8508968353271484, -0.3133220672607422, -0.13153743743896484, -0.5518379211425781, 0.6126394271850586, 0.2347707748413086, 0.002079010009765625, 2.193450927734375E-4)),
    clfB = IndexedSeq(1.1618051528930664, -1.1618051528930664),
    t1W = IndexedSeq(
      IndexedSeq(0.302276611328125, 0.12123680114746094, -0.45652008056640625, -0.008632659912109375, 0.15415573120117188, -0.20382118225097656, 0.2898225784301758, 0.10838890075683594, -0.07005691528320312, -0.04222297668457031),
      IndexedSeq(-0.12772846221923828, 0.6223888397216797, 0.24724388122558594, -0.0026292800903320312, 0.6218719482421875, 0.37222766876220703, -0.1277923583984375, 0.24734115600585938, -0.06104087829589844, -0.1538686752319336)),
    t1B = IndexedSeq(0.6491756439208984, -0.14198970794677734),
    t2W = IndexedSeq(IndexedSeq(0.5935773849487305, -0.04403495788574219), IndexedSeq(-0.34357738494873047, 0.2940349578857422)),
    t2B = IndexedSeq(0.852046012878418, -0.789546012878418),
  )

  // -------------------------------------------------------------------
  // Shared scalar SQL texts: ONE spelling runs as a Spark expr() AND
  // inside the DuckDB oracle (the q90CellExpr discipline). Everything
  // is plain IEEE arithmetic over already-quantized columns, so the two
  // engines agree bit for bit; transcendentals (exp/ln) quantize at 6dp
  // immediately (q68's rule).
  // -------------------------------------------------------------------

  private def w(d: Double): String = new java.math.BigDecimal(d).toPlainString
  private def r6(s: String): String = Exact.sql.r(s, 6)

  /** Dense dot product + bias as SQL text, fixed evaluation order. */
  private def dotSql(ws: IndexedSeq[Double], b: Double,
      cols: IndexedSeq[String]): String =
    (ws.zip(cols).map { case (wi, c) => s"${w(wi)} * $c" } :+ w(b))
      .mkString(" + ")

  /** Positive-class softmax over two logit columns, max-shifted so exp
    * never overflows, 6dp-quantized. */
  private def softmax1Sql(u0: String, u1: String): String = {
    val m = s"greatest($u0, $u1)"
    r6(s"exp($u1 - $m) / (exp($u0 - $m) + exp($u1 - $m))")
  }

  /** log_softmax component k over two logit columns (max-shifted lse),
    * 6dp-quantized — the reference's F.log_softmax(h, 1). */
  private def logSoftmaxSql(uk: String, u0: String, u1: String): String = {
    val m = s"greatest($u0, $u1)"
    r6(s"$uk - ($m + ln(exp($u0 - $m) + exp($u1 - $m)))")
  }

  /** The ε-residual in EXACT decimal arithmetic: ε·raw ± z with
    * ε = 0.3 as DECIMAL(2,1), raw a 6dp value (exact in DECIMAL(18,6)),
    * z the DECIMAL(28,12) message sum (re-cast down so the add never
    * hits either engine's 38-digit ceiling). Both engines compute the
    * identical exact rational; only the final double cast + 6dp round
    * touch floating point. `sign` is "-" for the g ≡ −1 high-pass
    * channel (layers.py:91-94 flips the whole message). */
  private[graft] def epsResidualSql(raw: String, z: String,
      sign: String = "+"): String =
    r6(s"CAST(CAST(0.3 AS DECIMAL(2,1)) * CAST($raw AS DECIMAL(18,6)) " +
      s"$sign CAST(coalesce($z, 0) AS DECIMAL(28,12)) AS DOUBLE)")

  private def fcols: IndexedSeq[String] = (1 to 10).map(i => s"f$i")

  // -------------------------------------------------------------------
  // q94: the fused BD_BGL score
  // -------------------------------------------------------------------

  /** The per-node input vector `final` (layers.py:57-59 concat):
    * f1..f8 = trained H=2 LSTM finals (q92) pivoted across the four
    * scales in reference concat order [week ‖ 2wk ‖ 3wk ‖ month], each
    * scale contributing (h1, h2); f9/f10 = the id features — q59's
    * signed-degree graph columns (id_feature_size = 2, main.py:20).
    * Nodes absent from a source get 0 — the reference's own fill for
    * persons missing from a slice (data_process.py's reindex). `nodes`
    * fixes the node domain (one row per graph node, column `node`);
    * both feature sides are node-sized, so `gated` broadcast-gates
    * them under the shared [[Graph.nodeGate]] rule. */
  private[graft] def q94Feat(spark: SparkSession, dir: String,
      nodes: DataFrame, gated: DataFrame => DataFrame): DataFrame = {
    // ONE events pass for both feature sides: the LSTM tensor reads the
    // q85 projection (cached under its footer gate), and the signed-
    // degree id features derive from the SAME frame instead of
    // re-scanning events — when the cache gate is off (100 TB posture)
    // each branch still plans its own pruned+pushed-down scan, so this
    // sharing never widens the scale-out shape (guide §2.4/§6).
    val ev = Features.q85Ev(spark, dir)
    val finals = Features.q90FromH(
      Features.q85CoreFromEv(ev, Features.q85CcIntersect(spark, dir)),
      Features.q90Units)
    val pivot = for (s <- 1 to 4; u <- 1 to 2) yield
      coalesce(sum(when(col("scale") === s, col(s"h${u}_last"))), lit(0.0))
        .as(s"f${(s - 1) * 2 + u}")
    val wide = finals.groupBy(col("user_id").as("node"))
      .agg(pivot.head, pivot.tail: _*)
    // direct per-node rollup (sd_pos/sd_neg) — the routed-through-q53
    // spelling paid q53's (node, side) aggregation + presentation sort
    // + a re-aggregation: two exchanges and a sort for the same values
    val sdr = Graph.signedPosNeg(ev)
    nodes
      .join(gated(wide), Seq("node"), "left")
      .join(gated(sdr), Seq("node"), "left")
      .select(col("node") +:
        ((1 to 8).map(i => coalesce(col(s"f$i"), lit(0.0)).as(s"f$i")) ++
          Seq(coalesce(col("sd_pos"), lit(0L)).cast("double").as("f9"),
            coalesce(col("sd_neg"), lit(0L)).cast("double").as("f10"))): _*)
  }

  /** q94: the fused BD_BGL forward pass as ONE served query
    * (model.py:25-29) — per graph node: the MultiLstm softmax readout
    * `lstm_score` (layers.py:60-62 multilstm_pre, positive class) and
    * the DualChannel log-softmax class scores `dual_ls0`/`dual_ls1`
    * (layers.py:120-133: h = relu(t1(x)), raw = h, two rounds of
    * h ← ε·raw + Â·h on the purchase graph with the symmetric norm —
    * the highlow = 1 gate the reference hard-codes at layers.py:88-91 —
    * then t2 + log_softmax). Heads are [[q94Heads]] (DualFit-trained
    * dyadics); the LSTM cell is the q92 LstmFit-trained table; ε = 0.3,
    * the reference default, exact-decimal (see [[epsResidualSql]]).
    *
    * Scale shape: the LSTM side is the pinned q92 plan (ONE exchange
    * over q85) + one node-grain pivot; the graph side is gcnRounds'
    * shape — edges build once and cache, degree/feature sides are
    * node-sized and broadcast-gated, each round is one co-partitioned
    * message join + one map-side-combined aggregation, and the
    * node-sized state localCheckpoints between rounds so round k never
    * re-executes the whole LSTM DAG (lineage stays flat, the CC/q67
    * discipline). Nothing corpus-sized is ever collected or broadcast
    * unconditionally. */
  def q94BdbglScore(spark: SparkSession, dir: String): DataFrame =
    q94Core(spark, dir).orderBy(col("node"))

  /** q94 without the presentation sort — FraudPipeline's `--fused`
    * tier joins this straight into the feature matrix (the q85Core
    * convention: a sort below a re-aggregating consumer is a wasted
    * exchange). */
  private[graft] def q94Core(spark: SparkSession, dir: String): DataFrame = {
    val und = Release.cache(Graph.purchaseUnd(spark, dir)) // degree agg + one message join per round
    // cached: di/dj/nodes rebuild per checkpointed round execution —
    // without this the full-edge degree agg reruns ~6× per query (the
    // gcnRounds/pagerankLoop lesson, OPTIMIZATION_r11.md)
    val deg = Release.cache(und.groupBy(col("src").as("n")).agg(count(lit(1)).as("d")))
    val gated = Graph.nodeGate(spark, dir)
    val di = gated(deg.select(col("n").as("src"), col("d").as("di")))
    val dj = gated(deg.select(col("n").as("dst"), col("d").as("dj")))
    val feat = q94Feat(spark, dir, deg.select(col("n").as("node")), gated)
    val hd = q94Heads
    // heads over the feature row; localCheckpoint both cuts the q92
    // lineage AND materializes the one table every round re-reads
    val base = Release.checkpoint(feat
      .withColumn("ul0", expr(dotSql(hd.clfW(0), hd.clfB(0), fcols)))
      .withColumn("ul1", expr(dotSql(hd.clfW(1), hd.clfB(1), fcols)))
      .withColumn("lstm_score", expr(softmax1Sql("ul0", "ul1")))
      .withColumn("raw1", expr(r6(s"greatest(${dotSql(hd.t1W(0), hd.t1B(0), fcols)}, 0.0)")))
      .withColumn("raw2", expr(r6(s"greatest(${dotSql(hd.t1W(1), hd.t1B(1), fcols)}, 0.0)")))
      .select(col("node"), col("lstm_score"), col("raw1"), col("raw2")))
    val norm = (lit(1.0) / sqrt(col("di"))) * (lit(1.0) / sqrt(col("dj")))
    // Fold the degree norm into the edge cache ONCE: norm is constant
    // per edge across rounds (same IEEE expression, same bits), so the
    // per-round message join touches only the node-sized gated h table.
    // Past the broadcast gate this removes two edge-set sort-merge
    // joins from EVERY round (guide §2.4 — two operations keyed the
    // same way share one exchange; here they share zero, the norm rides
    // the cache).
    val undW = Release.cache(und.join(di, "src").join(dj, "dst")
      .select(col("src"), col("dst"), norm.as("norm")))
    def msg(h: DataFrame, c1: String, c2: String): DataFrame = {
      val hj = gated(h.select(col("node").as("dst"),
        col(c1).as("p1"), col(c2).as("p2")))
      undW.join(hj, "dst")
        .select(col("src"),
          (col("norm") * col("p1")).cast("decimal(28,12)").as("m1"),
          (col("norm") * col("p2")).cast("decimal(28,12)").as("m2"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("m1")).as("z1"), sum(col("m2")).as("z2"))
    }
    // msg() output is node-sized but sits above a fresh aggregation, so
    // the planner has no usable stats against the checkpointed (equally
    // stats-less) base/r1 RDDs — ungated, each round's residual join
    // plans as a sort-merge with two exchanges. Gate the message side
    // like every other node-sized table here.
    val r1 = Release.checkpoint(
      base.join(gated(msg(base, "raw1", "raw2")), Seq("node"), "left")
        .select(col("node"), col("lstm_score"), col("raw1"), col("raw2"),
          expr(epsResidualSql("raw1", "z1")).as("h11"),
          expr(epsResidualSql("raw2", "z2")).as("h12")))
    val r2 = r1.join(gated(msg(r1, "h11", "h12")), Seq("node"), "left")
      .select(col("node"), col("lstm_score"),
        expr(epsResidualSql("raw1", "z1")).as("h21"),
        expr(epsResidualSql("raw2", "z2")).as("h22"))
    r2.withColumn("du0", expr(dotSql(hd.t2W(0), hd.t2B(0), IndexedSeq("h21", "h22"))))
      .withColumn("du1", expr(dotSql(hd.t2W(1), hd.t2B(1), IndexedSeq("h21", "h22"))))
      .select(col("node"), col("lstm_score"),
        expr(logSoftmaxSql("du0", "du0", "du1")).as("dual_ls0"),
        expr(logSoftmaxSql("du1", "du0", "du1")).as("dual_ls1"))
  }

  /** The q94 oracle: the q92 fold CTEs verbatim ([[Features
    * .q90OracleCtesH]] — one definition), pivoted wide, joined with the
    * q53-derived id features (prefixed CTE names, one definition),
    * then the same head/propagation/readout texts the Spark side runs
    * through expr(). */
  private def q94OracleSql: String = {
    val hd = q94Heads
    val pivot = (for (s <- 1 to 4; u <- 1 to 2) yield
      s"coalesce(sum(CASE WHEN scale = $s THEN h${u}_last END), 0.0) AS f${(s - 1) * 2 + u}")
      .mkString(",\n   ")
    val normM = "(1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d))"
    def msgCte(name: String, src: String, c1: String, c2: String): String =
      s"""$name AS (SELECT u.src,
         |   CAST($normM * h.$c1 AS DECIMAL(28,12)) AS m1,
         |   CAST($normM * h.$c2 AS DECIMAL(28,12)) AS m2
         |  FROM und u JOIN dg di ON u.src = di.n JOIN dg dj ON u.dst = dj.n
         |   JOIN $src h ON u.dst = h.node)""".stripMargin
    s"""WITH ${Features.q90OracleCtesH(Features.q90Units)},
       | lstm AS (SELECT user_id, scale,
       | ${Features.q90OracleOutsH(2)}
       |  FROM f),
       | wide AS (SELECT user_id AS node,
       |   $pivot
       |  FROM lstm GROUP BY 1),
       | ${Graph.signedDegreeCtes("g")},
       | sdr AS (SELECT node,
       |   sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS sd_pos,
       |   sum(CASE WHEN w < 0 THEN 1 ELSE 0 END) AS sd_neg
       |  FROM gd GROUP BY 1),
       | e0 AS (${Graph.edgesSql}),
       | und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       | dg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1),
       | feat AS (SELECT dg.n AS node,
       |   ${(1 to 8).map(i => s"coalesce(wd.f$i, 0.0) AS f$i").mkString(", ")},
       |   CAST(coalesce(sd.sd_pos, 0) AS DOUBLE) AS f9,
       |   CAST(coalesce(sd.sd_neg, 0) AS DOUBLE) AS f10
       |  FROM dg LEFT JOIN wide wd ON dg.n = wd.node
       |   LEFT JOIN sdr sd ON dg.n = sd.node),
       | hd AS (SELECT node,
       |   ${dotSql(hd.clfW(0), hd.clfB(0), fcols)} AS ul0,
       |   ${dotSql(hd.clfW(1), hd.clfB(1), fcols)} AS ul1,
       |   ${r6(s"greatest(${dotSql(hd.t1W(0), hd.t1B(0), fcols)}, 0.0)")} AS raw1,
       |   ${r6(s"greatest(${dotSql(hd.t1W(1), hd.t1B(1), fcols)}, 0.0)")} AS raw2
       |  FROM feat),
       | h0 AS (SELECT node, ${softmax1Sql("ul0", "ul1")} AS lstm_score,
       |   raw1, raw2 FROM hd),
       | ${msgCte("m1c", "h0", "raw1", "raw2")},
       | z1c AS (SELECT src AS node, sum(m1) AS z1, sum(m2) AS z2 FROM m1c GROUP BY 1),
       | r1 AS (SELECT h.node, h.lstm_score, h.raw1, h.raw2,
       |   ${epsResidualSql("h.raw1", "z.z1")} AS h11,
       |   ${epsResidualSql("h.raw2", "z.z2")} AS h12
       |  FROM h0 h LEFT JOIN z1c z ON h.node = z.node),
       | ${msgCte("m2c", "r1", "h11", "h12")},
       | z2c AS (SELECT src AS node, sum(m1) AS z1, sum(m2) AS z2 FROM m2c GROUP BY 1),
       | r2 AS (SELECT h.node, h.lstm_score,
       |   ${epsResidualSql("h.raw1", "z.z1")} AS h21,
       |   ${epsResidualSql("h.raw2", "z.z2")} AS h22
       |  FROM r1 h LEFT JOIN z2c z ON h.node = z.node),
       | fin AS (SELECT node, lstm_score,
       |   ${dotSql(hd.t2W(0), hd.t2B(0), IndexedSeq("h21", "h22"))} AS du0,
       |   ${dotSql(hd.t2W(1), hd.t2B(1), IndexedSeq("h21", "h22"))} AS du1
       |  FROM r2)
       |SELECT node, lstm_score,
       | ${logSoftmaxSql("du0", "du0", "du1")} AS dual_ls0,
       | ${logSoftmaxSql("du1", "du0", "du1")} AS dual_ls1
       |FROM fin ORDER BY node""".stripMargin
  }

  // -------------------------------------------------------------------
  // q95: the dual channel itself (high ‖ low)
  // -------------------------------------------------------------------

  /** q95: the two-channel round that gives DualChannel its name —
    * layers.py:88-94: highlow = +1 fixes the gate g ≡ 1 (low-pass,
    * q66's channel) and highlow = −1 fixes g ≡ −1 (the high-pass
    * channel, never served before); the model concatenates both
    * channels' outputs. Two ε-residual rounds (ε = 0.3 exact-decimal)
    * over the purchase graph with h⁰ = (degree, 1), emitting the
    * concat as the four column groups hi_deg/hi_cnt/lo_deg/lo_cnt.
    *
    * Scale: round 2's four channel-features ride ONE message shuffle
    * (four measure columns in one aggregate — the q88 rel-tagged
    * pattern turned column-wise); round 1's channels share a single
    * aggregate outright since both start from the same h⁰ (z_lo = −z_hi
    * falls out of the algebra, not a second pass). Edge build/degree
    * sides/checkpoint discipline are gcnRounds'. */
  def q95DualChannelPropagate(spark: SparkSession, dir: String): DataFrame = {
    // degree agg + two message joins
    val und = Release.cache(Graph.purchaseUnd(spark, dir))
    // cached: di/dj/r1 rebuild per checkpointed round execution (the
    // gcnRounds/pagerankLoop lesson, OPTIMIZATION_r11.md)
    val deg = Release.cache(und.groupBy(col("src").as("n")).agg(count(lit(1)).as("d")))
    val gated = Graph.nodeGate(spark, dir)
    val di = gated(deg.select(col("n").as("src"), col("d").as("di")))
    val dj = gated(deg.select(col("n").as("dst"), col("d").as("dj")))
    val norm = (lit(1.0) / sqrt(col("di"))) * (lit(1.0) / sqrt(col("dj")))
    // degree norm folded into the edge cache once (the q94 rationale:
    // norm is per-edge constant across rounds — same expression, same
    // bits — and past the broadcast gate each round drops two edge-set
    // sort-merge joins); dj rides along for round 1's h⁰ = (deg, 1)
    val undW = Release.cache(und.join(di, "src").join(dj, "dst")
      .select(col("src"), col("dst"), norm.as("norm"), col("dj")))
    // round 1: both channels read the same h⁰ = (deg, 1), so ONE
    // aggregate serves both (the low channel is the negated message)
    val z1 = undW
      .select(col("src"),
        (col("norm") * col("dj")).cast("decimal(28,12)").as("m_deg"),
        col("norm").cast("decimal(28,12)").as("m_one"))
      .groupBy(col("src").as("node"))
      .agg(sum(col("m_deg")).as("z_deg"), sum(col("m_one")).as("z_cnt"))
    val r1 = Release.checkpoint(deg.select(col("n").as("node"), col("d"))
      .join(gated(z1), Seq("node"), "left") // node-sized agg, stats-less vs the cache
      .select(col("node"), col("d"),
        expr(epsResidualSql("d", "z_deg")).as("hi_deg"),
        expr(epsResidualSql("1.0", "z_cnt")).as("hi_cnt"),
        expr(epsResidualSql("d", "z_deg", "-")).as("lo_deg"),
        expr(epsResidualSql("1.0", "z_cnt", "-")).as("lo_cnt")))
    // round 2: the channels have diverged — all four features through
    // ONE message shuffle as four measure columns
    val hj = gated(r1.select(col("node").as("dst"),
      col("hi_deg").as("phd"), col("hi_cnt").as("phc"),
      col("lo_deg").as("pld"), col("lo_cnt").as("plc")))
    val z2 = undW.join(hj, "dst")
      .select(col("src"),
        (col("norm") * col("phd")).cast("decimal(28,12)").as("mhd"),
        (col("norm") * col("phc")).cast("decimal(28,12)").as("mhc"),
        (col("norm") * col("pld")).cast("decimal(28,12)").as("mld"),
        (col("norm") * col("plc")).cast("decimal(28,12)").as("mlc"))
      .groupBy(col("src").as("node"))
      .agg(sum(col("mhd")).as("zhd"), sum(col("mhc")).as("zhc"),
        sum(col("mld")).as("zld"), sum(col("mlc")).as("zlc"))
    r1.join(gated(z2), Seq("node"), "left")
      .select(col("node"),
        expr(epsResidualSql("d", "zhd")).as("hi_deg"),
        expr(epsResidualSql("1.0", "zhc")).as("hi_cnt"),
        expr(epsResidualSql("d", "zld", "-")).as("lo_deg"),
        expr(epsResidualSql("1.0", "zlc", "-")).as("lo_cnt"))
      .orderBy(col("node"))
  }

  private def q95OracleSql: String = {
    val normM = "(1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d))"
    s"""WITH e0 AS (${Graph.edgesSql}),
       | und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       | dg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1),
       | m1 AS (SELECT u.src,
       |   CAST($normM * dj.d AS DECIMAL(28,12)) AS m_deg,
       |   CAST($normM AS DECIMAL(28,12)) AS m_one
       |  FROM und u JOIN dg di ON u.src = di.n JOIN dg dj ON u.dst = dj.n),
       | z1 AS (SELECT src AS node, sum(m_deg) AS z_deg, sum(m_one) AS z_cnt
       |  FROM m1 GROUP BY 1),
       | r1 AS (SELECT g.n AS node, g.d,
       |   ${epsResidualSql("g.d", "z.z_deg")} AS hi_deg,
       |   ${epsResidualSql("1.0", "z.z_cnt")} AS hi_cnt,
       |   ${epsResidualSql("g.d", "z.z_deg", "-")} AS lo_deg,
       |   ${epsResidualSql("1.0", "z.z_cnt", "-")} AS lo_cnt
       |  FROM dg g LEFT JOIN z1 z ON g.n = z.node),
       | m2 AS (SELECT u.src,
       |   CAST($normM * h.hi_deg AS DECIMAL(28,12)) AS mhd,
       |   CAST($normM * h.hi_cnt AS DECIMAL(28,12)) AS mhc,
       |   CAST($normM * h.lo_deg AS DECIMAL(28,12)) AS mld,
       |   CAST($normM * h.lo_cnt AS DECIMAL(28,12)) AS mlc
       |  FROM und u JOIN dg di ON u.src = di.n JOIN dg dj ON u.dst = dj.n
       |   JOIN r1 h ON u.dst = h.node),
       | z2 AS (SELECT src AS node, sum(mhd) AS zhd, sum(mhc) AS zhc,
       |   sum(mld) AS zld, sum(mlc) AS zlc FROM m2 GROUP BY 1)
       |SELECT r.node,
       | ${epsResidualSql("r.d", "z.zhd")} AS hi_deg,
       | ${epsResidualSql("1.0", "z.zhc")} AS hi_cnt,
       | ${epsResidualSql("r.d", "z.zld", "-")} AS lo_deg,
       | ${epsResidualSql("1.0", "z.zlc", "-")} AS lo_cnt
       |FROM r1 r LEFT JOIN z2 z ON r.node = z.node ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q94_bdbgl_score" -> (q94BdbglScore _),
    "q95_dual_channel" -> (q95DualChannelPropagate _))

  val oracles: Map[String, String] = Map(
    "q94_bdbgl_score" -> q94OracleSql,
    "q95_dual_channel" -> q95OracleSql)
}
