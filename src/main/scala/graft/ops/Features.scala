package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import scala.collection.immutable.SortedMap

/** CDR-style fraud feature engineering (SURVEY.md §2.B), re-expressing the
  * Sichuan pipeline (reference: Code for Sichuan/Data_processing/
  * data_process.py + src/utils.py) over the `events` table:
  * `user_id` ≈ phone_no_m, `ts` ≈ start_datetime, `event_type` ≈
  * calltype/opposite bucket, `value` ≈ call_dur.
  *
  * Scale design: every feature is a single groupBy/window keyed on
  * user_id (one shuffle, map-side partial aggregation); nothing iterates
  * per user on the driver, unlike the reference's Python row loops.
  */
object Features {

  private val epoch = "2024-01-01"

  /** q85's cache gate: the narrow events projection is cached only while
    * the table is at most this many rows (parquet-footer count — the q63
    * discipline; past it, each consumer re-scans instead of spilling a
    * corpus-sized cache). ~100M × 6 narrow columns ≈ a few GB resident. */
  private[graft] val q85CacheEventLimit = 100L * 1000 * 1000

  /** q10: per-user mean/variance of `value` at multiple time scales
    * (1/2/3/4-week buckets, `for scale in range(1, 5)` —
    * data_process.py:72-79), computed in ONE pass over the fact table by
    * exploding the scale dimension instead of the reference's 4 re-scans. */
  def q10WindowedStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // date arithmetic BELOW the ×4 scale explode (the Generate is a
      // projection barrier): once per event, not once per (event, scale)
      .withColumn("day_idx", datediff(col("ts").cast("date"), lit(epoch).cast("date")))
      .select(col("user_id"), col("value"), col("day_idx"))
      .withColumn("scale", explode(array(lit(1), lit(2), lit(3), lit(4))))
      .withColumn("bucket", expr("CAST(day_idx AS BIGINT) div CAST(7 * scale AS BIGINT)"))
      .groupBy(col("user_id"), col("scale"), col("bucket"))
      .agg(
        Exact.r(Exact.davg(col("value")), 6).as("mean_val"),
        Exact.r(Exact.dvarPop(col("value")), 6).as("var_val"),
        count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("scale"), col("bucket"))

  /** q11: energy dispersion — each counterpart-bucket's share of a user's
    * activity, then mean/variance of the shares (utils.py:213-240). */
  def q11EnergyDispersion(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    // Shares p_i = c_i/T with T = Σc: mean(p) = 1/n and
    // var(p) = Σc²/(T²·n) − 1/n², all from exact integer sums so the
    // oracle is bit-identical (see Exact).
    per
      .groupBy(col("user_id"))
      .agg(
        Exact.r(lit(1.0) / count(lit(1)), 6).as("mean_share"),
        Exact.r(greatest(
          sum(col("c") * col("c")).cast("double") /
            (sum(col("c")).cast("double") * sum(col("c")).cast("double")) /
            count(lit(1)) -
            lit(1.0) / (count(lit(1)) * count(lit(1))),
          lit(0.0)), 6).as("var_share"),
        count(lit(1)).as("n_types"))
      .orderBy(col("user_id"))
  }

  /** q12: normalized hour-of-day activity distribution per user, long
    * form (utils.py:94-106 time2 / data_process.py:152-154). */
  def q12HourHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), hour(col("ts")).cast("long").as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("share",
        Exact.r(col("c") / sum(col("c")).over(Window.partitionBy(col("user_id"))), 6))
      .select(col("user_id"), col("h"), col("c"), col("share"))
      .orderBy(col("user_id"), col("h"))

  /** q13: mean AND variance of the intra-day gap between consecutive
    * events per user, via a lag window (utils.py:23-56 time_gap +
    * utils.py:59-72 time_gap_static, which emits both moments). Gaps are
    * whole epoch seconds so DuckDB's ns precision and Spark's µs agree,
    * and both moments derive from exact int64 sums (Σg, Σg²): the only
    * float ops are the final divisions, spelled identically in the
    * oracle, so the result is bit-identical before rounding. */
  def q13TimeGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("ts").cast("date"))
      .orderBy(col("ts"), col("event_id"))
    val n = count(col("gap"))
    val m = sum(col("gap")) * lit(1.0) / n
    Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(Exact.r(m, 4).as("mean_gap"),
        Exact.r(greatest(
          sum(col("gap") * col("gap")) * lit(1.0) / n - m * m, lit(0.0)), 4)
          .as("var_gap"),
        n.as("n_gaps"))
      .orderBy(col("user_id"))
  }

  /** q14: contact repeat rate — Jaccard similarity of a user's
    * counterpart set between consecutive weeks (utils.py:119-128
    * connector_duplicate2). Set intersection as a self-join on
    * (user, type, week-7), never a driver-side set. */
  def q14RepeatRate(spark: SparkSession, dir: String): DataFrame =
    q14Core(spark, dir).orderBy(col("user_id"), col("wk"))

  /** q14 without the presentation sort — q19 re-aggregates immediately,
    * so the sort below it was a wasted exchange (the q85Core
    * convention). Spelled as LAG WINDOWS over the distinct
    * (user, week, type) frame — the q85Repeat respelling at the weekly
    * grain: a type is in consecutive weeks' intersection iff
    * `lag(wk) OVER (user, type ORDER BY wk) = wk − 7`, folded into the
    * week-size aggregation; the previous week's size is one more lag.
    * 3 exchanges, no self-joins, no cache (single pass), vs the
    * 4-plan-reference uw cache + two self-joins it replaces. Values
    * exact-equal (same counts, same arithmetic; the q85Repeat proof,
    * run with the since-removed ProfileQ85c probe (see git history),
    * covers the identical algebra). */
  private[graft] def q14Core(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"),
        col("event_type"))
      .distinct()
    val wEt = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("wk"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    uw.withColumn("pw", lag(col("wk"), 1).over(wEt))
      .groupBy(col("user_id"), col("wk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pw") === date_sub(col("wk"), 7), 1L).otherwise(0L)).as("i"))
      .withColumn("pn",
        when(lag(col("wk"), 1).over(wU) === date_sub(col("wk"), 7),
          lag(col("n"), 1).over(wU)))
      .select(col("user_id"), col("wk"),
        Exact.r(col("i") /
          (col("n") + coalesce(col("pn"), lit(0L)) - col("i")), 6).as("jaccard"))
  }

  /** q15: recall/conversion rate — fraction of a user's 'view' events
    * followed by a later 'purchase' (utils.py:174-190 recall_rate).
    * One window max per user instead of the reference's O(n²) scan. */
  def q15RecallRate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .withColumn("mp", max(when(col("event_type") === "purchase", col("ts"))).over(w))
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(
        Exact.r(sum(when(col("mp") > col("ts"), 1).otherwise(0)) / count(lit(1)), 6)
          .as("recall_rate"),
        count(lit(1)).as("n_out"))
      .orderBy(col("user_id"))
  }

  /** q16: area-change analog — distinct `props.k` values seen per user
    * per week (utils.py:156-162 area_change2), exercising JSON
    * extraction inside the scan. Emits both the count AND the sorted
    * area list itself (utils.py:165-171's `areas` variant returns the
    * list) — joined to one string so the hash compare is
    * order-deterministic in both engines. */
  def q16AreaChange(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"),
        get_json_object(col("props"), "$.k").as("area"))
      .groupBy(col("user_id"), col("wk"))
      .agg(countDistinct(col("area")).as("n_areas"),
        // an all-NULL group must yield NULL, not "": DuckDB's
        // list(DISTINCT) aggregate returns NULL there while collect_set
        // returns an empty array — count(area)=0 detects the case
        when(count(col("area")) === 0, lit(null).cast("string"))
          .otherwise(array_join(array_sort(collect_set(col("area"))), ","))
          .as("areas"))
      .orderBy(col("user_id"), col("wk"))

  /** q17: global z-score normalization (utils.py:273-279 normalize).
    * Stats come from a 1-row aggregate broadcast back over the table —
    * no single-partition global window at scale. */
  def q17ZScore(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val stats = cust.agg(
      Exact.davg(col("c_acctbal")).as("mu"),
      sqrt(Exact.dvarPop(col("c_acctbal"))).as("sigma"))
    cust.crossJoin(broadcast(stats))
      .select(
        col("c_custkey"),
        round((col("c_acctbal") - col("mu")) / col("sigma"), 6).as("z"))
      .orderBy(col("c_custkey"))
  }

  /** q18: stratified train/test split (data_process.py:62). Instead of
    * engine-RNG sampling, an LCG hash of the key picks a reproducible
    * 80% per stratum — the production-grade deterministic split (same
    * rows on every rerun/engine, no RNG), with exactly the reference's
    * stratify-by-label semantics. Pure integer math → SQL oracle. */
  def q18StratifiedSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        (col("c_acctbal") < 0).cast("int").as("label"),
        Exact.lcgTrain80("c_custkey").as("h"))
      .filter(col("h"))
      .select(col("c_custkey"), col("label"))
      .orderBy(col("c_custkey"))

  /** q19: the assembled per-user feature matrix — the reference's
    * 32-wide slice_feature vector (data_process.py:159-168:
    * [indegree-ish activity stats, recall_rate, repeat_rate, mean_dur,
    * var_dur] + 24 hour bins) as one joined wide row per user, reusing
    * the individual feature operators. Each source feature is a single
    * user_id-keyed aggregation; the assembly is left-joins on the same
    * key, so at scale it is one co-partitioned shuffle per source. */
  def q19FeatureMatrix(spark: SparkSession, dir: String): DataFrame = {
    // SHARED SCAN: the base aggregates, the gap mean (q13's lag) and the
    // recall rate (q15's later-purchase test) all come from ONE pass over
    // `events`, under ONE window sort — both window columns share the
    // same (partition=user_id, order=(ts,event_id)) spec, differing only
    // in frame, so WindowExec evaluates them in a single Exchange+Sort:
    //  - gap:   lag over the user ordering, counted only when the
    //    previous event shares the calendar date — exactly q13's
    //    (user_id, date) partitioning, without a second key;
    //  - later purchase: max purchase ts over the WHOLE user partition;
    //    `mp_after > ts` ⟺ some purchase is strictly later — exactly
    //    q15's unordered global-max test (earlier and equal ts fail the
    //    strict >). The whole-partition frame is evaluated once per
    //    user; a (1, unboundedFollowing) row frame would recompute the
    //    max for every row, O(n²) per user.
    // The groupBy(user_id) then reuses the window's hash partitioning.
    // Only repeat-rate keeps its own pass — it aggregates a DISTINCT
    // (user, week, type) projection, a different grain. 4 scans → 2;
    // PlanSpec pins the scan count.
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val rows = Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("gap",
        when(col("ts").cast("date") === lag(col("ts"), 1).over(byUser).cast("date"),
          col("sec") - lag(col("sec"), 1).over(byUser)))
      .withColumn("mp_after",
        max(when(col("event_type") === "purchase", col("ts")))
          .over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
    val hourCols = (0 until 24).map(h =>
      Exact.r(sum(when(hour(col("ts")) === h, 1L).otherwise(0L)) * lit(1.0) /
        count(lit(1)), 6).as(f"h$h%02d"))
    val aggCols = Seq(
      Exact.r(Exact.davg(col("value")), 6).as("mean_val"),
      Exact.r(Exact.dvarPop(col("value")), 6).as("var_val"),
      countDistinct(col("event_type")).as("n_types"),
      coalesce(Exact.r(sum(col("gap")) * lit(1.0) / count(col("gap")), 4), lit(0.0))
        .as("mean_gap"),
      coalesce(Exact.r(
        sum(when(col("event_type") === "view" && col("mp_after") > col("ts"), 1)
          .otherwise(0)) /
          sum(when(col("event_type") === "view", 1).otherwise(0)), 6), lit(0.0))
        .as("recall_rate")) ++ hourCols
    val base = rows
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), aggCols: _*)
    // mean weekly contact-repeat Jaccard (6-dp values: exact decimal sum)
    val rep = q14Core(spark, dir)
      .groupBy(col("user_id"))
      .agg(Exact.r(sum(col("jaccard").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("repeat_rate"))
    base
      .join(rep, Seq("user_id"), "left")
      .select(
        Seq(col("user_id"), col("n_events"), col("mean_val"), col("var_val"),
          col("n_types"), col("mean_gap"), col("recall_rate"),
          coalesce(col("repeat_rate"), lit(0.0)).as("repeat_rate")) ++
          (0 until 24).map(h => col(f"h$h%02d")): _*)
      .orderBy(col("user_id"))
  }

  /** q59: the COMPLETE slice_feature parity vector — every one of the
    * reference's 32 slots (data_process.py:159-168: [indegree,
    * outdegree, neighbor_degree, clustering coefficient, recall_rate,
    * repeat_rate, mean_dur, var_dur] + 24 hour bins) materialized per
    * user in ONE result, by joining the graph-family operators into the
    * q19 events-native matrix on the shared user/customer key domain:
    *  - slots 0-1 (±1-weight in/out degree) from q53's signed call-edge
    *    list, rolled up across both adjacency sides exactly as the
    *    reference counts `net[id].items()` weights;
    *  - slot 2 (neighbor avg degree) from q22 — intended semantics, not
    *    the reference's own-degree bug (see q22 note);
    *  - slot 3 (clustering coefficient) from q23's capped triangle
    *    count over the purchase graph;
    *  - slots 4-31 are q19's columns (recall, repeat, mean/var, hours).
    * Users absent from a graph get 0 — the reference's own fill for
    * persons missing from a slice. Every join is a per-user-key
    * left join onto an already-aggregated (node-sized) table, so the
    * assembly adds co-partitioned merges, never another fact scan. */
  def q59FullFeatureMatrix(spark: SparkSession, dir: String): DataFrame =
    q59Core(spark, dir).orderBy(col("user_id"))

  /** q59's rows without its presentation sort (a range exchange and a
    * sampling job), for callers that need no order. */
  private[graft] def q59Core(spark: SparkSession, dir: String): DataFrame = {
    val base = q19FeatureMatrix(spark, dir)
    // direct per-node rollup — routing through q53's output paid its
    // (node, side) aggregation + presentation sort + a re-aggregation
    // (two wasted exchanges and a sort; see [[Graph.signedPosNeg]])
    val sd = Graph.signedPosNeg(Tables.events(spark, dir)
        .withColumn("peer", get_json_object(col("props"), "$.k").cast("long")))
      .select(col("node").as("user_id"),
        col("sd_pos").as("out_deg_signed"), col("sd_neg").as("in_deg_signed"))
    // ONE orders⋈lineitem pass AND one dedup exchange feed both graph
    // constituents: canonical pairs flagged `hot` where a heavy line
    // backs either direction, cached (half the symmetric set's rows;
    // MEMORY_AND_DISK spills rather than re-run the fact join) and
    // mirrored on read into q22's graph and q23's hot = 1 subgraph.
    val pairs = Release.cache(Graph.canonPairs(Graph.factBase(spark, dir)
      .withColumn("hot", (col("l_quantity") >= 45).cast("int")), Nil, max("hot").as("hot")))
    val nad = Graph.q22FromUnd(spark, dir, Graph.mirrored(pairs.select(col("a"), col("b"))))
      .select(col("node").as("user_id"), col("nbr_avg_deg"))
    val cc = Graph.q23FromUndKeyed(Graph.mirrored(pairs
        .filter(col("hot") === 1 && col("a") =!= col("b"))
        .select(col("a"), col("b"))), Nil)
      .select(col("node").as("user_id"), col("clustering"))
    base
      .join(sd, Seq("user_id"), "left")
      .join(nad, Seq("user_id"), "left")
      .join(cc, Seq("user_id"), "left")
      .withColumn("out_deg_signed", coalesce(col("out_deg_signed"), lit(0L)))
      .withColumn("in_deg_signed", coalesce(col("in_deg_signed"), lit(0L)))
      .withColumn("nbr_avg_deg", coalesce(col("nbr_avg_deg"), lit(0.0)))
      .withColumn("clustering", coalesce(col("clustering"), lit(0.0)))
  }

  private val q19OracleSql: String = {
    val hourSql = (0 until 24).map(h =>
      f"floor((sum(CASE WHEN hour(ts) = $h THEN 1 ELSE 0 END)*1.0/count(*)) * 1e6 + 0.5) / 1e6 AS h$h%02d")
      .mkString(",\n  ")
    s"""WITH base AS (SELECT user_id, count(*) AS n_events,
      |  ${Exact.sql.r(Exact.sql.davg("value"), 6)} AS mean_val,
      |  ${Exact.sql.r(Exact.sql.dvarPop("value"), 6)} AS var_val,
      |  count(DISTINCT event_type) AS n_types,
      |  $hourSql
      | FROM events GROUP BY 1),
      | g AS (SELECT user_id,
      |  floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT)
      |   OVER (PARTITION BY user_id, ts::DATE ORDER BY ts, event_id) AS gap
      |  FROM events),
      | gaps AS (SELECT user_id, floor((sum(gap)*1.0/count(gap)) * 1e4 + 0.5) / 1e4 AS mean_gap FROM g GROUP BY 1),
      | r AS (SELECT user_id, ts, event_type,
      |  max(CASE WHEN event_type='purchase' THEN ts END) OVER (PARTITION BY user_id) AS mp
      |  FROM events),
      | recall AS (SELECT user_id,
      |  floor((sum(CASE WHEN mp > ts THEN 1 ELSE 0 END)*1.0/count(*)) * 1e6 + 0.5) / 1e6 AS recall_rate
      |  FROM r WHERE event_type='view' GROUP BY 1),
      | uw AS (SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS wk, event_type FROM events),
      | cnt AS (SELECT user_id, wk, count(*) AS n FROM uw GROUP BY 1,2),
      | inter AS (SELECT a.user_id, a.wk, count(*) AS i FROM uw a
      |   JOIN uw b ON a.user_id=b.user_id AND a.event_type=b.event_type AND b.wk = a.wk - 7
      |   GROUP BY 1,2),
      | jac AS (SELECT c.user_id, c.wk,
      |   floor((coalesce(x.i,0)*1.0/(c.n + coalesce(p.n,0) - coalesce(x.i,0))) * 1e6 + 0.5) / 1e6 AS jaccard
      |  FROM cnt c
      |   LEFT JOIN cnt p ON p.user_id=c.user_id AND p.wk = c.wk - 7
      |   LEFT JOIN inter x ON x.user_id=c.user_id AND x.wk=c.wk),
      | rep AS (SELECT user_id,
      |   floor((CAST(sum(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE)/count(*)) * 1e6 + 0.5) / 1e6 AS repeat_rate
      |  FROM jac GROUP BY 1)
      |SELECT b.*,
      | coalesce(gaps.mean_gap, 0.0) AS mean_gap,
      | coalesce(recall.recall_rate, 0.0) AS recall_rate,
      | coalesce(rep.repeat_rate, 0.0) AS repeat_rate
      |FROM base b LEFT JOIN gaps USING(user_id) LEFT JOIN recall USING(user_id)
      | LEFT JOIN rep USING(user_id)
      |ORDER BY user_id""".stripMargin
  }

  /** q77: recency-weighted burst score — a dyadic-decay EWMA over each
    * user's LAST 16 events (most recent weighted 2⁰, then 2⁻¹, …)
    * against the user's all-time mean: burst ≫ 1 flags a user whose
    * recent activity level spiked, the classic CDR fraud-onset signal
    * the reference's static per-slice moments (q10) can't see.
    *
    * The decay base is 1/2 ON PURPOSE: every weight 2^−k is a shifted
    * integer, so the weighted sum runs ENTIRELY in exact int64 —
    * cents(value)·2^(16−rn) summed exactly, normalized by the exact
    * weight total (users with < 16 events get the matching truncated
    * normalizer), with ONE double division at the end. No pow(), no
    * ln(), no order-dependent float accumulation: fully hash-portable
    * with zero quantization margin to audit (the α-EWMA literature's
    * arbitrary decay would cost a non-portable pow() per row).
    *
    * Scale: the rank filter (rn ≤ 16) rewrites to WindowGroupLimit —
    * per-partition top-16 BEFORE the window shuffle moves data — and
    * the mean side is one map-side-combined aggregation; join keyed on
    * user_id both sides. */
  def q77EwmaBurst(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val wt = expr("shiftleft(CAST(1 AS BIGINT), 16 - rn)")
    val recent = ev.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 16)
      .select(col("user_id"),
        ((col("value").cast("decimal(18,2)") * 100).cast("long") * wt).as("term"),
        wt.as("wt"))
    val e16 = recent.groupBy(col("user_id"))
      .agg((sum(col("term")).cast("double") /
        (lit(100.0) * sum(col("wt")))).as("ewma16"))
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), Exact.davg(col("value")).as("mean_raw"))
      .join(e16, "user_id")
      .select(col("user_id"), col("n_events"),
        Exact.r(col("mean_raw"), 6).as("mean_val"),
        Exact.r(col("ewma16"), 6).as("ewma16"),
        when(col("mean_raw") === 0.0, lit(null).cast("double"))
          .otherwise(Exact.r(col("ewma16") / col("mean_raw"), 6)).as("burst"))
      .orderBy(col("user_id"))
  }

  /** q79: event-type transition matrix — the first-order Markov
    * signature of user behavior (P(next = b | current = a) over
    * consecutive events per user), the sequence feature the
    * reference's per-slice moments flatten away; fraud campaigns have
    * distinctive transition fingerprints (e.g. burst chains of the
    * same type) that q12's static histogram can't separate from
    * benign mixes.
    *
    * Portability: integer pair counts and ONE double division per
    * (a,b) cell, 6dp — no margins to audit. Scale: one user-partition
    * window (q13's shuffle) feeding a map-side-combined count keyed on
    * the (a,b) pair — |types|² cells total, so the per-row totals join
    * is a broadcast of a tiny aggregate, and nothing re-sorts
    * globally. */
  def q79Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy(col("cur")).agg(sum(col("n")).as("t"))
    pairs.join(broadcast(tot), "cur")
      .select(col("cur"), col("nxt"), col("n"),
        Exact.r(col("n") * lit(1.0) / col("t"), 6).as("p"))
      .orderBy(col("cur"), col("nxt"))
  }

  /** q83: Gini concentration of user activity, per event type and
    * overall — the inequality statistic that separates organic traffic
    * (moderate concentration) from scripted fleets (either uniform
    * bot schedules ⇒ Gini ≈ 0, or a few hyperactive accounts ⇒
    * Gini → 1); the classic formula
    * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over ascending-ranked
    * per-user counts.
    *
    * Exactness: every sum is exact int64 (ranks × integer counts; tie
    * order is pinned by (x, user_id) and cannot move the sum anyway),
    * ONE double expression at the end, 6dp — no ln, no margins.
    * Scale: the rank is the q44/q27 two-pass bucket primitive — a
    * window PARTITIONED BY (group, range-bucket) plus driver-folded
    * exclusive offsets over ≤ groups × 1024 metadata rows — never a
    * single-partition global sort of the user table. */
  def q83ActivityGini(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perUser = ev
      .groupBy(col("event_type").as("grp"), col("user_id"))
      .agg(count(lit(1)).as("x"))
      .unionAll(ev.groupBy(lit("ALL").as("grp"), col("user_id"))
        .agg(count(lit(1)).as("x")))
    val bucketed = Ranking.withRangeBucket(perUser, "x", descending = false)
    val off = Ranking.exclusiveOffsetsBy(bucketed, "grp",
      Map("cnt" -> count(lit(1))))
    val w = Window.partitionBy(col("grp"), col("_b"))
      .orderBy(col("x"), col("user_id"))
    bucketed
      .withColumn("i", row_number().over(w).cast("long") + off("cnt"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("total"),
        sum(col("i") * col("x")).as("s1"))
      .select(col("grp"), col("n_users"), col("total"),
        Exact.r((lit(2.0) * col("s1") - (col("n_users") + lit(1.0)) * col("total"))
          / (col("n_users") * lit(1.0) * col("total")), 6).as("gini"))
      .orderBy(col("grp"))
  }

  /** q85: the per-slice DYNAMIC feature tensor — the reference's actual
    * model input. data_process.py:92-148 builds ONE networkx graph PER
    * time window from the window's own call records (`nets = [nx.Graph()
    * ...]`) and computes degree / neighbor degree / clustering per
    * (person, window); model.py:25 consumes FOUR stacked time-scale
    * tensors (oneweek, twoweek, threeweek, month). q59 is the static
    * whole-period projection of this; q85 is the real thing: the full
    * 32-slot slice_feature vector per (user, scale, bucket) —
    * [out_deg, in_deg, nbr_avg_deg, clustering, recall_rate,
    * repeat_rate, mean_val, var_val] + 24 hour bins — where BOTH the
    * activity slots AND the graph slots are computed from exactly the
    * slice's own events.
    *
    * The per-slice graph is the q53 call-graph analog (src = user_id,
    * dst = the props.k counterpart) restricted to the slice — the same
    * records that feed the slice's activity stats, exactly like the
    * reference's per-window nets (the purchase graph can't serve here:
    * its o_orderdate axis never intersects the events timeline).
    * Graph slots run through the KEYED q20/q22/q23 cores
    * ([[Graph.q20DegreesKeyed]] etc.) — the same degree agg, neighbor
    * join and triangle pairing with (scale, bucket) prepended to every
    * key, so the whole tensor adds no new shuffle kinds, just more
    * groups; repeat_rate is q14's consecutive-week Jaccard re-grained
    * to (slice, slice−1) at each scale.
    *
    * Scale: ONE events scan exploded ×4 feeds activity, type sets and
    * edges; every downstream join is co-partitioned on
    * (user/node, scale, bucket). Per-slice subgraphs are strictly
    * smaller than the static graph, so the triangle join's hub bound
    * (adjCap per (slice, src)) is looser than q23's own. */
  def q85SliceFeatureTensor(spark: SparkSession, dir: String): DataFrame =
    q85Core(spark, dir).orderBy(col("user_id"), col("scale"), col("bucket"))

  /** The q85 tensor without the presentation sort — the shared input of
    * [[q87TemporalAttentionPool]] and FraudPipeline's pooling tiers
    * (both re-aggregate immediately, so a sort below them is pure
    * wasted work Catalyst won't always eliminate). */
  private[graft] def q85Core(spark: SparkSession, dir: String): DataFrame =
    q85CoreFromEv(q85Ev(spark, dir), q85CcIntersect(spark, dir))

  /** Density gate for the keyed triangle core's spelling (see
    * [[Graph.q23FromUndKeyed]]): below this many events the
    * candidate-pair join wins (stage-overhead-bound); at/above it the
    * adjacency-intersection wins (shuffle-volume-bound). Measured
    * crossover between 100k events (sf0.1: join ~15 % faster) and 1M
    * (sf1: intersect ~1.4× faster), interleaved min-of-3 each way
    * (measured by the ProfileQ85b probe, since removed; see git
    * history) — the gate sits at the geometric middle. Footer count
    * only (statistics-only, memoized). */
  private[graft] val q85CcIntersectMinEvents = 500L * 1000
  private[graft] def q85CcIntersect(spark: SparkSession, dir: String): Boolean =
    Tables.cachedRowCount(spark, dir, "events") >= q85CcIntersectMinEvents

  /** The (conditionally cached) narrow events projection every q85
    * sub-DAG reads — split out so q94 can feed its signed-degree side
    * from the SAME frame (one events pass instead of two).
    *
    * Three consumers (day partials, type sets, edge build) of a
    * 1×-corpus narrow projection. Cache only while events is modest —
    * parquet-footer count, statistics-only, the q63 discipline: past
    * the bound, one extra scan per consumer beats a corpus-sized cache
    * spill-thrashing the executors at 100 TB. `cacheEventLimit` lets the
    * spec pin the uncached branch on small data. */
  private[graft] def q85Ev(spark: SparkSession, dir: String,
      cacheEventLimit: Long = q85CacheEventLimit): DataFrame = {
    val evBase = q85EvBase(spark, dir)
    if (Tables.cachedRowCount(spark, dir, "events") <= cacheEventLimit)
      Release.cache(evBase)
    else evBase
  }

  private[graft] def q85CoreFromEv(ev: DataFrame,
      ccIntersect: Boolean = false): DataFrame = {
    // Day-grain rollup (the §5 partial-aggregate idea, proven on q08,
    // applied to the tensor): every activity slot is decomposable into
    // per-(user, day) partials — see [[q85DayAgg]]. The events table is
    // scanned and shuffled ONCE at the raw grain; the ×4 scale explode
    // runs over day partials (D rows, D ≪ E), not raw events. The
    // sub-DAGs live in the q85* builders below, SHARED with the rollup
    // property test so the spec can never desynchronize from the
    // production spelling.
    val act = q85Activity(ev)
    val rep = q85Repeat(q85Uw(ev))
    // per-slice call graph: distinct directed (user → peer) per slice
    val keys = Seq("scale", "bucket")
    val e0 = q85Edges(ev)
    val dg = Graph.q20DegreesKeyed(e0, keys)
    val und = Release.cache(q85Und(e0))
    val nad = Graph.q22FromUndKeyed(und, keys)
      .select(col("scale"), col("bucket"), col("node"), col("nbr_avg_deg"))
    // triangle spelling by density (the footer gate above): pair join
    // below the crossover, adjacency-array intersection at/above it
    val ccUnd = und.filter(col("src") =!= col("dst"))
    val cc = Graph.q23FromUndKeyed(ccUnd, keys, intersect = ccIntersect)
      .select(col("scale"), col("bucket"), col("node"), col("clustering"))
    val jk = Seq("user_id", "scale", "bucket")
    act
      .join(rep, jk, "left")
      .join(dg.withColumnRenamed("node", "user_id"), jk, "left")
      .join(nad.withColumnRenamed("node", "user_id"), jk, "left")
      .join(cc.withColumnRenamed("node", "user_id"), jk, "left")
      .select(
        Seq(col("user_id"), col("scale"), col("bucket"), col("n_events"),
          col("mean_val"), col("var_val"), col("recall_rate"),
          coalesce(col("repeat_rate"), lit(0.0)).as("repeat_rate")) ++
        (0 until 24).map(h => col(f"h$h%02d")) ++
        Seq(coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("nbr_avg_deg"), lit(0.0)).as("nbr_avg_deg"),
          coalesce(col("clustering"), lit(0.0)).as("clustering")): _*)
  }

  // ---- q85 sub-DAG builders -----------------------------------------
  // Shared by q85Core and the rollup property test (FeaturesSpec): ONE
  // spelling of each sub-DAG.

  /** The narrow per-event projection every q85 sub-DAG reads: the JSON
    * peer extraction and the date arithmetic run once per event. */
  private[graft] def q85EvBase(spark: SparkSession, dir: String): DataFrame =
    q85EvBaseFrom(Tables.events(spark, dir))

  /** Same projection over ANY events-shaped frame (user_id, event_id,
    * ts, event_type, value, props) — the property-test seam: a
    * randomized fixture runs through the identical production
    * projection. `event_id` rides along for q94's signed-degree side
    * (ONE events pass feeds both the tensor and the id features); the
    * tensor sub-DAGs never read it, so when the frame is UNcached
    * (events past the footer gate — the 100 TB posture) Catalyst prunes
    * it out of every tensor branch's scan, and the cached case costs
    * one long column. */
  private[graft] def q85EvBaseFrom(events: DataFrame): DataFrame =
    events
      .withColumn("day_idx", datediff(col("ts").cast("date"), lit(epoch).cast("date")))
      .withColumn("peer", get_json_object(col("props"), "$.k").cast("long"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"), col("day_idx"), col("peer"))

  /** Re-grain a day-grain frame to the four (scale, bucket) slices —
    * bucket = day_idx div 7·scale, so the explode is exact re-keying. */
  private[graft] def q85WithScaleBucket(df: DataFrame): DataFrame = df
    .withColumn("scale", explode(array(lit(1), lit(2), lit(3), lit(4))))
    .withColumn("bucket", expr("CAST(day_idx AS BIGINT) div CAST(7 * scale AS BIGINT)"))

  /** Per-(user, day) purchase-timestamp maxima — shared between the
    * converted-view resolution and the slice last-purchase-day join. */
  private[graft] def q85DayPurch(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("day_idx")).agg(max(col("ts")).as("mpd"))

  /** Day-grain partials of every activity slot: counts, Σv, Σv² as
    * UNcast decimals (decimal addition is associative, so the
    * slice-level sum-of-sums is bit-identical to a one-level
    * aggregation — [[Exact.dsumPartial]]), per-hour counts, view
    * counts. The slice-local recall numerator decomposes too: a view on
    * day d converts iff the slice holds a purchase on a LATER day (any
    * ts there exceeds every ts of day d), or the day's own max purchase
    * ts exceeds the view's ts — so each day carries (views,
    * views-before-day-max-purchase, has-purchase) and the slice
    * resolves them against its last purchase day ([[q85Activity]]).
    *
    * No raw-grain window anywhere: a window over (user, day) would
    * shuffle AND SORT every event; every slot here is a decomposable
    * aggregate, so the main pass map-side-combines down to day partials
    * before its (tiny) exchange. The one slot that needs a
    * post-aggregation value — dnvl, views before the day's last
    * purchase — joins the view rows against the (user, day) purchase
    * maxima instead: the view side shuffles sort-FREE, the purchase-max
    * side is day-grain (AQE broadcasts it when small), and the count
    * re-uses the join's partitioning for its exchange-free groupBy. */
  private[graft] def q85DayAgg(ev: DataFrame): DataFrame = {
    val dayAggExprs = Seq(
      count(lit(1)).as("dn"),                    // slice n_events / hour denom
      count(col("value")).as("dnval"),           // mean/var denom (davg counts non-null)
      Exact.dsumPartial(col("value")).as("ds1"),
      Exact.dsumSqPartial(col("value")).as("ds2"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("dnv"),
      max(when(col("event_type") === "purchase", 1).otherwise(0)).as("dhp")) ++
      // 24 hour-bin counts PACKED two-per-long (hours 2k/2k+1 in the
      // low/high 32 bits of dp{k}): each event adds 1 or 2³² to its
      // long, and field-wise long addition IS the pair of counts as
      // long as neither field crosses 2³² — integer-exact, and the
      // sf100 post-mortem's fix: 12 shuffle columns instead of 24
      // through BOTH tensor exchanges (raw→day, day→slice). Bound
      // documented on [[unpackHour]]; spec-pinned incl. the >2³¹
      // high-field case (shiftrightunsigned, not arithmetic shift).
      (0 until 12).map(k =>
        sum(when(hour(col("ts")) === 2 * k, lit(1L))
          .when(hour(col("ts")) === 2 * k + 1, lit(1L << 32))
          .otherwise(lit(0L))).as(f"dp$k%02d"))
    val dayConv = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("day_idx"), col("ts"))
      .join(q85DayPurch(ev), Seq("user_id", "day_idx"))
      .groupBy(col("user_id"), col("day_idx"))
      .agg(sum(when(col("mpd") > col("ts"), 1L).otherwise(0L)).as("dnvl"))
    ev.groupBy(col("user_id"), col("day_idx"))
      .agg(dayAggExprs.head, dayAggExprs.tail: _*)
      .join(dayConv, Seq("user_id", "day_idx"), "left")
      // view days without a same-day purchase carry no converted views
      .withColumn("dnvl", coalesce(col("dnvl"), lit(0L)))
  }

  /** Hour count for hour `h` out of its packed pair column dp{h div 2}
    * (see [[q85DayAgg]]): low 32 bits hold hour 2k, high bits 2k+1.
    * shiftrightunsigned, NOT shiftright — a high-field count ≥ 2³¹
    * makes the long negative and an arithmetic shift would
    * sign-extend. Exactness bound: each field must stay < 2³² at its
    * WIDEST grain, the per-(user, scale-slice, hour) count — 4.29
    * billion events from one user inside one hour-of-day of one
    * ≤28-day slice, beyond any physical event stream (it is >1M
    * events/sec sustained); below the bound every packed sum is
    * bit-exact integer arithmetic. */
  private[graft] def unpackHour(packed: Column, h: Int): Column =
    if (h % 2 == 0) packed.bitwiseAND(lit(0xFFFFFFFFL))
    else shiftrightunsigned(packed, 32)

  /** Activity slots per (user, scale, bucket), folded from the day
    * partials ([[q85DayAgg]] → scale explode → slice aggregation). */
  private[graft] def q85Activity(ev: DataFrame): DataFrame = {
    // the slice's last purchase day: days strictly before it convert
    // all their views; the last day falls back to its own-day count.
    // groupBy + join instead of a max window — same single slice-key
    // exchange for the day partials, minus the window's sort; derived
    // from dayPurch (purchase days ⇔ dhp = 1 days), so the day-agg
    // subtree is never re-evaluated (the left join keeps no-purchase
    // slices NULL, exactly the window's semantics)
    val dx = q85WithScaleBucket(q85DayAgg(ev)).join(
      q85WithScaleBucket(q85DayPurch(ev))
        .groupBy(col("user_id"), col("scale"), col("bucket"))
        .agg(max(col("day_idx")).as("maxpd")),
      Seq("user_id", "scale", "bucket"), "left")
    val n = sum(col("dn"))
    val nVal = sum(col("dnval"))
    val s1 = sum(col("ds1")).cast("double")
    val s2 = sum(col("ds2")).cast("double")
    val hourCols = (0 until 24).map(h =>
      Exact.r(unpackHour(sum(col(f"dp${h / 2}%02d")), h) * lit(1.0) / n, 6)
        .as(f"h$h%02d"))
    val nView = sum(col("dnv"))
    val nViewLater = sum(when(col("day_idx") < col("maxpd"), col("dnv"))
      .otherwise(col("dnvl")))
    // recall is slice-local (a view "converts" only if a purchase follows
    // WITHIN the slice); the no-view case must be guarded explicitly —
    // 0/0 on doubles is NaN, not NULL, so coalesce can't paper over it
    dx.groupBy(col("user_id"), col("scale"), col("bucket"))
      .agg(n.as("n_events"),
        (Seq(
          Exact.r(s1 / nVal, 6).as("mean_val"),
          Exact.r(greatest((s2 - s1 * s1 / nVal) / nVal, lit(0.0)), 6).as("var_val"),
          when(nView === 0, lit(0.0))
            .otherwise(Exact.r(nViewLater * lit(1.0) / nView, 6)).as("recall_rate"))
          ++ hourCols): _*)
  }

  /** Slice-grain distinct (user, type) sets. Dedup-first (undFrom's
    * lesson at the slice grain): reduce to DAY-grain uniques,
    * re-explode the four scales over the deduped set, then the final
    * slice-grain distinct — shuffles E + 4D rows instead of a 4E-row
    * distinct (bucket = f(day_idx, scale) exactly). No cache: since
    * the lag-window respelling of [[q85Repeat]] it has exactly ONE
    * consumer reading it once. */
  private[graft] def q85Uw(ev: DataFrame): DataFrame =
    q85WithScaleBucket(
        ev.select(col("user_id"), col("day_idx"), col("event_type")).distinct())
      .select(col("user_id"), col("scale"), col("bucket"), col("event_type"))
      .distinct()

  /** repeat_rate per slice: slice-local contact repeat — Jaccard of the
    * slice's type set vs the PREVIOUS bucket at the same scale (q14
    * re-grained), over [[q85Uw]].
    *
    * Spelled as LAG WINDOWS, not the uw⋈uw self-join + cnt⋈cnt⋈inter
    * assembly it replaced: uw is DISTINCT per (user, scale, bucket,
    * type), so "type present in bucket AND bucket−1" is exactly
    * `lag(bucket) OVER (user, scale, type ORDER BY bucket) = bucket−1`,
    * and the intersection count folds into the SAME aggregation that
    * counts the slice's types; the previous bucket's size is one more
    * lag over the aggregated frame. 3 exchanges, 0 broadcast builds,
    * where the join spelling paid 4 exchanges + 2 broadcast builds +
    * a full re-pass of the uw cache per side — measured exact-equal
    * and ~2× faster at sf0.1 (a-only=b-only=0; measured by the
    * ProfileQ85c probe, since removed, see git history). Window
    * partitions are (user, scale[, type]) — bounded by the calendar
    * times |types|, never a skew hazard. */
  private[graft] def q85Repeat(uw: DataFrame): DataFrame = {
    val wEt = Window.partitionBy(col("user_id"), col("scale"), col("event_type"))
      .orderBy(col("bucket"))
    val wUs = Window.partitionBy(col("user_id"), col("scale"))
      .orderBy(col("bucket"))
    uw.withColumn("pb", lag(col("bucket"), 1).over(wEt))
      .groupBy(col("user_id"), col("scale"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pb") === col("bucket") - 1, 1L).otherwise(0L)).as("i"))
      .withColumn("pn",
        when(lag(col("bucket"), 1).over(wUs) === col("bucket") - 1,
          lag(col("n"), 1).over(wUs)))
      .select(col("user_id"), col("scale"), col("bucket"),
        Exact.r(col("i") /
          (col("n") + coalesce(col("pn"), lit(0L)) - col("i")), 6).as("repeat_rate"))
  }

  /** Per-slice distinct directed (user → peer) edges, CACHED — the
    * degree explode and the symmetrize read it twice. Same dedup-first
    * shape as [[q85Uw]]: day-grain edge uniques once, then the four
    * scales re-explode over the deduped set. */
  private[graft] def q85Edges(ev: DataFrame): DataFrame =
    Release.cache(q85WithScaleBucket(
        ev.filter(col("peer").isNotNull)
          .select(col("user_id"), col("day_idx"), col("peer")).distinct())
      .select(col("scale"), col("bucket"), col("user_id").as("src"), col("peer").as("dst"))
      .distinct())

  /** The per-slice undirected call graph of [[q85Edges]]: symmetrized,
    * then deduped by repartition(scale, bucket, src) + dropDuplicates
    * instead of a plain distinct (or [[Graph.canonPairs]]): the same
    * single exchange, since hash(keys, src) colocates every (keys, src,
    * dst) copy, but the partitioning then SATISFIES q23's cap window,
    * its degree agg and the e2 side of the triangle join — three
    * exchanges of the slice edge set gone. No new skew: the cap window
    * already funnels each (keys, src) adjacency into one partition;
    * this just establishes that distribution once. */
  private[graft] def q85Und(e0: DataFrame): DataFrame =
    Graph.symmetrized(e0, Seq("scale", "bucket"))
      .repartition(col("scale"), col("bucket"), col("src"))
      .dropDuplicates()

  /** q87 feature-attention weights — TRAINED plan literals for the
    * reference MultiLstm's `feature_attn` (Code for Sichuan/src/
    * layers.py:15-16, applied at layers.py:41-48). Earlier rounds
    * shipped a fixed uniform-prior distribution; these are the
    * MLlib-FITTED values (the reference trains its attention end-to-end
    * — closing that semantic delta was round-7's ask): a bucket-grain
    * LogisticRegression on the sf0.1 q85 tensor, TRAIN fold only
    * (graft.AttnFit; bucket AUC 0.581), so the weights are the learned
    * per-bucket fraud-logit direction — recall_rate and the evening/
    * night hour bins push attention UP, clustering and the afternoon
    * bins push it DOWN. Each value is dyadic-rounded to 1/2²⁰, so the
    * pooled scalar is the same IEEE op chain in both engines; the seq
    * order is the evaluation order the oracle SQL mirrors
    * term-for-term (training stays in the MLlib seam — the q35
    * Rademacher / q71 dsirTable pattern). */
  private[graft] val q87FeatureAttn: Seq[(String, Double)] =
    Seq(
      "n_events" -> -0.0020799636840820312,
      "mean_val" -> 8.306503295898438E-4,
      "var_val" -> 3.910064697265625E-5,
      "recall_rate" -> 0.058144569396972656,
      "repeat_rate" -> -0.025121688842773438,
      "out_deg" -> 0.0015764236450195312,
      "in_deg" -> 0.0011043548583984375,
      "nbr_avg_deg" -> -3.719329833984375E-5,
      "clustering" -> -0.31247806549072266,
      "h00" -> -0.1247854232788086,
      "h01" -> -0.3940105438232422,
      "h02" -> -0.7409267425537109,
      "h03" -> 0.5528535842895508,
      "h04" -> 1.019047737121582,
      "h05" -> 0.9210786819458008,
      "h06" -> -0.3743886947631836,
      "h07" -> -0.3172035217285156,
      "h08" -> -0.8111658096313477,
      "h09" -> -0.1984262466430664,
      "h10" -> 0.42482948303222656,
      "h11" -> -0.24325942993164062,
      "h12" -> -0.41883373260498047,
      "h13" -> -1.0283432006835938,
      "h14" -> -0.8209705352783203,
      "h15" -> -0.47772979736328125,
      "h16" -> 0.26769065856933594,
      "h17" -> 0.7558870315551758,
      "h18" -> 1.5148086547851562,
      "h19" -> 0.4534034729003906,
      "h20" -> 0.4982643127441406,
      "h21" -> -0.6351032257080078,
      "h22" -> 0.6235265731811523,
      "h23" -> -0.4684009552001953)

  /** q87 temporal gate literals (dyadic): score = tanh(w·pooled + b)
    * per bucket before the softmax. Fitted alongside [[q87FeatureAttn]]
    * (AttnFit): w = 1 (the train-fold |logit − mean| q99 of 0.83 already
    * sits in tanh's responsive range) and b centers the pooled logit —
    * b = intercept − mean — so the softmax discriminates around the
    * corpus base rate instead of saturating at it. */
  private[graft] val q87GateW = 1.0
  private[graft] val q87GateB = -0.07498455047607422

  /** q87: temporal-attention pooling of the q85 slice tensor — the
    * inference analog of the reference's MultiLstm temporal stage
    * (layers.py:9-68: per scale, the bucket sequence pools to ONE
    * per-scale vector; `weekmonthattn`/`get_timeattn` at layers.py:27,
    * 70-71 is the attention variant of that pooling). FraudPipeline's
    * `--slices` tier pools by bucket MEAN (uniform attention); this
    * operator closes the last reference inference stage without a
    * relational analog: each bucket's slots reduce through the
    * feature-attention weights to a scalar, a tanh gate scores it, the
    * scores softmax WITHIN (user, scale) into attention weights, and
    * every slot pools as Σ aₜ·xₜ — high-activity buckets dominate the
    * per-scale summary instead of diluting into the mean.
    *
    * Numerics (q86's discipline end-to-end): dyadic weights make the
    * pooled scalar and gate argument the same IEEE chain in both
    * engines; tanh is spelled overflow-safe (1 − 2/(e²ˣ+1)) and
    * quantizes at 6dp; the softmax numerator e^s quantizes at 6dp
    * (s ∈ [−1,1] so e^s ∈ [e⁻¹, e] — no overflow, no max-shift
    * needed); the denominator sums those 6dp values as exact
    * DECIMAL(18,6) (order-independent); per-bucket messages aₜ·xₜ
    * quantize to DECIMAL(28,12) before the sum (q66's rule); one 6dp
    * round on every pooled output.
    *
    * Scale: the attention window and the pooling groupBy share the
    * (user_id, scale) partitioning — ONE exchange of 4D tensor rows on
    * top of the q85 plan; nothing re-touches raw events. */
  def q87TemporalAttentionPool(spark: SparkSession, dir: String): DataFrame =
    q87PoolFrom(q85Core(spark, dir)).orderBy(col("user_id"), col("scale"))

  /** NULL-safe slot read shared by the gate score and the pool. */
  private def q87Slot(c: String): Column =
    coalesce(col(c).cast("double"), lit(0.0))

  /** The sort-free pooling core over any frame with the q85 tensor
    * columns — FraudPipeline consumes THIS (its pivot re-aggregates, so
    * the presentation sort above would be a pure wasted exchange+sort;
    * the q85Core lesson applied to q87), and specs can feed it a
    * synthetic tensor.
    *
    * NULL discipline: mean_val/var_val are NULL for a slice whose
    * values are all NULL (q85 reports the honest per-slice stat). The
    * pool must treat such a slot as zero mass, NOT drop the bucket —
    * un-coalesced, one NULL slot would null the gate score, vanish the
    * bucket from the softmax denominator and null every pooled slot for
    * the (user, scale). Coalesce every slot uniformly (a no-op on the
    * always-defined ones); the oracle mirrors the same COALESCE. */
  private[graft] def q87PoolFrom(t: DataFrame): DataFrame = {
    // gate score, 6dp e^s, exact softmax denominator and per-bucket
    // attention weight `a`
    val pooled =
      q87FeatureAttn.map { case (c, w) => lit(w) * q87Slot(c) }.reduce(_ + _)
    val arg = lit(q87GateW) * pooled + lit(q87GateB)
    val sQ = Exact.r(lit(1.0) - lit(2.0) / (exp(lit(2.0) * arg) + lit(1.0)), 6)
    val attW = Window.partitionBy(col("user_id"), col("scale"))
    val withA = t.withColumn("e_att", Exact.r(exp(sQ), 6))
      .withColumn("den",
        sum(col("e_att").cast("decimal(18,6)")).over(attW).cast("double"))
      .withColumn("a", col("e_att") / col("den"))
    val aggs = Seq(
      count(lit(1)).as("n_buckets"),
      Exact.r(max(col("a")), 6).as("att_max")) ++
      q87FeatureAttn.map { case (c, _) =>
        Exact.r(sum((col("a") * q87Slot(c)).cast("decimal(28,12)")).cast("double"), 6)
          .as(c)
      }
    withA.groupBy(col("user_id"), col("scale"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB spelling of q87's feature-attention dot product — the same
    * left-associated term order as [[q87FeatureAttn]]; shared by the
    * q87 and q90 oracles. */
  private def q87PooledSql: String = {
    def w(d: Double): String = new java.math.BigDecimal(d).toPlainString
    q87FeatureAttn
      .map { case (c, wt) =>
        s"${w(wt)}::DOUBLE * COALESCE(CAST($c AS DOUBLE), 0.0)" }
      .mkString(" + ")
  }

  /** The q87 oracle: q85's body as a CTE, then the attention math
    * spelled op-for-op (dyadic literals to DOUBLE, the same
    * left-associated term order as [[q87FeatureAttn]], tanh and e^s
    * quantized at 6dp, DECIMAL(18,6) denominator, DECIMAL(28,12)
    * messages). */
  private def q87OracleSql: String = {
    def w(d: Double): String = new java.math.BigDecimal(d).toPlainString
    val pSql = q87PooledSql
    val argSql = s"${w(q87GateW)}::DOUBLE * ($pSql) + ${w(q87GateB)}::DOUBLE"
    val sqSql =
      s"floor((1.0 - 2.0 / (exp(2.0 * ($argSql)) + 1.0)) * 1e6 + 0.5) / 1e6"
    val slotSql = q87FeatureAttn.map { case (c, _) =>
      s"floor(CAST(sum(CAST(a * COALESCE(CAST($c AS DOUBLE), 0.0) AS DECIMAL(28,12))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS $c"
    }.mkString(",\n ")
    s"""WITH t AS ($q85OracleBody),
       | s AS (SELECT t.*, $sqSql AS sq FROM t),
       | e AS (SELECT s.*, floor(exp(sq) * 1e6 + 0.5) / 1e6 AS e_att FROM s),
       | d AS (SELECT e.*, e_att / CAST(sum(CAST(e_att AS DECIMAL(18,6)))
       |    OVER (PARTITION BY user_id, scale) AS DOUBLE) AS a FROM e)
       |SELECT user_id, scale, count(*) AS n_buckets,
       | floor(max(a) * 1e6 + 0.5) / 1e6 AS att_max,
       | $slotSql
       |FROM d GROUP BY 1, 2
       |ORDER BY user_id, scale""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q90: LSTM recurrence over each (user, scale) bucket sequence — the
  // reference's MultiLstm temporal stage (Code for Sichuan/src/
  // layers.py:9-68 runs an LSTM per time scale over the bucket sequence
  // before the attention pool) re-expressed as an ordered relational
  // fold. q87 covers the attention/pooling stage; this closes the
  // recurrent state transition itself: an LSTM cell (dyadic plan
  // literals, input = the same trained feature-attention projection q87
  // gates on) folded left over the bucket-sorted sequence — per-group
  // SEQUENTIAL, as the recurrence semantically demands, but fully
  // distributed across (user, scale) groups.
  //
  // One cell serves every hidden size, as the reference's MultiLstm is
  // one cell whose hidden_size is a parameter (layers.py:17-24,
  // main.py:19): q90 is H = 1, q92 H = 2, q93 H = 4, and q94 embeds
  // q92's fold. State is an ARRAY of H packed doubles (one per unit,
  // see [[q90Pack]]), and every gate of every unit mixes x and all H
  // hidden states with dyadic weights — a full H×H recurrent matrix, so
  // the units are coupled, not H independent scalar folds. Subscripting
  // differs by engine (Spark [] is 0-based, DuckDB 1-based), so the cell
  // text comes from ONE generator parameterized by the subscript
  // renderer — the same single-definition discipline as Exact.sql.
  //
  // Scale: sequences are bounded by the CALENDAR, not the data — at most
  // horizon/7 buckets per scale per user — so the collect_list state is
  // a few hundred structs max regardless of corpus size, and the whole
  // operator is ONE exchange (the groupBy) on top of the q85 tensor
  // plan. The fold itself is per-row compute, no shuffle, no iteration
  // rounds (contrast q73's K join rounds: an LSTM's dependence is WITHIN
  // the key, so it folds in one pass instead of message-passing).
  //
  // Numerics: every gate output and both state updates quantize at 6dp
  // (Exact.r's floor spelling); weights are dyadic so the products are
  // exact; exp is the only libm call, and the 6dp quantization after
  // each nonlinearity is the same discipline the q86/q87 hash gates
  // already prove portable. The DuckDB oracle folds the IDENTICAL
  // generated cell text via list_reduce, so the recurrences are
  // bit-identical step by step.
  // ---------------------------------------------------------------------

  /** One unit's LSTM state (h, c) PACKED into one double: h6 = h·10⁶
    * and c6 = c·10⁶ are integers (the 6dp quantization grid), and
    * acc = (h6 + 2e6)·2²⁵ + (c6 + 8e6) — max ~1.0e14, far under 2⁵³,
    * so every encode/decode is EXACT integer arithmetic in float64.
    * Cell state is clipped at ±4.0 (standard LSTM cell clipping) so c6
    * provably fits its 2²⁵ slot whatever the data does to the input
    * projection; h = o·tanh(c) ∈ (−1, 1) always fits.
    *
    * Why packed and not a struct per unit: DuckDB's list_reduce
    * evaluates a struct-typed lambda's fields IN PLACE and in order —
    * the `c` field's expression sees the already-updated `h` (found by
    * bit-tracing a 2-step fold; Spark's aggregate() snapshots the old
    * struct instead). A LIST-typed lambda is snapshot-based in both
    * engines ([acc[1]+e[1], acc[1]*100] over acc=[1,10] yields 100, not
    * 300), so a list of packed scalars has no field-update order to
    * disagree on, and the two engines share the cell text VERBATIM.
    * Spark's aggregate() accepts any zero type, so its accumulator is
    * array(packed, …) over scalar inputs; DuckDB's list_reduce demands
    * acc type == element type, so the oracle wraps each input as the
    * H-element list [x, 0, …] and seeds the zero list at the list head. */
  // Constants are spelled CAST(… AS DOUBLE): Spark parses a bare
  // `2000000.0` as DECIMAL and its floor() returns LONG, so unguarded
  // text would silently promote the whole cell into decimal arithmetic
  // (and fail aggregate()'s zero/merge type match).
  private val q90Pack = "CAST(33554432 AS DOUBLE)" // 2^25
  private val q90HOff = "CAST(2000000 AS DOUBLE)"
  private val q90COff = "CAST(8000000 AS DOUBLE)"
  private[graft] val q90Zero = "CAST(67108872000000 AS DOUBLE)" // encode(0,0)

  private def q90DecodeH(acc: String): String =
    s"(floor($acc / $q90Pack) - $q90HOff) / 1e6"
  private def q90DecodeC(acc: String): String =
    s"($acc - floor($acc / $q90Pack) * $q90Pack - $q90COff) / 1e6"

  /** Cell weights: per unit, per gate, (wx, w_h·, bias) with w_h· one
    * recurrent weight per hidden unit — a full H×H recurrent matrix.
    * All dyadic (exact doubles). */
  private[graft] type LstmUnits = IndexedSeq[Map[String, (Double, IndexedSeq[Double], Double)]]

  /** The shipped hidden_size=1 table (q90, `--lstm`): the
    * [[graft.LstmFit]] fit on the sf0.1 train fold (the reference
    * trains its MultiLstm, layers.py:17-24), 1/2²⁰-quantized so both
    * engines' SQL carries the exact same doubles. */
  private[graft] val q90Scalar: LstmUnits = IndexedSeq(Map(
    "i" -> (-1.982945442199707, IndexedSeq(-1.5916595458984375), 1.4523820877075195),
    "f" -> (-2.3713760375976562, IndexedSeq(-1.2606096267700195), 1.2257881164550781),
    "g" -> (0.8584566116333008, IndexedSeq(1.382364273071289), -0.9942464828491211),
    "o" -> (-3.0686349868774414, IndexedSeq(0.2022695541381836), 0.25170326232910156)))

  /** The pre-training H=1 literals (rounds 8-9's shipped values) — the
    * fixed-cell baseline under `--lstm --lstm-fixed`. */
  private[graft] val q90ScalarFixed: LstmUnits = IndexedSeq(Map(
    "i" -> (0.5, IndexedSeq(0.25), 0.0625),
    "f" -> (0.25, IndexedSeq(0.25), 0.5),
    "g" -> (0.5, IndexedSeq(0.25), 0.0),
    "o" -> (0.5, IndexedSeq(0.25), -0.0625)))

  /** The shipped hidden_size=2 table (q92, `--lstm2`). Cross weights
    * are nonzero in BOTH directions, so the units are coupled both
    * ways. Fitted and quantized as [[q90Scalar]] is. */
  private[graft] val q90Units: LstmUnits = IndexedSeq(
    Map(
      "i" -> (-1.9584484100341797, IndexedSeq(-1.1841411590576172, -1.1148595809936523), 1.3009471893310547),
      "f" -> (-2.64703369140625, IndexedSeq(-0.7787332534790039, -0.8425006866455078), 0.8807430267333984),
      "g" -> (0.7875690460205078, IndexedSeq(1.0746126174926758, 0.9151182174682617), -0.9557466506958008),
      "o" -> (-3.327028274536133, IndexedSeq(0.13227081298828125, 0.4620647430419922), 0.012363433837890625)),
    Map(
      "i" -> (-1.7255783081054688, IndexedSeq(-1.799382209777832, -1.2569026947021484), 1.3387222290039062),
      "f" -> (-1.6643333435058594, IndexedSeq(-1.2361822128295898, -0.8240346908569336), 1.126657485961914),
      "g" -> (0.7420806884765625, IndexedSeq(1.2193727493286133, 0.7014999389648438), -0.9808874130249023),
      "o" -> (-1.7877063751220703, IndexedSeq(-0.4430198669433594, 0.5952339172363281), 0.4583301544189453)))

  /** The pre-training hand-listed H=2 table — the fixed-cell A/B
    * baseline under `--lstm2 --lstm-fixed`, and the table the
    * byte-identical-refactor proof ran on. */
  private[graft] val q90UnitsFixed: LstmUnits = IndexedSeq(
    Map("i" -> (0.5, IndexedSeq(0.25, 0.125), 0.0625),
        "f" -> (0.25, IndexedSeq(0.25, -0.125), 0.5),
        "g" -> (0.5, IndexedSeq(0.25, 0.125), 0.0),
        "o" -> (0.5, IndexedSeq(0.25, -0.125), -0.0625)),
    Map("i" -> (0.25, IndexedSeq(-0.125, 0.25), 0.03125),
        "f" -> (0.125, IndexedSeq(0.125, 0.25), 0.5),
        "g" -> (0.25, IndexedSeq(0.25, -0.25), 0.0),
        "o" -> (0.5, IndexedSeq(-0.25, 0.25), 0.0625)))

  /** A shipped cell: the trained table, the pre-training table (the
    * `--lstm-fixed` baseline and [[graft.LstmFit]]'s starting point),
    * and the name of the trained table, which LstmFit prints. */
  private[graft] final case class LstmCell(name: String, trained: LstmUnits,
      fixed: LstmUnits)

  /** The cells that ship, by hidden size: the `units` values
    * `Tier.Lstm` accepts, the tables its fold runs, and the tables
    * [[graft.LstmFit]] refits, in that order. */
  private[graft] val lstmShipped: SortedMap[Int, LstmCell] = SortedMap(
    1 -> LstmCell("q90Scalar", q90Scalar, q90ScalarFixed),
    2 -> LstmCell("q90Units", q90Units, q90UnitsFixed))

  /** Each unit's (h, c) state names: `h`/`c` for the scalar cell,
    * `h1`/`c1` … `hH`/`cH` above it. The fold and the oracle emit them
    * with a `_last` suffix; the Lstm tier pivots them bare. */
  private[graft] def lstmStateNames(h: Int): IndexedSeq[(String, String)] =
    if (h == 1) IndexedSeq(("h", "c"))
    else IndexedSeq.tabulate(h)(u => (s"h${u + 1}", s"c${u + 1}"))

  /** q90: final scalar-cell LSTM state per (user, scale) over the q85
    * tensor. */
  def q90LstmState(spark: SparkSession, dir: String): DataFrame =
    q90FromH(q85Core(spark, dir), q90Scalar).orderBy(col("user_id"), col("scale"))

  /** Training rows for [[graft.LstmFit]]: the EXACT per-bucket inputs
    * the q90/q92/q93 folds consume (same pooled projection, same 6dp
    * rounding), bucket-sorted per (user, scale), with the user fraud
    * label — TRAIN fold only (the AttnFit leakage discipline). Row
    * count is |users|×4, so the trainer's collect is bounded by the
    * customer table, never the event stream. */
  private[graft] def lstmTrainSequences(spark: SparkSession, dir: String): DataFrame = {
    val pooled =
      q87FeatureAttn.map { case (c, w) => lit(w) * q87Slot(c) }.reduce(_ + _)
    q85Core(spark, dir)
      .withColumn("x", Exact.r(pooled, 6))
      .groupBy(col("user_id"), col("scale"))
      .agg(expr("transform(sort_array(collect_list(struct(bucket, x))), s -> s.x)")
        .as("xs"))
      .join(Tables.customer(spark, dir).select(
        col("c_custkey").as("user_id"),
        (col("c_acctbal") < 0).cast("double").as("label")), "user_id")
      .filter(Exact.lcgTrain80("user_id"))
  }

  /** Deterministic dyadic initialization for ANY hidden size — the
    * construction that makes the reference's `hidden_size=64` default
    * (main.py:19) one constant away: weights derive from md5 of
    * (seed, unit, gate, slot) mapped onto odd dyadic grids (wx ∈
    * ±odd/16, w_h ∈ ±odd/64 — never zero, so every unit pair stays
    * coupled both ways), forget bias at the standard +0.5, i/o biases
    * small ±odd/32, g bias 0 (the shipped fixed tables' shape). Both
    * engines see only the emitted literals, so any (h, seed) is
    * hash-oracle-able by construction. */
  private[graft] def lstmInit(h: Int, seed: Long): LstmUnits = {
    def hash(tag: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lstm:$seed:$tag".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(7).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    def odd(tag: String, n: Int): Long = { // odd in [-(2n-1), 2n-1]
      val k = (hash(tag) % n + n) % n
      val s = if (hash(tag + ":s") % 2 == 0) 1 else -1
      s * (2 * k + 1)
    }
    IndexedSeq.tabulate(h) { u =>
      Seq("i", "f", "g", "o").map { g =>
        val wx = odd(s"$u:$g:x", 4) / 16.0
        val wh = IndexedSeq.tabulate(h)(j => odd(s"$u:$g:h$j", 8) / 64.0)
        val b = g match {
          case "f" => 0.5
          case "g" => 0.0
          case _ => odd(s"$u:$g:b", 4) / 32.0
        }
        g -> ((wx, wh, b))
      }.toMap
    }
  }

  /** One unit's step of the H-unit cell as portable SQL text over the
    * array accumulator `acc` (via the engine's subscript renderer
    * `idx`) and the input scalar `x` — the IDENTICAL string runs inside
    * Spark's aggregate() and DuckDB's list_reduce. Every gate output
    * quantizes at 6dp (Exact.r's floor spelling), so the recurrences
    * agree step by step. h' references c' textually (no lets inside
    * SQL lambdas) — duplication, not re-evaluation drift, since the
    * text is pure arithmetic on acc and x. */
  private def q90CellExpr(acc: String, x: String, unit: Int,
      units: LstmUnits, idx: (String, Int) => String): String = {
    def w(d: Double): String = new java.math.BigDecimal(d).toPlainString
    def r6(s: String) = Exact.sql.r(s, 6)
    def sig(z: String) = r6(s"1.0 / (1.0 + exp(-($z)))")
    def th(z: String) = r6(s"1.0 - 2.0 / (exp(2.0 * ($z)) + 1.0)")
    val hs = IndexedSeq.tabulate(units.length)(j =>
      s"(${q90DecodeH(idx(acc, j))})")
    val cp = s"(${q90DecodeC(idx(acc, unit))})"
    def z(g: String): String = {
      val (wx, wh, b) = units(unit)(g)
      (s"${w(wx)} * $x" +:
        wh.zipWithIndex.map { case (v, j) => s"${w(v)} * ${hs(j)}" } :+
        w(b)).mkString(" + ")
    }
    val cRaw = s"${sig(z("f"))} * $cp + ${sig(z("i"))} * ${th(z("g"))}"
    val c6 = s"floor(greatest(least($cRaw, 4.0), -4.0) * 1e6 + 0.5)"
    val h6 = s"floor((${sig(z("o"))} * ${th(s"(($c6) / 1e6)")}) * 1e6 + 0.5)"
    s"(($h6) + $q90HOff) * $q90Pack + (($c6) + $q90COff)"
  }

  /** q92: final 2-unit LSTM state per (user, scale). */
  def q90LstmState2(spark: SparkSession, dir: String): DataFrame =
    q90FromH(q85Core(spark, dir), q90Units).orderBy(col("user_id"), col("scale"))

  /** q93: the hidden_size=4 instance — same fold, same oracle
    * generator, weights from [[lstmInit]](4, 93). Exists to prove the
    * H-parametric construction end-to-end (any H is one constant
    * away, as the reference's `hidden_size=64` default is). */
  def q93LstmState4(spark: SparkSession, dir: String): DataFrame =
    q90FromH(q85Core(spark, dir), q93Units)
      .orderBy(col("user_id"), col("scale"))

  private[graft] val q93Units: LstmUnits = lstmInit(4, 93L)

  /** The fold core over any frame with the q85 tensor columns (the
    * q87PoolFrom pattern — specs feed it a synthetic tensor): state is
    * an ARRAY of H packed doubles; each step applies one LSTM cell per
    * unit, every unit reading every unit's h (the full recurrent
    * matrix).
    *
    * The fold runs as a COMPILED Scala twin of the generated cell text
    * ([[lstmFoldUdf]]) by default: Spark's aggregate() is a
    * HigherOrderFunction, i.e. CodegenFallback — the H=4 merge tree is
    * ~10⁴ expression nodes walked interpretively per bucket step,
    * measured ~110 task-seconds (~4 s wall) of q93's bench time where
    * the identical arithmetic compiles to ~100 flops/step (guide §1.2
    * "per-task work"). The HOF spelling stays available (`compiled =
    * false`) as the bit-equality witness: FeaturesSpec pins
    * exceptAll == 0 both ways on a randomized tensor, and the DuckDB
    * oracle (list_reduce over the SAME generated text) hash-gates every
    * shipped unit table. */
  private[graft] def q90FromH(t: DataFrame, units: LstmUnits,
      compiled: Boolean = true): DataFrame = {
    val h = units.length
    val pooled =
      q87FeatureAttn.map { case (c, w) => lit(w) * q87Slot(c) }.reduce(_ + _)
    def sIdx(a: String, i: Int) = s"$a[$i]" // Spark subscripts: 0-based
    val merge = (0 until h).map(u => q90CellExpr("acc", "e", u, units, sIdx))
      .mkString(",\n           ")
    val zero = Seq.fill(h)(q90Zero).mkString(", ")
    val st =
      if (compiled) lstmFoldUdf(units)(expr("transform(bx, s -> s.x)"))
      else expr(
        s"""aggregate(transform(bx, s -> s.x), array($zero),
           |  (acc, e) -> array($merge))""".stripMargin)
    val outs = lstmStateNames(h).zipWithIndex.flatMap { case ((hn, cn), u) => Seq(
      expr(q90DecodeH(s"st[$u]")).as(s"${hn}_last"),
      expr(q90DecodeC(s"st[$u]")).as(s"${cn}_last")) }
    t.withColumn("x", Exact.r(pooled, 6))
      .groupBy(col("user_id"), col("scale"))
      .agg(count(lit(1)).as("n_buckets"),
        sort_array(collect_list(struct(col("bucket"), col("x")))).as("bx"))
      .withColumn("st", st)
      .select((col("user_id") +: col("scale") +: col("n_buckets") +: outs): _*)
  }

  /** Compiled twin of the H-unit packed-state fold — the EXACT IEEE op
    * chain of [[q90CellExpr]]'s generated SQL, mirrored term for term
    * (left-associated gate sums, the r6 floor spelling, the ±4 cell
    * clamp, the pack/offset integer grid; exp/floor are the same
    * java.lang.Math calls Spark's Exp/Floor expressions evaluate).
    * Every intermediate is an exact integer on the 6dp grid or a
    * post-r6 double, so "same ops in the same order" IS bit-equality —
    * proven by FeaturesSpec's exceptAll pin against the HOF spelling
    * and by the DuckDB hash oracle on every shipped unit table.
    * NULL discipline mirrors the expression tree: a null input or any
    * null state slot nulls every gate it feeds, hence the whole next
    * state (x is never null in production — every pooled slot is
    * coalesced — but the witness must match on ALL inputs). */
  private[graft] def lstmFoldUdf(units: LstmUnits)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val h = units.length
    udf((xs: Seq[java.lang.Double]) => {
      val P = 33554432.0     // q90Pack
      val HOFF = 2000000.0   // q90HOff
      val COFF = 8000000.0   // q90COff
      def r6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
      def decH(a: Double): Double = (math.floor(a / P) - HOFF) / 1e6
      def decC(a: Double): Double = (a - math.floor(a / P) * P - COFF) / 1e6
      def sig(z: Double): Double = r6(1.0 / (1.0 + math.exp(-z)))
      def th(z: Double): Double = r6(1.0 - 2.0 / (math.exp(2.0 * z) + 1.0))
      var acc: Array[java.lang.Double] =
        Array.fill(h)(java.lang.Double.valueOf(67108872000000.0)) // q90Zero
      xs.foreach { x =>
        acc =
          if (x == null || acc.exists(_ == null))
            Array.fill(h)(null: java.lang.Double)
          else {
            val hs = Array.tabulate(h)(j => decH(acc(j)))
            Array.tabulate(h) { u =>
              val cp = decC(acc(u))
              def z(g: String): Double = {
                val (wx, wh, b) = units(u)(g)
                var s = wx * x
                var j = 0
                while (j < h) { s += wh(j) * hs(j); j += 1 }
                s + b
              }
              val cRaw = sig(z("f")) * cp + sig(z("i")) * th(z("g"))
              val c6 = math.floor(math.max(math.min(cRaw, 4.0), -4.0) * 1e6 + 0.5)
              val h6 = math.floor((sig(z("o")) * th(c6 / 1e6)) * 1e6 + 0.5)
              java.lang.Double.valueOf((h6 + HOFF) * P + (c6 + COFF))
            }
          }
      }
      acc
    })
  }

  /** The H-unit oracle's CTE chain (t → b → s → f, ending at the
    * packed-state fold) — split from the final SELECT so [[Fused]] can
    * embed the IDENTICAL fold text as the front of the q94 chain (one
    * definition, the Exact.sql discipline). Callers append their own
    * projection over `f`; byte-diffed against the pre-split q92/q93
    * emissions on extraction. */
  private[graft] def q90OracleCtesH(units: LstmUnits): String = {
    val h = units.length
    def dIdx(a: String, i: Int) = s"$a[${i + 1}]" // DuckDB subscripts: 1-based
    val merge = (0 until h).map(u => q90CellExpr("acc", "e[1]", u, units, dIdx))
      .mkString(",\n   ")
    val zero = Seq.fill(h)(q90Zero).mkString(", ")
    val wrap = ("x" +: Seq.fill(h - 1)("CAST(0 AS DOUBLE)")).mkString(", ")
    s"""t AS ($q85OracleBody),
       | b AS (SELECT user_id, scale, bucket,
       |   ${Exact.sql.r(q87PooledSql, 6)} AS x FROM t),
       | s AS (SELECT user_id, scale, count(*) AS n_buckets,
       |   [[$zero]] ||
       |   list_transform(
       |     list_transform(list_sort(list(struct_pack(b := bucket, x := x))),
       |       v -> v.x),
       |     x -> [$wrap]) AS xs
       |  FROM b GROUP BY 1, 2),
       | f AS (SELECT user_id, scale, n_buckets,
       |   list_reduce(xs, (acc, e) -> [$merge]) AS st
       |  FROM s)""".stripMargin
  }

  /** The decoded per-unit output columns over `f`'s packed state. */
  private[graft] def q90OracleOutsH(h: Int): String =
    lstmStateNames(h).zipWithIndex.map { case ((hn, cn), u) =>
      s"${q90DecodeH(s"st[${u + 1}]")} AS ${hn}_last," +
        s" ${q90DecodeC(s"st[${u + 1}]")} AS ${cn}_last" }
      .mkString(",\n ")

  /** The H-unit oracle: q85's body as a CTE, the same projection x, then
    * the IDENTICAL cell text folded by list_reduce. list_reduce seeds
    * its accumulator from the FIRST list element (no explicit zero), so
    * the encoded zero state heads the bucket-sorted input list, and
    * each input wraps to the H-element list [x, 0, …] so the
    * accumulator and the elements share one type. */
  private def q90OracleSqlH(units: LstmUnits): String =
    s"WITH ${q90OracleCtesH(units)}\n" +
      s"SELECT user_id, scale, n_buckets,\n ${q90OracleOutsH(units.length)}\n" +
      "FROM f ORDER BY user_id, scale"

  private val q85OracleSql: String =
    q85OracleBody + "\nORDER BY act.user_id, act.scale, act.bucket"

  /** The q85 oracle without the trailing ORDER BY, so [[q87OracleSql]]
    * can wrap it as a CTE. */
  private def q85OracleBody: String = {
    val hourSql = (0 until 24).map(h =>
      f"floor((sum(CASE WHEN hour(ts) = $h THEN 1 ELSE 0 END)*1.0/count(*)) * 1e6 + 0.5) / 1e6 AS h$h%02d")
      .mkString(",\n  ")
    s"""WITH ev AS (SELECT e.*, s.scale,
       |   (date_diff('day', DATE '$epoch', ts::DATE))::BIGINT // (7*s.scale)::BIGINT AS bucket,
       |   CAST(props->>'k' AS BIGINT) AS peer
       |  FROM events e CROSS JOIN (VALUES (1),(2),(3),(4)) s(scale)),
       | a0 AS (SELECT user_id, scale, bucket, ts, event_type, value,
       |   max(CASE WHEN event_type='purchase' THEN ts END)
       |    OVER (PARTITION BY user_id, scale, bucket) AS mp
       |  FROM ev),
       | act AS (SELECT user_id, scale, bucket, count(*) AS n_events,
       |  ${Exact.sql.r(Exact.sql.davg("value"), 6)} AS mean_val,
       |  ${Exact.sql.r(Exact.sql.dvarPop("value"), 6)} AS var_val,
       |  CASE WHEN sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) = 0 THEN 0.0
       |   ELSE floor((sum(CASE WHEN event_type='view' AND mp > ts THEN 1 ELSE 0 END)*1.0
       |     / sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END)) * 1e6 + 0.5) / 1e6
       |   END AS recall_rate,
       |  $hourSql
       | FROM a0 GROUP BY 1,2,3),
       | uw AS (SELECT DISTINCT user_id, scale, bucket, event_type FROM ev),
       | cnt AS (SELECT user_id, scale, bucket, count(*) AS n FROM uw GROUP BY 1,2,3),
       | inter AS (SELECT a.user_id, a.scale, a.bucket, count(*) AS i FROM uw a
       |   JOIN uw b ON a.user_id=b.user_id AND a.scale=b.scale
       |    AND b.bucket = a.bucket - 1 AND a.event_type=b.event_type
       |   GROUP BY 1,2,3),
       | rep AS (SELECT c.user_id, c.scale, c.bucket,
       |   floor((coalesce(x.i,0)*1.0/(c.n + coalesce(p.n,0) - coalesce(x.i,0))) * 1e6 + 0.5) / 1e6 AS repeat_rate
       |  FROM cnt c
       |   LEFT JOIN cnt p ON p.user_id=c.user_id AND p.scale=c.scale AND p.bucket=c.bucket-1
       |   LEFT JOIN inter x ON x.user_id=c.user_id AND x.scale=c.scale AND x.bucket=c.bucket),
       | e0 AS (SELECT DISTINCT scale, bucket, user_id AS src, peer AS dst
       |  FROM ev WHERE peer IS NOT NULL),
       | dirs AS (SELECT scale, bucket, src AS node, 1 AS dir FROM e0
       |   UNION ALL SELECT scale, bucket, dst, 0 FROM e0),
       | dg AS (SELECT scale, bucket, node,
       |   CAST(sum(CASE WHEN dir=1 THEN 1 ELSE 0 END) AS BIGINT) AS out_deg,
       |   CAST(sum(CASE WHEN dir=0 THEN 1 ELSE 0 END) AS BIGINT) AS in_deg
       |  FROM dirs GROUP BY 1,2,3),
       | und AS (SELECT DISTINCT scale, bucket, src, dst FROM
       |   (SELECT scale, bucket, src, dst FROM e0
       |    UNION ALL SELECT scale, bucket, dst, src FROM e0)),
       | deg AS (SELECT scale, bucket, src AS n, count(*) AS d FROM und GROUP BY 1,2,3),
       | nad AS (SELECT u.scale, u.bucket, u.src AS node,
       |   floor((sum(g.d)*1.0/count(*)) * 1e6 + 0.5) / 1e6 AS nbr_avg_deg
       |  FROM und u JOIN deg g ON u.scale=g.scale AND u.bucket=g.bucket AND u.dst=g.n
       |  GROUP BY 1,2,3),
       | undn AS (SELECT scale, bucket, src, dst FROM und WHERE src <> dst),
       | canon0 AS (SELECT scale, bucket, src, dst FROM undn WHERE src < dst),
       | canon AS (SELECT scale, bucket, src, dst FROM
       |   (SELECT *, row_number() OVER (PARTITION BY scale, bucket, src ORDER BY dst) AS rn
       |    FROM canon0) WHERE rn <= ${Graph.adjCap}),
       | tri AS (SELECT e1.scale, e1.bucket, e1.src AS a, e1.dst AS b, e2.dst AS c
       |   FROM canon e1
       |   JOIN canon e2 ON e2.scale=e1.scale AND e2.bucket=e1.bucket AND e2.src=e1.dst
       |   JOIN canon e3 ON e3.scale=e1.scale AND e3.bucket=e1.bucket
       |    AND e3.src=e1.src AND e3.dst=e2.dst),
       | pern AS (SELECT scale, bucket, node, count(*) AS t FROM
       |   (SELECT scale, bucket, a AS node FROM tri
       |    UNION ALL SELECT scale, bucket, b FROM tri
       |    UNION ALL SELECT scale, bucket, c FROM tri) GROUP BY 1,2,3),
       | cdeg AS (SELECT scale, bucket, src AS node, count(*) AS deg FROM undn GROUP BY 1,2,3),
       | cc AS (SELECT d.scale, d.bucket, d.node,
       |   floor((CASE WHEN d.deg >= 2
       |     THEN coalesce(p.t,0) * 2.0 / (d.deg * (d.deg - 1)) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS clustering
       |  FROM cdeg d LEFT JOIN pern p
       |   ON p.scale=d.scale AND p.bucket=d.bucket AND p.node=d.node)
       |SELECT act.*,
       | coalesce(rep.repeat_rate, 0.0) AS repeat_rate,
       | coalesce(dg.out_deg, 0) AS out_deg,
       | coalesce(dg.in_deg, 0) AS in_deg,
       | coalesce(nad.nbr_avg_deg, 0.0) AS nbr_avg_deg,
       | coalesce(cc.clustering, 0.0) AS clustering
       |FROM act
       | LEFT JOIN rep ON rep.user_id=act.user_id AND rep.scale=act.scale AND rep.bucket=act.bucket
       | LEFT JOIN dg ON dg.node=act.user_id AND dg.scale=act.scale AND dg.bucket=act.bucket
       | LEFT JOIN nad ON nad.node=act.user_id AND nad.scale=act.scale AND nad.bucket=act.bucket
       | LEFT JOIN cc ON cc.node=act.user_id AND cc.scale=act.scale AND cc.bucket=act.bucket""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q85_slice_feature_tensor" -> q85OracleSql,
    "q87_temporal_attention_pool" -> q87OracleSql,
    "q90_lstm_state" -> q90OracleSqlH(q90Scalar),
    "q92_lstm_state_h2" -> q90OracleSqlH(q90Units),
    "q93_lstm_state_h4" -> q90OracleSqlH(q93Units),
    "q83_activity_gini" ->
      """WITH pu AS (SELECT event_type AS grp, user_id, count(*) AS x
        |  FROM events GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'ALL', user_id, count(*) FROM events GROUP BY 2),
        | r AS (SELECT grp, x,
        |   row_number() OVER (PARTITION BY grp ORDER BY x, user_id) AS i
        |  FROM pu),
        | a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_users,
        |   CAST(sum(x) AS BIGINT) AS total, CAST(sum(i * x) AS BIGINT) AS s1
        |  FROM r GROUP BY 1)
        |SELECT grp, n_users, total,
        | floor(((2.0 * s1 - (n_users + 1.0) * total)
        |   / (n_users * 1.0 * total)) * 1e6 + 0.5) / 1e6 AS gini
        |FROM a ORDER BY 1""".stripMargin,
    "q79_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        | c AS (SELECT event_type AS cur, nxt, count(*) AS n
        |  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
        | t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1)
        |SELECT cur, nxt, n, floor((n * 1.0 / t) * 1e6 + 0.5) / 1e6 AS p
        |FROM c JOIN t USING (cur) ORDER BY 1, 2""".stripMargin,
    "q77_ewma_burst" ->
      s"""WITH r AS (SELECT user_id, value,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        | t AS (SELECT user_id,
        |   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |     * (CAST(1 AS BIGINT) << (16 - rn)) AS term,
        |   (CAST(1 AS BIGINT) << (16 - rn)) AS wt
        |  FROM r WHERE rn <= 16),
        | e AS (SELECT user_id,
        |   CAST(sum(term) AS DOUBLE) / (100.0 * sum(wt)) AS ewma16
        |  FROM t GROUP BY 1),
        | m AS (SELECT user_id, count(*) AS n_events,
        |   ${Exact.sql.davg("value")} AS mean_raw FROM events GROUP BY 1)
        |SELECT user_id, n_events,
        | ${Exact.sql.r("mean_raw", 6)} AS mean_val,
        | ${Exact.sql.r("ewma16", 6)} AS ewma16,
        | CASE WHEN mean_raw = 0.0 THEN NULL
        |   ELSE ${Exact.sql.r("ewma16 / mean_raw", 6)} END AS burst
        |FROM m JOIN e USING (user_id) ORDER BY 1""".stripMargin,
    "q10_windowed_stats" ->
      s"""SELECT user_id, scale, bucket,
         | ${Exact.sql.r(Exact.sql.davg("value"), 6)} AS mean_val,
         | ${Exact.sql.r(Exact.sql.dvarPop("value"), 6)} AS var_val,
         | count(*) AS n
         |FROM (SELECT e.*, s.scale,
         |   (date_diff('day', DATE '$epoch', ts::DATE))::BIGINT // (7*s.scale)::BIGINT AS bucket
         |  FROM events e CROSS JOIN (VALUES (1),(2),(3),(4)) s(scale)) t
         |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
    "q11_energy_dispersion" ->
      """WITH per AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1,2)
        |SELECT user_id, floor((1.0/count(*)) * 1e6 + 0.5) / 1e6 AS mean_share,
        | floor((greatest(
        |   CAST(sum(c*c) AS DOUBLE)/(CAST(sum(c) AS DOUBLE)*CAST(sum(c) AS DOUBLE))/count(*)
        |   - 1.0/(count(*)*count(*)), 0.0)) * 1e6 + 0.5) / 1e6 AS var_share,
        | count(*) AS n_types
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_hour_histogram" ->
      """WITH per AS (SELECT user_id, hour(ts) AS h, count(*) AS c FROM events GROUP BY 1,2)
        |SELECT user_id, h, c,
        | floor((c*1.0/sum(c) OVER (PARTITION BY user_id)) * 1e6 + 0.5) / 1e6 AS share
        |FROM per ORDER BY 1,2""".stripMargin,
    "q13_time_gaps" ->
      """WITH g AS (SELECT user_id,
        |  floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT)
        |   OVER (PARTITION BY user_id, ts::DATE ORDER BY ts, event_id) AS gap
        | FROM events)
        |SELECT user_id, floor((sum(gap)*1.0/count(gap)) * 1e4 + 0.5) / 1e4 AS mean_gap,
        | floor((greatest(sum(gap*gap)*1.0/count(gap)
        |   - (sum(gap)*1.0/count(gap))*(sum(gap)*1.0/count(gap)), 0.0)) * 1e4 + 0.5) / 1e4 AS var_gap,
        | count(gap) AS n_gaps
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_repeat_rate" ->
      """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS wk, event_type FROM events),
        | cnt AS (SELECT user_id, wk, count(*) AS n FROM uw GROUP BY 1,2),
        | inter AS (SELECT a.user_id, a.wk, count(*) AS i FROM uw a
        |   JOIN uw b ON a.user_id=b.user_id AND a.event_type=b.event_type AND b.wk = a.wk - 7
        |   GROUP BY 1,2)
        |SELECT c.user_id, c.wk,
        | floor((coalesce(x.i,0)*1.0/(c.n + coalesce(p.n,0) - coalesce(x.i,0))) * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM cnt c
        | LEFT JOIN cnt p ON p.user_id=c.user_id AND p.wk = c.wk - 7
        | LEFT JOIN inter x ON x.user_id=c.user_id AND x.wk=c.wk
        |ORDER BY 1,2""".stripMargin,
    "q15_recall_rate" ->
      """WITH t AS (SELECT user_id, ts, event_type,
        |  max(CASE WHEN event_type='purchase' THEN ts END) OVER (PARTITION BY user_id) AS mp
        | FROM events)
        |SELECT user_id,
        | floor((sum(CASE WHEN mp > ts THEN 1 ELSE 0 END)*1.0/count(*)) * 1e6 + 0.5) / 1e6 AS recall_rate,
        | count(*) AS n_out
        |FROM t WHERE event_type='view' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_area_change" ->
      """SELECT user_id, date_trunc('week', ts)::DATE AS wk,
        | count(DISTINCT json_extract_string(props,'$.k')) AS n_areas,
        | array_to_string(list_sort(list(DISTINCT json_extract_string(props,'$.k'))), ',') AS areas
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q17_zscore" ->
      s"""SELECT c_custkey,
        | round((c_acctbal - mu)/sigma,6) AS z
        |FROM customer CROSS JOIN (SELECT ${Exact.sql.davg("c_acctbal")} AS mu,
        |  sqrt(${Exact.sql.dvarPop("c_acctbal")}) AS sigma FROM customer) s
        |ORDER BY 1""".stripMargin,
    "q18_stratified_split" ->
      """SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS label
        |FROM customer
        |WHERE (((c_custkey % 2147483648) * 1103515245 + 12345) % 2147483648) % 100 < 80
        |ORDER BY 1""".stripMargin,
    "q19_feature_matrix" -> q19OracleSql,
    "q59_full_feature_matrix" ->
      s"""SELECT b.*,
        | coalesce(sd.out_deg_signed, 0) AS out_deg_signed,
        | coalesce(sd.in_deg_signed, 0) AS in_deg_signed,
        | coalesce(nad.nbr_avg_deg, 0.0) AS nbr_avg_deg,
        | coalesce(cc.clustering, 0.0) AS clustering
        |FROM ($q19OracleSql) b
        | LEFT JOIN (SELECT node, CAST(sum(n_pos) AS BIGINT) AS out_deg_signed,
        |     CAST(sum(n_neg) AS BIGINT) AS in_deg_signed
        |   FROM (${Graph.oracles("q53_signed_degrees")}) GROUP BY node) sd
        |  ON b.user_id = sd.node
        | LEFT JOIN (SELECT node, nbr_avg_deg
        |   FROM (${Graph.oracles("q22_neighbor_avg_degree")})) nad
        |  ON b.user_id = nad.node
        | LEFT JOIN (SELECT node, clustering
        |   FROM (${Graph.oracles("q23_triangles")})) cc
        |  ON b.user_id = cc.node
        |ORDER BY b.user_id""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q10_windowed_stats" -> (q10WindowedStats _),
    "q11_energy_dispersion" -> (q11EnergyDispersion _),
    "q12_hour_histogram" -> (q12HourHistogram _),
    "q13_time_gaps" -> (q13TimeGaps _),
    "q14_repeat_rate" -> (q14RepeatRate _),
    "q15_recall_rate" -> (q15RecallRate _),
    "q16_area_change" -> (q16AreaChange _),
    "q17_zscore" -> (q17ZScore _),
    "q18_stratified_split" -> (q18StratifiedSplit _),
    "q19_feature_matrix" -> (q19FeatureMatrix _),
    "q59_full_feature_matrix" -> (q59FullFeatureMatrix _),
    "q77_ewma_burst" -> (q77EwmaBurst _),
    "q79_transitions" -> (q79Transitions _),
    "q83_activity_gini" -> (q83ActivityGini _),
    "q85_slice_feature_tensor" -> (q85SliceFeatureTensor _),
    "q87_temporal_attention_pool" -> (q87TemporalAttentionPool _),
    "q90_lstm_state" -> (q90LstmState _),
    "q92_lstm_state_h2" -> (q90LstmState2 _),
    "q93_lstm_state_h4" -> (q93LstmState4 _)
  )
}
