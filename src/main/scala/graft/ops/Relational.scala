package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operators (SURVEY.md §2.A) — the foundation every
  * reference query stands on (scans, filtered aggregation, joins, window
  * functions, semi/anti membership, rollup, pivot).
  *
  * Design notes (scale): all plans are declarative DataFrame trees so
  * Catalyst pushes filters/projections into the parquet scan; small
  * dimensions are explicitly `broadcast()`; outputs round floats and sort
  * deterministically so the DuckDB oracle hash-matches.
  */
object Relational {

  /** q01: scan → filter → groupBy multi-aggregate (TPC-H Q1 shape).
    * Reference analog: the per-group mean/var transforms in
    * Code for Sichuan/Data_processing/data_process.py:75-88. */
  def q01Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(Exact.dsum(col("l_quantity")), 4).as("sum_qty"),
        round(Exact.dsum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(Exact.dsumProduct(col("l_extendedprice"), lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        Exact.r(Exact.davg(col("l_quantity")), 6).as("avg_qty"),
        Exact.r(Exact.davg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** q02: tight filter + projection — verifies predicate/column pushdown
    * reaches the parquet scan (TPC-H Q6 shape). */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.06) &&
        col("l_quantity") < 24)
      .agg(
        round(Exact.dsumProduct(col("l_extendedprice"), col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n"))

  /** q03: 3-way shuffle join + aggregation (customer ⋈ orders ⋈ lineitem),
    * analog of pd.merge(user, voc) in data_process.py:70-71. */
  def q03JoinAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .groupBy(col("c_mktsegment"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(Exact.dsumProduct(col("l_extendedprice"), lit(1.0) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"), col("o_year"))

  /** q04: star join over small dims — supplier/nation/region broadcast;
    * only the fact table shuffles (it doesn't even shuffle: broadcast hash
    * join keeps lineitem partitions in place until the final agg). */
  def q04BroadcastJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(Exact.dsum(col("l_extendedprice")), 4).as("total_price"),
        count(lit(1)).as("n"))
      .orderBy(col("r_name"), col("n_name"))

  /** q05: window function — top-3 orders per customer by price.
    * rank() with an o_orderkey tiebreak keeps output deterministic. */
  def q05WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 4).as("price"), col("rnk"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  /** q06: left semi + left anti membership — customers with / without
    * orders in 1995 (the `id not in` filters of the reference). */
  def q06SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val orders95 = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-01-01").cast("timestamp"))
    val semi = cust.join(orders95, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(lit("semi").as("kind"), col("c_custkey"))
    val anti = cust.join(orders95, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(lit("anti").as("kind"), col("c_custkey"))
    semi.unionAll(anti).orderBy(col("kind"), col("c_custkey"))
  }

  /** q07: exact distinct counts per group (nunique analogs,
    * reference utils.py:264-266 n_unique_persons). */
  def q07DistinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** q76: distinct counting by PORTABLE HyperLogLog sketch (m = 256
    * registers, p = 8; Flajolet et al. 2007), next to q07's exact pass —
    * the sketch a 100 TB engine actually uses for distinct cardinality
    * (`approx_count_distinct` exists but its HLL++ registers are
    * engine-private and unverifiable; this one derives every register
    * from [[Exact.portableHash]], so DuckDB computes the IDENTICAL
    * sketch and the estimate is hash-oracled like any exact operator).
    *
    * Register pipeline, one chain with no cached branches: distinct
    * (group, user) pairs → bucket = low 8 hash bits, rank = leading-zero
    * count of the remaining 52 bits + 1 (via `length(bin())` — minimal
    * binary strings in both engines) → per-bucket max rank AND pair
    * count in ONE aggregation (the count rolls up to the exact distinct,
    * so the exact side rides the sketch's shuffles for free). The
    * indicator sum Σ 2^−M_j is computed as the exact INTEGER
    * Σ 2^(53−M_j) (+ 2^53 per empty register) — order-independent where
    * a float sum of 256 doubles would not be — and only the final
    * α·m²·2^53/S division runs in IEEE doubles. Small-range correction
    * (E ≤ 2.5m, V > 0): linear counting m·ln(m/V), ln on one row per
    * group (q68's rule), everything 6dp-quantized. */
  def q76HllDistinct(spark: SparkSession, dir: String): DataFrame =
    hllDistinct(Tables.events(spark, dir)
        .select(col("event_type").as("g"), col("user_id").cast("string").as("x")))
      .withColumnRenamed("g", "event_type")
      .orderBy(col("event_type"))

  /** The sketch core behind q76 over ANY (g, x) frame — split out so
    * RelationalSpec can push a small synthetic group through the
    * linear-counting correction branch (dead on the gate data, where
    * every group's cardinality is far past 2.5m). */
  private[graft] def hllDistinct(pairs: DataFrame): DataFrame = {
    val regs = pairs.distinct()
      .select(col("g"), hllBucket(col("x")).as("b"), hllRank(col("x")).as("rank"))
      .groupBy(col("g"), col("b"))
      .agg(max(col("rank")).as("mreg"), count(lit(1)).as("cnt"))
    regs.groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_exact"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mreg)")).as("spresent"),
        count(lit(1)).as("nb"))
      .select(col("g"), col("n_exact"),
        hllEstimate(col("spresent"), col("nb")).as("hll_est"))
      .withColumn("rel_err",
        Exact.r(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 6))
  }

  /** The sketch's register coordinates for a string key — shared by the
    * batch core and the streaming windowed twin
    * ([[graft.streaming.EventStream.hllDistinctStream]]) so both paths
    * compute the IDENTICAL (bucket, rank) registers. */
  private[graft] def hllBucket(x: Column): Column =
    Exact.portableHash(x, 15).bitwiseAND(lit(255L))
  private[graft] def hllRank(x: Column): Column = {
    val w = shiftright(Exact.portableHash(x, 15), 8)
    when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w)))
  }

  /** The register-table → estimate projection (raw HLL + the
    * linear-counting small-range branch), over (Σ2^(53−M), #present). */
  private[graft] def hllEstimate(spresent: Column, nb: Column): Column = {
    val v = lit(256L) - nb
    val s = spresent + v * lit(9007199254740992L)
    val estRaw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(9007199254740992.0) / s
    Exact.r(when(estRaw <= lit(640.0) && v > 0,
      lit(256.0) * log(lit(256.0) / v)).otherwise(estRaw), 6)
  }

  /** q84: Count-Min frequency sketch (Cormode & Muthukrishnan 2005) —
    * q76's frequency-estimation sibling: per-key occurrence estimates
    * from d×w = 4×1024 bounded cells instead of an unbounded per-key
    * aggregation, the structure a 100 TB stream/monitoring layer keeps
    * when the key universe (callers, IPs, grams) outgrows memory.
    * Like q76, every cell derives from [[Exact.portableHash]] (row-
    * salted), so DuckDB builds the IDENTICAL sketch and the estimates
    * themselves hash-oracle — pure integer arithmetic end to end, not
    * even a quantization step.
    *
    * Emits, for a fixed probe set (user_ids 1..20 + an absent key -1):
    * the exact count, the CMS estimate (min over the 4 row cells) and
    * the overcount — the CMS error the absent key isolates exactly
    * (its estimate IS pure collision mass). Scale: one map-side-
    * combined aggregation of the 4×-exploded event stream into ≤4096
    * cells; probes join the tiny cell table broadcast. */
  def q84CountMin(spark: SparkSession, dir: String): DataFrame = {
    val d = 4
    val wBuckets = 1024L
    def bucket(key: Column, r: Column): Column =
      Exact.portableHash(concat(r.cast("string"), lit(":"), key.cast("string")), 15) % wBuckets
    val cells = Tables.events(spark, dir)
      .select(col("user_id"), explode(array((0 until d).map(lit): _*)).as("r"))
      .select(col("r"), bucket(col("user_id"), col("r")).as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
    val probes = spark.range(1, 21).select(col("id").as("user_id"))
      .unionAll(spark.range(1).select(lit(-1L).as("user_id")))
    val exact = Tables.events(spark, dir)
      .filter(col("user_id").between(1L, 20L))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    probes
      .select(col("user_id"), explode(array((0 until d).map(lit): _*)).as("r"))
      .select(col("user_id"), col("r"), bucket(col("user_id"), col("r")).as("b"))
      .join(broadcast(cells), Seq("r", "b"), "left")
      .groupBy(col("user_id"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
      .join(exact, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("cms_est"),
        (col("cms_est") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
      .orderBy(col("user_id"))
  }

  private def countMinOracleSql: String = {
    def bucket(key: String, r: String): String =
      s"${Exact.sql.portableHash(s"CAST($r AS VARCHAR) || ':' || CAST($key AS VARCHAR)", 15)} % 1024"
    s"""WITH rows4 AS (SELECT unnest(range(0, 4)) AS r),
       | cells AS (SELECT r, ${bucket("user_id", "r")} AS b, count(*) AS c
       |  FROM events CROSS JOIN rows4 GROUP BY 1, 2),
       | probes AS (SELECT unnest(range(1, 21)) AS user_id
       |   UNION ALL SELECT -1),
       | pb AS (SELECT user_id, r, ${bucket("user_id", "r")} AS b
       |  FROM probes CROSS JOIN rows4),
       | est AS (SELECT user_id, min(coalesce(c, 0)) AS cms_est
       |  FROM pb LEFT JOIN cells USING (r, b) GROUP BY 1),
       | ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM events WHERE user_id BETWEEN 1 AND 20 GROUP BY 1)
       |SELECT est.user_id, coalesce(n_exact, 0) AS n_exact,
       | CAST(cms_est AS BIGINT) AS cms_est,
       | CAST(cms_est - coalesce(n_exact, 0) AS BIGINT) AS overcount
       |FROM est LEFT JOIN ex USING (user_id) ORDER BY 1""".stripMargin
  }

  /** q08: hierarchical rollup — region → nation subtotal → grand total,
    * the multi-scale (1..4 week) re-aggregation pattern of the reference
    * collapsed into one pass (data_process.py:73). */
  def q08Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(Exact.dsum(col("c_acctbal")), 4).as("total_bal"), count(lit(1)).as("n"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("total_bal"), col("n"))
      .orderBy(col("region"), col("nation"))

  /** q58: full CUBE over (event_type, hour) — the grouping-sets class
    * q08's ROLLUP doesn't cover: all four subset aggregations computed
    * in ONE pass (Spark's Expand feeds a single shuffle) instead of
    * four scans. Null grouping cells coalesce to sentinels so the
    * oracle compare stays dtype-exact. */
  def q58CubeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("h", hour(col("ts")))
      .cube(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"), round(Exact.dsum(col("value")), 4).as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("h"), lit(-1)).as("h"),
        col("n"), col("total_value"))
      .orderBy(col("event_type"), col("h"))

  /** q09: pivot — hour-of-day event counts per event type (the 24-bin
    * time_dis histogram, data_process.py:152-154, as a wide table). */
  def q09Pivot(spark: SparkSession, dir: String): DataFrame = {
    val hours = (0 until 24).map(h => f"h$h%02d")
    val pivoted = Tables.events(spark, dir)
      .withColumn("h", hour(col("ts")))
      .groupBy(col("event_type"))
      .pivot("h", 0 until 24)
      .count()
    val renamed = (0 until 24).foldLeft(pivoted) { (df, h) =>
      df.withColumnRenamed(h.toString, f"h$h%02d")
    }
    renamed
      .select(col("event_type") +: hours.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy(col("event_type"))
  }

  /** q44: exact percentiles (p50/p90/p99) per group, spelled as the
    * rank-based discrete percentile — value at row ceil(p·n) of the
    * group-sorted order — so both engines pick the SAME concrete row
    * (interpolating percentile builtins differ in float details across
    * engines). One window sort per group; at scale this is the standard
    * sort-within-partition median. */
  def q44Percentiles(spark: SparkSession, dir: String): DataFrame = {
    // l_returnflag has a HANDFUL of distinct values — PARTITION BY it
    // alone and each flag's entire slice sorts in ONE task (3 tasks
    // for 60M rows at sf10: measured 82.8 s). Range-bucket on the sort
    // key and window by (flag, _b) instead — [[Ranking]]'s two-pass
    // trick, grouped: the per-(flag, bucket) exclusive offset restores
    // the per-flag global rank bit-for-bit while the sort runs on
    // flag × 1024 parallel partitions. Bucketing on the FIRST sort key
    // is safe exactly as in q28: equal prices share a bucket, so the
    // (orderkey, linenumber) tie-break never crosses buckets.
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    // 256 buckets × |flags| partitions is already ≫ any executor count;
    // the smaller offset map keeps the per-row element_at probe cheap
    // offsets agg + totals agg + the ranked projection
    val bk = Release.cache(Ranking.withRangeBucket(base, "l_extendedprice", descending = false,
        buckets = 256))
    val off = Ranking.exclusiveOffsetsBy(bk, "l_returnflag",
      Map("rows" -> count(lit(1))))
    val w = Window.partitionBy(col("l_returnflag"), col("_b"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    // per-flag totals: a 1-row-per-flag aggregate broadcast back, not a
    // second data-sized window
    val tot = bk.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val ranked = bk
      .withColumn("rn", row_number().over(w).cast("long") + off("rows"))
      .join(broadcast(tot), "l_returnflag")
    def pick(p: Double, alias: String) =
      max(when(col("rn") === ceil(col("n") * p), col("l_extendedprice")))
        .as(alias)
    ranked.groupBy(col("l_returnflag"))
      .agg(pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** DuckDB oracles for §2.A (identical aliases + ORDER BY on both sides). */
  val oracles: Map[String, String] = Map(
    "q01_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
        | round(${Exact.sql.dsum("l_quantity")},4) AS sum_qty,
        | round(${Exact.sql.dsum("l_extendedprice")},4) AS sum_base_price,
        | round(${Exact.sql.dsumProduct("l_extendedprice", "(1.0-l_discount)")},4) AS sum_disc_price,
        | ${Exact.sql.r(Exact.sql.davg("l_quantity"), 6)} AS avg_qty,
        | ${Exact.sql.r(Exact.sql.davg("l_discount"), 6)} AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      s"""SELECT round(${Exact.sql.dsumProduct("l_extendedprice", "l_discount")},4) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,
    "q03_join_agg" ->
      s"""SELECT c_mktsegment, year(o_orderdate) AS o_year,
        | round(${Exact.sql.dsumProduct("l_extendedprice", "(1.0-l_discount)")},4) AS revenue, count(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q04_broadcast_join" ->
      s"""SELECT r_name, n_name, round(${Exact.sql.dsum("l_extendedprice")},4) AS total_price, count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q05_window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,4) AS price, rnk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    "q06_semi_anti" ->
      """SELECT 'semi' AS kind, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |UNION ALL
        |SELECT 'anti' AS kind, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |ORDER BY kind, c_custkey""".stripMargin,
    "q07_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_countmin" -> countMinOracleSql,
    "q76_hll_distinct" -> {
      val est = """0.7213/(1.0 + 1.079/256.0) * 65536.0 * 9007199254740992.0
        |     / (spresent + (256 - nb) * 9007199254740992)""".stripMargin
      s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        | hb AS (SELECT event_type,
        |   ${Exact.sql.portableHash("CAST(user_id AS VARCHAR)", 15)} & 255 AS b,
        |   ${Exact.sql.portableHash("CAST(user_id AS VARCHAR)", 15)} >> 8 AS w
        |  FROM d),
        | rk AS (SELECT event_type, b,
        |   CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rank FROM hb),
        | regs AS (SELECT event_type, b, max(rank) AS mreg, count(*) AS cnt
        |  FROM rk GROUP BY 1, 2),
        | g AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_exact,
        |   sum(CAST(1 AS BIGINT) << (53 - mreg)) AS spresent, count(*) AS nb
        |  FROM regs GROUP BY 1),
        | est AS (SELECT event_type, n_exact,
        |   floor((CASE WHEN $est <= 640.0 AND 256 - nb > 0
        |      THEN 256.0 * ln(256.0 / (256 - nb))
        |      ELSE $est END) * 1e6 + 0.5) / 1e6 AS hll_est
        |  FROM g)
        |SELECT event_type, n_exact, hll_est,
        | floor((abs(hll_est - n_exact) / n_exact) * 1e6 + 0.5) / 1e6 AS rel_err
        |FROM est ORDER BY 1""".stripMargin
    },
    "q08_rollup" ->
      s"""SELECT coalesce(r_name,'ALL') AS region, coalesce(n_name,'ALL') AS nation,
        | round(${Exact.sql.dsum("c_acctbal")},4) AS total_bal, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2""".stripMargin,
    "q58_cube_stats" ->
      s"""SELECT coalesce(event_type, 'ALL') AS event_type,
        | CAST(coalesce(h, -1) AS INTEGER) AS h,
        | count(*) AS n, round(${Exact.sql.dsum("value")}, 4) AS total_value
        |FROM (SELECT event_type, hour(ts) AS h, value FROM events)
        |GROUP BY CUBE(event_type, h) ORDER BY 1, 2""".stripMargin,
    "q44_percentiles" ->
      """WITH ranked AS (SELECT l_returnflag, l_extendedprice,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM lineitem)
        |SELECT l_returnflag,
        | max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS p50,
        | max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90,
        | max(CASE WHEN rn = ceil(n * 0.99) THEN l_extendedprice END) AS p99,
        | count(*) AS n
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_pivot" -> {
      val cols = (0 until 24).map(h =>
        f"CAST(coalesce(sum(CASE WHEN hour(ts) = $h THEN 1 END), 0) AS BIGINT) AS h$h%02d").mkString(",\n ")
      s"SELECT event_type,\n $cols\nFROM events GROUP BY 1 ORDER BY 1"
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg" -> (q01Agg _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_join_agg" -> (q03JoinAgg _),
    "q04_broadcast_join" -> (q04BroadcastJoin _),
    "q05_window_rank" -> (q05WindowRank _),
    "q06_semi_anti" -> (q06SemiAnti _),
    "q07_distinct_count" -> (q07DistinctCount _),
    "q08_rollup" -> (q08Rollup _),
    "q09_pivot" -> (q09Pivot _),
    "q44_percentiles" -> (q44Percentiles _),
    "q58_cube_stats" -> (q58CubeStats _),
    "q76_hll_distinct" -> (q76HllDistinct _),
    "q84_countmin" -> (q84CountMin _)
  )
}
