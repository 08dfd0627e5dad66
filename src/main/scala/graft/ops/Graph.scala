package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Graph operators (SURVEY.md §2.C) over the purchase graph
  * `orders ⋈ lineitem → (o_custkey → l_suppkey)`, the stand-in for the
  * reference's call graph (Code for Sichuan/Data_processing/
  * data_process.py:20-48 buildLSN, :131-148 degree/clustering loops).
  *
  * The reference iterates networkx per node on the driver; here every
  * graph feature is relational algebra over an edge DataFrame — degrees
  * are one shuffle, common-neighbors one self-join on the shared
  * endpoint, triangles a two-hop join with canonical vertex ordering.
  *
  * Scale notes (100 TB): the self-join ops (q21/q23) are quadratic in
  * per-vertex degree, exactly like the reference's O(n²) Python loops —
  * they run on a thresholded subgraph AND degree-cap hub adjacency
  * before pairing (see [[adjCap]]), the standard bound used by the
  * LSH/triangle literature, so no single celebrity vertex can blow up
  * a stage; linear ops (q20/q22/q24/q25) are single shuffles keyed
  * on the vertex id with map-side partial aggregation.
  *
  * Shared primitives: each has one definition, and the static
  * (unkeyed) operators call the keyed cores with `keys = Nil`; a
  * presentation `orderBy` appears only in the public `qNN` op.
  *  - [[factBase]]: the one `orders ⋈ lineitem` edge join;
  *  - [[undFrom]] = [[mirrored]] over [[canonPairs]]: the undirected
  *    pair set (the keyed q85/q88 builds use [[symmetrized]]);
  *  - [[capPerKeys]]: the hub adjacency cap;
  *  - [[q20DegreesKeyed]]: the in/out degree core;
  *  - [[q23FromUndKeyed]]: the triangle/clustering core, in its
  *    pair-join and adjacency-intersection spellings;
  *  - [[gate]] over [[broadcastable]]: the node-count broadcast gate.
  */
object Graph {

  /** One orders⋈lineitem pass carrying everything the graph family
    * derives its edge lists from — q59 dedups THIS once into flagged
    * [[canonPairs]] to feed both the full-graph (q22) and heavy-line
    * (q23) constituents, so the fact join runs once per assembly
    * instead of once per operator. Standalone q23 filters it through
    * [[hotEdgesFrom]] — the l_quantity predicate still pushes through
    * the join into the lineitem parquet scan (Catalyst one-side
    * pushdown), so carrying the column costs nothing when filtered;
    * column pruning drops `l_quantity` and `o_orderpriority` from
    * every plan that does not read them.
    *
    * SHARED-ID CONVENTION (applies to every operator built on this
    * base: q20–q23, q47, q66/q67, q73/q75/q80, q86): customer keys
    * (src) and supplier keys (dst) occupy overlapping numeric ranges
    * and are treated as ONE node space — customer k and supplier k are
    * the same vertex, exactly as the reference collapses phone numbers
    * from both call directions into one node id. The DuckDB oracles
    * spell the identical convention, so the gate is consistent by
    * construction. A deployment needing disjoint entity spaces would
    * tag or offset one side HERE (and in `edgesSql`) — one line, and
    * every downstream graph operator and oracle inherits it. */
  private[ops] def factBase(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"),
        col("l_quantity"), col("o_orderpriority"))

  /** Node-count broadcast gate shared by every operator that broadcasts
    * a node-sized side (degree tables, rank tables, label tables): a
    * per-node broadcast is a driver killer past ~50M nodes, so the hint
    * is size-GATED on an UPPER BOUND of the side's row count. Callers
    * pass a zero-job bound where they have one — [[nodeBound]] or one
    * dimension table's footer count — and a row count otherwise. */
  private val broadcastNodeLimit = 50L * 1000 * 1000
  private[ops] def broadcastable(rows: Long): Boolean = rows <= broadcastNodeLimit
  private[ops] def gate(rows: Long): DataFrame => DataFrame =
    df => if (broadcastable(rows)) broadcast(df) else df

  /** Upper bound of the node count, summed from the dimension tables'
    * parquet footers on the driver (nodes ⊆ customers ∪ suppliers). The
    * counts are memoized via [[Tables.cachedRowCount]] — no job, and
    * one footer read per (dir, table) file per session. */
  private[ops] def nodeBound(spark: SparkSession, dir: String): Long =
    Tables.cachedRowCount(spark, dir, "customer") +
      Tables.cachedRowCount(spark, dir, "supplier")
  private[ops] def nodeGate(spark: SparkSession, dir: String): DataFrame => DataFrame =
    gate(nodeBound(spark, dir))

  /** RAW (non-distinct) edge rows: [[canonPairs]] dedups them, so a
    * distinct here would be a wasted extra shuffle of the fact rows.
    * (q20 keeps its own distinct edges(): its conditional counts rely
    * on pair uniqueness per direction.) */
  private[ops] def edgesFrom(base: DataFrame): DataFrame =
    base.select(col("src"), col("dst"))

  private[ops] def hotEdgesFrom(base: DataFrame): DataFrame =
    base.filter(col("l_quantity") >= 45)
      .select(col("src"), col("dst"))

  /** Distinct directed edges (src=customer, dst=supplier). */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    edgesFrom(factBase(spark, dir)).distinct()

  private[ops] val edgesSql =
    """SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  /** Thresholded subgraph for the quadratic ops — the operator is
    * parameterized by its input graph; the heavy-line filter bounds the
    * candidate-pair blowup the same way the reference bounds buildLSN
    * with its common-neighbor threshold k. */
  private def hotEdges(spark: SparkSession, dir: String): DataFrame =
    hotEdgesFrom(factBase(spark, dir)).distinct()

  /** Both edge directions from one scan: explode duplicates each
    * (keys…, src, dst) row into (src,dst) and (dst,src) inside the same
    * stage, so the symmetrized edge list needs ONE distinct shuffle and
    * never runs the upstream join twice. `keys` (q85's time slice,
    * q88's relation) ride through the explode unchanged. */
  private[graft] def symmetrized(e: DataFrame, keys: Seq[String]): DataFrame =
    e.select(keys.map(col) :+ explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"): _*)
      .select(keys.map(col) :+ col("e.src") :+ col("e.dst"): _*)

  /** Each unordered pair of the directed pairs `e` once, as (a, b) with
    * a ≤ b, in ONE exchange keyed on the canonical pair; each `flags`
    * column (q59's `hot`) is OR-ed over both directions as max(). The
    * order is null-safe, NULL first: least/greatest skip NULLs and would
    * fold (NULL, 5) into the self-loop (5, 5). */
  private[graft] def canonPairs(e: DataFrame, flags: String*): DataFrame = {
    val asIs = col("src").isNull || (col("dst").isNotNull && col("src") <= col("dst"))
    val pairs = e.select(Seq(when(asIs, col("src")).otherwise(col("dst")).as("a"),
      when(asIs, col("dst")).otherwise(col("src")).as("b")) ++ flags.map(col): _*)
    val ors = flags.map(f => max(f).as(f))
    if (ors.isEmpty) pairs.distinct() else pairs.groupBy("a", "b").agg(ors.head, ors.tail: _*)
  }

  /** (a, b) pairs mirrored map-side into (src, dst) = (a, b) and (b, a),
    * a self-loop once. */
  private[graft] def mirrored(pairs: DataFrame): DataFrame = {
    def row(s: String, d: String) = struct(col(s).as("src"), col(d).as("dst"))
    pairs.select(explode(when(col("a") <=> col("b"), array(row("a", "b")))
      .otherwise(array(row("a", "b"), row("b", "a")))).as("e")).select("e.*")
  }

  /** The distinct undirected pair set of the raw directed pairs `e`.
    * Customer and supplier keys share one node space, so a pair's
    * reverse can pre-exist; canonical pairs dedup both directions in one
    * exchange of the E raw rows, and the symmetric 2E′ set never crosses
    * one (a traced perfbench fraud_sf1 call shuffled 435,578 records,
    * against 797,485 when the mirrored set was deduped again). Shared
    * by every unkeyed unweighted graph build, connected components
    * included; q80 keeps multiplicities for its weights, and the keyed
    * q85/q88 builds stay on [[symmetrized]]: q85's dedup under
    * hash(keys…, src) spares the three slice-keyed exchanges above it. */
  private[graft] def undFrom(e: DataFrame): DataFrame = mirrored(canonPairs(e))

  private val hotEdgesSql =
    """SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      | WHERE l_quantity >= 45""".stripMargin

  /** Per-vertex adjacency cap for the quadratic pairing ops (q21/q23):
    * a hub with degree d contributes d²-ish candidate pairs, so one
    * celebrity vertex can dominate the whole job. Keep at most `cap`
    * adjacency entries per key — deterministically, the `cap` smallest
    * counterpart ids, so the DuckDB oracle replicates the same capped
    * subgraph bit-for-bit. The cap makes the per-key pair blowup
    * ≤ cap², a guarantee independent of the data (GraphSpec proves it
    * on a synthetic hub). */
  private[graft] val adjCap = 256

  /** Keeps the `cap` smallest `ord` values per `keys` group (see
    * [[adjCap]]). The key may be composite — the q85 time-slice variant
    * caps adjacency per (scale, bucket, src), so each slice's subgraph
    * gets its own independent hub bound. */
  private[graft] def capPerKeys(e: DataFrame, keys: Seq[String], ord: String, cap: Int): DataFrame =
    e.withColumn("_rn",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(col(ord))))
      .filter(col("_rn") <= cap)
      .drop("_rn")

  // ---------------------------------------------------------------------
  // Keyed q20/q22/q23 cores (SURVEY §2.C grain note): `keys` (e.g.
  // q85's (scale, bucket) time-slice) prepended to every groupBy / join
  // / window key, and `keys = Nil` is the static graph. Slicing
  // therefore adds NO new shuffle kinds — the same degree agg, neighbor
  // join and triangle pairing run co-partitioned on (keys…, node)
  // instead of (node). There is NO broadcast gate here: the per-slice
  // degree table scales with slices × nodes (edge-sized in the worst
  // case), so the joins stay shuffle joins co-partitioned on the full
  // composite key — the right 100 TB shape for per-window graph tensors.
  // ---------------------------------------------------------------------

  /** q20's conditional-count degree core per (keys…, node), over a
    * DISTINCT directed edge set (so the conditional count IS the
    * distinct counterpart count, one-phase hash agg, no expand/dedup
    * pass). Exploding both directions from the same scan avoids caching
    * the edges for a double read. */
  private[ops] def q20DegreesKeyed(e: DataFrame, keys: Seq[String]): DataFrame =
    e.select(keys.map(col) :+ explode(array(
        struct(col("src").as("node"), lit(1).as("dir")),
        struct(col("dst").as("node"), lit(0).as("dir")))).as("x"): _*)
      .select(keys.map(col) :+ col("x.node").as("node") :+ col("x.dir").as("dir"): _*)
      .groupBy((keys :+ "node").map(col): _*)
      .agg(
        coalesce(sum(when(col("dir") === 1, 1L)), lit(0L)).as("out_deg"),
        coalesce(sum(when(col("dir") === 0, 1L)), lit(0L)).as("in_deg"))

  /** q22's neighbor-average-degree core per (keys…, node), over an
    * already symmetrized+deduped pair set.
    *
    * The neighbor's degree attaches as `count(*) OVER (PARTITION BY
    * keys…, dst)`: und is SYMMETRIC, so degree counted by dst equals
    * degree counted by src, and the window needs ONE exchange+sort of
    * und where the previous degree-aggregate + shuffle-join spelling
    * shuffled the degree table AND re-sorted und for the sort-merge
    * join anyway (measured 1.5-2x slower at sf1, outputs exact-compare
    * equal, by the --ab-nad mode of the ProfileQ85 probe, since
    * removed; see git history). This is the OPPOSITE call to q31's
    * df-cap, where a window over the posting list would sort everything
    * to serve a tiny exclusion head that an anti-join broadcasts —
    * here every row consumes its neighbor's degree, so the full-list
    * pass is irreducible and the join was pure overhead. (The STATIC
    * q22FromUnd keeps its join: a node-bound degree table broadcasts,
    * shuffling nothing at all — no keyed analog exists because the
    * per-slice degree table scales with slices × nodes.) */
  private[ops] def q22FromUndKeyed(und: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy((keys :+ "dst").map(col): _*)
    und.withColumn("d", count(lit(1)).over(w))
      .groupBy(keys.map(col) :+ col("src").as("node"): _*)
      .agg(Exact.r(sum(col("d")) * lit(1.0) / count(lit(1)), 6).as("nbr_avg_deg"),
        count(lit(1)).as("n_nbrs"))
  }

  /** q23's triangle/clustering core per (keys…, node), over an already
    * symmetrized+deduped, self-loop-free pair set; hub adjacency is
    * capped per (keys…, src) — see [[adjCap]] — and `deg` stays the
    * TRUE degree from the uncapped graph.
    *
    * Two spellings of the triangle frame, exact-equal (exceptAll 0/0 at
    * sf0.1 AND sf1, measured by the ProfileQ85b probe since removed, see
    * git history; GraphSpec pins it on a randomized graph):
    *  - the candidate-pair join (default): canonical a<b<c two-hop join
    *    of the capped canonical edges;
    *  - `intersect`: ADJACENCY-ARRAY INTERSECTION — per capped canonical
    *    edge (a, b), the corners are array_intersect(N(a), N(b)) over
    *    collect_list adjacency arrays, one groupBy + two array-carrying
    *    joins. canon is DISTINCT so array_intersect never dedups
    *    anything, and the exploded corner multiset is order-independent.
    *
    * WHEN: the two spellings cross over with slice density — at sf0.1
    * (100k events) the join wins ~15 % (candidate-pair exchanges are
    * cheap when stages are overhead-bound), at sf1 (1M events) the
    * intersection wins ~1.4× (interleaved min-of-3 both ways, same
    * probe) because the array joins shuffle ≤cap-length arrays
    * once where the pair join exchanges every (keys, src, dst)
    * candidate twice. q85Core gates on the events footer count
    * ([[Features.q85CcIntersectMinEvents]]); state stays bounded at any
    * scale — adjacency arrays are ≤ adjCap (256) longs by construction.
    */
  private[graft] def q23FromUndKeyed(und: DataFrame, keys: Seq[String],
      intersect: Boolean = false): DataFrame = {
    // the pair join reads canon three times, the intersection twice
    val canon = Release.cache(
      capPerKeys(und.filter(col("src") < col("dst")), keys :+ "src", "dst", adjCap))
    val tris =
      if (intersect) {
        // (keys, src)-grouped adjacency ≤ adjCap long each; und arrives
        // (keys…, src)-clustered, so this aggregation reuses the cache's
        // partitioning — no new exchange; joined twice (src + dst side)
        val adj = Release.cache(canon.groupBy((keys :+ "src").map(col): _*)
          .agg(collect_list(col("dst")).as("nbrs")))
        canon
          .join(adj.select(keys.map(col) :+ col("src") :+ col("nbrs").as("na"): _*),
            keys :+ "src")
          .join(adj.select(keys.map(col) :+ col("src").as("dst") :+ col("nbrs").as("nb"): _*),
            keys :+ "dst")
          .select(keys.map(col) :+ col("src").as("a") :+ col("dst").as("b") :+
            explode(array_intersect(col("na"), col("nb"))).as("c"): _*)
      } else {
        // zero keys add no condition
        def on(a: String, b: String, conds: Column*): Column =
          (keys.map(k => col(s"$a.$k") === col(s"$b.$k")) ++ conds).reduce(_ && _)
        canon.as("e1")
          .join(canon.as("e2"), on("e1", "e2", col("e2.src") === col("e1.dst")))
          .join(canon.as("e3"), on("e1", "e3",
            col("e3.src") === col("e1.src"), col("e3.dst") === col("e2.dst")))
          .select(keys.map(k => col(s"e1.$k").as(k)) :+
            col("e1.src").as("a") :+ col("e1.dst").as("b") :+ col("e2.dst").as("c"): _*)
      }
    // ONE corner explode, not unionAll of three projections: tris is
    // deliberately uncached (triangle-sized), so a 3-way union re-runs
    // the double join per branch — measured 3× the whole-query cost in
    // the q85 keyed twin before this fix
    val perNode = tris
      .select(keys.map(col) :+ explode(array(col("a"), col("b"), col("c"))).as("node"): _*)
      .groupBy((keys :+ "node").map(col): _*).agg(count(lit(1)).as("t"))
    und.groupBy(keys.map(col) :+ col("src").as("node"): _*)
      .agg(count(lit(1)).as("deg"))
      .join(perNode, keys :+ "node", "left")
      .select((keys :+ "node").map(col) :+ col("deg") :+
        coalesce(col("t"), lit(0L)).as("triangles") :+
        Exact.r(when(col("deg") >= 2,
            coalesce(col("t"), lit(0L)) * lit(2.0) / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"): _*)
  }

  /** DuckDB spelling of [[capPerKeys]]. */
  private def capSql(src: String, key: String, ord: String, cap: Int): String =
    s"""SELECT src, dst FROM (SELECT src, dst,
       |   row_number() OVER (PARTITION BY $key ORDER BY $ord) AS rn FROM $src)
       |  WHERE rn <= $cap""".stripMargin

  /** The q46 score chain as SQL CTEs (`e`/`od`/`idg`/`lab`/`slab`/`sc`)
    * plus the prob normalizer expression — shared VERBATIM by the q46
    * and q89 oracles, one definition so an edit to the scoring (LCG
    * split, the d^0.75 exponent, edge classes, the 8dp rounding) can
    * never silently diverge between the two gates. */
  private def q46ScSql: String =
    s"""e AS ($edgesSql),
      | od AS (SELECT src, count(*) AS sd FROM e GROUP BY 1),
      | idg AS (SELECT dst, count(*) AS dd FROM e GROUP BY 1),
      | lab AS (SELECT c_custkey,
      |   CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS src_label,
      |   ${Exact.sql.lcgTrain80("c_custkey")} AS src_train
      |  FROM customer),
      | slab AS (SELECT s_suppkey,
      |   CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END AS dst_label,
      |   ${Exact.sql.lcgTrain80("s_suppkey")} AS dst_train
      |  FROM supplier),
      | sc AS (SELECT src, dst,
      |   CASE WHEN src_label <> dst_label THEN 0
      |        WHEN src_label = 1 THEN 1 ELSE 2 END AS edge_class,
      |   CAST(sqrt(sd * sqrt(sd)) * sqrt(dd * sqrt(dd)) AS DECIMAL(28,10)) AS sc
      |  FROM e JOIN od USING (src) JOIN idg USING (dst)
      |   JOIN lab ON src = c_custkey JOIN slab ON dst = s_suppkey
      |  WHERE src_train AND dst_train)""".stripMargin

  private val q46ProbExprSql =
    "floor((CAST(sc AS DOUBLE) / CAST((SELECT sum(sc) FROM sc) AS DOUBLE)) * 1e8 + 0.5) / 1e8"

  /** [[q89NeighborSampleEpoch]]'s oracle for one epoch: q46's shared
    * probability CTE + the epoch-salted md5 race. The salt string must
    * match the Spark side byte-for-byte (`|#<epoch>`). */
  private def q89OracleSql(epoch: Int): String =
    s"""WITH $q46ScSql,
      | p AS (SELECT src, dst, edge_class, $q46ProbExprSql AS prob
      |  FROM sc),
      | r AS (SELECT src, dst, edge_class, prob,
      |   row_number() OVER (PARTITION BY src ORDER BY
      |     prob / (${Exact.sql.portableHash(
        s"CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR) || '|#$epoch'", 15)} + 1) DESC,
      |     dst) AS rk
      |  FROM p)
      |SELECT src, dst, edge_class, prob, rk FROM r
      |WHERE rk <= 10 ORDER BY src, rk""".stripMargin

  /** The q21 LSN edge list as SQL CTEs (`e0`, `e`, `lsn`) — shared with
    * the q47 connected-components oracle, which runs CC over it. */
  private[graft] def lsnSql: String =
    s"""e0 AS ($hotEdgesSql),
       | e AS (${capSql("e0", "dst", "src", adjCap)}),
       | lsn AS (SELECT a.src AS u, b.src AS v
       |  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
       |  GROUP BY 1, 2 HAVING count(*) >= 3)""".stripMargin

  /** q20: in/out/total degree per vertex (data_process.py:131-138).
    * One union + one groupBy: each edge contributes an out-row for src
    * and an in-row for dst; distinct-counting the counterpart per
    * direction gives both degrees in a single shuffle. */
  def q20Degrees(spark: SparkSession, dir: String): DataFrame =
    q20DegreesKeyed(edges(spark, dir), Nil)
      .withColumn("deg", col("out_deg") + col("in_deg"))
      .orderBy(col("node"))

  /** q21: link-similarity network — vertex pairs with ≥ k common
    * out-neighbors (buildLSN, data_process.py:20-48). Self-join on the
    * shared neighbor, canonical u<v ordering, count ≥ k. */
  def q21CommonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    // self-join reads the subgraph twice: persist it instead of running
    // the orders⋈lineitem build per side (standard at any scale);
    // hub vertices are degree-capped BEFORE pairing (see adjCap)
    val e = Release.cache(capPerKeys(hotEdges(spark, dir), Seq("dst"), "src", adjCap))
    e.as("a").join(e.as("b"),
        col("a.dst") === col("b.dst") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("u"), col("b.src").as("v"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= 3)
      .orderBy(col("u"), col("v"))
  }

  /** q22: average degree of a vertex's neighbors over the symmetrized
    * graph. The reference's loop (data_process.py:140-144) accidentally
    * averages the node's own degree; we implement the intended
    * neighbor-degree mean. Integer sum / count keeps the oracle exact. */
  def q22NeighborAvgDegree(spark: SparkSession, dir: String): DataFrame =
    // the cache feeds both the degree agg and the neighbor join
    q22FromUnd(spark, dir, Release.cache(undFrom(edgesFrom(factBase(spark, dir)))))
      .orderBy(col("node"))

  /** q22 core over an ALREADY symmetrized+deduped (and cached) pair
    * set — q59 shares one such build between q22 and q23. */
  private[ops] def q22FromUnd(spark: SparkSession, dir: String,
      und: DataFrame): DataFrame = {
    val deg = und.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    // deg is one row per NODE — orders of magnitude under the edge list;
    // broadcasting it keeps und partitioned in place (falling back to a
    // shuffle join past the shared [[nodeBound]] gate; AQE may still
    // choose better at runtime).
    und.join(nodeGate(spark, dir)(deg), col("dst") === col("n"))
      .groupBy(col("src").as("node"))
      .agg(Exact.r(sum(col("d")) * lit(1.0) / count(lit(1)), 6).as("nbr_avg_deg"),
        count(lit(1)).as("n_nbrs"))
  }

  /** q23: per-vertex triangle count → local clustering coefficient
    * (nx.clustering, data_process.py:147). Canonical a<b<c two-hop join
    * counts each triangle once; 2T/(d(d-1)) with integer-exact T, d. */
  def q23Triangles(spark: SparkSession, dir: String): DataFrame =
    q23FromUndKeyed(Release.cache(mirrored(canonPairs(hotEdgesFrom(factBase(spark, dir)))
      .filter(col("a") =!= col("b")))), Nil)
      .orderBy(col("node"))

  /** q24: degree^0.75, class-balanced sampling probability
    * (new_utlis_1.py:52-65 node_probability). deg^0.75 is spelled
    * sqrt(d·sqrt(d)) — IEEE sqrt is correctly rounded in every engine,
    * unlike pow(x,0.75), so the per-row score is bit-identical to the
    * oracle; scores quantize to DECIMAL(28,10) before the global sum so
    * the normalizer is order-independent. The global sum is a 1-row agg
    * broadcast back, not a single-partition window. */
  def q24DegreeSamplingProb(spark: SparkSession, dir: String): DataFrame = {
    val deg = edges(spark, dir).groupBy(col("src")).agg(count(lit(1)).as("d"))
    // lab feeds BOTH the fraud-rate agg and the scored projection —
    // cache it or the edge-degree build above runs twice
    val lab = Release.cache(Tables.customer(spark, dir)
      .join(deg, col("c_custkey") === col("src"), "left")
      .select(col("c_custkey"),
        (col("c_acctbal") < 0).cast("int").as("label"),
        greatest(coalesce(col("d"), lit(0L)), lit(1L)).as("deg")))
    val rate = lab.agg((sum(col("label")) * lit(1.0) / count(lit(1))).as("fr"))
    // scored feeds BOTH the normalizer agg and the final projection —
    // persist it or the whole join/degree subplan runs twice
    val scored = Release.cache(lab.crossJoin(broadcast(rate))
      .withColumn("sc",
        (sqrt(col("deg") * sqrt(col("deg"))) /
          when(col("label") === 1, col("fr")).otherwise(lit(1.0) - col("fr")))
          .cast("decimal(28,10)")))
    val total = scored.agg(sum(col("sc")).as("tot"))
    scored.crossJoin(broadcast(total))
      .select(col("c_custkey"), col("label"), col("deg"),
        Exact.r(col("sc").cast("double") / col("tot").cast("double"), 8).as("prob"))
      .orderBy(col("c_custkey"))
  }

  /** q25: row-normalized weighted adjacency (new_utlis_1.py:17-24
    * normalize_row): each out-edge weight divided by the row sum.
    * Integer weight sums via a src-partitioned window keep it exact. */
  def q25RowNormalizeAdj(spark: SparkSession, dir: String): DataFrame =
    factBase(spark, dir)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .withColumn("norm_w",
        Exact.r(col("w") * lit(1.0) / sum(col("w")).over(Window.partitionBy(col("src"))), 6))
      .orderBy(col("src"), col("dst"))

  /** q43: column(-mean)-normalized weighted adjacency
    * (new_utlis_1.py:26-33 normalize_col): each edge weight divided by
    * its destination column's mean weight. Integer sums keep it exact. */
  def q43ColNormalizeAdj(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("dst"))
    factBase(spark, dir)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .withColumn("norm_w",
        Exact.r(col("w") / (sum(col("w")).over(w) * lit(1.0) / count(lit(1)).over(w)), 6))
      .orderBy(col("src"), col("dst"))
  }

  /** DISTINCT relation-tagged directed edges — the three relation
    * graphs of the Amazon/Yelp pipelines (R-U-R/R-T-R/R-S-R,
    * new_utlis_1.py:36-50), stood in by the purchase edges sliced by
    * order priority class. Shared by q45 (per-relation degrees) and
    * q88 (per-relation propagation): one fact scan, one distinct. */
  private[ops] def relEdges(spark: SparkSession, dir: String): DataFrame =
    factBase(spark, dir)
      .select(col("src"), col("dst"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .when(col("o_orderpriority") === "3-MEDIUM", 2)
          .otherwise(3).as("rel"))
      .distinct()

  private val relEdgesSql =
    """SELECT DISTINCT o_custkey AS src, l_suppkey AS dst,
      |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 2
      |       ELSE 3 END AS rel
      | FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  /** q45: multi-relation in-degrees — the Amazon/Yelp pipelines build
    * THREE relation graphs (R-U-R/R-T-R/R-S-R) and sum per-node
    * in-degrees clamped at 1 (new_utlis_1.py:53
    * `(g1.in_degrees()+g2.in_degrees()+g3.in_degrees()).clamp(min=1)`).
    * Relations here: the purchase edges sliced by order priority class.
    * One scan, conditional distinct-counts per relation — no per-graph
    * passes. */
  def q45MultiRelationDegrees(spark: SparkSession, dir: String): DataFrame = {
    val e = relEdges(spark, dir)
    // e is DISTINCT (src, dst, rel): per (dst, rel) the srcs are already
    // unique, so each distinct-count is a plain conditional count —
    // one-phase hash agg instead of three expand/dedup passes
    e.groupBy(col("dst").as("node"))
      .agg(
        coalesce(sum(when(col("rel") === 1, 1L)), lit(0L)).as("in_r1"),
        coalesce(sum(when(col("rel") === 2, 1L)), lit(0L)).as("in_r2"),
        coalesce(sum(when(col("rel") === 3, 1L)), lit(0L)).as("in_r3"))
      .withColumn("total_deg",
        greatest(col("in_r1") + col("in_r2") + col("in_r3"), lit(1L)))
      .orderBy(col("node"))
  }

  /** q64: the PARAMETERIZED node-sampling probability of the variant
    * Amazon/Yelp pipelines (new_utlis_2.py:50-65 / new_utlis_3.py —
    * node_probability(g1, g2, g3, idx_train, y_train, w1, w2)): degree
    * is the THREE relation graphs' in-degrees summed and clamped at 1
    * (q45's total), raised to w1 = 0.75; the class normalizer is the
    * TRAIN-split fraud rate raised to w2 = 0.5 (fraud nodes divide by
    * rate^w2, normal nodes by 1 − rate^w2 — the reference's
    * norm_rate = 1 − fraud_rate^w2 spelling); probabilities normalize
    * to sum 1 over the train nodes, exactly the reference's
    * node_prob/np.sum(node_prob). q24 covers the single-exponent
    * single-graph form (new_utlis_1.py); this closes the two-exponent
    * multi-graph variant. Both exponents are spelled in correctly-
    * rounded IEEE sqrt (d^0.75 = sqrt(d·sqrt(d)), r^0.5 = sqrt(r)) so
    * every score is bit-identical in both engines, and scores quantize
    * to DECIMAL(28,10) before the global sum so the normalizer is
    * order-independent (q24's determinism toolkit). */
  def q64MultiRelationSamplingProb(spark: SparkSession, dir: String): DataFrame = {
    val deg = q45MultiRelationDegrees(spark, dir)
      .select(col("node"), col("total_deg"))
    // suppliers are the labeled node domain of the relation graphs
    // (dst side); absent nodes clamp to degree 1 like the reference's
    // in_degrees().clamp(min=1)
    // feeds the rate agg and the scored projection
    val joined = Release.cache(Tables.supplier(spark, dir)
      .filter(Exact.lcgTrain80("s_suppkey"))
      .select(col("s_suppkey"),
        (col("s_acctbal") < 0).cast("int").as("label"))
      .join(deg, col("s_suppkey") === col("node"), "left")
      .select(col("s_suppkey"), col("label"),
        greatest(coalesce(col("total_deg"), lit(1L)), lit(1L)).as("deg")))
    val rate = joined.agg((sum(col("label")) * lit(1.0) / count(lit(1))).as("fr"))
    // dual consumer: normalizer agg + final projection
    val scored = Release.cache(joined.crossJoin(broadcast(rate))
      .withColumn("sc",
        (sqrt(col("deg") * sqrt(col("deg"))) /
          when(col("label") === 1, sqrt(col("fr")))
            .otherwise(lit(1.0) - sqrt(col("fr"))))
          .cast("decimal(28,10)")))
    val total = scored.agg(sum(col("sc")).as("tot"))
    scored.crossJoin(broadcast(total))
      .select(col("s_suppkey"), col("label"), col("deg"),
        Exact.r(col("sc").cast("double") / col("tot").cast("double"), 8).as("prob"))
      .orderBy(col("s_suppkey"))
  }

  /** Shared scaffold of the edge-sampling family (q46/q65): the
    * distinct edge list joined with per-endpoint degrees and
    * train-split labels, filtered to train-only edges, carrying the
    * reference's edge class and the degree product
    * deg(src)^0.75·deg(dst)^0.75 (as `base`, double). The degree
    * tables are one row per NODE; joined back to e they'd default to
    * sort-merge (their InMemoryRelation lineage gives AQE no size
    * estimate), shuffling the edge list twice — broadcast them,
    * size-GATED on parquet-footer counts like q22, since a per-node
    * broadcast is a driver killer past ~50M nodes. The supplier LABEL
    * table scales with the same cardinality as inDeg, so it goes
    * through the SAME gate. */
  private def trainEdgeBase(spark: SparkSession, dir: String): DataFrame = {
    val e = Release.cache(edges(spark, dir)) // degree aggs + the edge join itself
    val custGate = gate(Tables.cachedRowCount(spark, dir, "customer"))
    val suppGate = gate(Tables.cachedRowCount(spark, dir, "supplier"))
    val outDeg = custGate(e.groupBy(col("src")).agg(count(lit(1)).as("sd")))
    val inDeg = suppGate(e.groupBy(col("dst")).agg(count(lit(1)).as("dd")))
    val lab = Tables.customer(spark, dir).select(col("c_custkey"),
      (col("c_acctbal") < 0).cast("int").as("src_label"),
      Exact.lcgTrain80("c_custkey").as("src_train"))
    val slab = Tables.supplier(spark, dir).select(col("s_suppkey"),
      (col("s_acctbal") < 0).cast("int").as("dst_label"),
      Exact.lcgTrain80("s_suppkey").as("dst_train"))
    e.join(outDeg, "src").join(inDeg, "dst")
      .join(custGate(lab), col("src") === col("c_custkey"))
      .join(suppGate(slab), col("dst") === col("s_suppkey"))
      .filter(col("src_train") && col("dst_train"))
      .select(col("src"), col("dst"),
        when(col("src_label") =!= col("dst_label"), 0)
          .when(col("src_label") === 1, 1).otherwise(2).as("edge_class"),
        (sqrt(col("sd") * sqrt(col("sd"))) * sqrt(col("dd") * sqrt(col("dd"))))
          .as("base"))
  }

  /** Shared normalizer: quantized scores → probabilities summing to 1
    * (1-row broadcast total, never a single-partition window).
    * Unordered — q46/q65 add the output-determinism orderBy, q89
    * consumes it as a plain edge frame. */
  private def normalizeProbU(scored: DataFrame): DataFrame = {
    val total = scored.agg(sum(col("sc")).as("tot"))
    scored.crossJoin(broadcast(total))
      .select(col("src"), col("dst"), col("edge_class"),
        Exact.r(col("sc").cast("double") / col("tot").cast("double"), 8).as("prob"))
  }
  private def normalizeProb(scored: DataFrame): DataFrame =
    normalizeProbU(scored).orderBy(col("src"), col("dst"))

  /** q46's probability frame without the presentation orderBy (q89's
    * input — the sort would be thrown away by the sampling window). */
  private def q46ProbsU(spark: SparkSession, dir: String): DataFrame = {
    // dual consumer (normalizer agg + final projection): persist, or
    // the 4-way join above runs twice
    val scored = Release.cache(trainEdgeBase(spark, dir)
      .withColumn("sc", col("base").cast("decimal(28,10)"))
      .drop("base"))
    normalizeProbU(scored)
  }

  /** q46: degree-weighted edge sampling probability
    * (new_utlis_1.py:66-97 edge_probability): for edges whose BOTH
    * endpoints are in the train split, p ∝ deg(src)^w · deg(dst)^w,
    * normalized; edge label = 1 where endpoint labels agree positive,
    * 0 on label disagreement (the reference's homo/hetero edge split).
    * deg^0.75 via sqrt(d·sqrt(d)), normalizer via exact decimal sum —
    * the same determinism toolkit as q24. */
  def q46EdgeSamplingProb(spark: SparkSession, dir: String): DataFrame =
    q46ProbsU(spark, dir).orderBy(col("src"), col("dst"))

  /** q65: CLASS-BALANCED edge sampling probability — the
    * edge_probability(g1, idx_train, labels, w1, w2) variant
    * (new_utlis_2.py:66-114 / new_utlis_3.py): q46's degree product
    * deg(src)^w1·deg(dst)^w1 is additionally divided by its edge
    * CLASS rate — the three class counts (Y01 mixed, T11 fraud-fraud,
    * T00 normal-normal) each raised to w2 = 0.5 and normalized in the
    * reference's exact Y01+T11+T00 accumulation order — so
    * under-represented edge classes are up-sampled. w1 = 0.75 via
    * sqrt(d·sqrt(d)), w2 via sqrt — correctly-rounded IEEE ops, and
    * the division chain (rate = cls^w2/den, then base/rate) is spelled
    * operation-for-operation identically in the oracle, so the
    * per-edge doubles are bit-equal before DECIMAL quantization. */
  def q65EdgeClassBalancedProb(spark: SparkSession, dir: String): DataFrame = {
    // class-count agg + scored projection
    val base = Release.cache(trainEdgeBase(spark, dir))
    val counts = base.agg(
      sum(when(col("edge_class") === 0, 1L).otherwise(0L)).as("y01"),
      sum(when(col("edge_class") === 1, 1L).otherwise(0L)).as("t11"),
      sum(when(col("edge_class") === 2, 1L).otherwise(0L)).as("t00"))
    // normalizer agg + final projection
    val scored = Release.cache(base.crossJoin(broadcast(counts))
      .withColumn("den",
        sqrt(col("y01")) + sqrt(col("t11")) + sqrt(col("t00")))
      .withColumn("rate",
        when(col("edge_class") === 0, sqrt(col("y01")))
          .when(col("edge_class") === 1, sqrt(col("t11")))
          .otherwise(sqrt(col("t00"))) / col("den"))
      .withColumn("sc", (col("base") / col("rate")).cast("decimal(28,10)")))
    normalizeProb(scored)
  }

  /** Neighbors drawn per node by the reference's minibatch sampler
    * (new_model_*.py forward pass: per-epoch neighbor subsets under the
    * edge-sampling weights). */
  private val neighborSampleK = 10

  /** q89: deterministic WEIGHTED NEIGHBOR SAMPLING — executes the
    * sample that q46's probabilities only parameterize: per source
    * node, the k=10 train-edge neighbors drawn with inclusion
    * likelihood monotone in the edge's sampling probability
    * (new_utlis_1.py:66-97 edge_probability feeding the per-epoch
    * neighbor draw in the reference's forward pass).
    *
    * The draw is a deterministic priority race, not an RNG: each edge
    * gets `priority = prob / (u + 1)` where u is the portable-md5 hash
    * of the edge key (q51's hash-not-RNG discipline) — a fixed "race
    * time" per edge, so higher-probability neighbors win more often,
    * yet the same edge set survives on every engine/rerun/partitioning,
    * which is what makes the sampler HASH-ORACLEABLE (DuckDB computes
    * the identical priorities). Division is by an integer ≥ 1 — no
    * zero-divisor branch even for edges whose prob rounds to 0 (they
    * race at priority 0 and lose to any positive edge, tie-broken by
    * dst). Every op in the priority is IEEE-identical in both engines:
    * md5 bytes, exact integer hex fold, one long→double conversion,
    * one divide.
    *
    * Scale: the rank filter (rn ≤ 10) rewrites to WindowGroupLimit
    * (PlanSpec-pinned) — per-partition partial top-k BEFORE the
    * exchange, so a celebrity node's million-edge neighbor list never
    * assembles anywhere; the shuffle carries ≤ k rows per (partition,
    * node). This is q05's shape keyed by the graph, exactly how an
    * epoch-sampler runs on a cluster: one bounded pass, no per-node
    * driver loop like the reference's Python sampler.
    *
    * `epoch` salts the race key (`src|dst|#epoch`), so each epoch draws
    * a DIFFERENT neighbor subset under the same probabilities — the
    * reference resamples per training epoch (new_model_*.py forward) —
    * while every epoch individually stays deterministic and
    * hash-oracleable (epochs 0 and 1 are both driver-oracled). */
  def q89NeighborSample(spark: SparkSession, dir: String): DataFrame =
    q89NeighborSampleEpoch(spark, dir, epoch = 0)

  def q89NeighborSampleEpoch(spark: SparkSession, dir: String,
      epoch: Int): DataFrame = {
    val u = Exact.portableHash(
      concat(col("src").cast("string"), lit("|"), col("dst").cast("string"),
        lit(s"|#$epoch")), 15)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("priority").desc, col("dst"))
    q46ProbsU(spark, dir)
      .withColumn("priority", col("prob") / (u + lit(1L)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= neighborSampleK)
      .select(col("src"), col("dst"), col("edge_class"), col("prob"), col("rk"))
      .orderBy(col("src"), col("rk"))
  }

  /** q66: one symmetric-normalized GCN message-passing round — the
    * propagation primitive of the reference's DualChannelLayer
    * (src/layers.py:80-102: norm = g·d(row)^-0.5·d(col)^-0.5 with the
    * highlow=1 gate g ≡ 1, message = norm·x_j, aggr='add'), i.e.
    * h' = D^-1/2 · A · D^-1/2 · h, as a DISTRIBUTED SpMV: the
    * symmetrized edge list joins the (broadcast-gated) degree table on
    * both endpoints, each edge contributes d_i^-0.5·d_j^-0.5·h_j, and
    * one groupBy(i) sums the messages. Propagated features: the
    * neighbor's degree (h1) and the constant 1 (h2 — the normalized
    * neighbor count), both self-derived from the graph so the op needs
    * no label join. Per-edge messages quantize to DECIMAL(28,12)
    * BEFORE the sum — float addition is order-dependent and a shuffle
    * reorders freely, so the exact-decimal accumulation is what makes
    * a distributed SpMV bit-reproducible (and oracle-checkable).
    * At 100 TB this is the shape GNN systems actually run on Spark:
    * edges co-partitioned by destination, node vectors broadcast or
    * shuffle-joined, one aggregation per layer. */
  def q66GcnPropagate(spark: SparkSession, dir: String): DataFrame =
    gcnRounds(spark, dir, rounds = 1)

  /** q67: MULTI-round propagation — the reference stacks layer_num = 2
    * DualChannelLayers (src/layers.py:108-116, model.py builds two), so
    * the propagation primitive must CHAIN: h² = Â·(Â·h⁰) with
    * Â = D^-1/2·A·D^-1/2. Round k's input is round k−1's output
    * QUANTIZED at 1e-6 (the same [[Exact.r]] every operator emits):
    * 6-dp doubles of this magnitude are exactly representable, so the
    * double product norm·h is bit-identical in both engines and the
    * oracle chains the round-1 CTE through the same adjacency join —
    * round 2 stays hash-checkable, not approximately-equal. */
  def q67GcnPropagate2(spark: SparkSession, dir: String): DataFrame =
    gcnRounds(spark, dir, rounds = 2)

  /** The parameterized propagation loop behind q66/q67 (reference
    * layer_num, src/layers.py:108-116). The edge list and the degree
    * sides build ONCE and every round reuses them (`und` cached, di/dj
    * broadcast-gated); between rounds the node-sized h table
    * localCheckpoints (CC-style) so round k's plan joins a materialized
    * table instead of re-embedding k−1 copies of the whole join tree —
    * the standard shape of iterative GNN propagation on Spark: per
    * round, one co-partitioned join + one aggregation over edges that
    * never move again. */
  private[ops] def gcnRounds(spark: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // degree agg + one message join per round
    val und = Release.cache(undFrom(edgesFrom(factBase(spark, dir))))
    // deg is re-executed once PER di/dj broadcast build PER round
    // execution (broadcast-exchange reuse only holds within one query
    // execution, and every round's eager checkpoint is its own
    // execution) — cache the node-sized table so each rebuild scans it
    // instead of re-aggregating the full edge cache
    val deg = Release.cache(und.groupBy(col("src").as("n")).agg(count(lit(1)).as("d")))
    val gated = nodeGate(spark, dir) // memoized footer counts, no per-call jobs
    val di = gated(deg.select(col("n").as("src"), col("d").as("di")))
    val dj = gated(deg.select(col("n").as("dst"), col("d").as("dj")))
    val norm = (lit(1.0) / sqrt(col("di"))) * (lit(1.0) / sqrt(col("dj")))
    // Multi-round loops fold the degree norm into the edge cache once
    // (the q94/pagerank rationale: norm is per-edge constant — same
    // expression, same bits — and past the broadcast gate each later
    // round drops two edge-set sort-merge joins); a single-round pass
    // (q66) reads the edges exactly once, where a second edge-sized
    // cache would be pure build overhead, so it keeps the direct joins.
    val undW =
      if (rounds >= 2)
        Release.cache(und.join(di, "src").join(dj, "dst")
          .select(col("src"), col("dst"), norm.as("norm"), col("dj")))
      else und.join(di, "src").join(dj, "dst")
        .select(col("src"), col("dst"), norm.as("norm"), col("dj"))
    def propagate(hDeg: Column, hCnt: Column, prev: Option[DataFrame]): DataFrame =
      prev.fold(undW)(p => undW.join(p, "dst"))
        .select(col("src"),
          (col("norm") * hDeg).cast("decimal(28,12)").as("m_deg"),
          (col("norm") * hCnt).cast("decimal(28,12)").as("m_one"))
        .groupBy(col("src").as("node"))
        .agg(
          Exact.r(sum(col("m_deg")).cast("double"), 6).as("h_deg"),
          Exact.r(sum(col("m_one")).cast("double"), 6).as("h_cnt"))
    // round 1: initial features h⁰ = (neighbor degree, 1), self-derived
    var h = propagate(col("dj"), lit(1.0), None)
    for (_ <- 2 to rounds) {
      // node-sized: checkpoint to cut lineage, then the same gate as
      // the degree tables (it has exactly their cardinality)
      val prev = gated(Release.checkpoint(h)
        .select(col("node").as("dst"),
          col("h_deg").as("p_deg"), col("h_cnt").as("p_cnt")))
      h = propagate(col("p_deg"), col("p_cnt"), Some(prev))
    }
    h.orderBy(col("node"))
  }

  /** ε-residual weight of the reference's layer recurrence
    * (new_model_1.py:41 `eps` constructor default 0.5, used at :97-112).
    * Dyadic, so ε·h with an integer h is EXACT in an IEEE double. */
  private val residualEps = 0.5

  /** q88: the ε-residual MULTI-RELATION propagation layer — the actual
    * layer algebra of the reference's Amazon/Yelp model
    * (new_model_1.py:97-112): per relation graph r it computes
    * `h'_r = ε·h + Â_r·h` (residual + one symmetric-normalized
    * message-passing round on THAT relation's graph), then concatenates
    * the three relation outputs (`torch.cat((h1_1, h1_2, h1_3))`) —
    * here the concat is the three column groups h_r1/h_r2/h_r3 of one
    * node-keyed row. The trained parts (hw_r weight matrices, the tanh
    * gate, dropout) are model internals that stay in the MLlib seam
    * (the q86/q87 convention); this operator is the relational algebra
    * the layer runs every forward pass.
    *
    * Input features h: the node's total cross-relation symmetrized
    * degree (self-derived like q66's h⁰, and exactly the quantity the
    * reference clamps and feeds its samplers from, new_utlis_1.py:53).
    * Nodes absent from relation r keep the pure residual ε·h — the
    * aggregation contributes nothing, which is also what DGL's
    * update_all yields for an isolated node.
    *
    * Exactness: per-edge messages norm_r·h_j quantize to
    * DECIMAL(28,12) BEFORE the sum (q66's order-independence rule);
    * ε·h is exact (dyadic × integer); one double add per relation, then
    * 6dp quantization — bit-identical in DuckDB's chained-CTE twin.
    *
    * Scale: ONE fact scan → distinct (rel,src,dst) → per-relation
    * symmetrize+dedup; the three relation graphs stay in ONE edge
    * DataFrame tagged by `rel`, so all three SpMVs ride a single
    * message shuffle (groupBy(node) with per-relation conditional
    * sums) instead of three passes; the rel-keyed degree sides are
    * 3×-node-sized and gated at 3·nodes, h⁰ is node-sized and gated at
    * nodes — broadcast-gated like every graph operator here. */
  def q88RelationResidualPropagate(spark: SparkSession, dir: String): DataFrame =
    q88Core(spark, dir).orderBy(col("node"))

  /** q88 without the presentation orderBy — FraudPipeline's `--residual`
    * tier joins this straight into the feature matrix, where the sort
    * would be a wasted exchange (the q85Core convention). */
  private[graft] def q88Core(spark: SparkSession, dir: String): DataFrame = {
    // dedup-first (undFrom's discipline, keyed by rel): distinct
    // directed triples, THEN symmetrize and re-dedup the doubled set
    // degree agg + message join
    val und = Release.cache(symmetrized(relEdges(spark, dir), Seq("rel")).distinct())
    // di + dj + h0 all derive from it
    val deg = Release.cache(und.groupBy(col("rel"), col("src").as("n"))
      .agg(count(lit(1)).as("d")))
    // h⁰: total symmetrized degree across the three relation graphs
    val h0 = deg.groupBy(col("n").as("node")).agg(sum(col("d")).as("h0"))
    val bound = nodeBound(spark, dir)
    // di/dj are REL-keyed — one row per (rel, node), up to 3× the node
    // count — so their gate must bound 3·nodes, not nodes: a graph just
    // under the node limit would otherwise broadcast a 3×-over-limit
    // frame (the driver-OOM hazard the gate exists to prevent). Only
    // h0/hj is truly node-sized.
    val relGate = gate(3L * bound)
    val nodeGated = gate(bound)
    val di = relGate(deg.select(col("rel"), col("n").as("src"), col("d").as("di")))
    val dj = relGate(deg.select(col("rel"), col("n").as("dst"), col("d").as("dj")))
    val hj = nodeGated(h0.select(col("node").as("dst"), col("h0").as("hj")))
    val norm = (lit(1.0) / sqrt(col("di"))) * (lit(1.0) / sqrt(col("dj")))
    // all three relations' messages through ONE exchange: each edge
    // belongs to exactly one rel, so the pivot is three conditional sums
    val z = und.join(di, Seq("rel", "src")).join(dj, Seq("rel", "dst"))
      .join(hj, Seq("dst"))
      .select(col("src"), col("rel"),
        (norm * col("hj")).cast("decimal(28,12)").as("m"))
      .groupBy(col("src").as("node"))
      .agg(
        sum(when(col("rel") === 1, col("m"))).as("z1"),
        sum(when(col("rel") === 2, col("m"))).as("z2"),
        sum(when(col("rel") === 3, col("m"))).as("z3"))
    def hr(zc: Column): Column =
      Exact.r(lit(residualEps) * col("h0") +
        coalesce(zc.cast("double"), lit(0.0)), 6)
    h0.join(nodeGated(z), Seq("node"), "left") // node-sized message agg
      .select(col("node"),
        hr(col("z1")).as("h_r1"),
        hr(col("z2")).as("h_r2"),
        hr(col("z3")).as("h_r3"))
  }

  /** q86 gate weights — TRAINED plan literals for the FALayer gate (the
    * reference trains `nn.Linear(2·in_dim, 1)` end-to-end,
    * new_model_1.py:23-31; inference weights live in the plan, training
    * stays in the MLlib seam — the q35/q71 pattern). Fitted by
    * graft.AttnFit at sf0.1: an edge-grain LogisticRegression over
    * [[q86GateFitBase]] — do the edge's endpoints share the fraud
    * label? — which is FALayer's objective made explicit (homophilic ≡
    * low-frequency edges get positive attention). HONEST finding: on
    * this data homophily is nearly degree-flat (train AUC 0.539), so
    * the fitted gate is mildly positive everywhere — the learned
    * weights keep the negative-attention EXPRESSIVENESS (a deployment
    * whose data has the reference's high-frequency structure refits via
    * AttnFit and only these three literals change) without fabricating
    * sign structure the data doesn't support. All three are DYADIC
    * (1/2²⁰ grain: 261/2²⁰, 261/2²⁰, 1608550/2²⁰), so every product
    * with an integer degree and their sum is EXACT in an IEEE double —
    * the only approximate op in the whole attention expression is tanh
    * itself, which immediately quantizes at 6dp (q68's ln discipline;
    * margins spec-audited in GraphSpec). With h₂ ≡ 1 the constant terms
    * fold into the single literal [[faGateBias]]. */
  private[graft] val faGateWDst = 2.4890899658203125E-4 // 261/2^20 — weight on the aggregating node's h₁ = deg
  private[graft] val faGateWSrc = 2.4890899658203125E-4 // 261/2^20 — weight on the neighbor's h₁ = deg
  private[graft] val faGateBias = 1.534041404724121 // 1608550/2^20 — w₂ + w₄ + b folded (h₂ ≡ 1)

  /** q86: ONE attention-weighted propagation round — the inference
    * analog of the reference's OTHER channel (the FALayer-style gate of
    * new_model_1.py:23-31 `edge_applying`: α = tanh(gate·[h_dst‖h_src]),
    * e = α·d_dst·d_src with d = (in_deg+1)^−0.5, the self_loop norm of
    * new_train_1.py:129-134, then z = Σ h_src·e — dgl's
    * u_mul_e + sum). q66/q67 cover the highlow=1 GCN channel whose gate
    * is ≡ 1; this closes the attention channel, where the per-edge
    * weight is a FUNCTION OF NODE FEATURES and can be NEGATIVE —
    * FALayer's design point (high-frequency ≡ negative attention), which
    * is why there is deliberately NO q25-style row normalization here:
    * the reference scales by d_i·d_j, never by the (possibly ~0) row
    * sum.
    *
    * Numerics: gate weights dyadic → the tanh ARGUMENT is exact in both
    * engines; α quantizes at 6dp immediately (tanh is the only
    * transcendental — q68's discipline, margins audited in GraphSpec);
    * per-edge messages α_q·d_i·d_j·h_j quantize to DECIMAL(28,12)
    * before the sum (q66's order-independence rule); one 6dp round on
    * the aggregated output. Features h = (deg, 1), self-derived like
    * q66, so the op needs no label join.
    *
    * Scale: identical shape to [[gcnRounds]] — edges build once, the
    * degree sides are node-sized and broadcast-gated, one
    * co-partitioned join + one map-side-combined aggregation. */
  def q86AttentionPropagate(spark: SparkSession, dir: String): DataFrame = {
    // degree agg + the message join
    val und = Release.cache(undFrom(edgesFrom(factBase(spark, dir))))
    val deg = und.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val gated = nodeGate(spark, dir)
    val di = gated(deg.select(col("n").as("src"), col("d").as("di")))
    val dj = gated(deg.select(col("n").as("dst"), col("d").as("dj")))
    // tanh spelled overflow-safe as 1 − 2/(e^2x + 1): identical IEEE op
    // chain in both engines (this DuckDB build ships exp but not tanh),
    // saturating to EXACTLY ±1.0 for large |x| instead of inf/inf NaN
    val arg = lit(faGateWDst) * col("di") +
      lit(faGateWSrc) * col("dj") + lit(faGateBias)
    val alphaQ = Exact.r(
      lit(1.0) - lit(2.0) / (exp(lit(2.0) * arg) + lit(1.0)), 6)
    val e = alphaQ * (lit(1.0) / sqrt(col("di") + lit(1.0))) *
      (lit(1.0) / sqrt(col("dj") + lit(1.0)))
    und.join(di, "src").join(dj, "dst")
      .select(col("src"),
        (e * col("dj")).cast("decimal(28,12)").as("m_deg"),
        e.cast("decimal(28,12)").as("m_one"))
      .groupBy(col("src").as("node"))
      .agg(
        Exact.r(sum(col("m_deg")).cast("double"), 6).as("z_deg"),
        Exact.r(sum(col("m_one")).cast("double"), 6).as("z_cnt"))
      .orderBy(col("node"))
  }

  /** The q86 oracle: the attention expression spelled op-for-op —
    * dyadic gate literals forced to DOUBLE, tanh quantized at 6dp, the
    * same left-associated multiply chain, DECIMAL(28,12) messages. */
  private def attentionOracleSql: String = {
    val argSql =
      s"$faGateWDst::DOUBLE * di.d + ($faGateWSrc)::DOUBLE * dj.d + $faGateBias::DOUBLE"
    val alphaSql =
      s"floor((1.0 - 2.0 / (exp(2.0 * ($argSql)) + 1.0)) * 1e6 + 0.5) / 1e6"
    s"""WITH e0 AS ($edgesSql),
       | und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       | dg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1),
       | m AS (SELECT u.src,
       |   CAST($alphaSql * (1.0 / sqrt(di.d + 1.0)) * (1.0 / sqrt(dj.d + 1.0)) * dj.d AS DECIMAL(28,12)) AS m_deg,
       |   CAST($alphaSql * (1.0 / sqrt(di.d + 1.0)) * (1.0 / sqrt(dj.d + 1.0)) AS DECIMAL(28,12)) AS m_one
       |  FROM und u JOIN dg di ON u.src = di.n JOIN dg dj ON u.dst = dj.n)
       |SELECT src AS node,
       | floor(CAST(sum(m_deg) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS z_deg,
       | floor(CAST(sum(m_one) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS z_cnt
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q73: damped PageRank over the undirected purchase graph — the
    * canonical "who matters in the ring" importance score fraud
    * analysts run right after q47's components (networkx ships it as
    * `nx.pagerank`; the reference's degree features q20/q24 are its
    * 0-round approximation). Fixed `pagerankRounds` power iterations,
    * damping 0.85, uniform 1/deg transition on the symmetrized edge
    * set — no dangling nodes by construction (every und node has
    * deg ≥ 1).
    *
    * Numerics: ranks are carried SCALED by N (rs = N·pr, r0 = 1.0) so
    * every value stays O(1) — the raw pr shrinks like 1/N, which at
    * 100 TB node counts would eat most of a fixed decimal scale's
    * significant digits. Per-edge messages rs/d quantize to
    * DECIMAL(28,12) before the sum (order-independent, q66's rule),
    * each round's output rounds at 6dp via [[Exact.r]], and the final
    * unscaled pr = rs/N rounds at 9dp — every step the same IEEE op
    * sequence in both engines, so 3 chained rounds stay hash-exact.
    *
    * Scale: identical shape to [[gcnRounds]] — edges build once and
    * never move again; per round one co-partitioned join against the
    * node-sized rank table (localCheckpointed, broadcast-gated) + one
    * map-side-combined aggregation. */
  def q73PageRank(spark: SparkSession, dir: String): DataFrame = {
    // normalizer agg + one message join per round
    val und = Release.cache(undFrom(edgesFrom(factBase(spark, dir))))
    // uniform transitions: w ≡ 1, so Σw per src is the plain degree and
    // prs·1/d is bit-identical to the oracle's rs/d (·1.0 is IEEE-exact)
    pagerankLoop(und.withColumn("w", lit(1L)), nodeGate(spark, dir))
      .withColumnRenamed("wdeg", "deg")
      .orderBy(col("node"))
  }

  /** q80: WEIGHTED PageRank — transition mass proportional to line
    * counts between the pair (the q25 adjacency's weights), the
    * importance score that separates a hub with many weak ties from a
    * ring member with few heavy ones; same power iteration, message
    * rs·w/Σw in the identical IEEE op order both engines. */
  def q80WeightedPagerank(spark: SparkSession, dir: String): DataFrame = {
    // dedup-first like [[undFrom]], carrying the multiplicity: count
    // the E directed pairs down to E′ weighted rows, then symmetrize
    // and SUM the doubled copy — w(a,b) = cnt(a→b) + cnt(b→a) exactly
    // as the one-pass count over the symmetrized raw stream produced
    val adj = Release.cache(edgesFrom(factBase(spark, dir))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .select(explode(array(
        struct(col("src"), col("dst"), col("w")),
        struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    pagerankLoop(adj, nodeGate(spark, dir)).orderBy(col("node"))
  }

  /** Per-edge fit base for the FALayer gate's training seam
    * ([[graft.AttnFit]]): undirected purchase-graph edges with both
    * endpoints' degrees and a HOMOPHILY label — do the endpoints share
    * the fraud label? — the trainable analog of what FALayer's gate
    * learns end-to-end (low-frequency ≡ same-community edges take
    * positive attention, high-frequency ≡ cross-community edges
    * negative; new_model_1.py:23-31). Node labels follow the shared-id
    * convention: a key that is a customer uses its customer label, else
    * its supplier label. TRAIN fold only on BOTH endpoints (q18's LCG
    * split — the inference literals must never see held-out labels). */
  private[graft] def q86GateFitBase(spark: SparkSession, dir: String): DataFrame = {
    // degree agg + the edge join
    val und = Release.cache(undFrom(edgesFrom(factBase(spark, dir))))
    val deg = und.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val lab = Tables.customer(spark, dir).select(col("c_custkey").as("n"),
        (col("c_acctbal") < 0).cast("int").as("clab"))
      .join(Tables.supplier(spark, dir).select(col("s_suppkey").as("n"),
        (col("s_acctbal") < 0).cast("int").as("slab")), Seq("n"), "full")
      .select(col("n"), coalesce(col("clab"), col("slab")).as("lab"),
        Exact.lcgTrain80("n").as("tr"))
    val gated = nodeGate(spark, dir)
    und
      .join(gated(deg.select(col("n").as("src"), col("d").as("di"))), "src")
      .join(gated(deg.select(col("n").as("dst"), col("d").as("dj"))), "dst")
      .join(gated(lab.select(col("n").as("src"), col("lab").as("li"),
        col("tr").as("ti"))), "src")
      .join(gated(lab.select(col("n").as("dst"), col("lab").as("lj"),
        col("tr").as("tj"))), "dst")
      .filter(col("ti") && col("tj"))
      .select(col("di").cast("double").as("di"),
        col("dj").cast("double").as("dj"),
        (col("li") === col("lj")).cast("double").as("label"))
  }

  /** The damped power iteration behind q73/q80 over ANY symmetric
    * weighted adjacency (src, dst, w): per round one co-partitioned
    * join of the edge cache against the node-sized (checkpointed,
    * broadcast-gated) rank table + one exact-decimal aggregation. */
  private def pagerankLoop(adj: DataFrame, gated: DataFrame => DataFrame): DataFrame = {
    // ws feeds the wsS broadcast of EVERY round execution (each eager
    // checkpoint is its own execution, so exchange reuse never crosses
    // rounds), r0, nn and the final join — cache the node-sized table
    // or the full-edge aggregation reruns ~5× per query (measured:
    // ~1.2 s per rerun at sf0.1, by the ProfileQ73 probe, since
    // removed; see git history)
    val ws = Release.cache(adj.groupBy(col("src").as("n")).agg(sum(col("w")).as("ws")))
    val nn = ws.agg(count(lit(1)).as("nn"))
    val wsS = gated(ws.select(col("n").as("src"), col("ws")))
    // Σw folded into the edge cache ONCE (w and ws stay separate
    // columns — the message is (prs·w)/ws, and pre-dividing would
    // change the IEEE op order): every round's join then touches only
    // the node-sized checkpointed rank table; past the broadcast gate
    // this removes one edge-set sort-merge join per round (guide §2.4).
    val adjW = Release.cache(adj.join(wsS, "src")
      .select(col("src"), col("dst"), col("w"), col("ws")))
    var rs = ws.select(col("n"), lit(1.0).as("rs"))
    for (_ <- 1 to pagerankRounds) {
      // node-sized: checkpoint cuts round k−1's plan out of round k
      val prev = gated(Release.checkpoint(rs)
        .select(col("n").as("src"), col("rs").as("prs")))
      rs = adjW.join(prev, "src")
        .select(col("dst"),
          (col("prs") * col("w") / col("ws")).cast("decimal(28,12)").as("m"))
        .groupBy(col("dst").as("n"))
        .agg(Exact.r(lit(0.15) + lit(0.85) * sum(col("m")).cast("double"), 6)
          .as("rs"))
    }
    rs.join(ws, "n").crossJoin(broadcast(nn))
      .select(col("n").as("node"), col("ws").as("wdeg"),
        col("rs").as("pr_scaled"),
        Exact.r(col("rs") / col("nn"), 9).as("pr"))
  }

  private[graft] val pagerankRounds = 3

  /** The q73 oracle: the same 3 power iterations unrolled as chained
    * CTEs, every cast/round spelled identically to the Spark plan. */
  private def pagerankOracleSql: String = {
    val iters = (1 to pagerankRounds).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (SELECT u.dst AS n,
         |   floor((0.15 + 0.85 * CAST(sum(CAST(r.rs / d.d AS DECIMAL(28,12))) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS rs
         |  FROM und u JOIN dg d ON u.src = d.n JOIN $prev r ON u.src = r.n
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n ")
    s"""WITH e0 AS ($edgesSql),
       | und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       | dg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1),
       | nn AS (SELECT count(*) AS nn FROM dg),
       | r0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS rs FROM dg),
       | $iters
       |SELECT dg.n AS node, dg.d AS deg, r.rs AS pr_scaled,
       | floor((r.rs / nn.nn) * 1e9 + 0.5) / 1e9 AS pr
       |FROM r$pagerankRounds r JOIN dg ON r.n = dg.n CROSS JOIN nn
       |ORDER BY 1""".stripMargin
  }

  /** q75: k-core decomposition by bounded-round peeling — the densest-
    * substructure extractor fraud pipelines run on the ring graph (a
    * k-core survivor set is a far stronger collusion signal than raw
    * degree; networkx ships it as `nx.k_core`). Each round drops nodes
    * whose degree within the CURRENT subgraph is < k and restricts the
    * edge set to survivors; `kcoreRounds` rounds bound the iteration
    * exactly like the distributed k-core literature's round-limited
    * peel, and GraphSpec proves the peel has CONVERGED at that bound on
    * the test graphs (further rounds are no-ops, so the bounded result
    * IS the k-core there — and the early-exit makes extra budget free).
    * Output: nodes retaining ≥1 edge after the last peel, with residual
    * degree (= degree in the final subgraph; ≥ k at convergence).
    *
    * Scale: per round one map-side-combined degree agg + two semi-joins
    * against the (node-sized, broadcast-gated) survivor list; the edge
    * set only shrinks, each round's restriction is checkpointed and the
    * previous round's is dropped, and the fixpoint early-exit stops
    * paying for rounds the data doesn't need. */
  def q75KCore(spark: SparkSession, dir: String): DataFrame = {
    val und = undFrom(edgesFrom(factBase(spark, dir)))
    // survivor lists are node-bounded: the footer bound makes every
    // per-round broadcast gate job-free (the CC-gate lesson — the old
    // per-round keep.count() was one extra job per peel round)
    kcorePeel(und, kcoreK, kcoreRounds,
      nodeBoundHint = nodeBound(spark, dir)).orderBy(col("node"))
  }

  // k chosen above the purchase graph's min degree at every shipped SF
  // so the gate data actually exercises the peel (k = 3 would be an
  // identity pass there — min degree is 3); deep cascades are proven on
  // GraphSpec's synthetic chain, where peeling takes many rounds
  private[graft] val kcoreK = 25
  private[graft] val kcoreRounds = 8

  /** The peel loop behind q75 over ANY symmetric distinct edge set —
    * split out so GraphSpec can drive synthetic graphs and prove both
    * the peel semantics and the convergence-at-bound claim. */
  private[graft] def kcorePeel(und: DataFrame, k: Int, rounds: Int,
      nodeBoundHint: Long = -1L): DataFrame = {
    // every edge set is an eager checkpoint, a plan leaf: round k plans
    // only its own operators and its lineage reads no earlier round, and
    // no cache of the caller's `und` plan is touched
    var e = Release.checkpoint(und)
    var prevEdges = e.count()
    var round = 0
    var stable = false
    while (round < rounds && !stable) {
      round += 1
      // node-sized, eager: cuts per-round lineage
      val keep = Release.checkpoint(e.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("n")))
      // survivors only shrink, so a caller-supplied node bound gates
      // every round with zero jobs (parquet footers — the CC-gate
      // discipline); synthetic-graph callers keep the count fallback
      val kb = gate(if (nodeBoundHint >= 0L) nodeBoundHint else keep.count())(keep)
      val e2 = Release.checkpoint(e
        .join(kb.select(col("n").as("src")), Seq("src"), "leftsemi")
        .join(kb.select(col("n").as("dst")), Seq("dst"), "leftsemi")
        .select(col("src"), col("dst")))
      val edges = e2.count()
      e = e2
      // e_i == e_{i-1} ⇒ every later round is a no-op: the bounded
      // result equals the converged k-core and the loop can stop
      stable = edges == prevEdges
      prevEdges = edges
    }
    // the node-sized result, materialized: the caller reads a leaf, not
    // the peel chain
    Release.checkpoint(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d")))
  }

  /** The q80 oracle: q73's unroll with line-count transition weights —
    * message rs·w/Σw spelled in the same IEEE op order as the plan. */
  private def weightedPagerankOracleSql: String = {
    val iters = (1 to pagerankRounds).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (SELECT a.dst AS n,
         |   floor((0.15 + 0.85 * CAST(sum(CAST(r.rs * a.w / ws.ws AS DECIMAL(28,12))) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS rs
         |  FROM adj a JOIN ws ON a.src = ws.n JOIN $prev r ON a.src = r.n
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n ")
    s"""WITH e0 AS (SELECT o_custkey AS src, l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       | adj AS (SELECT src, dst, count(*) AS w FROM
       |   (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
       |  GROUP BY 1, 2),
       | ws AS (SELECT src AS n, CAST(sum(w) AS BIGINT) AS ws FROM adj GROUP BY 1),
       | nn AS (SELECT count(*) AS nn FROM ws),
       | r0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS rs FROM ws),
       | $iters
       |SELECT ws.n AS node, ws.ws AS wdeg, r.rs AS pr_scaled,
       | floor((r.rs / nn.nn) * 1e9 + 0.5) / 1e9 AS pr
       |FROM r$pagerankRounds r JOIN ws ON r.n = ws.n CROSS JOIN nn
       |ORDER BY 1""".stripMargin
  }

  /** The q75 oracle: the same bounded peel unrolled as chained CTEs
    * (DuckDB's recursive CTEs can't express a shrinking-set iteration —
    * the recursive table can't be aggregated against — so the fixed
    * `kcoreRounds` unroll is the faithful spelling; convergence at the
    * bound is proven test-side, see [[q75KCore]]). */
  private def kcoreOracleSql: String = {
    // every peel CTE references its predecessor 3× (the FROM, plus the
    // survivor list twice) — DuckDB inlines CTEs by default, which would
    // expand the base scan ~3^rounds times; AS MATERIALIZED keeps the
    // unroll linear, mirroring the Spark side's per-round persist
    val peels = (1 to kcoreRounds).map { i =>
      val prev = if (i == 1) "und" else s"e${i - 1}"
      s"""n$i AS MATERIALIZED (SELECT src AS n FROM $prev GROUP BY 1 HAVING count(*) >= $kcoreK),
         | e$i AS MATERIALIZED (SELECT src, dst FROM $prev
         |   WHERE src IN (SELECT n FROM n$i) AND dst IN (SELECT n FROM n$i))""".stripMargin
    }.mkString(",\n ")
    s"""WITH e0 AS MATERIALIZED ($edgesSql),
       | und AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       | $peels
       |SELECT src AS node, count(*) AS d
       |FROM e$kcoreRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q53: signed call-type edge weights (data_process.py:99-104: calltype
    * 1 ⇒ weight +1, calltype 2 ⇒ weight −1, other calltypes ⇒ no edge;
    * nx.Graph.add_edge OVERWRITES, so the LAST processed event in file
    * order fixes the pair's weight). Analog mapping: src = user_id,
    * dst = the props.k counterpart, 'purchase' ⇒ +1, 'error' ⇒ −1,
    * other event types dropped; "file order" = event_id order (the
    * reference iterates rows in ingestion order, not timestamp order).
    * Feeds the weighted-degree variant: per node and side, positive /
    * negative edge counts and the signed degree sum.
    * One window on the (src, dst) pair + one groupBy — two shuffles,
    * map-side partial aggregation, no driver loops. */
  def q53SignedDegrees(spark: SparkSession, dir: String): DataFrame = {
    val edges = signedEdges(Tables.events(spark, dir)
      .withColumn("peer", get_json_object(col("props"), "$.k").cast("long")))
    edges.select(col("src").as("node"), lit("out").as("side"), col("w"))
      .unionAll(edges.select(col("dst"), lit("in"), col("w")))
      .groupBy(col("node"), col("side"))
      .agg(
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("w") < 0, 1L).otherwise(0L)).as("n_neg"),
        sum(col("w")).as("signed_deg"))
      .orderBy(col("node"), col("side"))
  }

  /** The q53 signed-edge list over ANY frame carrying (user_id,
    * event_id, event_type, peer) — ONE spelling of the last-event-wins
    * weight derivation, shared by q53 itself and the [[signedPosNeg]]
    * rollup q59/q94 consume (q94 feeds it the q85 events projection,
    * so the fused pass pays a single events scan). */
  private[ops] def signedEdges(ev: DataFrame): DataFrame = {
    val typed = ev
      .filter(col("event_type").isin("purchase", "error"))
      .withColumn("w", when(col("event_type") === "purchase", lit(1L)).otherwise(lit(-1L)))
    val last = Window.partitionBy(col("user_id"), col("peer"))
      .orderBy(col("event_id").desc)
    typed
      .withColumn("rn", row_number().over(last))
      .filter(col("rn") === 1)
      .select(col("user_id").as("src"), col("peer").as("dst"), col("w"))
  }

  /** Per-node (positive, negative) signed-edge counts summed across
    * BOTH adjacency sides — exactly q53's per-(node, side) n_pos/n_neg
    * re-aggregated over the sides, which is what q59's slots 0-1 and
    * q94's id features consume. Spelled directly over the edge list
    * (one corner explode + one aggregation) instead of routing through
    * the q53 output: that spelling paid the (node, side) aggregation,
    * q53's presentation sort AND a second node-grain re-aggregation —
    * two wasted exchanges and a wasted sort under every consumer. */
  private[ops] def signedPosNeg(ev: DataFrame): DataFrame =
    signedEdges(ev)
      .select(explode(array(col("src"), col("dst"))).as("node"), col("w"))
      .groupBy(col("node"))
      .agg(
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("sd_pos"),
        sum(when(col("w") < 0, 1L).otherwise(0L)).as("sd_neg"))

  /** q53's oracle CTE chain with prefixable names — the q94 fused pass
    * embeds the identical signed-edge derivation under collision-free
    * names (one definition; the q53 oracle below rebuilds from the
    * empty prefix byte-identically). `p + "d"` holds one row per
    * (edge, side) with the edge weight w. */
  private[ops] def signedDegreeCtes(p: String): String =
    s"""${p}t AS (SELECT user_id, CAST(props->>'k' AS BIGINT) AS peer, event_id,
       |   CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS w
       |  FROM events WHERE event_type IN ('purchase', 'error')),
       | ${p}lastw AS (SELECT user_id, peer, w,
       |   row_number() OVER (PARTITION BY user_id, peer ORDER BY event_id DESC) AS rn
       |  FROM ${p}t),
       | ${p}e AS (SELECT user_id AS src, peer AS dst, w FROM ${p}lastw WHERE rn = 1),
       | ${p}d AS (SELECT src AS node, 'out' AS side, w FROM ${p}e
       |   UNION ALL SELECT dst, 'in', w FROM ${p}e)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q53_signed_degrees" ->
      (s"WITH ${signedDegreeCtes("")}\n" +
        """SELECT node, side,
        | CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        | CAST(sum(CASE WHEN w < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        | CAST(sum(w) AS BIGINT) AS signed_deg
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q20_degrees" ->
      s"""WITH e AS ($edgesSql),
        | d AS (SELECT src AS node, 1 AS dir, dst AS other FROM e
        |       UNION ALL SELECT dst, 0, src FROM e)
        |SELECT node,
        | count(DISTINCT CASE WHEN dir=1 THEN other END) AS out_deg,
        | count(DISTINCT CASE WHEN dir=0 THEN other END) AS in_deg,
        | count(DISTINCT CASE WHEN dir=1 THEN other END)
        |  + count(DISTINCT CASE WHEN dir=0 THEN other END) AS deg
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_common_neighbors" ->
      s"""WITH e0 AS ($hotEdgesSql),
        | e AS (${capSql("e0", "dst", "src", adjCap)})
        |SELECT a.src AS u, b.src AS v, count(*) AS common
        |FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
        |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""".stripMargin,
    "q22_neighbor_avg_degree" ->
      s"""WITH e AS ($edgesSql),
        | und AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)),
        | deg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1)
        |SELECT und.src AS node, floor((sum(d)*1.0/count(*)) * 1e6 + 0.5) / 1e6 AS nbr_avg_deg,
        | count(*) AS n_nbrs
        |FROM und JOIN deg ON und.dst = deg.n
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_triangles" ->
      s"""WITH e AS ($hotEdgesSql),
        | und AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
        |   WHERE src <> dst),
        | canon0 AS (SELECT src, dst FROM und WHERE src < dst),
        | canon AS (${capSql("canon0", "src", "dst", adjCap)}),
        | tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |   FROM canon e1 JOIN canon e2 ON e2.src = e1.dst
        |   JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        | pern AS (SELECT node, count(*) AS t FROM
        |   (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1),
        | deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1)
        |SELECT deg.node, deg, coalesce(t, 0) AS triangles,
        | floor((CASE WHEN deg >= 2
        |   THEN coalesce(t, 0) * 2.0 / (deg * (deg - 1)) ELSE 0.0 END) * 1e6 + 0.5) / 1e6
        |  AS clustering
        |FROM deg LEFT JOIN pern ON deg.node = pern.node
        |ORDER BY 1""".stripMargin,
    "q24_degree_sampling_prob" ->
      s"""WITH e AS ($edgesSql),
        | dg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        | lab AS (SELECT c_custkey,
        |   CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS label,
        |   greatest(coalesce(d, 0), 1) AS deg
        |  FROM customer LEFT JOIN dg ON c_custkey = src),
        | r AS (SELECT sum(label)*1.0/count(*) AS fr FROM lab),
        | s AS (SELECT c_custkey, label, deg,
        |   CAST(sqrt(deg * sqrt(deg)) /
        |     (CASE WHEN label = 1 THEN fr ELSE 1.0 - fr END)
        |    AS DECIMAL(28,10)) AS sc
        |  FROM lab CROSS JOIN r)
        |SELECT c_custkey, label, deg,
        | floor((CAST(sc AS DOUBLE) /
        |   CAST((SELECT sum(sc) FROM s) AS DOUBLE)) * 1e8 + 0.5) / 1e8 AS prob
        |FROM s ORDER BY 1""".stripMargin,
    "q25_row_normalize_adj" ->
      """SELECT o_custkey AS src, l_suppkey AS dst, count(*) AS w,
        | floor((count(*)*1.0 / sum(count(*)) OVER (PARTITION BY o_custkey)) * 1e6 + 0.5) / 1e6
        |  AS norm_w
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q46_edge_sampling_prob" ->
      s"""WITH $q46ScSql
        |SELECT src, dst, edge_class, $q46ProbExprSql AS prob
        |FROM sc ORDER BY 1, 2""".stripMargin,
    "q66_gcn_propagate" ->
      s"""WITH e0 AS ($edgesSql),
        | und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        | dg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1),
        | m AS (SELECT u.src,
        |   CAST((1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d)) * dj.d AS DECIMAL(28,12)) AS m_deg,
        |   CAST((1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d)) AS DECIMAL(28,12)) AS m_one
        |  FROM und u JOIN dg di ON u.src = di.n JOIN dg dj ON u.dst = dj.n)
        |SELECT src AS node,
        | floor(CAST(sum(m_deg) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS h_deg,
        | floor(CAST(sum(m_one) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS h_cnt
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // chains q66's round-1 CTE (h1, 1e-6-quantized like the Spark side)
    // through the SAME normalized-adjacency join — round 2 stays a full
    // hash oracle, not an approximate compare
    "q67_gcn_propagate2" ->
      s"""WITH e0 AS ($edgesSql),
        | und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        | dg AS (SELECT src AS n, count(*) AS d FROM und GROUP BY 1),
        | m1 AS (SELECT u.src,
        |   CAST((1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d)) * dj.d AS DECIMAL(28,12)) AS m_deg,
        |   CAST((1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d)) AS DECIMAL(28,12)) AS m_one
        |  FROM und u JOIN dg di ON u.src = di.n JOIN dg dj ON u.dst = dj.n),
        | h1 AS (SELECT src AS node,
        |   floor(CAST(sum(m_deg) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS h_deg,
        |   floor(CAST(sum(m_one) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS h_cnt
        |  FROM m1 GROUP BY 1),
        | m2 AS (SELECT u.src,
        |   CAST((1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d)) * h.h_deg AS DECIMAL(28,12)) AS m_deg,
        |   CAST((1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d)) * h.h_cnt AS DECIMAL(28,12)) AS m_one
        |  FROM und u JOIN dg di ON u.src = di.n JOIN dg dj ON u.dst = dj.n
        |   JOIN h1 h ON u.dst = h.node)
        |SELECT src AS node,
        | floor(CAST(sum(m_deg) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS h_deg,
        | floor(CAST(sum(m_one) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS h_cnt
        |FROM m2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q65_edge_class_balanced_prob" ->
      s"""WITH e AS ($edgesSql),
        | od AS (SELECT src, count(*) AS sd FROM e GROUP BY 1),
        | idg AS (SELECT dst, count(*) AS dd FROM e GROUP BY 1),
        | lab AS (SELECT c_custkey,
        |   CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS src_label,
        |   (((c_custkey % 2147483648) * 1103515245 + 12345) % 2147483648) % 100 < 80 AS src_train
        |  FROM customer),
        | slab AS (SELECT s_suppkey,
        |   CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END AS dst_label,
        |   (((s_suppkey % 2147483648) * 1103515245 + 12345) % 2147483648) % 100 < 80 AS dst_train
        |  FROM supplier),
        | b AS (SELECT src, dst,
        |   CASE WHEN src_label <> dst_label THEN 0
        |        WHEN src_label = 1 THEN 1 ELSE 2 END AS edge_class,
        |   sqrt(sd * sqrt(sd)) * sqrt(dd * sqrt(dd)) AS base
        |  FROM e JOIN od USING (src) JOIN idg USING (dst)
        |   JOIN lab ON src = c_custkey JOIN slab ON dst = s_suppkey
        |  WHERE src_train AND dst_train),
        | c AS (SELECT
        |   CAST(sum(CASE WHEN edge_class = 0 THEN 1 ELSE 0 END) AS BIGINT) AS y01,
        |   CAST(sum(CASE WHEN edge_class = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t11,
        |   CAST(sum(CASE WHEN edge_class = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t00
        |  FROM b),
        | sc AS (SELECT src, dst, edge_class,
        |   CAST(base / ((CASE WHEN edge_class = 0 THEN sqrt(y01)
        |                      WHEN edge_class = 1 THEN sqrt(t11)
        |                      ELSE sqrt(t00) END)
        |     / (sqrt(y01) + sqrt(t11) + sqrt(t00))) AS DECIMAL(28,10)) AS sc
        |  FROM b CROSS JOIN c)
        |SELECT src, dst, edge_class,
        | floor((CAST(sc AS DOUBLE) / CAST((SELECT sum(sc) FROM sc) AS DOUBLE)) * 1e8 + 0.5) / 1e8 AS prob
        |FROM sc ORDER BY 1, 2""".stripMargin,
    "q64_multi_relation_sampling_prob" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1
        |       WHEN o_orderpriority = '3-MEDIUM' THEN 2
        |       ELSE 3 END AS rel
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        | dg AS (SELECT dst AS node,
        |   greatest(count(DISTINCT CASE WHEN rel = 1 THEN src END)
        |     + count(DISTINCT CASE WHEN rel = 2 THEN src END)
        |     + count(DISTINCT CASE WHEN rel = 3 THEN src END), 1) AS total_deg
        |  FROM e GROUP BY 1),
        | lab AS (SELECT s_suppkey,
        |   CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END AS label,
        |   greatest(coalesce(total_deg, 1), 1) AS deg
        |  FROM supplier LEFT JOIN dg ON s_suppkey = node
        |  WHERE (((s_suppkey % 2147483648) * 1103515245 + 12345) % 2147483648) % 100 < 80),
        | r AS (SELECT sum(label)*1.0/count(*) AS fr FROM lab),
        | s AS (SELECT s_suppkey, label, deg,
        |   CAST(sqrt(deg * sqrt(deg)) /
        |     (CASE WHEN label = 1 THEN sqrt(fr) ELSE 1.0 - sqrt(fr) END)
        |    AS DECIMAL(28,10)) AS sc
        |  FROM lab CROSS JOIN r)
        |SELECT s_suppkey, label, deg,
        | floor((CAST(sc AS DOUBLE) /
        |   CAST((SELECT sum(sc) FROM s) AS DOUBLE)) * 1e8 + 0.5) / 1e8 AS prob
        |FROM s ORDER BY 1""".stripMargin,
    "q45_multi_relation_degrees" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1
        |       WHEN o_orderpriority = '3-MEDIUM' THEN 2
        |       ELSE 3 END AS rel
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT dst AS node,
        | count(DISTINCT CASE WHEN rel = 1 THEN src END) AS in_r1,
        | count(DISTINCT CASE WHEN rel = 2 THEN src END) AS in_r2,
        | count(DISTINCT CASE WHEN rel = 3 THEN src END) AS in_r3,
        | greatest(count(DISTINCT CASE WHEN rel = 1 THEN src END)
        |   + count(DISTINCT CASE WHEN rel = 2 THEN src END)
        |   + count(DISTINCT CASE WHEN rel = 3 THEN src END), 1) AS total_deg
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_col_normalize_adj" ->
      """WITH adj AS (SELECT o_custkey AS src, l_suppkey AS dst, count(*) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2)
        |SELECT src, dst, w,
        | floor((w / (sum(w) OVER (PARTITION BY dst) * 1.0
        |   / count(*) OVER (PARTITION BY dst))) * 1e6 + 0.5) / 1e6 AS norm_w
        |FROM adj ORDER BY 1, 2""".stripMargin,
    // q88: chains the per-relation symmetrize → per-(rel,node) degrees →
    // cross-relation h⁰ → one message pass with per-relation conditional
    // sums — the same DECIMAL(28,12)-before-sum discipline as q66/q67, so
    // the ε-residual adds are bit-identical doubles in both engines
    "q88_relation_residual_propagate" ->
      s"""WITH e AS ($relEdgesSql),
        | und AS (SELECT rel, src, dst FROM e
        |   UNION SELECT rel, dst, src FROM e),
        | dg AS (SELECT rel, src AS n, count(*) AS d FROM und GROUP BY 1, 2),
        | base AS (SELECT n AS node, sum(d) AS h0 FROM dg GROUP BY 1),
        | m AS (SELECT u.src, u.rel,
        |   CAST((1.0 / sqrt(di.d)) * (1.0 / sqrt(dj.d)) * h.h0 AS DECIMAL(28,12)) AS m
        |  FROM und u
        |  JOIN dg di ON u.rel = di.rel AND u.src = di.n
        |  JOIN dg dj ON u.rel = dj.rel AND u.dst = dj.n
        |  JOIN base h ON u.dst = h.node),
        | z AS (SELECT src AS node,
        |   sum(CASE WHEN rel = 1 THEN m END) AS z1,
        |   sum(CASE WHEN rel = 2 THEN m END) AS z2,
        |   sum(CASE WHEN rel = 3 THEN m END) AS z3
        |  FROM m GROUP BY 1)
        |SELECT base.node,
        | floor((0.5 * base.h0 + coalesce(CAST(z1 AS DOUBLE), 0.0)) * 1e6 + 0.5) / 1e6 AS h_r1,
        | floor((0.5 * base.h0 + coalesce(CAST(z2 AS DOUBLE), 0.0)) * 1e6 + 0.5) / 1e6 AS h_r2,
        | floor((0.5 * base.h0 + coalesce(CAST(z3 AS DOUBLE), 0.0)) * 1e6 + 0.5) / 1e6 AS h_r3
        |FROM base LEFT JOIN z ON base.node = z.node ORDER BY 1""".stripMargin,
    // q89: q46's probability chain (shared CTE text — one definition,
    // so a scoring change can never diverge between the two gates) +
    // the deterministic priority race — md5-hash race times salted by
    // the epoch, row_number per src, keep rk <= 10. Epochs 0 and 1 are
    // both oracled, proving the per-epoch resample IS a fresh draw
    "q89_neighbor_sample" -> q89OracleSql(0),
    "q91_neighbor_sample_e1" -> q89OracleSql(1),
    "q73_pagerank" -> pagerankOracleSql,
    "q80_weighted_pagerank" -> weightedPagerankOracleSql,
    "q75_kcore" -> kcoreOracleSql,
    "q86_attention_propagate" -> attentionOracleSql
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_degrees" -> (q20Degrees _),
    "q21_common_neighbors" -> (q21CommonNeighbors _),
    "q22_neighbor_avg_degree" -> (q22NeighborAvgDegree _),
    "q23_triangles" -> (q23Triangles _),
    "q24_degree_sampling_prob" -> (q24DegreeSamplingProb _),
    "q25_row_normalize_adj" -> (q25RowNormalizeAdj _),
    "q43_col_normalize_adj" -> (q43ColNormalizeAdj _),
    "q45_multi_relation_degrees" -> (q45MultiRelationDegrees _),
    "q46_edge_sampling_prob" -> (q46EdgeSamplingProb _),
    "q53_signed_degrees" -> (q53SignedDegrees _),
    "q64_multi_relation_sampling_prob" -> (q64MultiRelationSamplingProb _),
    "q65_edge_class_balanced_prob" -> (q65EdgeClassBalancedProb _),
    "q66_gcn_propagate" -> (q66GcnPropagate _),
    "q67_gcn_propagate2" -> (q67GcnPropagate2 _),
    "q88_relation_residual_propagate" -> (q88RelationResidualPropagate _),
    "q89_neighbor_sample" -> (q89NeighborSample _),
    "q91_neighbor_sample_e1" ->
      ((s: SparkSession, d: String) => q89NeighborSampleEpoch(s, d, 1)),
    "q73_pagerank" -> (q73PageRank _),
    "q80_weighted_pagerank" -> (q80WeightedPagerank _),
    "q75_kcore" -> (q75KCore _),
    "q86_attention_propagate" -> (q86AttentionPropagate _)
  )
}
