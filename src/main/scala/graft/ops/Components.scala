package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over the link-similarity network — the fraud-
  * ring detection step the reference's buildLSN output feeds (clusters
  * of users sharing ≥k call contacts ARE the suspected rings; the
  * reference leaves clustering to the GNN, production systems run CC).
  *
  * Algorithm: hash-min label propagation — every vertex starts with its
  * own id, each round adopts the min label in its closed neighborhood,
  * until a fixed point. Each round is one join + one groupBy (both
  * shuffles on the vertex id); rounds needed = graph diameter, and the
  * driver loop only orchestrates — all data stays distributed. This is
  * the standard large-graph CC (GraphX/GraphFrames use the same
  * fixpoint); at 100 TB you'd add large-star/small-star contraction to
  * cut rounds on high-diameter graphs.
  */
object Components {

  /** CC labels for an undirected edge list (src, dst). Returns
    * (node, component) with component = min vertex id in the component.
    *
    * Convergence: each round is a neighbor-min pass PLUS a pointer-jump
    * (comp := label(comp)), so label distance halves per round —
    * O(log diameter) rounds, not O(diameter); a 10^6-node chain
    * converges within the default cap. Non-convergence warns loudly. */
  private[graft] def connectedComponents(
      edges: DataFrame, maxIter: Int = 30, nodeBoundHint: Long = -1L): DataFrame = {
    // Pre-partition the (cached) edge list on the per-round join key:
    // every round joins sym on dst, so paying ONE extra exchange at
    // build time means each round shuffles only the label table
    // (node-sized) into sym's partitioning — the edge list (the big
    // side at 100 TB) never moves again.
    // Symmetrize by exploding both directions from ONE pass over the
    // input (the union-of-reversed-plan shape evaluates the upstream
    // edge build — e.g. q47's LSN self-join — once per branch; exchange
    // reuse cannot dedupe the two branches because their projections
    // differ).
    val sym0 = Release.cache(Graph.symmetrized(edges).distinct())
    // Round 0 fused into initialization: with identity starting labels,
    // the first neighbor-min pass is just min(dst) per src (and the
    // pointer jump is the identity), so labels₀ = least(node, min nbr)
    // falls out of ONE aggregation — no init-distinct shuffle, no
    // round-0 joins. Every node appears as a src in sym (symmetrized),
    // so coverage is complete.
    var labels = Release.checkpoint(sym0.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("comp")))
    // Label tables are node-sized and checkpointed, so their stats are
    // UNKNOWN to the planner — without a hint every round's sym⋈labels
    // join is a sort-merge that re-sorts the edge cache (measured: the
    // dominant per-round cost at sf0.1). Gate the broadcast on the
    // caller's parquet-footer node bound when it supplies one (labels
    // are node-bounded by construction, so the memoized footer count is
    // a zero-job upper bound — the Graph.nodeBound discipline; the
    // labels.count() fallback was a full extra job before round 1,
    // measured as the q47/q55/q57 regression in round 11); past the
    // gate fall back to the shuffle plan, pre-partitioning the edge
    // cache on the join key so only the node-sized label table moves
    // per round.
    val bound = if (nodeBoundHint >= 0L) nodeBoundHint else labels.count()
    val small = Graph.broadcastable(bound)
    val gate = Graph.gate(bound)
    val sym =
      if (small) sym0
      else {
        // a checkpoint, not a second cache: its lineage stops at its own
        // blocks, so the unpartitioned cache and its relations go at once
        val s = Release.checkpoint(sym0.repartition(col("dst")))
        Release.uncache(sym0)
        s
      }
    var changed = 1L
    var i = 1 // round 0 ran above; maxIter still counts it
    while (changed > 0 && i < maxIter) {
      // neighbor-min pass: each node adopts min(own, neighbors') label
      val nbrMin = sym
        .join(gate(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("comp", "dst_comp")), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("dst_comp")).as("nbr_comp"))
      // prev label rides along so convergence is a filter, not a join;
      // nbrMin is node-sized and stats-less against the checkpointed
      // labels RDD, so it rides the same gate
      val stepped = labels.join(gate(nbrMin), Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          col("comp").as("prev"))
      // pointer jump: comp := label(comp) — halves label distance per
      // round, turning O(diameter) hash-min into O(log diameter). The
      // jump reads the PREVIOUS round's labels (already checkpointed),
      // not `stepped`: a stale jump still shortcuts chains (labels only
      // decrease, and any label is a node of the same component, so the
      // fixpoint is unchanged) while letting the whole round be ONE
      // plan with ONE materialization instead of three.
      val lookup = labels.select(col("node").as("jnode"), col("comp").as("jcomp"))
      // localCheckpoint truncates the lineage (without it each round's
      // plan embeds all previous rounds and the optimizer/codegen blow
      // up exponentially — OOMs by ~iteration 15 even on tiny graphs)
      // AND materializes the round once for the convergence count +
      // next-round consumers.
      val next = Release.checkpoint(
        stepped.join(gate(lookup), col("comp") === col("jnode"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"),
            col("prev")))
      changed = next.filter(col("comp") =!= col("prev")).count()
      labels = next.select(col("node"), col("comp"))
      i += 1
    }
    // also frees the broadcasts behind the edge cache (the caller's
    // edge query), which the ContextCleaner would drop only after a GC
    Release.uncache(sym0)
    if (changed > 0)
      System.err.println(
        s"[graft] connectedComponents: NOT converged after $maxIter rounds " +
          s"($changed labels still moving) — labels may be fragmented")
    labels
  }

  /** Alternative CC: large-star/small-star edge contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"). Same output
    * contract as [[connectedComponents]] — (node, comp = component min)
    * — proven equal by ComponentsSpec on random graphs.
    *
    * When to prefer which: hash-min + pointer jumping funnels EVERY
    * member of a component through the current-min vertex's partition
    * each round — on a 100 TB graph with a billion-node component that
    * single reduce key is a straggler no matter how many executors you
    * add. Contraction instead rewrites the EDGE SET each round (each
    * node's work is bounded by its current neighborhood, which the
    * star steps actively shrink), trading more shuffles per round for
    * per-key load that stays balanced. Locally (small graphs, few
    * rounds) hash-min wins on fixed overhead, so it stays the default;
    * at extreme component sizes this is the skew-robust path.
    *
    * Each round: large-star connects every neighbor v > u to
    * m = min(N(u) ∪ {u}); small-star (over the canonical big→small
    * edges) connects every smaller neighbor and u itself to
    * m = min(N<(u) ∪ {u}). Fixpoint = the edge set is exactly the star
    * (node → component min); O(log²) rounds on any graph. */
  private[graft] def connectedComponentsContract(
      edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // canonical big→small, self-loops dropped (they carry no
    // connectivity); the small-star step relies on this orientation
    var e = Release.checkpoint(edges
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var eCount = e.count()
    var done = eCount == 0
    var i = 0
    while (!done && i < maxIter) {
      // large-star: m(u) over the SYMMETRIZED neighborhood; every
      // neighbor larger than u hooks onto m(u). Output stays big→small
      // (m(u) ≤ u < v), so the orientation invariant is preserved.
      val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
      val ls = sym.join(mins, col("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // small-star: on big→small edges N<(u) is exactly the dst side;
      // every smaller neighbor and u itself hook onto m(u) = min(dst)
      val smins = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      // truncate lineage, materialize once
      val next = Release.checkpoint(ls.join(smins, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(smins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct())
      val nextCount = next.count()
      // fixpoint test: same count AND no new edges ⇒ identical sets
      done = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      i += 1
    }
    if (!done && eCount > 0)
      System.err.println(
        s"[graft] connectedComponentsContract: NOT converged after $maxIter rounds")
    // at fixpoint e IS the star: every non-root points at its component
    // min, roots appear only on the dst side
    e.select(col("src").as("node"), col("dst").as("comp"))
      .unionAll(e.select(col("dst").as("node"), col("dst").as("comp")).distinct())
  }

  /** Strategy chooser. Hash-min + pointer-jump stays the default — its
    * per-round cost is one join + one agg and it wins on every graph
    * whose reduce keys fit a task (measured: SkewBench at 2·10⁵ edges,
    * star/chain/hub-chain all favor hash-min locally; see SURVEY §7.18
    * for numbers). Contraction takes over when the degree histogram
    * shows a key that one reduce task cannot absorb: a vertex whose
    * adjacency exceeds `hubDegreeLimit` (≈ rows beyond which a single
    * groupBy key dominates a 128 MB-ish task) funnels its whole
    * component through one partition every hash-min round, and no
    * executor count fixes a single hot reducer — that is precisely the
    * regime large-star/small-star keeps balanced. Max degree is the
    * cheap observable proxy for the giant-component straggler: one
    * map-side-combined aggregation over the edge list, paid once. */
  private[graft] def connectedComponentsAuto(edges: DataFrame,
      hubDegreeLimit: Long = 8L * 1000 * 1000, maxIter: Int = 30): DataFrame = {
    val maxDeg = edges
      .select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L))) // empty edge list → 0, not a NULL NPE
      .head().getLong(0)
    if (maxDeg > hubDegreeLimit) connectedComponentsContract(edges, maxIter)
    else connectedComponents(edges, maxIter)
  }

  /** q47: components of the ≥3-common-neighbor LSN graph (q21's output
    * as the edge list) + per-component size — the "fraud ring" view.
    * Oracle-checked: DuckDB replays the fixpoint as a recursive-CTE
    * transitive closure (min reachable id = the hash-min label);
    * ComponentsSpec additionally proves equality with a union-find
    * reference. */
  def q47ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val lsn = Graph.q21CommonNeighbors(spark, dir)
      .select(col("u").as("src"), col("v").as("dst"))
    // LSN nodes are customer keys ⊆ the footer node bound — the gate
    // hint costs zero jobs (memoized footer counts)
    val labels = connectedComponents(lsn,
      nodeBoundHint = Graph.nodeBound(spark, dir))
    // per-component size via aggregate + gated-broadcast join, NOT
    // count().over(partitionBy(comp)): a window funnels a giant
    // component's every node row through ONE partition (and AQE cannot
    // split a window), while the aggregate partial-counts map-side —
    // skew collapses before the shuffle — and the node-sized labels
    // never move when the size table broadcasts. Same footer-count
    // gate as q22 (LSN nodes ⊆ customers); past it, the shuffle join
    // falls under AQE's skew-join splitting, which a window never gets.
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
    labels.join(Graph.gate(Tables.cachedRowCount(spark, dir, "customer"))(sizes), "comp")
      .select(col("node"), col("comp"), col("comp_size"))
      .orderBy(col("comp"), col("node"))
  }

  /** The closure is O(component-size²) rows — fine at oracle scale
    * (the driver checks at sf0.01); the Spark side stays O(E·log d). */
  val oracles: Map[String, String] = Map(
    "q47_connected_components" ->
      s"""WITH RECURSIVE ${Graph.lsnSql},
        | bidir AS (SELECT u AS src, v AS dst FROM lsn UNION SELECT v, u FROM lsn),
        | reach(node, r) AS (
        |   SELECT src, dst FROM bidir UNION SELECT src, src FROM bidir
        |   UNION SELECT reach.node, b.dst FROM reach JOIN bidir b ON reach.r = b.src),
        | cmp AS (SELECT node, min(r) AS comp FROM reach GROUP BY 1)
        |SELECT node, comp, count(*) OVER (PARTITION BY comp) AS comp_size
        |FROM cmp ORDER BY 2, 1""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q47_connected_components" -> (q47ConnectedComponents _)
  )
}
