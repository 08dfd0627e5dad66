package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape assertions: the 100 TB design properties (SURVEY.md §5)
  * that must survive refactors — predicate/projection pushdown reaching
  * the parquet scan, broadcasts on dimension joins, map-side partial
  * aggregation, no cartesian products anywhere. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("partition-less windows appear ONLY in the known bounded top-k queries") {
    // Bench silences WindowExec's single-partition WARN session-wide, so
    // this pin is what actually guards the warning's regression class: a
    // global (unpartitioned) window moving all data to one task. The two
    // allowed sites rank already-limit()-cut <=100-row top-k sets.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // each query is built and inspected inside its own scope, so the
    // caches and checkpoints its ops register go with it and no later
    // plan test reads them
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) => Release.scope {
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        val global = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        if (global.nonEmpty) Some(name) else None
      }
    }
    assert(offenders.toSet == Set("q74_bm25", "q81_pmi_bigrams"),
      s"unexpected global-window queries: $offenders")
  }

  test("q02: filters and projection reach the parquet scan") {
    val p = plan(ops.Relational.q02FilterProject(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    // pruned read: exactly the 4 referenced columns
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"))
  }

  test("q04: all three dimension joins broadcast, fact never shuffles pre-agg") {
    val p = plan(ops.Relational.q04BroadcastJoin(spark, sf))
    assert("""\(\d+\) BroadcastHashJoin""".r.findAllIn(p).size == 3, p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q01: aggregation is partial (map-side) before the exchange") {
    val p = plan(ops.Relational.q01Agg(spark, sf))
    assert(p.contains("partial_sum"))
  }

  test("q17: global stats come from a broadcast, not a global window") {
    val p = plan(ops.Features.q17ZScore(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("Window"))
  }

  test("q34: query side broadcasts against the corpus") {
    val p = plan(ops.Ann.q34AnnCosineTopk(spark, sf))
    assert(p.contains("Broadcast"))
  }

  test("q36: native dot_long expression is in the plan, not HOF aggregate") {
    val p = plan(ops.Ann.q36DedupEmbedding(spark, sf))
    assert(p.contains("dotlong") || p.contains("DotLong") || p.contains("dot_long"), p.take(2000))
  }

  test("q36: pair join shuffles on (label, cell); the corpus is never hint-broadcast") {
    // with auto-broadcast off, only hinted broadcasts remain — the pair
    // join must fall back to a shuffle join (the kB seed table may stay
    // broadcast; a full corpus side must not)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val p = plan(ops.Ann.q36DedupEmbedding(spark, sf))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("q46: per-node degree tables broadcast — the edge list never sort-merges") {
    val p = plan(ops.Graph.q46EdgeSamplingProb(spark, sf))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q20/q45: degree counts are one-phase aggs — no Expand from distinct-counts") {
    assert(!plan(ops.Graph.q20Degrees(spark, sf)).contains("Expand"))
    assert(!plan(ops.Graph.q45MultiRelationDegrees(spark, sf)).contains("Expand"))
  }

  test("q27/q28: no single-partition global window (two-pass ranking)") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (df <- Seq(ops.Metrics.q27RocAuc(spark, sf),
                   ops.Metrics.q28AvgPrecision(spark, sf))) {
      val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty) // the ranking window is still a window...
      windows.foreach(w => assert(w.partitionSpec.nonEmpty, w)) // ...but partitioned
    }
  }

  test("q62: running token offset is bucket-partitioned, never a global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = ops.Corpus.q62PackChunks(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, w))
  }

  test("q68: corpus side joins the vocab by broadcast — never shuffled by word") {
    // the corpus-sized token stream must reach its doc_id aggregation
    // through a broadcast vocab join: a shuffle keyed on the word would
    // funnel TBs through |vocab| reduce keys (the low-cardinality skew
    // trap q44/q47 document)
    val p = plan(ops.Corpus.q68LmQuality(spark, sf))
    assert(p.contains("BroadcastHashJoin LeftOuter"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // reference-slice aggregations + corpus pass: ≤3 documents scans
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size <= 3, p.take(2000))
  }

  test("q05/q34/q89: rank-filter plans as per-partition WindowGroupLimit") {
    assert(plan(ops.Relational.q05WindowRank(spark, sf)).contains("WindowGroupLimit"))
    assert(plan(ops.Ann.q34AnnCosineTopk(spark, sf)).contains("WindowGroupLimit"))
    // the neighbor sampler: a celebrity node's edge list must cut to k
    // per partition BEFORE the exchange — in EVERY epoch (the salt is a
    // literal inside the race priority; it must not break the rewrite)
    assert(plan(ops.Graph.q89NeighborSample(spark, sf)).contains("WindowGroupLimit"))
    assert(plan(ops.Graph.q89NeighborSampleEpoch(spark, sf, 1))
      .contains("WindowGroupLimit"))
  }

  test("q48: probe plan — WindowGroupLimit cuts, broadcast centroid/probe sides") {
    val p = plan(ops.Ann.q48AnnIvf(spark, sf))
    // ALL THREE rank filters must rewrite to per-partition group limits,
    // each a Partial+Final pair: the nearest-cell argmin (rn === 1) and
    // the probe cut (rn <= nprobe) on the centroid cross (4 nodes), plus
    // the in-cell top-10 (rk <= 10, 2 nodes) = 6. The floor is 5 so the
    // pin survives a benign plan-reuse collapse of one pair but goes RED
    // when the rk cut regresses to a full per-qid candidate sort (count
    // drops to 4 — mutation-verified), exactly the scale-killer this
    // pin exists to catch
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(p).size >= 5, p.take(3000))
    // the 8-row centroid table reaches the corpus as a broadcast nested
    // loop (its crossJoin), and the ≤30-row probe×query side as a
    // broadcast hash join — the corpus itself must never shuffle to meet
    // either small side
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q56: tf aggregation is map-side partial, top-k is WindowGroupLimit") {
    val p = plan(ops.Corpus.q56TfidfTopTerms(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(2000))
    assert(p.contains("WindowGroupLimit"))
  }

  test("q74: global top-k is TakeOrderedAndProject; rank window sorts only the k-row cut") {
    val p = plan(ops.Corpus.q74Bm25TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the single-partition rank window must sit ABOVE the top-k cut (its
    // input is ≤ bm25TopK rows), never below it on the corpus
    val win = p.indexOf("Window")
    val topk = p.indexOf("TakeOrderedAndProject")
    assert(win >= 0 && topk > win, "rank window must consume the top-k output")
  }

  test("q77: the last-16 rank filter plans as per-partition WindowGroupLimit") {
    val p = plan(ops.Features.q77EwmaBurst(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q76: sketch registers aggregate map-side; one events scan feeds exact + sketch") {
    val p = plan(ops.Relational.q76HllDistinct(spark, sf))
    assert("""(?m)^\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p.take(2000))
    assert(p.contains("partial_max") || p.contains("partial_count"), p.take(2000))
  }

  test("q19: feature assembly executes ≤2 physical events scans") {
    // base aggregates + gap mean + recall rate fold into ONE scan (one
    // window sort feeds them all); repeat-rate keeps its distinct-grain
    // pass. The repeat subtree references `events` 4× LOGICALLY (Jaccard
    // self-joins) — its 4 branches acquire DIFFERENT pushed filters, so
    // ReuseExchange cannot dedupe them (see q14's comment); what holds
    // this invariant is the .cache() on the distinct projection, whose
    // InMemoryRelation hides its internal scan from executedPlan. The
    // physical plan therefore holds ≤2 file scans: shared-features +
    // the repeat cache build. Removing that cache re-scans the fact
    // table per branch and fails this test. (AQE is toggled off for
    // the check because AdaptiveSparkPlanExec hides the scan nodes
    // until materialization.)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = ops.Features.q19FeatureMatrix(spark, sf).queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 2, scans.map(_.simpleString(80)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q59: ONE lineitem scan feeds both graph constituents") {
    // q22's full graph and q23's heavy-line subgraph both derive from
    // the single flagged canonical-pair dedup (canonPairs) over one
    // orders⋈lineitem build — a second lineitem scan means the shared
    // pass regressed into per-constituent edge builds. (events scans
    // stay bounded by the q19 pin above; filter-pushdown differences
    // CAN split cached-plan reuse there, so only lineitem is pinned.)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = ops.Features.q59FullFeatureMatrix(spark, sf)
        .queryExecution.executedPlan
      // count lineitem file scans OUTSIDE cached subtrees (cached reads
      // are exactly the sharing we want) — walk including IMR children
      def fileScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
        p.collect {
          case s: FileSourceScanExec => Seq(s)
          case im: InMemoryTableScanExec =>
            fileScans(im.relation.cachedPlan)
        }.flatten
      val lineitemScans = fileScans(plan)
        .filter(_.relation.location.inputFiles.exists(_.contains("lineitem")))
      // one scan inside the shared cached canonPairs build; dedup by
      // cached-subtree identity: all occurrences must be the SAME scan
      assert(lineitemScans.map(_.id).distinct.size <= 1,
        lineitemScans.map(_.simpleString(80)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q22/q59: the undirected set dedups on the canonical pair only, never on (src, dst)") {
    // the symmetric set is mirrored map-side from canonical (a, b)
    // pairs: one hash exchange keyed on (a, b) dedups each unordered
    // pair, and no aggregate keyed on (src, dst) re-dedups the mirrored
    // copy behind a (src, dst) exchange (q23's triangle join still
    // shuffles its pair sides on (src, dst), into a join). Cached and
    // adaptive subplans are walked too, each distinct one once.
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqeWalk = new AdaptiveSparkPlanHelper {}
    def withCached(p: SparkPlan): Seq[SparkPlan] = p +: aqeWalk.collect(p) {
      case im: InMemoryTableScanExec => withCached(im.relation.cachedPlan)
    }.flatten
    def names(es: Seq[Expression]): Seq[String] =
      es.map { case a: Attribute => a.name; case e => e.sql }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Release.scope {
      for ((name, df) <- Seq(
          "q22" -> ops.Graph.q22NeighborAvgDegree(spark, sf),
          "q59" -> ops.Features.q59FullFeatureMatrix(spark, sf))) {
        val plans = withCached(df.queryExecution.executedPlan).distinct
        val exchanges = plans.flatMap(aqeWalk.collect(_) {
          case ShuffleExchangeExec(h: HashPartitioning, _, _, _) => names(h.expressions)
        })
        val groupings = plans.flatMap(aqeWalk.collect(_) {
          case agg: HashAggregateExec => names(agg.groupingExpressions)
        })
        assert(exchanges.count(_ == Seq("a", "b")) == 1, s"$name: $exchanges")
        assert(!groupings.contains(Seq("src", "dst")), s"$name: $groupings")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q85: ONE events scan feeds day partials, type sets and edges") {
    // the day-grain rollup's whole point: raw events are scanned once
    // (into the gated narrow cache) and only DAY PARTIALS explode ×4 —
    // a second distinct events scan means a consumer regressed to
    // re-reading the fact table outside the shared cache
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = ops.Features.q85SliceFeatureTensor(spark, sf)
        .queryExecution.executedPlan
      def fileScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
        p.collect {
          case s: FileSourceScanExec => Seq(s)
          case im: InMemoryTableScanExec =>
            fileScans(im.relation.cachedPlan)
        }.flatten
      val eventsScans = fileScans(plan)
        .filter(_.relation.location.inputFiles.exists(_.contains("events")))
      assert(eventsScans.map(_.id).distinct.size <= 1,
        eventsScans.map(_.simpleString(80)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q87: attention adds exactly ONE exchange over the q85 plan") {
    // the attention window and the pooling groupBy both key on
    // (user_id, scale) — they must share a single new shuffle; a second
    // one means the window/groupBy co-partitioning regressed
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffles(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s
        }.size
      val base = shuffles(ops.Features.q85SliceFeatureTensor(spark, sf))
      val attn = shuffles(ops.Features.q87TemporalAttentionPool(spark, sf))
      assert(attn == base + 1, s"q85=$base q87=$attn")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q90: the LSTM fold adds exactly ONE exchange over the q85 plan") {
    // the collect_list groupBy on (user_id, scale) is the fold's only
    // shuffle; the fold and state decode are projections. A second new
    // exchange means the sequence assembly stopped riding one shuffle.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffles(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s
        }.size
      val base = shuffles(ops.Features.q85SliceFeatureTensor(spark, sf))
      val lstm = shuffles(ops.Features.q90LstmState(spark, sf))
      assert(lstm == base + 1, s"q85=$base q90=$lstm")
      // the 2-unit cell folds the SAME collected sequence — widening
      // hidden state must not widen the plan
      val lstm2 = shuffles(ops.Features.q90FromH(
        ops.Features.q85SliceFeatureTensor(spark, sf), ops.Features.q90Units))
      assert(lstm2 == base + 1, s"q85=$base q92=$lstm2")
      // ...and the H-parametric path (q93) carries the same property:
      // the hidden size scales the array accumulator's WIDTH, never the
      // exchange count
      val lstm4 = shuffles(ops.Features.q93LstmState4(spark, sf))
      assert(lstm4 == base + 1, s"q85=$base q93=$lstm4")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q90 family: fold state stays calendar-bounded (n_buckets <= span/7s + 1)") {
    // the 100 TB state story: per (user, scale) the collected sequence
    // is bounded by the CALENDAR (bucket = day_idx div 7·scale), not by
    // the user's event count — a hot user with 10⁹ events still folds
    // at most span/(7·scale)+1 steps, so the aggregate's array state is
    // O(span) at any corpus size. Re-keying the bucket to anything
    // event-grain (the mutation that would blow the fold state on a
    // cluster) breaks this bound long before it breaks a hash.
    val ev = ops.Features.q85EvBase(spark, sf)
      .agg(org.apache.spark.sql.functions.min("day_idx"),
        org.apache.spark.sql.functions.max("day_idx")).head
    val span = ev.getInt(1) - ev.getInt(0)
    val got = ops.Features.q93LstmState4(spark, sf)
      .groupBy("scale")
      .agg(org.apache.spark.sql.functions.max("n_buckets").as("mx"))
      .collect().map(r => r.getAs[Number]("scale").intValue ->
        r.getAs[Number]("mx").longValue).toMap
    for ((s, mx) <- got)
      assert(mx <= span / (7L * s) + 1, s"scale $s: $mx buckets > calendar bound")
  }

  test("q88: all three relation SpMVs ride one message aggregate") {
    // the per-relation sums are CONDITIONAL aggregates over ONE
    // rel-tagged message frame — three separate per-relation
    // aggregations (or joins) would show up as extra exchanges
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ex = ops.Graph.q88RelationResidualPropagate(spark, sf)
        .queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s
        }
      // 4 = two degree-side hash aggs + ONE message agg on src (the
      // three relations' conditional sums share it) + presentation sort
      assert(ex.size == 4, s"q88 exchanges=${ex.size}")
      val onSrc = ex.count(_.outputPartitioning.toString.contains("src"))
      assert(onSrc == 1, s"message shuffles on src: $onSrc (must stay ONE)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q19: gap and recall windows share one sort (single 3-key SortExec)") {
    // lag (preceding frame) and later-purchase max (following frame) are
    // two WindowExecs but share partition=user_id, order=(ts,event_id) —
    // exactly one SortExec with that 3-column ordering may exist; a
    // second one means the shared-sort property regressed
    import org.apache.spark.sql.execution.SortExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // match the SPECIFIC shared ordering (user_id, ts, event_id): the
      // q14 lag respelling added its own, differently-keyed 3-column
      // sort (user_id, event_type, wk), which this pin must not count
      val sorts = ops.Features.q19FeatureMatrix(spark, sf).queryExecution.executedPlan
        .collect {
          // exact attribute-name match: a substring test ("ts" in
          // toString) would false-positive on any future sort whose
          // second key merely contains 'ts' (counts, pts, …)
          case s: SortExec if s.sortOrder.size == 3 &&
            (s.sortOrder(1).child match {
              case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
                a.name == "ts"
              case _ => false
            }) => s
        }
      assert(sorts.size == 1, sorts.map(_.simpleString(80)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q19: later-purchase max is a whole-partition frame, not a per-row following frame") {
    // a ROWS frame starting at 1 following runs as Spark's
    // UnboundedFollowingWindowFunctionFrame, which recomputes the max
    // for every row — O(n²) per user
    import org.apache.spark.sql.catalyst.expressions.{Literal, RowFrame,
      SpecifiedWindowFrame, WindowExpression}
    val frames = ops.Features.q19FeatureMatrix(spark, sf).queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect {
        case w: WindowExpression => w.windowSpec.frameSpecification
      }))
    assert(frames.nonEmpty)
    val perRow = frames.collect {
      case f: SpecifiedWindowFrame if f.frameType == RowFrame && f.lower == Literal(1) => f
    }
    assert(perRow.isEmpty, perRow.map(_.sql))
  }

  test("q31: df cap is a hash agg + anti-join — no window over the posting list") {
    val p = plan(ops.Text.q31DedupNgramJaccard(spark, sf))
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
  }

  test("q35: buckets computed inline — no extra per-side self-join") {
    // one scan per side (query + corpus); the old shape re-joined the
    // embeddings table per side to attach buckets (4 scans total)
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val scans = ops.Ann.q35AnnLsh(spark, sf).queryExecution.optimizedPlan
      .collect { case r: LogicalRelation => r }
    assert(scans.size == 2, scans.map(_.simpleString(60)))
  }

  test("q44: every window partitions by (flag, bucket) — no whole-flag sorts") {
    // l_returnflag alone has a handful of values: a window partitioned
    // only by it sorts each flag's whole slice in ONE task (82.8 s for
    // 60M rows at sf10 vs 22.4 s bucketed). Every WindowExec must carry
    // the range bucket as a second partition key.
    import org.apache.spark.sql.execution.window.WindowExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val wins = ops.Relational.q44Percentiles(spark, sf)
        .queryExecution.executedPlan
        .collect { case w: WindowExec => w }
      assert(wins.nonEmpty)
      wins.foreach(w => assert(w.partitionSpec.size >= 2, w.simpleString(120)))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.catalog.clearCache() // q44's bucketed persist
    }
  }

  test("q67: round 2 runs entirely off the edge cache + round-1 checkpoint") {
    // the multi-round design property: the fact join is paid ONCE —
    // round 2's plan must read the symmetrized edges via the cache
    // (InMemoryTableScan), the round-1 h via the localCheckpoint
    // (exactly one Scan ExistingRDD), join only node-sized broadcast
    // sides, and execute ZERO fresh parquet scans (the only parquet
    // nodes in the formatted output sit inside the cached plan's
    // printed lineage, never as executing operators)
    val p = plan(ops.Graph.q67GcnPropagate2(spark, sf))
    assert("""\(\d+\) Scan ExistingRDD""".r.findAllIn(p).size == 1, p.take(3000))
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    spark.catalog.clearCache() // q67's und cache
  }

  test("q60: nothing corpus-sized is cached — both slices scan+explode directly") {
    // the 100 TB memory story: the exploded 8-gram table (~8x corpus
    // tokens) must never materialize — no InMemoryRelation anywhere,
    // and no cartesian fallback in the membership join
    val p = plan(ops.Corpus.q60Decontaminate(spark, sf))
    assert(!p.contains("InMemoryTableScan"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q71: the raw corpus is exploded+bucketed once — per-(doc,bucket) exchange reused") {
    // the q71 CPU-hot-spot fix: BOTH consumers of the raw side (the rc
    // bucket distribution and the per-doc scoring join) must read the
    // SAME per-(doc,bucket) aggregation exchange — a second md5 pass
    // over the gram stream was measured at ~1.5× the whole query (23 s
    // vs 15.1 s at sf1). With AQE off the static ReuseExchange rule
    // must dedupe; ≤2 raw parquet scans total (target slice + raw
    // slice; the ≤4096-row ratio table is allowed its tiny cache).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = ops.Corpus.q71DsirWeight(spark, sf).queryExecution.executedPlan
      assert(p.collect { case r: ReusedExchangeExec => r }.nonEmpty,
        p.treeString.take(3000))
      val scans = p.collect { case s: FileSourceScanExec => s }
      assert(scans.size <= 2, scans.map(_.simpleString(80)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q78: dup-gram flags broadcast; the positional stream is never cached or re-shuffled") {
    // the ExactSubstr pass's scale shape: the positional gram stream
    // stays projection-only (never cached — it is ~8× corpus tokens,
    // q60's rule) and reaches ONE exchange total (the map-side-combined
    // occurrence count); the aggregated dup-gram list joins back as a
    // BROADCAST build side, so raw positions are never shuffled by gram
    // (exchange reuse can't help here — the count consumer partial-aggs
    // before its exchange while the join would need raw rows); span
    // windows partition by doc_id, never globally
    val p = plan(ops.Corpus.q78DupSpans(spark, sf))
    assert(!p.contains("InMemoryTableScan"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // window specs all carry the doc_id partition key
    assert(!p.contains("windowspecdefinition(p#"), "span window lost its doc partition")
  }

  test("q72: determinism sort runs on the narrow scan, below the rule projection") {
    // the q70 lesson, pinned for q72: a trailing global orderBy makes
    // the range partitioner's sampling job execute the whole HOF/regex
    // projection twice. The Sort must see only (doc_id, text) — if the
    // projection slipped below the sort, its output would carry the
    // full metric row.
    import org.apache.spark.sql.execution.SortExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = ops.Text.q72GopherRules(spark, sf).queryExecution.executedPlan
      val sorts = p.collect { case s: SortExec => s }
      assert(sorts.nonEmpty)
      sorts.foreach(s => assert(s.output.length <= 2,
        s.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q81: one pair-stream Generate; unigrams derive from the bigram table") {
    // the pair explode is the ONLY corpus-grain generator — unigram
    // masses and the pair total must come from the (cached) vocab-sized
    // bigram counts, not from re-exploded corpus streams (the unionAll
    // shape re-ran the explode three more times)
    val p = plan(ops.Corpus.q81PmiBigrams(spark, sf))
    assert("""\(\d+\) Generate""".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q81/q82: no forced vocab-sized broadcast; q82 masses stay a window") {
    // the 100 TB OOM guard: a forced broadcast hint overrides every
    // size gate, and the per-word mass tables are |vocab|-sized
    // (10⁸-10⁹ raw types on a web crawl). Only the TINY sides may carry
    // hints — q81's 1-row pair total, q82's 1-row grand total and
    // |sources|-row per-source totals. Re-adding broadcast(uni) or a
    // broadcast per-word count table raises the hint count → red. q82's
    // per-word mass must ALSO never materialize as a joined table: it
    // is a window sum over the (source, word) frame partitioned by w
    // (≤ |sources| rows per partition key by construction) — replacing
    // it with an aggregate + join adds a Join to the analyzed plan → red.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    def hints(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    def joins(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case j: Join => j }.size
    val q81 = ops.Corpus.q81PmiBigrams(spark, sf)
    assert(hints(q81) == 1, s"q81 broadcast hints = ${hints(q81)} (want 1: the 1-row total)")
    val q82 = ops.Corpus.q82SourceKl(spark, sf)
    assert(hints(q82) == 2, s"q82 broadcast hints = ${hints(q82)} (want 2: ts + t)")
    assert(joins(q82) == 2, s"q82 joins = ${joins(q82)} (want 2: ts + t only — " +
      "the per-word mass is a window, not a join)")
    assert(plan(q82).contains("Window"), plan(q82).take(3000))
  }

  test("q23: triangle corners roll up through one explode, not a 3-way union") {
    // unionAll of three projections of the uncached triangle join
    // re-ran the double self-join per corner — the plan must contain
    // NO Union and exactly one corner Generate above the join
    val p = plan(ops.Graph.q23Triangles(spark, sf))
    assert(!p.contains("Union"), p.take(3000))
  }
}
