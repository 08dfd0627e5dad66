package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale replication of a testdata directory: writes a
  * K× larger copy built from K key-shifted replicas of every fact table
  * (dimensions `region`/`nation` stay single — they are genuinely fixed
  * cardinality). Used for the sf1-equivalent scale validation
  * (SURVEY.md §7.18): the oracle gate and the bench run against the
  * replica directory exactly as they do against the driver testdata.
  *
  * Replication is designed to preserve each operator's per-key work
  * profile instead of adversarially inflating it — the way a truly
  * larger dataset would behave:
  *  - every entity key (custkey, orderkey, user_id, doc_id, vec_id, …)
  *    shifts by `replica × stride`, so replicas are disjoint and every
  *    equi-join stays within its replica (the graph becomes K disjoint
  *    copies, exactly like K new cohorts of users); the stride is
  *    auto-sized to the next power of 10 above the source's largest
  *    key (min 10⁷), so replicas CHAIN — a 30× replica of an existing
  *    10× replica picks a 10⁹ stride instead of failing the collision
  *    guard;
  *  - document text gets a per-replica token SUFFIX on every word
  *    (replica 0 keeps the original bytes): within-replica dup/near-dup
  *    structure is preserved, but replicas share no shingles — document
  *    frequency per shingle stays flat as the corpus grows, which is
  *    how real crawl growth behaves (identical copies would instead
  *    multiply every df by K and blow the pair join up K²);
  *  - embeddings cyclically rotate by `replica` positions: norms and
  *    all within-replica cosines are bit-preserved (so per-cell ANN
  *    candidate counts scale linearly), while cross-replica similarity
  *    decorrelates;
  *  - `events.ts` is TIMESTAMP(NANOS) in the source, which Spark cannot
  *    write back; the replica stores the raw nanos as plain INT64 —
  *    [[Tables.events]] reads either encoding identically, and the
  *    oracle harness rebuilds a timestamp view for DuckDB.
  *
  * `--skew` additionally injects the power-law hot keys the uniform
  * replicas deliberately avoid — real 100 TB call/purchase graphs and
  * crawl corpora are NOT k disjoint uniform cohorts (the reference's
  * buildLSN input is a power-law call graph, data_process.py:20-48).
  * Three deterministic injections, all spread uniformly across files:
  *  - purchase graph: every lineitem of the 1% of orders with
  *    `orderkey ≡ 7 (mod 100)` re-points `l_suppkey` at ONE global
  *    celebrity supplier ([[skewSupplier]], replica-0 key space — the
  *    hot node deliberately couples the replicas into one giant hub),
  *    stressing q20-q23/q47/q66+/q73/q75/q80/q86's per-node bounds
  *    (adjCap, AQE skew splits, map-side combine);
  *  - call graph: the 1% of events with `event_id ≡ 7 (mod 100)`
  *    re-point `props.k` at ONE global celebrity peer ([[skewPeer]]),
  *    stressing q53 and q85/q87's per-slice graphs the same way;
  *  - corpus: the 5% of documents with `doc_id ≡ 3 (mod 20)` append
  *    ONE shared hot sentence (identical bytes in every replica), so a
  *    shingle family's df grows to 5% of the corpus — the q31 df-cap /
  *    q78 dup-gram / q60 contamination stress (a naive posting-list
  *    join would go quadratic in df; the caps must bound it).
  * The stride (a power of 10 ≥ 10⁷) is divisible by 100 and 20, so the
  * mod-class selectors pick the SAME underlying rows in every replica —
  * the injection is deterministic and replica-proportional.
  */
object ScaleGen {

  private val minStride = 10L * 1000 * 1000
  /** Global celebrity keys (replica-0 space — present at every SF). */
  private[graft] val skewSupplier = 7L
  private[graft] val skewPeer = 77L
  /** The shared hot token run appended to 5% of docs under --skew:
    * 12 words ⇒ ~10 hot 3-gram shingles and 5 hot 8-grams per doc. */
  private[graft] val skewHotSentence: String =
    " hotdup0 hotdup1 hotdup2 hotdup3 hotdup4 hotdup5" +
      " hotdup6 hotdup7 hotdup8 hotdup9 hotdupa hotdupb"

  def main(args: Array[String]): Unit = {
    // loud usage instead of a bare MatchError, like the other two mains
    val (pos, flags) = args.partition(!_.startsWith("--"))
    require(pos.length == 3 && pos(2).forall(_.isDigit) &&
        flags.forall(_ == "--skew"),
      "usage: sbt \"runMain graft.ScaleGen <srcDir> <outDir> <k> [--skew]\" " +
        "(k an integer in 1..100)")
    val Array(srcDir, outDir, kStr) = pos
    val k = kStr.toInt
    val spark = GraftSession.fromEnv(defaultCores = 16)
    try run(spark, srcDir, outDir, k, skew = flags.contains("--skew"))
    finally spark.stop()
  }

  /** Session-lifecycle-free body, callable from specs against a shared
    * session. Restores the nanos-read conf it flips. */
  private[graft] def run(spark: SparkSession, srcDir: String, outDir: String,
      k: Int, skew: Boolean = false): Unit = {
    require(k >= 1 && k <= 100, "replication factor out of range")
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosPrev = spark.conf.getOption(nanosKey)
    try {
      spark.conf.set(nanosKey, "true") // events raw read keeps ts as nanos-long
      val srcEvents = Tables(spark, srcDir, "events")
      // ---- auto-stride: ONE power-of-10 shift shared by every key
      // column AND props.k (peers must shift coherently with user ids).
      // props carries the peer/area id consumed by q16/q53/q59/q85.
      // The rewrite rebuilds props as {"k": N}: a row whose props lacks
      // k would null the whole column and any extra JSON field would be
      // silently dropped, so props.k passes the SAME loud max scan as
      // the explicit key columns before the stride is chosen.
      val tableKeys: Seq[(DataFrame, Seq[String])] = Seq(
        Tables.customer(spark, srcDir) -> Seq("c_custkey"),
        Tables.supplier(spark, srcDir) -> Seq("s_suppkey"),
        Tables.part(spark, srcDir) -> Seq("p_partkey"),
        Tables.orders(spark, srcDir) -> Seq("o_orderkey", "o_custkey"),
        Tables.lineitem(spark, srcDir) -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
        srcEvents -> Seq("event_id", "user_id"),
        Tables.documents(spark, srcDir) -> Seq("doc_id"),
        Tables.embeddings(spark, srcDir) -> Seq("vec_id"))
      val kStats = srcEvents.agg(
        max(get_json_object(col("props"), "$.k").cast("long")),
        count(lit(1)),
        count(get_json_object(col("props"), "$.k").cast("long"))).head()
      require(!kStats.isNullAt(0),
        "events props.k is empty — the {\"k\": N} rewrite has nothing to shift")
      require(kStats.getLong(1) == kStats.getLong(2),
        s"${kStats.getLong(1) - kStats.getLong(2)} events rows lack a numeric props.k — " +
          "the {\"k\": N} props rewrite would null them; extend the rewrite first")
      // ONE multi-max aggregate per table (not one Spark job per key
      // column), and the results thread into replicate's collision
      // guard instead of a second identical scan there — the guard
      // stays loud per column at about a third of the scan cost.
      // maxByCol is keyed by BARE column name, so a future table that
      // reused a key name would make .toMap silently keep the last
      // entry and hand replicate the wrong table's max — fail loudly
      // here instead, like every other guard in this file
      locally {
        val names = tableKeys.flatMap(_._2)
        val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
        require(dups.isEmpty,
          s"key column name(s) ${dups.mkString(", ")} appear in more than one " +
            "table — key maxByCol by (table, column) before adding such a table")
      }
      val maxByCol: Map[String, Long] = tableKeys.flatMap { case (df, cols) =>
        val row = df.agg(max(col(cols.head)),
          cols.tail.map(c => max(col(c))): _*).head()
        cols.zipWithIndex.map { case (c, i) =>
          c -> Option(row.get(i)).map(_.toString.toLong).getOrElse(0L) }
      }.toMap
      val maxKey = (maxByCol.values.toSeq :+ kStats.getLong(0)).max
      var stride = minStride
      while (stride <= maxKey) stride *= 10
      require(stride > 0 && stride.toDouble * k < 9.2e18,
        s"stride $stride × $k replicas overflows int64")
      def repl(df: DataFrame, keyCols: String*): DataFrame =
        replicate(df, k, stride, keyCols, keyCols.map(maxByCol))

      copy(spark, srcDir, outDir, "region")
      copy(spark, srcDir, outDir, "nation")
      write(outDir, "customer", repl(Tables.customer(spark, srcDir), "c_custkey"))
      write(outDir, "supplier", repl(Tables.supplier(spark, srcDir), "s_suppkey"))
      write(outDir, "part", repl(Tables.part(spark, srcDir), "p_partkey"))
      write(outDir, "orders",
        repl(Tables.orders(spark, srcDir), "o_orderkey", "o_custkey"))
      // celebrity supplier: stride is a power of 10 ≥ 10⁷, so the
      // mod-100 class of the SHIFTED orderkey equals the source's —
      // every replica contributes its same 1% of orders to the hub
      val li = repl(Tables.lineitem(spark, srcDir),
        "l_orderkey", "l_partkey", "l_suppkey")
      write(outDir, "lineitem",
        if (!skew) li
        else li.withColumn("l_suppkey",
          when(pmod(col("l_orderkey"), lit(100L)) === 7L, lit(skewSupplier))
            .otherwise(col("l_suppkey"))))
      val shiftedPeer = (get_json_object(col("props"), "$.k").cast("long")
        + col("_rep").cast("long") * stride)
      val peerVal =
        if (!skew) shiftedPeer
        else when(pmod(col("event_id"), lit(100L)) === 7L, lit(skewPeer))
          .otherwise(shiftedPeer)
      write(outDir, "events",
        repl(srcEvents, "event_id", "user_id")
          .withColumn("props",
            concat(lit("{\"k\": "), peerVal.cast("string"), lit("}"))))
      val docsSuffixed = repl(Tables.documents(spark, srcDir), "doc_id")
        .withColumn("text",
          when(col("_rep") === 0, col("text"))
            .otherwise(concat(
              regexp_replace(col("text"), lit(" "),
                concat(lit("_r"), col("_rep"), lit(" "))),
              lit("_r"), col("_rep"))))
      val docsHot =
        if (!skew) docsSuffixed
        // hot sentence appended AFTER the replica suffixing: identical
        // bytes in every replica ⇒ a truly global hot shingle family
        else docsSuffixed.withColumn("text",
          when(pmod(col("doc_id"), lit(20L)) === 3L,
            concat(col("text"), lit(skewHotSentence)))
            .otherwise(col("text")))
      write(outDir, "documents",
        docsHot.withColumn("n_chars", length(col("text")).cast("long")))
      // rotation offset wraps at the vector dim: _rep itself would send
      // `size - _rep` negative once k exceeds the dim (slice errors)
      write(outDir, "embeddings",
        repl(Tables.embeddings(spark, srcDir), "vec_id")
          .withColumn("_rot", pmod(col("_rep"), size(col("embedding"))))
          .withColumn("embedding",
            when(col("_rot") === 0, col("embedding"))
              .otherwise(concat(
                slice(col("embedding"), col("_rot") + 1,
                  size(col("embedding")) - col("_rot")),
                slice(col("embedding"), lit(1), col("_rot")))))
          .drop("_rot"))
      println(s"[scalegen] wrote ${k}x replica of $srcDir to $outDir " +
        s"(stride $stride${if (skew) ", SKEWED" else ""})")
    } finally nanosPrev match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None => spark.conf.unset(nanosKey)
    }
  }

  /** K replicas with each listed key column shifted by replica·stride.
    * Keeps a `_rep` column for table-specific transforms; [[write]]
    * drops it. The caller's auto-stride already cleared every key below
    * the stride, but keep the loud per-column guard — a source whose
    * keys exceed it (a race with a concurrent regeneration) would
    * silently collide replica r's shifted keys with replica 0's native
    * ones, corrupting every join in the benchmark. */
  private def replicate(df: DataFrame, k: Int, stride: Long,
      keyCols: Seq[String], keyMaxes: Seq[Long]): DataFrame = {
    // maxes come from run()'s single per-table aggregate — re-scanning
    // here would double the pre-write scan count for nothing
    keyCols.zip(keyMaxes).foreach { case (c, mx) =>
      require(mx < stride,
        s"key column $c max $mx >= replica stride $stride — keys would collide")
    }
    keyCols.foldLeft(
      df.withColumn("_rep", explode(array((0 until k).map(lit): _*)))) {
      (d, c) => d.withColumn(c, col(c) + col("_rep").cast("long") * stride)
    }
  }

  /** Replica output must look like real lake data: many splittable
    * files. The source testdata is one file with ONE 10M-row row group —
    * unsplittable, so every downstream scan of a large replica ran as a
    * single task (measured: the q85 sf10 cache build spent 55 s in one
    * scan thread). Fan the k-replica explode out to bounded file counts
    * and cap the parquet row-group size so even a single file stays
    * row-group-splittable. */
  private def write(outDir: String, name: String, df: DataFrame,
      parts: Option[Int] = None): Unit = {
    val n = parts.getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    df.drop("_rep")
      .repartition(n)
      .write.mode("overwrite")
      .option("parquet.block.size", 32L * 1024 * 1024)
      .parquet(s"$outDir/$name.parquet")
  }

  private def copy(spark: SparkSession, srcDir: String, outDir: String,
      name: String): Unit =
    write(outDir, name, Tables(spark, srcDir, name), parts = Some(1))
}
