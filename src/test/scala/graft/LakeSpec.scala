package graft

import org.apache.spark.sql.execution.FormattedMode

/** Bucketed layout: joins on the bucket key must be exchange-free. */
class LakeSpec extends SparkSpec {

  private def scrub(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(loc)
    }
  }

  test("curated lake: keep-list and chunk plan join documents exchange-free") {
    scrub("curated_keeplist", "curated_chunks", "curated_documents")
    // the keep-list and chunk plan a curation run ships, beside the
    // documents bucketed the same way
    val nFinal = pipeline.CurationPipeline.run(spark, sf, buckets = 8, lakePrefix = "curated")
      .stats.head().getAs[Long]("n_final")
    sources.Lake.writeBucketed(Tables.documents(spark, sf), "curated_documents",
      "doc_id", 8, Seq("doc_id"))
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val nDocs = Tables.documents(spark, sf).count()
      val nKept = spark.table("curated_keeplist").count()
      assert(nKept > 0 && nKept < nDocs, s"kept $nKept of $nDocs")
      // every downstream per-doc consumer joins with zero Exchange
      for ((l, r) <- Seq(("curated_keeplist", "curated_documents"),
          ("curated_chunks", "curated_documents"),
          ("curated_keeplist", "curated_chunks"))) {
        val j = sources.Lake.colocatedJoin(spark, l, r, "doc_id")
        val plan = j.queryExecution.explainString(FormattedMode)
        assert(plan.contains("Bucketed: true"), s"$l ⋈ $r:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning"), s"$l ⋈ $r:\n$plan")
      }
      // grain: the chunk plan covers every survivor exactly once, the
      // keep-list joins back to exactly its own documents
      assert(sources.Lake.colocatedJoin(spark,
        "curated_chunks", "curated_documents", "doc_id").count() == nFinal)
      assert(sources.Lake.colocatedJoin(spark,
        "curated_keeplist", "curated_documents", "doc_id").count() == nKept)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      scrub("curated_keeplist", "curated_chunks", "curated_documents")
    }
  }

  test("bucketed tables join without a shuffle") {
    scrub("b_orders", "b_lineitem")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    sources.Lake.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    sources.Lake.writeBucketed(lineitem, "b_lineitem", "o_orderkey", 8)
    // force the shuffle-join path: at test scale the planner would
    // broadcast instead, which never exercises bucket co-location
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = sources.Lake.colocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val plan = joined.queryExecution.explainString(FormattedMode)
      assert(plan.contains("Bucketed: true"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      scrub("b_orders", "b_lineitem")
    }
  }

  test("writeBucketed survives a re-run AND an orphaned warehouse directory") {
    scrub("b_rerun")
    val df = Tables.region(spark, sf).select("r_regionkey", "r_name")
    sources.Lake.writeBucketed(df, "b_rerun", "r_regionkey", 2)
    // same-session overwrite (catalog knows the table)
    sources.Lake.writeBucketed(df, "b_rerun", "r_regionkey", 2)
    assert(spark.table("b_rerun").count() == df.count())
    // fresh-catalog case: the table vanishes from the catalog but its
    // managed directory stays behind — the crash a re-run of
    // CurationRun used to hit (LOCATION_ALREADY_EXISTS)
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "b_rerun")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql("DROP TABLE b_rerun") // drops catalog entry AND dir...
    fs.mkdirs(loc) //                  ...so recreate the orphan dir
    sources.Lake.writeBucketed(df, "b_rerun", "r_regionkey", 2)
    assert(spark.table("b_rerun").count() == df.count())
    scrub("b_rerun")
  }
}
