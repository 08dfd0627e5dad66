package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout (SURVEY.md §5): pre-shuffle fact tables ONCE on
  * their join key at write time so every subsequent join/aggregation on
  * that key is exchange-free.
  *
  * At 100 TB the single biggest recurring cost is re-shuffling the same
  * fact table on the same key for every query; bucketing amortizes that
  * shuffle into the ingest write. Spark requires `saveAsTable` (metastore
  * bookkeeping) for bucket-aware reads — LakeSpec proves the join plan
  * has no Exchange on the bucketed key.
  */
object Lake {

  /** Write `df` as a bucketed managed table on `key`, replacing any
    * previous run's table. `mode("overwrite")` alone only replaces a
    * table the CATALOG knows about — a fresh session (in-memory
    * catalog) that merely finds the previous run's directory at the
    * managed location refuses with LOCATION_ALREADY_EXISTS, so every
    * re-run of a curation main would crash. Drop the table if known,
    * then clear an orphaned managed location: that directory is by
    * definition what the overwrite is replacing. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Join two tables bucketed on the same key with the same bucket
    * count — planner-verified co-located (no shuffle). */
  def colocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
