package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed access to the driver-generated testdata tables.
  *
  * The TPC-H-ish star schema plays the role of the reference's data model
  * (see SURVEY.md §3): `events` stands in for the Sichuan CDR log
  * (reference: Code for Sichuan/Data_processing/data_process.py:53-57),
  * `customer` for the labeled user table, `documents`/`embeddings` for the
  * review-text / node-feature side of the Amazon-Yelp pipeline.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads with the table's memoized schema, so only the first read of
    * a path pays parquet's schema-inference job; later reads still list
    * the files afresh, so part files appended to a table are seen. Same
    * caveat as [[cachedRowCount]]: a table rewritten under the same path
    * with a NEW schema needs a new session (or this map cleared). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemas.get(path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        // the inferring reader IS the result: re-reading it with the
        // schema just learned would list the files a second time
        val df = spark.read.parquet(path)
        schemas.putIfAbsent(path, df.schema)
        df
    }
  }
  private val schemas =
    new scala.collection.concurrent.TrieMap[String, StructType]

  /** Memoized table row count, one per (dir, table) for the session.
    * Its readers: the cache gates (q63/q85), the graph and dedup
    * broadcast-gate hints ([[graft.ops.Graph.gate]], q55's node bound),
    * the q29/q54 trainers' small-input gate and `CurationPipeline`'s
    * report `n_docs`. The count itself is statistics-only (parquet
    * footers, no data read) but still schedules a job with a footer
    * read per file — at lake scale that is real per-invocation
    * metadata work, so every reader reuses the one count.
    * Testdata dirs are immutable within a session; a regenerated dir
    * under the same path needs a new session (or this map cleared) to
    * re-count. */
  private val rowCounts =
    new scala.collection.concurrent.TrieMap[(String, String), Long]
  def cachedRowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCounts.getOrElseUpdate((dir, name), apply(spark, dir, name).count())

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 refuses to map to its µs
    * TimestampType — read nanos as long and truncate) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (read as TIMESTAMP_NTZ).
    * Normalize both to session-zone TimestampType (UTC, GraftSession) so
    * every downstream operator sees one ts type regardless of generation.
    * The nanos-as-long read needs `spark.sql.legacy.parquet.nanosAsLong`,
    * which [[GraftSession]] sets on every session it builds; a read
    * leaves the session's conf as it found it. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw // already µs TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
