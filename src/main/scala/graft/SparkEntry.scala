package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each entry maps to. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 3-way join + aggregate exercises scan, broadcast/shuffle join
    * planning and partial aggregation in one plan. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q03JoinAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.Features.queries ++ ops.Graph.queries ++
      ops.Metrics.queries ++ ops.Text.queries ++ ops.Dedup.queries ++
      ops.Ann.queries ++ ops.Sessions.queries ++ ops.Multimodal.queries ++
      ops.Components.queries ++ ops.TimeJoins.queries ++ ops.Sampling.queries ++
      ops.Corpus.queries ++ ops.Fused.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracles ++ ops.Features.oracles ++ ops.Graph.oracles ++
      ops.Metrics.oracles ++ ops.Text.oracles ++ ops.Ann.oracles ++
      ops.Sessions.oracles ++ ops.TimeJoins.oracles ++ ops.Sampling.oracles ++
      ops.Dedup.oracles ++ ops.Components.oracles ++ ops.Multimodal.oracles ++
      ops.Corpus.oracles ++ ops.Fused.oracles

  /** `m` cut to the keys `SPARK_GRAFT_ONLY` names (comma-separated), or
    * all of `m` when it is unset: the key filter `Bench` and `Verify`
    * share for local iteration. A key that names no query fails loudly,
    * since a typo would otherwise run nothing and read as an empty but
    * valid result. */
  def selected[V](m: Map[String, V]): Map[String, V] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(m) { only =>
      val keys = only.split(",").map(_.trim).toSet
      val unknown = keys -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      m.filter { case (k, _) => keys(k) }
    }
}
