package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // loud usage instead of a bare MatchError (ScaleGen's convention)
    require(args.length == 2,
      "usage: sbt \"runMain graft.Verify <sfDir> <outDir>\"")
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    // Optional key filter for local iteration (same contract as Bench),
    // applied to the oracles too; unset, every query and oracle is
    // dumped.
    val queries = SparkEntry.selected(SparkEntry.queries)
    val oracles = SparkEntry.selected(SparkEntry.oracleSql)
    // one scope per query: what the op materializes goes with it
    queries.foreach { case (name, fn) =>
      try Release.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
