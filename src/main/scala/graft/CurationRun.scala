package graft

/** User-facing entry point for the corpus-curation workflow — the
  * training-data twin of [[PipelineRun]]: gates → dedup → keep-list →
  * decontaminate → pack → bucketed lake, printing the curation report
  * as one JSON line.
  *
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.CurationRun"
  *
  * Optional gate flags: `--lm-floor=<f>` `--dsir-floor=<f>`
  * `--dup-cap=<f>` `--seed=<term,term,…>` (BM25 retrieval gate, with
  * `--top-k=<n>`, default 1000) `--mix-budget=<f>` (terminal q69 mix:
  * token budget = surviving total / f).
  */
object CurationRun {
  private[graft] val flagNames =
    Seq("lm-floor", "dsir-floor", "dup-cap", "seed", "top-k", "mix-budget")

  private[graft] val usage: String =
    """usage: sbt "runMain graft.CurationRun [<sfDir>] [gates]"
      |  <sfDir>             scale-factor directory (default $SPARK_GRAFT_SF_DIR
      |                      or /root/testdata/sf0.01)
      |  --lm-floor=<f>      drop docs with q68 avg_logp below f
      |  --dsir-floor=<f>    drop docs with q71 log importance weight below f
      |  --dup-cap=<f>       drop docs with q78 dup_ratio above f
      |  --seed=<t1,t2,...>  BM25 retrieval gate seeded with these terms
      |  --top-k=<n>         retrieval gate keep count (default 1000)
      |  --mix-budget=<f>    terminal q69 mix: token budget = total / f
      |  --help              print this and exit
      |env: SPARK_GRAFT_CPUS (threads)
      |prints one JSON report line (per-gate drop counts, chunks, tokens)""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = Cli.sfDirOf(args, usage, valueFlags = flagNames.toSet)
      .getOrElse(return)
    def opt(name: String): Option[String] = Cli.value(args, name)
    val spark = GraftSession.fromEnv()
    val t0 = System.nanoTime()
    val r = pipeline.CurationPipeline.run(spark, sfDir,
      lmFloor = opt("lm-floor").map(_.toDouble),
      dsirFloor = opt("dsir-floor").map(_.toDouble),
      dupRatioCap = opt("dup-cap").map(_.toDouble),
      retrievalSeed = opt("seed").map(_.split(",").map(_.trim).toSeq),
      retrievalTopK = opt("top-k").map(_.toInt).getOrElse(1000),
      mixBudget = opt("mix-budget").map(_.toDouble))
    val s = r.stats.head()
    val secs = (System.nanoTime() - t0) / 1e9
    val fields = s.schema.fieldNames
      .map(f => s""""$f":${s.getAs[Any](f)}""").mkString(",")
    println(s"""{"metric":"curation_pipeline","sf":"$sfDir","sec":$secs,$fields}""")
    spark.stop()
  }
}
