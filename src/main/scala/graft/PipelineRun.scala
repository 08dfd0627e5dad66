package graft

import graft.pipeline.FraudPipeline.Tier

/** User-facing entry point for the flagship workflow: run the full
  * reference pipeline (32-slot feature matrix → stratified split → LR
  * train → held-out test_model metric suite) against a scale-factor
  * directory and print the metric row as one JSON line — what a user
  * of the reference would invoke instead of `python main.py`.
  *
  *   SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.PipelineRun [--lstm ...]"
  */
object PipelineRun {

  /** Every tier flag: its name, usage line and the edit it makes to the
    * tier list. [[tiersOf]] applies the edits of the flags given in THIS
    * order — the feature matrix's join order — so a later flag of the
    * same tier kind wins (`--slices-attn` over `--slices`, `--lstm2`
    * over `--lstm`) and `--lstm-fixed` edits whichever LSTM tier is on. */
  private[graft] val tierFlags: Seq[(String, String, Seq[Tier] => Seq[Tier])] = Seq(
    ("extended", "add the beyond-parity tier: PageRank, k-core, EWMA burst",
      _ :+ Tier.Extended),
    ("slices", "add the flattened q85 dynamic tensor (bucket-mean pool)",
      put(_, Tier.Slices())),
    ("slices-attn", "as --slices, pooled by q87 temporal attention",
      put(_, Tier.Slices(attention = true))),
    ("residual", "add q88's eps-residual multi-relation layer outputs",
      _ :+ Tier.Residual),
    ("lstm", "add q90's final LSTM state per time scale",
      put(_, Tier.Lstm())),
    ("lstm2", "as --lstm, with q92's coupled 2-unit cell (16 cols)",
      put(_, Tier.Lstm(units = 2))),
    ("lstm-fixed", "serve the pre-training cell tables (A/B baseline)",
      _.map {
        case l: Tier.Lstm => l.copy(fixedCells = true)
        case t => t
      }),
    ("fused", "add q94's fused BD_BGL class scores (3 cols)",
      _ :+ Tier.Fused))

  /** `t` in place of the tier of its kind, or appended if none is on. */
  private def put(ts: Seq[Tier], t: Tier): Seq[Tier] =
    if (ts.exists(_.getClass == t.getClass))
      ts.map(x => if (x.getClass == t.getClass) t else x)
    else ts :+ t

  /** The tiers the flags in `args` select. */
  private[graft] def tiersOf(args: Seq[String]): Seq[Tier] =
    tierFlags.foldLeft(Seq.empty[Tier]) { case (ts, (name, _, edit)) =>
      if (args.contains(s"--$name")) edit(ts) else ts
    }

  def main(args: Array[String]): Unit = {
    val sfDir = Cli.sfDirOf(args, usage, boolFlags = tierFlags.map(_._1).toSet)
      .getOrElse(return)
    val spark = GraftSession.fromEnv()
    val t0 = System.nanoTime()
    val r = pipeline.FraudPipeline.run(spark, sfDir, tiersOf(args.toSeq))
    val m = r.metrics.head()
    val secs = (System.nanoTime() - t0) / 1e9
    val fields = m.schema.fieldNames
      .map(f => s""""$f":${m.getAs[Any](f)}""").mkString(",")
    // one boolean key per flag as given, so lines diff against older A/B logs
    val flags = tierFlags.map { case (name, _, _) =>
      s""""${name.replace('-', '_')}":${args.contains(s"--$name")}""" }.mkString(",")
    // n_users = LABELED user count (post customer-join assembly; see
    // FraudPipeline.Result), not the raw feature-frame row count
    println(s"""{"metric":"fraud_pipeline","sf":"$sfDir","sec":$secs,$flags,""" +
      s""""n_users":${r.nUsers},"n_scored":${r.scored.count()},$fields}""")
    spark.stop()
  }

  private[graft] val usage: String =
    (Seq("""usage: sbt "runMain graft.PipelineRun [<sfDir>] [flags]"""",
      "  <sfDir>        scale-factor directory (default $SPARK_GRAFT_SF_DIR",
      "                 or /root/testdata/sf0.01)") ++
      tierFlags.map { case (name, help, _) => f"  ${"--" + name}%-15s$help" } ++
      Seq("  --help         print this and exit",
        "env: SPARK_GRAFT_CPUS (threads)",
        "prints one JSON metric line (accuracy, macro P/R/F1, AUC, AP)"))
      .mkString("\n")
}
