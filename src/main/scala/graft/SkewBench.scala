package graft

import org.apache.spark.sql.functions._

/** CC-strategy stress harness (SURVEY.md §7.18): generates synthetic
  * pathological graphs — a celebrity star, a max-diameter chain, and a
  * chained hub-of-hubs — and times hash-min + pointer-jumping
  * ([[ops.Components.connectedComponents]]) against large-star/small-star
  * contraction ([[ops.Components.connectedComponentsContract]]) on each,
  * verifying both emit identical labels. The measured crossover backs
  * the selection heuristic in `connectedComponentsAuto`.
  *
  * Usage: runMain graft.SkewBench [nEdges]   (default 200000)
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = GraftSession.fromEnv(defaultCores = 16)
    try {
      def time[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      // star: one hub, n spokes — extreme reduce-key skew, diameter 2
      val star = spark.range(1, n + 1L)
        .select(lit(0L).as("src"), col("id").as("dst"))
      // chain: diameter n — the round-count stress (log-d pointer jumps)
      val chain = spark.range(0, n.toLong)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      // chained hub-of-hubs: √n hubs of √n spokes, hubs linked in a
      // path — one giant component with both skew AND diameter
      val k = math.max(math.sqrt(n.toDouble).toLong, 2L)
      val hubChain = spark.range(0, n.toLong)
        .select((col("id").divide(k).cast("long") * k).as("src"), col("id").as("dst"))
        .filter(col("src") =!= col("dst"))
        .unionAll(spark.range(0, n / k)
          .select((col("id") * k).as("src"), ((col("id") + 1L) * k).as("dst"))
          .filter(col("dst") < n))

      for ((name, g) <- Seq("star" -> star, "chain" -> chain,
          "hub_chain" -> hubChain)) Release.scope {
        val e = Release.cache(g); val edges = e.count()
        val (hm, tHash) = time {
          val r = Release.cache(ops.Components.connectedComponents(e))
          r.count(); r
        }
        val (ct, tContract) = time {
          val r = Release.cache(ops.Components.connectedComponentsContract(e))
          r.count(); r
        }
        val diff = hm.join(ct, Seq("node"))
          .filter(hm("comp") =!= ct("comp")).count()
        require(diff == 0, s"$name: hash-min and contraction labels disagree on $diff nodes")
        val comps = hm.select(countDistinct(col("comp"))).head().getLong(0)
        println(f"""{"graph":"$name","edges":$edges,"components":$comps,""" +
          f""""hashmin_sec":$tHash%.2f,"contract_sec":$tContract%.2f}""")
      }
    } finally spark.stop()
  }
}
