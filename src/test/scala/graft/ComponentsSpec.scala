package graft

import scala.util.Random

import org.apache.spark.sql.functions._

/** Connected components vs a union-find reference. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("label propagation equals union-find on random graphs") {
    val rnd = new Random(13)
    val random = (1 to 120).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    // what the undirected pair builder folds: self-loops (9 is an
    // isolated self-loop node, 2's loop sits inside a component), both
    // directions of a pair, and repeated edges
    val folded = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 2L), (9L, 9L), (9L, 9L),
      (5L, 4L), (4L, 5L), (5L, 4L), (3L, 4L), (7L, 6L))
    for ((name, edges) <- Seq("random" -> random, "folded" -> folded)) {
      val expected = unionFind(edges)
      val got = ops.Components.connectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"$name: diff=${(got.toSet diff expected.toSet).take(5)}")
    }
  }

  test("deep chain converges via pointer jumping (O(log diameter))") {
    // a 200-node path has diameter 199: pure hash-min would need 199
    // rounds and fragment at the 30-round cap; pointer jumping must not
    val edges = (1L until 200L).map(i => (i, i + 1))
    val got = ops.Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.forall(_ == 1L), s"fragmented: ${got.values.toSet}")
  }

  test("q47 components: labels are component minima, sizes consistent") {
    val df = ops.Components.q47ConnectedComponents(spark, sf).cache()
    assert(df.filter(col("comp") > col("node")).count() == 0)
    val bad = df.groupBy("comp").agg(count(lit(1)).as("n"),
        max("comp_size").as("sz"))
      .filter(col("n") =!= col("sz")).count()
    assert(bad == 0)
    df.unpersist()
  }
}
