package graft

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A scope releases what its verbs materialized, and a finished query's
  * broadcast relations are freed at once, not whenever a GC lets the
  * ContextCleaner see them. */
class ReleaseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // Σ over 1000 ids of 2·(id mod 10) = 100 · 2 · 45
  private def joined: DataFrame = {
    val facts = spark.range(0, 1000).select(col("id"), (col("id") % 10).as("k"))
    val dim = spark.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v"))
    facts.join(broadcast(dim), "k")
  }

  private def relations(plan: SparkPlan): Seq[Broadcast[Any]] =
    collect(plan) { case s: BroadcastQueryStageExec => s.broadcast.relationFuture.get() }

  private def assertDestroyed(bs: Seq[Broadcast[Any]]): Unit = {
    assert(bs.nonEmpty, "the query must have broadcast its dimension")
    bs.foreach { b =>
      val e = intercept[SparkException](b.value)
      assert(e.getMessage.contains("destroyed"), e.getMessage)
    }
  }

  test("checkpoint returns a plan leaf and destroys its query's broadcast relations") {
    val src = joined
    val leaf = Release.checkpoint(src)
    assertDestroyed(relations(src.queryExecution.executedPlan))

    // the leaf reads the checkpoint blocks, never the freed relations
    for (_ <- 1 to 2)
      assert(leaf.agg(sum("v")).head().getLong(0) == 9000L)
    val leafPlan = leaf.queryExecution.executedPlan
    assert(collect(leafPlan) { case b: BroadcastExchangeLike => b }.isEmpty,
      leafPlan.treeString)
  }

  test("uncache drops the cache and destroys its cached plan's broadcast relations") {
    val cached = joined.cache()
    assert(cached.agg(sum("v")).head().getLong(0) == 9000L)
    val cachedPlan = cached.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }.head

    Release.uncache(cached)
    assert(cached.storageLevel == StorageLevel.NONE)
    assertDestroyed(relations(cachedPlan))
  }

  // each test caches its own plan (distinct literals), so no other
  // spec's session-lifetime cache can match it
  private def frame(tag: Int): DataFrame =
    spark.range(0, 100).select((col("id") * tag + tag).as("x"))

  test("a scope releases the caches registered inside it") {
    val (e0, p0) = (cacheEntries, persistedRdds)
    val total = Release.scope {
      val c = Release.cache(frame(11))
      assert(c.count() == 100)
      assert(cacheEntries == e0 + 1 && (persistedRdds -- p0).size == 1)
      c.agg(sum("x")).head().getLong(0)
    }
    assert(total == 11L * 4950 + 1100)
    assert(cacheEntries == e0 && persistedRdds == p0)
  }

  test("a plan cached before the scope survives the scope's own cache of it") {
    val pre = frame(12).cache()
    try {
      assert(pre.count() == 100)
      val e0 = cacheEntries
      Release.scope(assert(Release.cache(frame(12)).count() == 100))
      assert(cacheEntries == e0 && pre.storageLevel != StorageLevel.NONE)
    } finally Release.uncache(pre)
  }

  test("nested scopes release only their own entries") {
    val (e0, p0) = (cacheEntries, persistedRdds)
    Release.scope {
      val outer = Release.cache(frame(13))
      assert(outer.count() == 100)
      Release.scope {
        assert(Release.cache(frame(14)).count() == 100)
        assert(cacheEntries == e0 + 2)
      }
      assert(cacheEntries == e0 + 1 && outer.storageLevel != StorageLevel.NONE)
      assert(outer.count() == 100)
    }
    assert(cacheEntries == e0 && persistedRdds == p0)
  }

  test("a body that throws still releases") {
    val (e0, p0) = (cacheEntries, persistedRdds)
    intercept[IllegalStateException] {
      Release.scope {
        assert(Release.cache(frame(15)).count() == 100)
        Release.checkpoint(frame(16))
        assert(cacheEntries == e0 + 1 && (persistedRdds -- p0).size == 2)
        throw new IllegalStateException("body failed")
      }
    }
    assert(cacheEntries == e0 && persistedRdds == p0)
  }

  test("a scope keeps the checkpoint leaves of what it returns, and only those") {
    val p0 = persistedRdds
    var intermediate = Set.empty[Int]
    val (leaf, lazyOverRound) = Release.scope {
      val round = Release.checkpoint(frame(17).select((col("x") % 4).as("k")))
      intermediate = leafRddIds(Tuple1(round))
      val counted = Release.checkpoint(round.groupBy("k").count())
      // a lazy frame over a round's checkpoint keeps that leaf too
      val other = Release.checkpoint(frame(18))
      (counted, other.filter(col("x") > 0))
    }
    val kept = leafRddIds(Tuple2(leaf, lazyOverRound))
    assert(kept.size == 2 && (kept & intermediate).isEmpty)
    assert(persistedRdds -- p0 == kept)
    for (_ <- 1 to 2) {
      assert(leaf.agg(sum("count")).head().getLong(0) == 100L)
      assert(lazyOverRound.count() == 100L)
    }
  }

  test("src/main materializes only through Release") {
    // one owner: a raw cache, persist, checkpoint, unpersist or cache
    // wipe anywhere else would bypass the caller's scope
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val raw = """\.cache\(\)|\.persist\(|\.localCheckpoint\(|unpersist\(|clearCache\(""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Release.scala")
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if raw.findFirstIn(line).nonEmpty => s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
