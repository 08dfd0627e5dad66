package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Randomized-reference tests: the distributed operators against naive
  * in-memory implementations on seeded random data. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("DotLong matches BigInt reference on 200 random vector pairs") {
    val rnd = new Random(42)
    val cases = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(80)
      val a = Array.fill(n)(rnd.nextLong() % 400000000L)
      val b = Array.fill(n)(rnd.nextLong() % 400000000L)
      (i.toLong, a, b)
    }
    val expected = cases.map { case (i, a, b) =>
      i -> a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum.toLong
    }.toMap
    val df = cases.toDF("id", "a", "b")
      .select(col("id"), functions.DotLong(col("a"), col("b")).as("d"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("undFrom equals the naive undirected pair set on random multigraphs") {
    // the dedup-first rewrite must produce EXACTLY the set the old
    // symmetrize-then-one-distinct shape produced: every directed dupe
    // collapsed, both directions present, self-loops and pre-existing
    // reverse pairs (shared node space) handled
    val rnd = new Random(7)
    for (_ <- 1 to 5) {
      val edges = Seq.fill(300)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val got = ops.Graph.undFrom(edges.toDF("src", "dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      assert(got == expected)
    }
  }

  test("undFrom: each directed pair once with NULL endpoints; a carried flag ORs both directions") {
    // canonical-pair dedup + map-side mirror on multigraphs with
    // self-loops, reverse duplicates and NULL endpoints: a NULL sorts
    // first, so (NULL, 5) stays apart from the self-loop (5, 5), and
    // (NULL, NULL) is one self-loop row
    val rnd = new Random(13)
    def node(): Option[Long] = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(12).toLong)
    def pair(r: org.apache.spark.sql.Row): (Option[Long], Option[Long]) =
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]))
    for (_ <- 1 to 5) {
      val edges = Seq.fill(300)((node(), node(), rnd.nextInt(5) == 0))
      val expected = edges.flatMap { case (a, b, _) => Seq((a, b), (b, a)) }.toSet
      val df = edges.toDF("src", "dst", "hot").withColumn("hot", col("hot").cast("int"))
      val got = ops.Graph.undFrom(df.select("src", "dst")).collect().map(pair)
      assert(got.length == expected.size)
      assert(got.toSet == expected)
      // the canonical pair per unordered pair, NULL first, flag OR-ed
      def canon(p: (Option[Long], Option[Long])) = p match {
        case (Some(a), Some(b)) if a > b => p.swap
        case (Some(_), None) => p.swap
        case _ => p
      }
      val flagged = ops.Graph.canonPairs(df, "hot").collect().map(r => pair(r) -> r.getInt(2))
      val hot = edges.groupBy { case (a, b, _) => canon((a, b)) }
        .map { case (p, rows) => p -> (if (rows.exists(_._3)) 1 else 0) }
      assert(flagged.length == hot.size)
      assert(flagged.toMap == hot)
    }
  }

  test("q90 fold: state bounds and bit-equality vs reference on random sequences") {
    // random activity magnitudes push the projection x to ±thousands —
    // exp overflows to Inf and the gates must saturate identically in
    // the engine and the reference; |h| < 1 and |c| ≤ 4 are invariants
    // of the gated algebra + clip for ANY input
    val rnd = new Random(42)
    val rows = for {
      u <- 1 to 30; s <- 1 to 2
      b <- 0 until (1 + rnd.nextInt(8))
    } yield (u.toLong, s, b.toLong,
      rnd.nextInt(1000000).toLong, (rnd.nextDouble() - 0.5) * 2e6)
    val slots = ops.Features.q87FeatureAttn.map {
      case ("n_events", _) => col("ne").as("n_events")
      case ("mean_val", _) => col("mv").as("mean_val")
      case (c, _) => lit(0.125).as(c)
    }
    val t = rows.toDF("user_id", "scale", "bucket", "ne", "mv")
      .select(col("user_id") +: col("scale") +: col("bucket") +: slots: _*)
    val got = ops.Features.q90FromH(t, ops.Features.q90Scalar).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(3), r.getDouble(4)))
      .toMap
    val grouped = rows.groupBy(r => (r._1, r._2))
    assert(got.keySet == grouped.keySet)
    for (((u, s), grp) <- grouped) {
      val (h, c) = Q90Ref.fold(grp.sortBy(_._3).map(r => Q90Ref.x(r._4, r._5)))
      val (hGot, cGot) = got((u, s))
      assert(hGot == h && cGot == c, s"group ($u,$s): got ($hGot,$cGot) want ($h,$c)")
      assert(math.abs(hGot) < 1.0 && math.abs(cGot) <= 4.0, s"bounds ($u,$s)")
    }
  }

  test("q58 cube equals the union of its four manual grouping sets") {
    val got = ops.Relational.q58CubeStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val base = Tables.events(spark, sf)
      .select(col("event_type"), hour(col("ts")).as("h"), col("value"))
    def agg(df: org.apache.spark.sql.RelationalGroupedDataset) =
      df.agg(count(lit(1)).as("n"), round(ops.Exact.dsum(col("value")), 4).as("tv"))
    val both = agg(base.groupBy(col("event_type"), col("h")))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
    val byType = agg(base.groupBy(col("event_type")))
      .collect().map(r => (r.getString(0), -1) -> (r.getLong(1), r.getDouble(2)))
    val byHour = agg(base.groupBy(col("h")))
      .collect().map(r => ("ALL", r.getInt(0)) -> (r.getLong(1), r.getDouble(2)))
    val total = agg(base.groupBy())
      .collect().map(r => ("ALL", -1) -> (r.getLong(0), r.getDouble(1)))
    val want = (both ++ byType ++ byHour ++ total).toMap
    assert(got == want)
  }

  test("Ranking two-pass prefix/rank is bit-identical to the naive global window") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new Random(11)
    // heavy ties + negatives + a constant block: the cases that stress
    // bucket-boundary and degenerate-width handling
    val rows = (1 to 2000).map { i =>
      val score = rnd.nextInt(40) match {
        case 0 => 0.0
        case _ => math.floor(rnd.nextGaussian() * 1000) / 100.0
      }
      (i.toLong, score, if (rnd.nextInt(10) == 0) 1 else 0)
    }
    val df = rows.toDF("vec_id", "score", "y")
    val bk = ops.Ranking.withRangeBucket(df, "score", descending = true, buckets = 37)
    val off = ops.Ranking.exclusiveOffsets(bk, Map(
      "rows" -> count(lit(1)), "pos" -> sum(col("y")).cast("long")))
    val w = Window.partitionBy(col("_b")).orderBy(col("score").desc, col("vec_id"))
    val got = bk
      .withColumn("k", row_number().over(w).cast("long") + off("rows"))
      .withColumn("cum", sum(col("y")).over(w) + off("pos"))
      .select(col("vec_id"), col("k"), col("cum"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val naiveW = Window.orderBy(col("score").desc, col("vec_id"))
    val want = df
      .withColumn("k", row_number().over(naiveW).cast("long"))
      .withColumn("cum", sum(col("y")).over(naiveW))
      .select(col("vec_id"), col("k"), col("cum"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("streaming sessionize matches naive reference on random event streams") {
    val rnd = new Random(7)
    val base = 1440L // stay above the initial watermark
    // 12 users, 150 events, gaps up to 90 min so sessions split randomly
    var minute = base
    val events = (1 to 150).map { i =>
      minute += rnd.nextInt(9)
      Event(i.toLong, new Timestamp(minute * 60000L),
        1L + rnd.nextInt(12), "call", rnd.nextInt(100).toDouble)
    }
    // naive reference: per user, sorted, 30-min gap splits
    val gapMs = 30 * 60 * 1000L
    val refSessions = events.groupBy(_.user_id).flatMap { case (u, evs) =>
      val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
      val sessions = sorted.foldLeft(List.empty[List[Event]]) {
        case (Nil, e) => List(List(e))
        case (cur :: done, e) =>
          if (e.ts.getTime - cur.head.ts.getTime <= gapMs) (e :: cur) :: done
          else List(e) :: cur :: done
      }
      sessions.map { s =>
        val es = s.reverse
        (u, es.head.ts.getTime, es.last.ts.getTime, es.length.toLong,
          es.map(_.value).sum)
      }
    }.toSet

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("prop_sess")
      .outputMode("append").start()
    // feed in event-time order (chunks), then a far-future flush so every
    // session times out and closes
    events.grouped(50).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    mem.addData(Event(9999L, new Timestamp((minute + 100000) * 60000L), 999L, "x", 0.0))
    q.processAllAvailable()
    mem.addData(Event(10000L, new Timestamp((minute + 200000) * 60000L), 999L, "x", 0.0))
    q.processAllAvailable()
    val got = spark.table("prop_sess").as[EventStream.SessionOut].collect()
      .filter(_.user_id != 999L)
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.total_value))
      .toSet
    q.stop()
    assert(got == refSessions, s"missing=${refSessions -- got} extra=${got -- refSessions}")
  }
}
