package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Streaming + sessionization + multimodal specs (SURVEY.md §2.F). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // events offset a day from epoch: rows with event-time <= the initial
  // watermark (0) are dropped as late, so minute 0 must not mean t=0
  private val base = 1440L
  private def ev(id: Long, minute: Long, user: Long, v: Double) =
    Event(id, new Timestamp((base + minute) * 60000L), user, "call", v)

  test("windowedAgg over a memory stream emits finalized windows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.windowedAgg(mem.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    // two events in window [0,10), then watermark-advancing event at t=200min
    mem.addData(ev(1, 2, 1, 10.0), ev(2, 3, 1, 5.0))
    q.processAllAvailable()
    mem.addData(ev(3, 200, 1, 1.0))
    q.processAllAvailable()
    val out = spark.table("win_out").collect()
    q.stop()
    val w0 = out.find(_.getAs[Timestamp]("w_start").getTime == base * 60000L)
    assert(w0.isDefined, s"window [0,10) not finalized: ${out.mkString(";")}")
    assert(w0.get.getAs[Long]("n") == 2 && w0.get.getAs[Double]("total_value") == 15.0)
  }

  test("streaming sessionize closes sessions on 30-min event-time gaps") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // user 1: events at t=0,10 (one session), then t=100 (new session)
    mem.addData(ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0), ev(3, 100, 1, 3.0))
    q.processAllAvailable()
    // push watermark far ahead so the t=100 session times out too
    mem.addData(ev(4, 1000, 2, 1.0))
    q.processAllAvailable()
    mem.addData(ev(5, 3000, 2, 1.0))
    q.processAllAvailable()
    val out = spark.table("sess_out").as[EventStream.SessionOut].collect()
    q.stop()
    val u1 = out.filter(_.user_id == 1).sortBy(_.session_start)
    assert(u1.length == 2, s"expected 2 closed sessions, got ${u1.mkString(";")}")
    assert(u1(0).n_events == 2 && u1(0).total_value == 3.0)
    assert(u1(1).n_events == 1 && u1(1).session_start == (base + 100) * 60000L)
  }

  test("userWindowStats emits per-user weekly mean/var incrementally") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.userWindowStats(mem.toDF())
      .writeStream.format("memory").queryName("uws_out")
      .outputMode("append").start()
    mem.addData(ev(1, 0, 7, 10.0), ev(2, 10, 7, 20.0))
    q.processAllAvailable()
    mem.addData(ev(3, 60 * 24 * 14, 7, 1.0)) // two weeks later: closes w0
    q.processAllAvailable()
    val out = spark.table("uws_out").collect()
    q.stop()
    val w0 = out.find(r => r.getAs[Long]("user_id") == 7L && r.getAs[Long]("n") == 2L)
    assert(w0.isDefined, out.mkString(";"))
    assert(w0.get.getAs[Double]("mean_val") == 15.0)
    assert(w0.get.getAs[Double]("var_val") == 25.0)
  }

  test("sinkToLake lands finalized windows as readable parquet") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Files.createTempDirectory("graft_lake_out").toString
    val ckp = Files.createTempDirectory("graft_lake_ckp").toString
    mem.addData(ev(1, 2, 1, 10.0), ev(2, 3, 1, 5.0), ev(3, 200, 1, 1.0))
    val q = EventStream.sinkToLake(EventStream.windowedAgg(mem.toDF()), out, ckp)
    q.awaitTermination()
    // second batch: checkpoint resumes, no duplicates of window [0,10)
    mem.addData(ev(4, 500, 1, 2.0))
    val q2 = EventStream.sinkToLake(EventStream.windowedAgg(mem.toDF()), out, ckp)
    q2.awaitTermination()
    val back = spark.read.parquet(out)
    val w0 = back.filter(col("w_start") === new Timestamp(base * 60000L)).collect()
    assert(w0.length == 1, back.collect().mkString(";"))
    assert(w0.head.getAs[Long]("n") == 2)
  }

  test("dedupStream drops duplicate keys within the watermark horizon") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.dedupStream(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData(ev(1, 0, 1, 1.0), ev(1, 1, 1, 1.0), ev(2, 2, 1, 2.0))
    q.processAllAvailable()
    mem.addData(ev(1, 3, 1, 1.0)) // still within horizon: dropped
    q.processAllAvailable()
    val out = spark.table("dedup_out").collect()
    q.stop()
    assert(out.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L), out.mkString(";"))
  }

  test("sessionize recovers open-session state across a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Files.createTempDirectory("graft_sess_out").toString
    val ckp = Files.createTempDirectory("graft_sess_ckp").toString
    def start() = EventStream.sessionize(mem.toDS())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .outputMode("append").start()
    // batch 1: user 1 opens a session [0,10] — still OPEN in state
    val q1 = start()
    mem.addData(ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0))
    q1.processAllAvailable()
    q1.stop() // "crash" with an open session in the state store
    // arrives while the query is down: within the open session's gap,
    // so the RESTARTED query must merge it into the recovered state —
    // a lost state store would emit two sessions ([0,10] and [20,20])
    mem.addData(ev(3, 20, 1, 3.0))
    val q2 = start()
    q2.processAllAvailable()
    // watermark pushers: close user 1's session, then user 2's
    mem.addData(ev(4, 1000, 2, 1.0))
    q2.processAllAvailable()
    mem.addData(ev(5, 3000, 2, 1.0))
    q2.processAllAvailable()
    q2.stop()
    val sessions = spark.read.parquet(out).as[EventStream.SessionOut].collect()
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length == 1,
      s"expected ONE merged session across the restart, got ${u1.mkString(";")}")
    assert(u1.head.session_start == base * 60000L &&
      u1.head.session_end == (base + 20) * 60000L &&
      u1.head.n_events == 3 && u1.head.total_value == 6.0, u1.head.toString)
    // and nothing duplicated: user 2's closed session landed exactly once
    val u2 = sessions.filter(_.user_id == 2)
    assert(u2.length == 1 && u2.head.n_events == 1, u2.mkString(";"))
  }

  test("sketchDedup's seen-signature state survives a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventStream.Doc]
    val out = Files.createTempDirectory("graft_sketch_out").toString
    val ckp = Files.createTempDirectory("graft_sketch_ckp").toString
    def doc(id: Long, minute: Long, text: String) =
      EventStream.Doc(id, new Timestamp((base + minute) * 60000L), text, "web")
    def start() = EventStream.sketchDedupStream(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .outputMode("append").start()
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textC = "an entirely different document with its own distinct shingle set"
    val q1 = start()
    mem.addData(doc(1, 0, textA))
    q1.processAllAvailable()
    q1.stop() // "crash" with doc 1's signature in the dedup state store
    // a shingle-set duplicate of doc 1 and one fresh doc arrive while
    // the query is down; the restart must suppress the duplicate from
    // RECOVERED state — a lost store would emit doc 2 as new
    mem.addData(doc(2, 5, textA), doc(3, 6, textC))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L),
      s"expected the post-restart duplicate suppressed, got $ids")
  }

  test("sessionize tolerates out-of-order events within the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("ooo_sess")
      .outputMode("append").start()
    // batch 1: in-order events at t=30,40
    mem.addData(ev(1, 30, 5, 1.0), ev(2, 40, 5, 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event at t=20 (within 1h watermark) joins the same
    // session; `last` must stay 40, not shrink to 20
    mem.addData(ev(3, 20, 5, 1.0))
    q.processAllAvailable()
    // close it via timeout
    mem.addData(ev(4, 3000, 6, 1.0))
    q.processAllAvailable()
    mem.addData(ev(5, 6000, 6, 1.0))
    q.processAllAvailable()
    val out = spark.table("ooo_sess").as[EventStream.SessionOut].collect()
      .filter(_.user_id == 5L)
    q.stop()
    assert(out.length == 1, out.mkString(";"))
    assert(out.head.session_start == (base + 20) * 60000L)
    assert(out.head.session_end == (base + 40) * 60000L)
    assert(out.head.n_events == 3)
  }

  test("sessionize merges stragglers that fall within one gap of each other") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("straggler_sess")
      .outputMode("append").start()
    // batch 1: an open session ahead at t=152 (watermark = 152-60 = 92,
    // so t>=100 events below are still within the watermark, not late)
    mem.addData(ev(1, 152, 9, 1.0))
    q.processAllAvailable()
    // batch 2: TWO stragglers at t=100 and t=120 — both older than the
    // open session by > gap (152-120=32 > 30), but within the gap of
    // EACH OTHER: batch q42 puts them in ONE session, so must we (not
    // two singletons)
    mem.addData(ev(3, 100, 9, 2.0), ev(4, 120, 9, 3.0))
    q.processAllAvailable()
    val out = spark.table("straggler_sess").as[EventStream.SessionOut].collect()
      .filter(_.user_id == 9L)
    q.stop()
    assert(out.length == 1, out.mkString(";"))
    assert(out.head.session_start == (base + 100) * 60000L)
    assert(out.head.session_end == (base + 120) * 60000L)
    assert(out.head.n_events == 2 && out.head.total_value == 5.0)
  }

  test("stream-stream interval join pairs each event with its preceding hour") {
    implicit val sq = spark.sqlContext
    val memA = MemoryStream[Event]
    val memB = MemoryStream[Event]
    val q = EventStream.intervalJoin(memA.toDF(), memB.toDF())
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    // b-events at t=10 and t=100; a-event at t=50 joins only the one at
    // t=10 (t=100 is in its future), a-event at t=130 joins only t=100
    // (t=10 is beyond the 1h window)
    memB.addData(ev(101, 10, 3, 1.0), ev(102, 100, 3, 2.0))
    memA.addData(ev(1, 50, 3, 10.0), ev(2, 130, 3, 20.0))
    q.processAllAvailable()
    val out = spark.table("ij_out").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("r_event_id"))).toSet
    q.stop()
    assert(out == Set((1L, 101L), (2L, 102L)), out.toString)
  }

  test("q42 batch sessionize: session bounds ordered, events conserved") {
    val df = ops.Sessions.q42Sessionize(spark, sf)
    assert(df.filter(col("end_sec") < col("start_sec")).count() == 0)
    assert(df.agg(sum("n_events")).head().getLong(0) ==
      Tables.events(spark, sf).count())
  }

  test("q41 multimodal metadata: lengths and hashes line up") {
    val df = ops.Multimodal.q41MultimodalMeta(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(df.count() == docs.count())
    val joined = df.join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text"))).count()
    assert(joined == 0)
  }

  test("corpusGateStream keeps exactly the batch-gated docs, drops stream dups") {
    implicit val sq = spark.sqlContext
    val good = (("the cat sat on mat " * 12).trim.split(" ").zipWithIndex
      .map { case (w, i) => if (i % 6 == 5) s"$w$i" else w }).mkString(" ")
    def doc(id: Long, minute: Long, text: String) =
      EventStream.Doc(id, new Timestamp((base + minute) * 60000L), text, "web")
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.corpusGateStream(mem.toDF())
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    mem.addData(
      doc(1, 0, good),                        // kept: en, high quality
      doc(2, 1, good),                        // dropped: exact duplicate of 1
      doc(3, 2, "der die und nicht der die"), // dropped: German
      doc(4, 3, "a a a a a"))                 // dropped: low quality
    q.processAllAvailable()
    val out = spark.table("gate_out").collect()
    q.stop()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L), out.mkString(";"))
    assert(out.head.getAs[Double]("quality") >= 0.5)
  }

  test("decontaminateStream flags exactly the docs sharing an 8-gram with the benchmark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val leak = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val benchGrams = Seq(leak).toDF("g8")
    def doc(id: Long, minute: Long, text: String) =
      EventStream.Doc(id, new Timestamp((base + minute) * 60000L), text, "web")
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.decontaminateStream(mem.toDF(), benchGrams)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    mem.addData(
      doc(1, 0, s"intro words then $leak and a tail"), // contaminated
      doc(2, 1, "totally original content with eight distinct words here"),
      doc(3, 2, s"$leak"),                             // contaminated, exact
      doc(4, 3, "short doc"))                          // too short to gram
    q.processAllAvailable()
    val out = spark.table("decon_out").collect()
    q.stop()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 3L),
      out.mkString(";"))
  }

  test("lmScoreStream: streamed scores are bit-identical to batch q68 per doc") {
    implicit val sq = spark.sqlContext
    val vocab = ops.Corpus.lmVocab(spark, sf)
    // stream EVERY document of the sf corpus through the scorer
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => EventStream.Doc(r.getLong(0),
        new Timestamp(base * 60000L), r.getString(1), r.getString(2)))
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.lmScoreStream(mem.toDF(), vocab)
      .writeStream.format("memory").queryName("lm_out")
      .outputMode("append").start()
    mem.addData(docs.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("lm_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("avg_logp"), r.getAs[Double]("min_logp")))).toMap
    q.stop()
    val batch = ops.Corpus.q68LmQuality(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("avg_logp"), r.getAs[Double]("min_logp")))).toMap
    assert(streamed.keySet == batch.keySet)
    // bit-identical, not approximately equal: both paths accumulate the
    // same 6dp-quantized log-probs exactly (decimal vs scaled long)
    streamed.foreach { case (id, s) =>
      assert(s == batch(id), s"doc $id: stream $s != batch ${batch(id)}")
    }
    // an OOV word scores the 1/t floor on the stream path too
    val mem2 = MemoryStream[EventStream.Doc]
    val q2 = EventStream.lmScoreStream(mem2.toDF(), vocab)
      .writeStream.format("memory").queryName("lm_oov_out")
      .outputMode("append").start()
    mem2.addData(EventStream.Doc(999L,
      new Timestamp(base * 60000L), "zzzz-not-in-vocab", "web"))
    q2.processAllAvailable()
    val oovRow = spark.table("lm_oov_out").collect().head
    q2.stop()
    val t = vocab.total.toDouble
    val kOov = math.floor(StrictMath.log(1.0 / t) * 1e6 + 0.5).toLong
    assert(oovRow.getAs[Long]("n_oov") == 1L)
    assert(oovRow.getAs[Double]("min_logp") == kOov / 1e6)
  }

  test("lmVocab cap: top-K head by (count, word), full-vocab total, graceful capped scoring") {
    val full = ops.Corpus.lmVocab(spark, sf)
    val k = 5
    val capped = ops.Corpus.lmVocab(spark, sf, topK = k)
    // gate data stays under the default cap, so the default path is the
    // uncapped map — the bit-identity test above runs against it
    assert(full.counts.size > k)
    assert(capped.counts.size == k)
    // the capped head is exactly the deterministic top-k of the full map
    val expectedHead = full.counts.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(k).toMap
    assert(capped.counts == expectedHead)
    // total stays FULL-vocab on both: capped-in words keep their exact
    // batch probability; capped-out words take batch's own OOV floor
    assert(capped.total == full.total)
    assert(capped.total == full.counts.values.sum)
    // a capped-OUT word scores the OOV floor through the stream path
    implicit val sq = spark.sqlContext
    val outWord = (full.counts.keySet -- capped.counts.keySet).min
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.lmScoreStream(mem.toDF(), capped)
      .writeStream.format("memory").queryName("lm_cap_out")
      .outputMode("append").start()
    mem.addData(EventStream.Doc(1000L,
      new Timestamp(base * 60000L), outWord, "web"))
    q.processAllAvailable()
    val row = spark.table("lm_cap_out").collect().head
    q.stop()
    val kOov = math.floor(StrictMath.log(1.0 / capped.total) * 1e6 + 0.5).toLong
    assert(row.getAs[Long]("n_oov") == 1L)
    assert(row.getAs[Double]("min_logp") == kOov / 1e6)
  }

  test("ewmaBurstStream recovers its buffer and totals across a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val ckp = Files.createTempDirectory("graft_burst_ckp").toString
    // Update-mode output needs a fault-tolerant sink for checkpoint
    // recovery (memory sink refuses): foreachBatch into a buffer —
    // STATE recovery rides the shared checkpoint, not the sink
    val got = new scala.collection.concurrent.TrieMap[(Long, Long), (Double, Double)]
    def start() = EventStream.ewmaBurstStream(mem.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStream.BurstOut], _: Long) =>
        df.collect().foreach(b =>
          got.put((b.user_id, b.n_events), (b.mean_val, b.ewma16)))
      }
      .option("checkpointLocation", ckp)
      .outputMode("update").start()
    // batch 1: two events into state, then "crash"
    val q1 = start()
    mem.addData(ev(1, 0, 1, 2.0), ev(2, 10, 1, 4.0))
    q1.processAllAvailable()
    q1.stop()
    // arrives while down: the restart must fold it into the RECOVERED
    // buffer/totals — a lost state store would read n_events = 1
    mem.addData(ev(3, 20, 1, 6.0))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val rows = got.toSeq.map { case ((_, n), (m, e)) => (n, m, e) }
    assert(rows.nonEmpty, "restarted query emitted nothing")
    val last = rows.maxBy(_._1)
    assert(last._1 == 3L, s"state lost across restart: $rows")
    assert(last._2 == 4.0, s"mean over all three events: $last")
    // buffer order recovered: newest (6.0) carries weight 2^15
    val expEwma = math.floor(
      (600L * 32768L + 400L * 16384L + 200L * 8192L).toDouble /
        (100.0 * (32768L + 16384L + 8192L)) * 1e6 + 0.5) / 1e6
    assert(last._3 == expEwma, s"ewma $last vs $expEwma")
  }

  // ---------------------------------------------------------------
  // Crash-recovery proofs, one per STATE SHAPE (same stop/deliver/
  // restart pattern as the sessionize/sketchDedup/ewmaBurst trio):
  // windowed agg counts (windowedAgg — userWindowStats and
  // trendingTerms carry the identical window-keyed agg state),
  // dropDuplicates seen-keys (dedupStream — corpusGateStream and
  // decontaminateStream share it; sketchDedup already proven), HLL
  // register maxima (hllDistinctStream — two chained stateful aggs),
  // flatMapGroupsWithState running sums (ivfUpdateStream), and
  // stream-stream join buffers (intervalJoin).
  // ---------------------------------------------------------------

  test("windowedAgg's open-window counts survive a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Files.createTempDirectory("graft_wagg_out").toString
    val ckp = Files.createTempDirectory("graft_wagg_ckp").toString
    def start() = EventStream.windowedAgg(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .outputMode("append").start()
    val q1 = start()
    mem.addData(ev(1, 2, 1, 10.0), ev(2, 3, 1, 5.0))
    q1.processAllAvailable()
    q1.stop() // "crash" with window [0,10) OPEN in the state store
    // lands in the SAME open window while the query is down
    mem.addData(ev(3, 5, 1, 7.0))
    val q2 = start()
    q2.processAllAvailable()
    mem.addData(ev(4, 300, 1, 1.0)) // watermark pusher finalizes [0,10)
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out).collect()
      .filter(_.getAs[Timestamp]("w_start").getTime == base * 60000L)
    // a lost store would finalize [0,10) with only the post-restart event
    assert(rows.length == 1, rows.mkString(";"))
    assert(rows.head.getAs[Long]("n") == 3 &&
      rows.head.getAs[Double]("total_value") == 22.0, rows.head.toString)
  }

  test("dedupStream's seen-key state survives a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Files.createTempDirectory("graft_dedup_out").toString
    val ckp = Files.createTempDirectory("graft_dedup_ckp").toString
    def start() = EventStream.dedupStream(mem.toDF(), Seq("event_id"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .outputMode("append").start()
    val q1 = start()
    mem.addData(ev(1, 0, 1, 1.0))
    q1.processAllAvailable()
    q1.stop() // "crash" with event 1 in the seen-key store
    // while down: a duplicate of the pre-crash key plus a fresh key —
    // the restart must suppress the duplicate from RECOVERED state
    mem.addData(ev(1, 3, 1, 9.0), ev(2, 4, 1, 2.0))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).sorted.toSeq
    assert(got == Seq(1L -> 1.0, 2L -> 2.0),
      s"expected the post-restart duplicate suppressed, got $got")
  }

  test("hllDistinctStream's register maxima survive a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Files.createTempDirectory("graft_hll_out").toString
    val ckp = Files.createTempDirectory("graft_hll_ckp").toString
    def start() = EventStream.hllDistinctStream(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .outputMode("append").start()
    // TWO windows, BOTH split by the crash: [0,10) gets users 1-20
    // pre-crash + 21-40 post-restart, [10,20) gets 41-50 pre + 51-70
    // post — per-window register maxima must recover INDEPENDENTLY
    // (one shared/cross-keyed store would merge them and both
    // estimates would read the 70-user sketch). Verified red by
    // mutation: dropping the recovered registers (fresh checkpoint dir
    // on restart) reads both windows at their post-restart half only.
    val q1 = start()
    mem.addData((1 to 20).map(u => ev(u.toLong, 2, u.toLong, 1.0)) ++
      (41 to 50).map(u => ev(u.toLong, 12, u.toLong, 1.0)): _*)
    q1.processAllAvailable()
    q1.stop() // "crash" with half of EACH window's registers in state
    // both windows' OTHER halves arrive while the query is down
    mem.addData((21 to 40).map(u => ev(u.toLong, 7, u.toLong, 1.0)) ++
      (51 to 70).map(u => ev(u.toLong, 17, u.toLong, 1.0)): _*)
    val q2 = start()
    q2.processAllAvailable()
    mem.addData(ev(9999, 300, 1, 1.0)) // watermark pusher finalizes both
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Timestamp]("w_start").getTime - base * 60000L) / 60000L ->
        r.getAs[Double]("hll_est")).toMap
    assert(rows.keySet.intersect(Set(0L, 10L)) == Set(0L, 10L), rows.toString)
    // each estimate must be the BATCH sketch over ITS window's users —
    // a lost register store would estimate only the post-restart half
    import spark.implicits._
    val batch = ops.Relational.hllDistinct(
        ((1 to 40).map(u => ("w0", u.toString)) ++
          (41 to 70).map(u => ("w10", u.toString))).toDF("g", "x"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("hll_est")).toMap
    assert(rows(0L) == batch("w0"), s"window [0,10): ${rows(0L)} vs ${batch("w0")}")
    assert(rows(10L) == batch("w10"), s"window [10,20): ${rows(10L)} vs ${batch("w10")}")
  }

  test("ivfUpdateStream's running centroid state survives a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val centroids = Array(Array(0f, 0f), Array(10f, 10f))
    def emb(id: Long, x: Float, y: Float) =
      EventStream.Emb(id, new Timestamp(base * 60000L + id), Array(x, y))
    val mem = MemoryStream[EventStream.Emb]
    val out = Files.createTempDirectory("graft_ivf_out").toString
    val ckp = Files.createTempDirectory("graft_ivf_ckp").toString
    // the memory sink is not fault-tolerant (refuses checkpoint
    // recovery); foreachBatch→parquet is, and keeps Update semantics
    def start() = EventStream.ivfUpdateStream(mem.toDS(), centroids)
      .writeStream
      .option("checkpointLocation", ckp)
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStream.CentroidOut],
          _: Long) =>
        df.write.mode("append").parquet(out)
      }.start()
    val q1 = start()
    mem.addData(emb(1, 1f, 1f), emb(2, 9f, 9f))
    q1.processAllAvailable()
    q1.stop() // "crash" with cell 0 = (sum (1,1), n 1) in state
    mem.addData(emb(3, 3f, 3f)) // cell 0 again, while the query is down
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // the post-restart emission must fold the PRE-crash point into the
    // running mean: n=2, centroid (2,2) — a lost store would emit n=1,
    // centroid (3,3)
    val cell0 = spark.read.parquet(out).as[EventStream.CentroidOut].collect()
      .filter(_.cell == 0).sortBy(_.n)
    assert(cell0.map(_.n).toSeq == Seq(1L, 2L), cell0.mkString(";"))
    assert(cell0.last.centroid.toSeq == Seq(2.0, 2.0), cell0.last.toString)
  }

  test("intervalJoin's buffered side state survives a stop/restart from checkpoint") {
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val memA = MemoryStream[Event]
    val memB = MemoryStream[Event]
    val out = Files.createTempDirectory("graft_ij_out").toString
    val ckp = Files.createTempDirectory("graft_ij_ckp").toString
    def start() = EventStream.intervalJoin(memA.toDF(), memB.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp)
      .outputMode("append").start()
    val q1 = start()
    memB.addData(ev(101, 10, 3, 1.0)) // buffered in the right-side join state
    q1.processAllAvailable()
    q1.stop() // "crash" with the unmatched b-event buffered
    // its a-side match arrives while the query is down
    memA.addData(ev(1, 50, 3, 10.0))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val pairs = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("r_event_id"))).toSet
    // a lost buffer would never pair them
    assert(pairs == Set((1L, 101L)), pairs.toString)
  }

  test("hllDistinctStream: finalized window estimates equal the batch sketch") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.hllDistinctStream(mem.toDF())
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("append").start()
    // window [0,10): users 1..40 (some repeated events — the register
    // max is dedup-insensitive); window [10,20): users 100..109
    val w0 = (1 to 40).map(u => ev(u.toLong, 2, u.toLong, 1.0)) ++
      (1 to 40).map(u => ev(1000 + u.toLong, 7, u.toLong, 1.0))
    val w1 = (0 to 9).map(i => ev(2000 + i.toLong, 12, 100L + i, 1.0))
    mem.addData(w0 ++ w1: _*)
    q.processAllAvailable()
    mem.addData(ev(9999, 300, 1, 1.0)) // advance the watermark far past both
    q.processAllAvailable()
    val streamed = spark.table("hll_out").collect()
      .map(r => r.getAs[Timestamp]("w_start").getTime ->
        r.getAs[Double]("hll_est")).toMap
    q.stop()
    assert(streamed.size == 2, s"expected 2 finalized windows: $streamed")
    // batch reference: the SAME sketch core over (window-start, user)
    import spark.implicits._
    val batch = ops.Relational.hllDistinct(
        ((1 to 40).map(u => ("w0", u.toString)) ++
          (0 to 9).map(i => ("w1", (100 + i).toString))).toDF("g", "x"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("hll_est")).toMap
    assert(streamed(base * 60000L) == batch("w0"),
      s"w0 stream ${streamed(base * 60000L)} != batch ${batch("w0")}")
    assert(streamed((base + 10) * 60000L) == batch("w1"))
  }

  test("ewmaBurstStream orders same-millisecond events by true microsecond ts") {
    implicit val sq = spark.sqlContext
    // two events in the SAME millisecond, µs apart, arriving in reverse:
    // the recency buffer must rank the µs-later event first (weight 2¹⁵),
    // matching batch q77's full-TimestampType ordering — a ms-truncated
    // key would fall back to event_id and swap the weights
    val ms = (base + 5) * 60000L
    val early = new Timestamp(ms); early.setNanos(100000)   // +100 µs
    val late = new Timestamp(ms); late.setNanos(900000)     // +900 µs
    // event_id ORDER OPPOSES µs order: id 2 is the µs-earlier event
    val e1 = Event(1L, late, 77L, "call", 8.0)
    val e2 = Event(2L, early, 77L, "call", 2.0)
    val mem = MemoryStream[Event]
    val q = EventStream.ewmaBurstStream(mem.toDS())
      .writeStream.format("memory").queryName("burst_us_out")
      .outputMode("update").start()
    mem.addData(e2, e1)
    q.processAllAvailable()
    val rows = spark.table("burst_us_out").as[EventStream.BurstOut].collect()
    q.stop()
    val last = rows.maxBy(_.n_events)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // µs-later event (8.00) carries 2¹⁵, µs-earlier (2.00) carries 2¹⁴
    val expected = r6((800L * 32768L + 200L * 16384L).toDouble /
      (100.0 * (32768L + 16384L)))
    assert(last.ewma16 == expected,
      s"µs ordering lost: ewma ${last.ewma16} != $expected")
  }

  test("ewmaBurstStream: kill-and-restart rows stay bit-identical to batch q77") {
    // The transitions-style combined proof: real sf events, adversarial
    // split, a CRASH between the halves, and the final per-user rows
    // must equal batch q77 bit-for-bit. Batch identity after the
    // restart pins every BurstState component at once — a dropped
    // buffer entry breaks ewma16, a lost count/cents-sum breaks
    // mean_val, a ms-truncated sort key breaks same-ms ordering —
    // verified red by mutation (a restart that ignores recovered state
    // fails this case on every component).
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val all = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    // second half first: most-recent events often land PRE-crash, so
    // the recovered buffer (not fresh arrivals) must carry them
    val (b2, b1) = all.splitAt(all.length / 2)
    val mem = MemoryStream[Event]
    val ckp = Files.createTempDirectory("graft_burst_b_ckp").toString
    val got = new scala.collection.concurrent.TrieMap[(Long, Long),
      (Double, Double, Option[Double])]
    def start() = EventStream.ewmaBurstStream(mem.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStream.BurstOut], _: Long) =>
        df.collect().foreach(b =>
          got.put((b.user_id, b.n_events), (b.mean_val, b.ewma16, b.burst)))
      }
      .option("checkpointLocation", ckp)
      .outputMode("update").start()
    val q1 = start()
    mem.addData(b1.toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop() // crash with every user's buffer/totals mid-stream
    mem.addData(b2.toIndexedSeq: _*) // arrives while the query is down
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val streamed = got.toSeq.map { case ((u, n), (m, e, b)) => (u, (n, m, e, b)) }
      .groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._2._1)._2 }
    val batch = ops.Features.q77EwmaBurst(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, s) =>
      assert(s == batch(u), s"user $u: stream $s != batch ${batch(u)}")
    }
  }

  test("ewmaBurstStream: final per-user rows are bit-identical to batch q77") {
    implicit val sq = spark.sqlContext
    // stream the WHOLE sf events table, split across two unordered
    // batches — the state path must reproduce batch q77 exactly
    val all = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    // adversarial split: second half first, so most-recent events often
    // arrive in the FIRST batch and the buffer must not evict them
    val (b2, b1) = all.splitAt(all.length / 2)
    val mem = MemoryStream[Event]
    val q = EventStream.ewmaBurstStream(mem.toDS())
      .writeStream.format("memory").queryName("burst_out")
      .outputMode("update").start()
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    // memory sink in update mode appends re-emissions; keep the LAST row
    // per user (the current burst the fraud console would show)
    val streamed = spark.table("burst_out").collect()
      .map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("n_events"), r.getAs[Double]("mean_val"),
          r.getAs[Double]("ewma16"), Option(r.getAs[java.lang.Double]("burst")).map(_.doubleValue))))
      .groupBy(_._1).map { case (u, rows) =>
        u -> rows.maxBy(_._2._1)._2 // n_events grows monotonically
      }
    q.stop()
    val batch = ops.Features.q77EwmaBurst(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, s) =>
      assert(s == batch(u), s"user $u: stream $s != batch ${batch(u)}")
    }
  }

  /** Shared driver for the two transitionsStream twins: stream the sf
    * events as the given batches, return (final global (cur,nxt)→n from
    * the last snapshot per user, final-batch rows for state probes). */
  private def runTransitions(batches: Seq[Seq[Event]], lateness: String,
      name: String): (Map[(String, String), Long], Array[org.apache.spark.sql.Row]) = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.transitionsStream(mem.toDS(), lateness)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    val rows = spark.table(name).collect()
    q.stop()
    // latest complete snapshot per user = rows at the user's max n_total
    val latest = rows.groupBy(_.getAs[Long]("user_id")).values.flatMap { rs =>
      val mx = rs.map(_.getAs[Long]("n_total")).max
      rs.filter(_.getAs[Long]("n_total") == mx)
    }.toSeq
    // a batch with no ACCEPTED rows for a user (all-late, or a timeout
    // wake-up) re-emits an identical snapshot at the same n_total —
    // dedupe the tuples so such repeats don't double-count pairs
    val agg = latest
      .filter(_.getAs[Long]("n") > 0)
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("cur"),
        r.getAs[String]("nxt"), r.getAs[Long]("n")))
      .distinct
      .groupBy(t => (t._2, t._3))
      .map { case (k, rs) => k -> rs.map(_._4).sum }
    (agg, latest.toArray)
  }

  private def batchQ79: Map[(String, String), (Long, Double)] =
    ops.Features.q79Transitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap

  test("transitionsStream: arbitrary-order split aggregates bit-identically to batch q79") {
    val all = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    // adversarial: second half of the timeline arrives FIRST, so almost
    // every batch-2 event splits already-observed transitions and the
    // tombstone/rewrite path runs for real
    val (b2, b1) = all.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(all.length / 2)
    val (agg, _) = runTransitions(Seq(b1.toSeq, b2.toSeq), "36500 days", "trans_out1")
    val batch = batchQ79
    assert(agg.keySet == batch.keySet)
    agg.foreach { case (k, n) => assert(n == batch(k)._1, s"pair $k") }
    // and the derived probabilities match batch's exactly
    val tot = agg.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    agg.foreach { case (k @ (c, _), n) =>
      val p = math.floor(n * 1.0 / tot(c) * 1e6 + 0.5) / 1e6
      assert(p == batch(k)._2, s"p $k")
    }
  }

  test("transitionsStream: watermark finalization bounds the buffer, same totals") {
    val all = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    // time-ordered 60/40 split with a tight 1h horizon: after batch 2's
    // watermark advance, batch-1 events age out of the live buffer
    val (b1, b2) = all.splitAt(all.length * 6 / 10)
    val (agg, latest) = runTransitions(Seq(b1.toSeq, b2.toSeq), "1 hours", "trans_out2")
    val batch = batchQ79
    assert(agg.keySet == batch.keySet)
    agg.foreach { case (k, n) => assert(n == batch(k)._1, s"pair $k") }
    // non-vacuous: some user's final snapshot was emitted with fewer
    // buffered events than its total — i.e. finalization really folded
    // history out of the live buffer
    assert(latest.exists(r => r.getAs[Long]("n_total") >= 2 &&
      r.getAs[Int]("n_buffered") < r.getAs[Long]("n_total")),
      "no snapshot shows a bounded buffer — finalization never ran")
  }

  test("transitionsStream: a beyond-SLA arrival is dropped, not merged into history") {
    // flatMapGroupsWithState under NoTimeout does NOT filter late rows
    // itself (Spark applies its late filter only under EventTimeTimeout),
    // so the operator must drop them explicitly: un-dropped, c@h1 below
    // would land among the FINALIZED events after its neighbors already
    // folded and record a spurious reversed-time (a→c) transition that
    // poisons every later snapshot of the user
    val t0 = 1700000000000L
    def ev(id: Long, hours: Double, tp: String) =
      Event(id, new Timestamp(t0 + (hours * 3600000L).toLong), 1L, tp, 0.0)
    val b1 = Seq(ev(1, 0.0, "a"), ev(2, 10.0, "b"))
    // after batch 1 the 1h-SLA watermark sits at h9: c@h1 is 8h beyond
    // it (must drop); d@h11 is a legit new arrival (must chain)
    val b2 = Seq(ev(3, 1.0, "c"), ev(4, 11.0, "d"))
    val (agg, latest) = runTransitions(Seq(b1, b2), "1 hours", "trans_late")
    assert(agg == Map(("a", "b") -> 1L, ("b", "d") -> 1L),
      s"beyond-SLA event must be dropped, got $agg")
    // the dropped row also never counts toward the user's event total
    assert(latest.forall(_.getAs[Long]("n_total") == 3L), latest.mkString(","))
  }

  test("transitionsStream: an idle user's buffer finalizes via event-time timeout") {
    // user 1 bursts then goes silent; user 2's far-future events push
    // the watermark past user 1's buffer. The event-time timeout must
    // wake user 1 WITHOUT new data and fold its buffer down (snapshot
    // with n_buffered = 0) — otherwise an idle user pins a horizon's
    // worth of events in the state store forever
    val t0 = 1700000000000L
    def ev(id: Long, userId: Long, hours: Double, tp: String) =
      Event(id, new Timestamp(t0 + (hours * 3600000L).toLong), userId, tp, 0.0)
    val b1 = Seq(ev(1, 1L, 0.0, "a"), ev(2, 1L, 1.0, "b"))
    val b2 = Seq(ev(3, 2L, 100.0, "x")) // watermark → h99 after this batch
    val b3 = Seq(ev(4, 2L, 101.0, "y")) // next batch: user 1's timeout fires
    val (agg, latest) = runTransitions(Seq(b1, b2, b3), "1 hours", "trans_idle")
    assert(agg == Map(("a", "b") -> 1L, ("x", "y") -> 1L), agg.toString)
    // the timeout snapshot: user 1 at its final n_total with ZERO
    // buffered events — the buffer really folded while the user was idle
    assert(latest.exists(r => r.getAs[Long]("user_id") == 1L &&
      r.getAs[Long]("n_total") == 2L && r.getAs[Int]("n_buffered") == 0),
      latest.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_total"),
        r.getAs[Int]("n_buffered"))).mkString(","))
  }

  test("transitionsStream's counts+bridge+buffer state survives a stop/restart from checkpoint") {
    // The transitions twin's state has THREE recoverable parts — the
    // finalized bridge event, the cumulative pair counts, and the
    // in-horizon buffer — and this exercises all of them through one
    // checkpoint restart (same stop/deliver/restart pattern as the
    // other six recovery proofs; a TransState schema mutation makes
    // the restart throw on state decode and this case go red).
    import java.nio.file.Files
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000L
    def tev(id: Long, hours: Double, tp: String) =
      Event(id, new Timestamp(t0 + (hours * 3600000L).toLong), 1L, tp, 0.0)
    val mem = MemoryStream[Event]
    val ckp = Files.createTempDirectory("graft_trans_ckp").toString
    // Update-mode recovery needs a fault-tolerant sink (memory sink
    // refuses): foreachBatch into a buffer, keyed so snapshots at the
    // same n_total overwrite instead of duplicating
    val got = new scala.collection.concurrent.TrieMap[(Long, String, String), Long]
    def start() = EventStream.transitionsStream(mem.toDS(), "5 hours")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStream.TransitionOut], _: Long) =>
        df.collect().foreach(o => got.put((o.n_total, o.cur, o.nxt), o.n))
      }
      .option("checkpointLocation", ckp)
      .outputMode("update").start()
    // batch 1: 'a' at h0 and 'd' at h10 → watermark h5 after the batch:
    // 'a' finalizes into the BRIDGE, 'd' stays in the BUFFER
    val q1 = start()
    mem.addData(tev(1, 0.0, "a"), tev(2, 10.0, "d"))
    q1.processAllAvailable(); q1.stop()
    // arrives while the query is DOWN: h8 'b', inside the SLA — it must
    // split the recovered a→(d) chain into a→b, b→d
    mem.addData(tev(3, 8.0, "b"))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val fin = got.collect { case ((3L, cur, nxt), n) => (cur, nxt) -> n }.toMap
    // a lost bridge reads {b→d}; a lost buffer reads {a→b}; a lost
    // total never reaches n_total=3 at all. The a→d → 0 row is the
    // split pair's TOMBSTONE: emitting it requires the recovered
    // emitted-keys set (the fourth state component) to still know a→d
    // was ever published
    assert(fin == Map(("a", "b") -> 1L, ("b", "d") -> 1L, ("a", "d") -> 0L),
      s"restart did not recover the full chain: $got")
  }

  test("dsirScoreStream: streamed DSIR scores are bit-identical to batch q71 per doc") {
    implicit val sq = spark.sqlContext
    val (lw, prior) = ops.Corpus.dsirTable(spark, sf)
    // stream the raw slice — the docs batch q71 scores — through
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 7 =!= 0)
      .select("doc_id", "text", "source").collect()
      .map(r => EventStream.Doc(r.getLong(0),
        new Timestamp(base * 60000L), r.getString(1), r.getString(2)))
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.dsirScoreStream(mem.toDF(), lw, prior)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    mem.addData(docs.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("dsir_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("log_w"), r.getAs[Boolean]("keep")))).toMap
    q.stop()
    val batch = ops.Corpus.q71DsirWeight(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), 0L,
          r.getAs[Double]("log_w"), r.getAs[Boolean]("keep")))).toMap
    assert(streamed.keySet == batch.keySet)
    // bit-identical, not approximately equal: the scaled-long sum k and
    // batch's DECIMAL(18,6) sum both land on the correctly-rounded
    // double of k/10⁶; every raw-corpus bucket is in the table (n_novel
    // 0) because the raw side DEFINES the rc half of the fit
    streamed.foreach { case (id, s) =>
      assert(s == batch(id), s"doc $id: stream $s != batch ${batch(id)}")
    }
    // a gram bucket NO training doc ever hit scores the Laplace prior
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(g: String): Long = {
      val hex = md.digest(g.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % ops.Corpus.DsirBuckets
    }
    val novel = Iterator.from(0).map(i => s"novel$i")
      .find(w => !lw.contains(bucket(w))).get
    val mem2 = MemoryStream[EventStream.Doc]
    val q2 = EventStream.dsirScoreStream(mem2.toDF(), lw, prior)
      .writeStream.format("memory").queryName("dsir_novel_out")
      .outputMode("append").start()
    mem2.addData(EventStream.Doc(999L,
      new Timestamp(base * 60000L), novel, "web"))
    q2.processAllAvailable()
    val row = spark.table("dsir_novel_out").collect().head
    q2.stop()
    assert(row.getAs[Long]("n_grams") == 1L)
    assert(row.getAs[Long]("n_novel") == 1L)
    assert(row.getAs[Double]("log_w") == prior / 1e6)
    assert(row.getAs[Boolean]("keep") == (prior > 0))
  }

  test("trendingTerms emits only above-threshold terms of finalized windows") {
    implicit val sq = spark.sqlContext
    def doc(id: Long, minute: Long, text: String) =
      EventStream.Doc(id, new Timestamp((base + minute) * 60000L), text, "web")
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.trendingTerms(mem.toDF(), minCount = 3)
      .writeStream.format("memory").queryName("trend_out")
      .outputMode("append").start()
    // window [0,10): "spark" ×3 across 2 docs, "cat" ×2 (below threshold)
    mem.addData(
      doc(1, 2, "spark spark cat"),
      doc(2, 3, "spark cat dog"))
    q.processAllAvailable()
    mem.addData(doc(3, 200, "late window advancer")) // finalizes [0,10)
    q.processAllAvailable()
    val out = spark.table("trend_out").collect()
    q.stop()
    val w0 = out.filter(_.getAs[Timestamp]("w_start").getTime == base * 60000L)
    assert(w0.map(_.getAs[String]("term")).toSeq == Seq("spark"), out.mkString(";"))
    assert(w0.head.getAs[Long]("n") == 3 && w0.head.getAs[Long]("n_docs") == 2)
  }

  test("sketchDedupStream drops shingle-set duplicates, md5-fallbacks short docs") {
    implicit val sq = spark.sqlContext
    def doc(id: Long, minute: Long, text: String) =
      EventStream.Doc(id, new Timestamp((base + minute) * 60000L), text, "web")
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.sketchDedupStream(mem.toDF())
      .writeStream.format("memory").queryName("sketch_out")
      .outputMode("append").start()
    mem.addData(
      doc(1, 0, "a b c a b c"),
      // same DISTINCT trigram set as doc 1 (boilerplate repetition),
      // different bytes — exact dedup would miss it, the sketch must not
      doc(2, 1, "a b c a b c a b c"),
      doc(3, 2, "x y z w"),      // genuinely different: kept
      doc(4, 3, "hi there"),     // too short to shingle: md5 fallback
      doc(5, 4, "hi there"),     // exact dup of 4: dropped
      doc(6, 5, "yo there"))     // short but distinct: kept
    q.processAllAvailable()
    val out = spark.table("sketch_out").collect()
    q.stop()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 3L, 4L, 6L),
      out.mkString(";"))
  }

  test("ivfUpdateStream assigns to nearest cell and refreshes running centroids") {
    implicit val sq = spark.sqlContext
    val centroids = Array(Array(0f, 0f), Array(10f, 10f))
    def emb(id: Long, x: Float, y: Float) =
      EventStream.Emb(id, new Timestamp(base * 60000L + id), Array(x, y))
    val mem = MemoryStream[EventStream.Emb]
    val q = EventStream.ivfUpdateStream(mem.toDS(), centroids)
      .writeStream.format("memory").queryName("ivf_out")
      .outputMode("update").start()
    mem.addData(emb(1, 1f, 1f), emb(2, 9f, 9f))
    q.processAllAvailable()
    mem.addData(emb(3, 3f, 3f)) // cell 0 again: running mean moves to (2,2)
    q.processAllAvailable()
    val out = spark.table("ivf_out").as[EventStream.CentroidOut].collect()
    q.stop()
    val cell0 = out.filter(_.cell == 0).sortBy(_.n)
    assert(cell0.map(_.n).toSeq == Seq(1L, 2L), out.mkString(";"))
    assert(cell0.last.centroid.toSeq == Seq(2.0, 2.0))
    val cell1 = out.filter(_.cell == 1)
    assert(cell1.map(_.n).toSeq == Seq(1L) && cell1.head.centroid.toSeq == Seq(9.0, 9.0))
  }

  test("ivf handoff: stream-refreshed centroids serve the probe within the recall gate") {
    // the full lambda loop: corpus vectors stream through
    // ivfUpdateStream (seeded with 8 raw corpus vectors — a deliberately
    // crude starting index), the refreshed per-cell means hand off to
    // Ann.ivfProbe (the exact probe the frozen q48 table is oracled
    // through), and the probe must still clear the same recall gate the
    // batch-trained q48 index is held to
    implicit val sq = spark.sqlContext
    val corpus = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val seeds = corpus.filter(_._1 >= 10).sortBy(_._1).take(8).map(_._2)
    val mem = MemoryStream[EventStream.Emb]
    val q = EventStream.ivfUpdateStream(mem.toDS(), seeds)
      .writeStream.format("memory").queryName("ivf_handoff")
      .outputMode("update").start()
    mem.addData(corpus.map { case (id, e) =>
      EventStream.Emb(id, new Timestamp(base * 60000L + id), e)
    }.toIndexedSeq: _*)
    q.processAllAvailable()
    val refreshed = spark.table("ivf_handoff").as[EventStream.CentroidOut]
      .collect().groupBy(_.cell)
      .map { case (cell, outs) => cell -> outs.maxBy(_.n).centroid }
    q.stop()
    // cells the stream never updated keep their seed centroid
    val centroids = seeds.indices.map(i =>
      (i, refreshed.getOrElse(i, seeds(i).map(_.toDouble))))
    val probe = ops.Ann.ivfProbe(spark, sf, centroids)
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val exact = ops.Ann.q34AnnCosineTopk(spark, sf)
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val recalls = exact.keys.toSeq.map { k =>
      (probe.getOrElse(k, Set.empty[Long]) & exact(k)).size.toDouble / exact(k).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 after streaming refresh: $mean")
  }

  test("multimodal extractFeatures: fixed width, deterministic") {
    val ds = Seq(
      ops.Multimodal.Payload(1L, "hello world".getBytes),
      ops.Multimodal.Payload(2L, "hello world".getBytes),
      ops.Multimodal.Payload(3L, Array[Byte](1, 2, 3))).toDS()
    val out = ops.Multimodal.extractFeatures(ds, dim = 16).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out.values.forall(_.features.length == 16))
    assert(out(1L).features.sameElements(out(2L).features))
    assert(!out(1L).features.sameElements(out(3L).features))
    // non-image payloads take the hash fallback and say so
    assert(out.values.forall(_.kind == "bin-raw"))
  }

  test("multimodal decoder registry: injectable seam, first-claim wins, loud fallback") {
    val ds = Seq(ops.Multimodal.Payload(1L, "hello world".getBytes)).toDS()
    // injected decoder claims the kind: no "-raw" suffix, padded to dim
    val out = ops.Multimodal.extractFeatures(ds, dim = 16,
      decoders = ops.Multimodal.builtinDecoders :+ ConstBinDecoder).collect().head
    assert(out.kind == "bin")
    assert(out.features.take(4).forall(_ == 7f) &&
      out.features.drop(4).forall(_ == 0f))
    // empty registry: even a decodable kind takes the loud hash fallback
    val png = pngBytes(4, 4, 0xFF0000)
    val raw = ops.Multimodal.extractFeatures(
      Seq(ops.Multimodal.Payload(2L, png)).toDS(), dim = 16,
      decoders = Nil).collect().head
    assert(raw.kind == "png-raw")
    assert(raw.features.sameElements(ops.Multimodal.hashFeatures(png, 16)))
    // and the default registry is unchanged behavior (decoded for real)
    val dec = ops.Multimodal.extractFeatures(
      Seq(ops.Multimodal.Payload(3L, png)).toDS(), dim = 16).collect().head
    assert(dec.kind == "png")
  }

  /** In-memory PNG of solid `argb` at `w`×`h` via the JDK encoder. */
  private def pngBytes(w: Int, h: Int, argb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, argb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("multimodal extractFeatures: REAL png decode via javax.imageio") {
    val red = pngBytes(20, 10, 0xFF0000)       // solid red, 2:1 aspect
    val white = pngBytes(100, 100, 0xFFFFFF)   // solid white, >64 grid sampling
    val ds = Seq(
      ops.Multimodal.Payload(1L, red),
      ops.Multimodal.Payload(2L, white)).toDS()
    val out = ops.Multimodal.extractFeatures(ds, dim = 16).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).kind == "png" && out(2L).kind == "png")
    val fr = out(1L).features
    assert(fr(0) == 20f && fr(1) == 10f && fr(2) == 2.0f)        // w, h, aspect
    assert(fr(3) == 255f && fr(4) == 0f && fr(5) == 0f)          // mean RGB = red
    assert(math.abs(fr(6) - 0.299 * 255) < 0.5)                  // luma mean
    assert(fr(7) == 0f)                                          // solid → zero std
    val fw = out(2L).features
    assert(fw(0) == 100f && fw(1) == 100f)
    assert(fw(3) == 255f && fw(4) == 255f && fw(5) == 255f)
    assert(fw(15) == 1.0f)                                       // all luma in top bin
    // q41's SQL kind sniff agrees with the imperative sniff on real bytes
    assert(ops.Multimodal.sniffKind(red) == "png")
  }

  /** Minimal RIFF/WAVE PCM bytes: 16-bit LE, `channels` interleaved. */
  private def wavBytes(rate: Int, channels: Int, samples: Array[Short],
      audioFmt: Short = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(audioFmt).putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("multimodal extractFeatures: REAL wav decode (RIFF header + PCM samples)") {
    // square wave at exactly half amplitude: 16384/32768 = 0.5, so
    // rms = peak = mean|a| = 0.5 EXACTLY — no tolerance needed
    val sq = Array.tabulate(4000)(i => if (i % 2 == 0) 16384 else -16384)
      .map(_.toShort)
    val mono = wavBytes(8000, 1, sq)              // 4000 frames / 8 kHz = 0.5 s
    val stereo = wavBytes(8000, 2, sq)            // 2000 frames       = 0.25 s
    val nonPcm = wavBytes(8000, 1, sq, audioFmt = 3) // IEEE-float tag → fallback
    // adversarial: chunk size near 2^32 — the walk must terminate (a
    // negative Int truncation would stall it forever), not hang a task
    val evil = {
      val bb = java.nio.ByteBuffer.allocate(48) // ≥44: past the length guard
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(40).put("WAVE".getBytes("US-ASCII"))
      bb.put("junk".getBytes("US-ASCII")).putInt(0xFFFFFFF0) // u32 4294967280
      bb.array()
    }
    val ds = Seq(
      ops.Multimodal.Payload(1L, mono),
      ops.Multimodal.Payload(2L, stereo),
      ops.Multimodal.Payload(3L, nonPcm),
      ops.Multimodal.Payload(4L, evil)).toDS()
    val out = ops.Multimodal.extractFeatures(ds, dim = 16).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).kind == "wav" && out(2L).kind == "wav")
    val fm = out(1L).features
    assert(fm(0) == 8000f && fm(1) == 1f && fm(2) == 16f)  // rate, channels, bits
    assert(fm(3) == 4000f && fm(4) == 0.5f)                // frames, duration
    assert(fm(5) == 0.5f && fm(6) == 0.5f && fm(7) == 0.5f) // rms, peak, mean|a|
    assert(fm(12) == 1.0f)                    // every |a| = 0.5 lands in bin 4
    val fs = out(2L).features
    assert(fs(1) == 2f && fs(3) == 2000f && fs(4) == 0.25f) // stereo halves frames
    assert(fs(5) == 0.5f && fs(6) == 0.5f)   // amplitude stats are channel-blind
    // non-PCM RIFF sniffs as wav but has no decoder here → loud fallback
    assert(out(3L).kind == "wav-raw")
    // the malformed-size payload terminated and fell back
    assert(out(4L).kind == "wav-raw")
    assert(ops.Multimodal.sniffKind(mono) == "wav")
  }

  /** In-memory JPEG of solid `argb` at `w`×`h` via the JDK encoder. */
  private def jpegBytes(w: Int, h: Int, argb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, argb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal RIFF/AVI MJPEG bytes: avih header + one "00dc" JPEG chunk
    * per frame (odd-sized chunks get the RIFF pad byte). */
  private def aviBytes(w: Int, h: Int, usPerFrame: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    def padded(n: Int) = n + (n & 1)
    val moviLen = 4 + frames.map(f => 8 + padded(f.length)).sum
    val hdrlLen = 4 + 8 + 56
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
      .put("AVI ".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(hdrlLen)
      .put("hdrl".getBytes("US-ASCII"))
    bb.put("avih".getBytes("US-ASCII")).putInt(56)
      .putInt(usPerFrame).putInt(0).putInt(0).putInt(0)  // usPerFrame..flags
      .putInt(frames.length).putInt(0).putInt(1).putInt(0) // totalFrames..bufSize
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put("LIST".getBytes("US-ASCII")).putInt(moviLen)
      .put("movi".getBytes("US-ASCII"))
    frames.foreach { f =>
      bb.put("00dc".getBytes("US-ASCII")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte)
    }
    bb.array()
  }

  test("multimodal extractFeatures: REAL avi decode (MJPEG frames via imageio)") {
    // two solid frames: gray 128 → luma 128, white → luma 255; JPEG of a
    // solid color round-trips within ±2 of the exact level
    val gray = jpegBytes(32, 24, 0x808080)
    val white = jpegBytes(32, 24, 0xFFFFFF)
    val avi = aviBytes(32, 24, usPerFrame = 40000, Seq(gray, white)) // 25 fps
    // adversarial: movi chunk size near 2^32 — the walk must terminate
    val evil = {
      val bb = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(24).put("AVI ".getBytes("US-ASCII"))
      bb.put("LIST".getBytes("US-ASCII")).putInt(12).put("movi".getBytes("US-ASCII"))
      bb.put("00dc".getBytes("US-ASCII")).putInt(0xFFFFFFF0) // u32 4294967280
      bb.array()
    }
    // adversarial: 50k-deep nested LISTs — without the depth cap this
    // is a StackOverflowError (an Error, invisible to the catch) that
    // would kill the task instead of falling back
    val bomb = {
      val depth = 50000
      val bb = java.nio.ByteBuffer.allocate(12 + 12 * depth)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 12 * depth)
        .put("AVI ".getBytes("US-ASCII"))
      for (i <- depth to 1 by -1)
        bb.put("LIST".getBytes("US-ASCII")).putInt(4 + 12 * (i - 1))
          .put("hdrl".getBytes("US-ASCII"))
      bb.array()
    }
    val ds = Seq(
      ops.Multimodal.Payload(1L, avi),
      ops.Multimodal.Payload(2L, evil),
      ops.Multimodal.Payload(3L, bomb)).toDS()
    val out = ops.Multimodal.extractFeatures(ds, dim = 16).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).kind == "avi")
    val fv = out(1L).features
    assert(fv(0) == 32f && fv(1) == 24f)            // avih geometry
    assert(fv(2) == 25f && fv(3) == 2f)             // fps, total frames
    assert(math.abs(fv(4) - 0.08f) < 1e-6)          // duration = 2/25 s
    assert(fv(5) == 2f)                             // both frames decoded
    assert(math.abs(fv(6) - (128 + 255) / 2.0) < 2) // mean luma across frames
    assert(math.abs(fv(7) - 127.0) < 4)             // motion = |Δ luma|
    // the malformed-size payload terminated and fell back loudly
    assert(out(2L).kind == "avi-raw")
    // the nesting bomb hit the depth cap and fell back, not the stack
    assert(out(3L).kind == "avi-raw")
    assert(ops.Multimodal.sniffKind(avi) == "avi")
  }

  /** Binary P6 PPM bytes of solid (r,g,b) at w×h — a REAL image format
    * the JDK's imageio ships NO reader for (Netpbm), so only a
    * third-party decoder can claim it. */
  private def ppmBytes(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val header = s"P6\n# ppm fixture\n$w $h\n255\n".getBytes("US-ASCII")
    val px = Array.tabulate(w * h * 3)(i =>
      (i % 3 match { case 0 => r; case 1 => g; case _ => b }).toByte)
    header ++ px
  }

  test("multimodal codec seam: a REAL not-in-JDK codec (PPM) decodes end-to-end " +
      "through the registry") {
    val ppm = ppmBytes(8, 4, 10, 200, 30)
    // the format genuinely has no JDK reader — the seam is real, not a
    // re-route of a codec imageio would have handled anyway
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ppm)) == null)
    assert(ops.Multimodal.sniffKind(ppm) == "pnm")
    // prose starting with "P6" but no whitespace stays bin
    assert(ops.Multimodal.sniffKind("P6=fast".getBytes) == "bin")
    val ds = Seq(ops.Multimodal.Payload(1L, ppm)).toDS()
    // default registry: unclaimed kind → loud hash fallback
    val raw = ops.Multimodal.extractFeatures(ds, dim = 16).collect().head
    assert(raw.kind == "pnm-raw")
    assert(raw.features.sameElements(ops.Multimodal.hashFeatures(ppm, 16)))
    // with the third-party decoder registered: claimed + really decoded
    val dec = ops.Multimodal.extractFeatures(ds, dim = 16,
      decoders = ops.Multimodal.builtinDecoders :+ PpmDecoder).collect().head
    assert(dec.kind == "pnm")
    val f = dec.features
    assert(f(0) == 8f && f(1) == 4f && f(2) == 2.0f)    // w, h, aspect
    assert(f(3) == 10f && f(4) == 200f && f(5) == 30f)  // exact solid RGB
    assert(f(7) == 0f)                                   // solid → zero luma std
    // a malformed PPM (truncated pixel data) falls back loudly, like
    // every other decoder failure
    val bad = ppm.take(20)
    val fb = ops.Multimodal.extractFeatures(
      Seq(ops.Multimodal.Payload(2L, bad)).toDS(), dim = 16,
      decoders = ops.Multimodal.builtinDecoders :+ PpmDecoder).collect().head
    assert(fb.kind == "pnm-raw")
  }
}

/** File-scope test decoder (the FFmpeg-seam shape without the external
  * lib): claims raw "bin" payloads, emits a constant vector. Top-level
  * so the mapPartitions closure serializes it without dragging the
  * (non-serializable) suite along. */
private[graft] object ConstBinDecoder extends ops.Multimodal.PayloadDecoder {
  val kinds: Set[String] = Set("bin")
  def decode(payload: Array[Byte]): Option[Array[Float]] =
    Some(Array.fill(4)(7f))
}

/** A REAL third-party codec for the registry seam: binary P6 PPM
  * (Netpbm) — a format `javax.imageio` ships no reader for, so the only
  * way its payloads decode is through an injected [[PayloadDecoder]].
  * Shaped exactly like an FFmpeg adapter would be: parse the foreign
  * format into a BufferedImage, re-encode losslessly (PNG) and reuse
  * the engine's SINGLE feature extractor — the stat math stays
  * one-sourced in [[ops.Multimodal.decodeImage]]. Top-level for the
  * same serialization reason as [[ConstBinDecoder]]. */
private[graft] object PpmDecoder extends ops.Multimodal.PayloadDecoder {
  val kinds: Set[String] = Set("pnm")
  def decode(payload: Array[Byte]): Option[Array[Float]] = {
    try {
      // whitespace/comment-tolerant header scan: magic, w, h, maxval
      var i = 0
      def token(): String = {
        while (i < payload.length &&
            (payload(i).toChar.isWhitespace || payload(i) == '#')) {
          if (payload(i) == '#') // comment runs to end of line
            while (i < payload.length && payload(i) != '\n') i += 1
          else i += 1
        }
        val s = i
        while (i < payload.length && !payload(i).toChar.isWhitespace) i += 1
        new String(payload, s, i - s, "US-ASCII")
      }
      if (token() != "P6") return None
      val w = token().toInt; val h = token().toInt; val maxv = token().toInt
      i += 1 // the single whitespace byte after maxval
      if (w <= 0 || h <= 0 || maxv != 255 ||
          i + w * h * 3 > payload.length) return None
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val o = i + (y * w + x) * 3
        img.setRGB(x, y, ((payload(o) & 0xFF) << 16) |
          ((payload(o + 1) & 0xFF) << 8) | (payload(o + 2) & 0xFF))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      ops.Multimodal.decodeImage(bos.toByteArray)
    } catch { case _: Exception => None }
  }
}
