package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based near-duplicate detection (SURVEY.md §2.E): MinHash+LSH
  * banding and SimHash hamming-band bucketing. Both are the standard
  * linear-candidate alternatives to the quadratic all-pairs Jaccard of
  * q31 — at 100 TB you never enumerate pairs, you bucket signatures and
  * only pair within buckets.
  *
  * All hashing derives from [[Exact.portableHash]] (md5 hex digits read
  * as an integer — identical in every engine) with permutations in exact
  * mod-p int64 arithmetic, so q32/q33/q55 are FULLY oracle-checked
  * against DuckDB, not rows-only; DedupSpec additionally pins the
  * semantic invariants on constructed inputs with known duplicates.
  */
object Dedup {

  /** Mersenne prime 2^31−1: every permutation value stays < 2^31, so
    * a·h+b tops out near 2^62 — exact in int64 in both engines. */
  private val P = 2147483647L

  /** Permutation coefficients for hash i — fixed LCG-style constants,
    * inlined identically into the Spark plan and the DuckDB SQL.
    * a=0 would degenerate the permutation to a constant (every doc's
    * min collides → quadratic candidate blowup), so it is rejected
    * loudly rather than silently producing a useless sketch. */
  private[graft] def coef(i: Int): (Long, Long) = {
    val a = (1103515245L * (i + 1) + 12345L) % P
    require(a != 0, s"degenerate MinHash multiplier for hash $i")
    (a, (69069L * (i + 1) + 362437L) % P)
  }

  /** Band key: fold the band's signature slots through acc←(31·acc+m) mod p.
    * Spark and SQL spellings below are the same fold, term for term. */
  private def bandHash(slots: Seq[Column]): Column =
    slots.foldLeft(lit(17L): Column)((acc, m) => (acc * lit(31L) + m) % lit(P))

  private def bandHashSql(slots: Seq[String]): String =
    slots.foldLeft("17")((acc, m) => s"(($acc) * 31 + $m) % $P")

  /** Per-(seed, band) MinHash signature machinery, parameterized by a
    * (doc_id, shingle) DataFrame so specs can feed synthetic docs. */
  private[graft] def minhashCandidates(
      sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    // one string hash per shingle; the numHashes "permutations" are
    // pure int64 arithmetic on it (cheaper than numHashes string hashes)
    val hashed = sh.select(col("doc_id"),
      (Exact.portableHash(col("shingle"), 12) % lit(P)).as("h"))
    val mins: Seq[Column] = (0 until numHashes).map { i =>
      val (a, b) = coef(i)
      min((lit(a) * col("h") + lit(b)) % lit(P)).as(s"m$i")
    }
    val sig = hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandCols: Seq[Column] = (0 until bands).map { j =>
      val slots = (j * rows until (j + 1) * rows).map(i => col(s"m$i"))
      struct(lit(j).as("band"), bandHash(slots).as("bh"))
    }
    // buckets feeds BOTH sides of the bucket self-join — without the
    // persist the whole signature aggregation (16 min-hashes over every
    // shingle) runs once per side
    val buckets = Release.cache(sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh")))
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .agg(countDistinct(col("x.band")).as("n_bands"))
  }

  /** The full 16-hash MinHash signature of a per-row shingle ARRAY as
    * one string column — the whole sketch computed inside codegen'd
    * HOFs on a single row, no aggregation. Used by the streaming
    * sketch-dedup (a stateless projection is the only signature shape
    * a stream can afford — per-doc rows arrive whole, so nothing needs
    * grouping). Docs too short to shingle get no signature (null):
    * callers pick their own fallback key. */
  private[graft] def signatureExpr(shingles: Column): Column = {
    val hs = transform(shingles, s => Exact.portableHash(s, 12) % lit(P))
    val mins = (0 until 16).map { i =>
      val (a, b) = coef(i)
      array_min(transform(hs, h => (lit(a) * h + lit(b)) % lit(P)))
    }
    when(size(shingles) > 0,
      concat_ws("_", mins.map(_.cast("string")): _*))
  }

  /** The same signature/band/candidate pipeline as SQL CTEs (shared by
    * the q32, q55 and q57 oracles). Emits CTEs: sh, hs, sig, bands,
    * cand, sizes, inter, mh (the q32 result shape). */
  private[graft] def minhashSql(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    val minCols = (0 until numHashes).map { i =>
      val (a, b) = coef(i)
      s"min(($a * h + $b) % $P) AS m$i"
    }.mkString(",\n   ")
    val bandSelects = (0 until bands).map { j =>
      val slots = (j * rows until (j + 1) * rows).map(i => s"m$i")
      s"SELECT doc_id, $j AS band, ${bandHashSql(slots)} AS bh FROM sig"
    }.mkString("\n   UNION ALL ")
    s"""sh AS (${Text.shingledSql}),
       | hs AS (SELECT doc_id,
       |   ${Exact.sql.portableHash("shingle", 12)} % $P AS h FROM sh),
       | sig AS (SELECT doc_id,
       |   $minCols
       |  FROM hs GROUP BY 1),
       | bands AS ($bandSelects),
       | cand AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
       |   count(DISTINCT x.band) AS n_bands
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       | inter AS (SELECT c.id1, c.id2, count(*) AS i
       |  FROM cand c JOIN sh a ON c.id1 = a.doc_id
       |   JOIN sh b ON c.id2 = b.doc_id AND a.shingle = b.shingle
       |  GROUP BY 1, 2),
       | mh AS (SELECT c.id1, c.id2, c.n_bands,
       |   ${Exact.sql.r(
             "coalesce(i, 0) * 1.0 / (s1.sz + s2.sz - coalesce(i, 0))", 6)} AS jaccard
       |  FROM cand c
       |   LEFT JOIN inter ON c.id1 = inter.id1 AND c.id2 = inter.id2
       |   JOIN sizes s1 ON c.id1 = s1.doc_id
       |   JOIN sizes s2 ON c.id2 = s2.doc_id)""".stripMargin
  }

  /** Unsorted q32 core — shared by q32 (adds the output sort) and q55
    * (feeds connected components, where a sort would be wasted work). */
  private def minhashRefined(spark: SparkSession, dir: String): DataFrame = {
    // sh feeds the signature build and the per-doc set materialization —
    // persist once instead of re-shingling the corpus per consumer
    val sh = Release.cache(Text.shingled(spark, dir))
    val cands = minhashCandidates(sh, numHashes = 16, bands = 4)
    // exact-Jaccard refinement for CANDIDATES only — never all pairs.
    // One groupBy materializes each doc's (already-distinct) shingle
    // set as an array; the candidate pairs (tiny vs the posting list)
    // join that table twice by id and intersect the arrays locally.
    // This replaces the previous shape — re-joining the full posting
    // list per pair side and re-counting sizes in a third aggregation —
    // with ONE shuffle of sh; a band-collision pair sharing zero
    // shingles gets inter = 0 from the empty intersection (no left
    // join needed), and |set| = size(arr) makes the sizing free.
    val docsets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("shs"))
    cands
      .join(docsets.as("a"), col("id1") === col("a.doc_id"))
      .join(docsets.as("b"), col("id2") === col("b.doc_id"))
      .select(col("id1"), col("id2"), col("n_bands"),
        size(array_intersect(col("a.shs"), col("b.shs"))).cast("long").as("inter"),
        size(col("a.shs")).cast("long").as("sz1"),
        size(col("b.shs")).cast("long").as("sz2"))
      .select(col("id1"), col("id2"), col("n_bands"),
        Exact.r(col("inter") * lit(1.0) /
          (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
  }

  /** q32: MinHash(16 hashes) + LSH(4 bands × 4 rows) candidate pairs
    * over word-trigram shingles, refined with the exact Jaccard of the
    * colliding docs (the verify step real pipelines run post-LSH). */
  def q32DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashRefined(spark, dir).orderBy(col("id1"), col("id2"))

  /** SimHash bit width and banding: 60 bits (15 md5 hex digits — the
    * most that stays positive in int64), 4 bands × 15 bits; any pair
    * within hamming ≤ 3 shares ≥ 1 exact band by pigeonhole. */
  private val simBits = 60
  private val simBands = 4
  private val chunkBits = simBits / simBands
  private val chunkMask = (1L << chunkBits) - 1

  /** SimHash over a (doc_id, token) DataFrame: per-bit weighted votes,
    * majority per bit, bits packed into one BIGINT.
    *
    * Token occurrences first collapse to (doc_id, token-hash, count) —
    * map-side partial aggregation shrinks the input to the bit-vote
    * sums by the token repeat factor, and each token hashes ONCE instead
    * of per occurrence. The ±1 vote `Σ ±c > 0` is spelled as
    * `2·Σ(c·bit) > Σc` (identical result incl. ties) so each bit costs
    * one shift-and-multiply-add, not a conditional. All codegen'd, no
    * UDF. */
  private[graft] def simhash(tok: DataFrame): DataFrame = {
    val h = tok.groupBy(col("doc_id"),
        Exact.portableHash(col("token"), 15).as("h"))
      .agg(count(lit(1)).as("c"))
    val votes: Seq[Column] =
      sum(col("c")).as("t") +: (0 until simBits).map(b =>
        sum(col("c") * expr(s"(h >> $b) & 1")).as(s"o$b"))
    val packed = (0 until simBits).map(b =>
      when(col(s"o$b") * 2 > col("t"), expr(s"CAST(1 AS BIGINT) << $b")).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    h.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** q33: SimHash near-dup — band the 60-bit sketch into 4×15-bit
    * chunks, bucket-join on (band, chunk), keep hamming ≤ 3. */
  def q33DedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val sig = simhash(tok)
    val bandCols = (0 until simBands).map(j =>
      struct(lit(j).as("band"),
        expr(s"(simhash >> ${chunkBits * j}) & $chunkMask").as("chunk")))
    // dual-consumer self-join: persist, or the 60-bit-vote simhash
    // aggregation runs once per join side
    val buckets = Release.cache(sig
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.chunk").as("chunk")))
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      // hamming is a pure function of the pair, so the cut belongs below
      // the distinct — spelled explicitly here, though Catalyst's
      // PushPredicateThroughNonJoin produces the IDENTICAL plan either
      // way (verified by optimized-plan diff): a deterministic predicate
      // over grouping keys always sinks through a distinct, so the
      // distinct exchange only ever carries the final pair set
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("id1"), col("id2"))
  }

  private def simhashSql: String = {
    val voteCols = (0 until simBits).map(b =>
      s"sum(c * ((h >> $b) & 1)) AS o$b").mkString(",\n   ")
    val packed = (0 until simBits).map(b =>
      s"(CASE WHEN o$b * 2 > t THEN 1::BIGINT << $b ELSE 0::BIGINT END)")
      .mkString(" |\n   ")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       | hc AS (SELECT doc_id, ${Exact.sql.portableHash("token", 15)} AS h,
       |   count(*) AS c FROM tok GROUP BY 1, 2),
       | v AS (SELECT doc_id, sum(c) AS t,
       |   $voteCols
       |  FROM hc GROUP BY 1),
       | sig AS (SELECT doc_id,
       |   $packed AS simhash
       |  FROM v),
       | bk AS (SELECT doc_id, simhash, band,
       |   (simhash >> ($chunkBits * band)) & $chunkMask AS chunk
       |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS bands(band))""".stripMargin
  }

  /** q55: near-dup cluster keep-list — the step an LLM-data pipeline
    * actually ships: MinHash candidate pairs (q32) refined at
    * Jaccard ≥ 0.5 become edges, connected components group transitive
    * near-dups into clusters, and the minimum doc_id per cluster is the
    * canonical survivor. Emits only clustered docs (singletons trivially
    * keep themselves). Same distributed CC as q47 — O(log diameter)
    * rounds, no driver iteration; the oracle replays it as a DuckDB
    * recursive-CTE transitive closure. DedupSpec pins
    * one-keeper-per-cluster and keeper = min(doc_id). */
  def q55DedupClusters(spark: SparkSession, dir: String): DataFrame =
    q55Core(spark, dir).orderBy(col("cluster"), col("doc_id"))

  /** q55 without the presentation sort — q57's keep-list join consumes
    * this directly (the q85Core convention: a sort below a re-shuffling
    * consumer is a wasted exchange+sort). */
  private[graft] def q55Core(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashRefined(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("id1").as("src"), col("id2").as("dst"))
    // cluster nodes are doc_ids ⊆ the documents footer count — a
    // zero-job broadcast-gate hint (Tables.cachedRowCount memoizes)
    Components.connectedComponents(pairs,
        nodeBoundHint = graft.Tables.cachedRowCount(spark, dir, "documents"))
      .select(col("node").as("doc_id"), col("comp").as("cluster"),
        (col("node") === col("comp")).as("keep"))
  }

  val oracles: Map[String, String] = Map(
    "q32_dedup_minhash" ->
      s"""WITH ${minhashSql(16, 4)}
        |SELECT id1, id2, n_bands, jaccard FROM mh ORDER BY 1, 2""".stripMargin,
    "q33_dedup_simhash" ->
      s"""WITH $simhashSql
        |SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
        | CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
        |FROM bk x JOIN bk y
        |  ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        |ORDER BY 1, 2""".stripMargin,
    "q55_dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashSql(16, 4)},
        | e AS (SELECT id1 AS src, id2 AS dst FROM mh WHERE jaccard >= 0.5),
        | bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        | reach(node, r) AS (
        |   SELECT src, dst FROM bidir UNION SELECT src, src FROM bidir
        |   UNION SELECT reach.node, b.dst FROM reach JOIN bidir b ON reach.r = b.src)
        |SELECT node AS doc_id, min(r) AS cluster, node = min(r) AS keep
        |FROM reach GROUP BY node ORDER BY 2, 1""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_dedup_minhash" -> (q32DedupMinhash _),
    "q33_dedup_simhash" -> (q33DedupSimhash _),
    "q55_dedup_clusters" -> (q55DedupClusters _)
  )
}
