package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over `embeddings` (SURVEY.md §2.E): exact
  * cosine top-k, random-hyperplane LSH ANN, and embedding-cosine
  * near-dup pairs — the retrieval/dedup primitives of an LLM data
  * pipeline, and the distributed analog of the reference's node-feature
  * similarity handling (Amazon/Yelp adjacency features).
  *
  * Exactness: a float dot product is accumulation-order dependent, so
  * Spark and DuckDB would disagree in the last ulp. Both sides quantize
  * each product to DECIMAL(18,9)·DECIMAL(18,9) and sum decimals —
  * exact, order-independent, and (because no IEEE double is exactly
  * halfway between two 9-dp decimals) identically rounded in both
  * engines. Norm/divide/round are then single IEEE double ops.
  *
  * Scale: q34 broadcasts the (small) query set against the corpus and
  * takes per-partition partial top-k before the final window — the
  * corpus never shuffles. q35 buckets by LSH signature first, the
  * standard sublinear path. q36 is all-pairs on one side of a
  * small-dimension blocking key; at 100 TB you'd swap the block key for
  * IVF cluster ids, the plan shape is identical.
  */
object Ann {

  /** Pre-quantized side of a cosine join: each component is quantized
    * ONCE to 9-dp (via an exact DECIMAL(18,9) cast, then shifted to a
    * scaled BIGINT), plus the vector's double norm — so per-pair work is
    * a primitive int64 multiply-add fold, not BigDecimal boxing and not
    * three HOF passes with 128 per-pair casts (measured ~30× on the
    * all-pairs q36). Exactness: the scaled sum is integer math, identical
    * in any engine and any order; |Σ x·y| ≤ ‖x‖‖y‖ ≈ 1e18 for unit-ish
    * vectors, inside int64 (overflow only if components reach ~1.2 at
    * dim 64). The 1e18 scale cancels in the cosine ratio. */
  private def prep(df: DataFrame, idOut: String, vecOut: String,
      normOut: String): DataFrame = {
    // Overflow guard: the int64 accumulators are exact only while
    // ‖x_scaled‖² ≤ ~9.2e18, i.e. ‖x‖² ≤ ~9.2 (and by Cauchy–Schwarz
    // every pair dot is then in range too). A non-unit-norm input must
    // fail LOUDLY, not corrupt every cosine — so the norm is gated on a
    // double-precision estimate of the squared norm (exactness doesn't
    // matter for the guard, only magnitude).
    val sq2 = expr(s"""aggregate($vecOut, CAST(0 AS DOUBLE),
      | (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))""".stripMargin)
    df.select(col("vec_id").as(idOut),
        expr("transform(embedding, x -> " +
          "CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)) * 1000000000 AS BIGINT))")
          .as(vecOut))
      .withColumn(normOut,
        when(sq2 < lit(9.0e18), sqrt(
          expr(s"""aggregate(transform($vecOut, x -> x * x),
            | CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin)
            .cast("double")))
          .otherwise(raise_error(concat(lit(s"graft.Ann: embedding $idOut="),
            col(idOut).cast("string"),
            lit(" has squared norm > ~9 — exact int64 cosine would overflow; normalize inputs first")))))
  }

  /** Exact scaled-integer dot product over pre-quantized arrays — a
    * native codegen'd Catalyst expression (graft.functions.DotLong):
    * primitive long multiply-adds, no interpreter, no allocation. */
  private def dotDec(a: String, b: String): Column =
    graft.functions.DotLong(col(a), col(b))

  private def cosine(a: String, b: String, na: String, nb: String): Column =
    round(dotDec(a, b).cast("double") / (col(na) * col(nb)), 6)

  /** DuckDB spelling of the same math via position-joined unnest —
    * identical decimal quantization and exact sums. `sfx` renames the
    * CTEs so two instantiations can share one query. */
  private def cosineSql(qTab: String, cTab: String, sfx: String = ""): String =
    s"""qe$sfx AS (SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS pos,
      |   CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS x
      |  FROM $qTab),
      | ce$sfx AS (SELECT vec_id AS cid, generate_subscripts(embedding, 1) AS pos,
      |   CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS y
      |  FROM $cTab),
      | dots$sfx AS (SELECT qid, cid, CAST(sum(x * y) AS DOUBLE) AS dot
      |  FROM qe$sfx JOIN ce$sfx USING (pos) GROUP BY 1, 2),
      | nq$sfx AS (SELECT qid, CAST(sum(x * x) AS DOUBLE) AS n2 FROM qe$sfx GROUP BY 1),
      | nc$sfx AS (SELECT cid, CAST(sum(y * y) AS DOUBLE) AS n2 FROM ce$sfx GROUP BY 1),
      | cosres$sfx AS (SELECT qid, cid,
      |   round(dot / (sqrt(nq$sfx.n2) * sqrt(nc$sfx.n2)), 6) AS cos
      |  FROM dots$sfx JOIN nq$sfx USING (qid) JOIN nc$sfx USING (cid))""".stripMargin

  /** q34: brute-force cosine top-10 per query (vec_id < 10 are the
    * queries, the rest the corpus). Query side broadcasts; per-query
    * ranking is a window over qid — the corpus stays put. */
  def q34AnnCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = prep(emb.filter(col("vec_id") < 10), "qid", "qe", "qn")
    val c = prep(emb.filter(col("vec_id") >= 10), "cid", "ce", "cn")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    c.join(broadcast(q))
      .select(col("qid"), col("cid"), cosine("qe", "ce", "qn", "cn").as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy(col("qid"), col("rk"))
  }

  /** Hyperplane count and embedding dimensionality for q35. 8 planes ⇒
    * 256 buckets — dense enough that buckets actually collide at test
    * SFs while still pruning ~99.6% of candidates. */
  private val lshPlanes = 8
  private val lshDims = 64

  /** ±1 Rademacher sign for (plane, dim): parity of the first md5 hex
    * digit of "p_d" — computed HERE once (JVM md5 ≡ every engine's md5)
    * and inlined as LITERALS into both the Spark plan and the oracle
    * SQL, so neither engine hashes per row and both agree by
    * construction. */
  private[graft] def lshSign(p: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val first = md.digest(s"${p}_$d".getBytes("UTF-8"))(0)
    if (((first >> 4) & 1) == 1) 1L else -1L
  }

  /** q35: random-hyperplane LSH ANN — 8 deterministic Rademacher
    * hyperplanes over the scaled-int64 components give an 8-bit bucket;
    * queries only compare against corpus vectors in their bucket. The
    * projection Σ ±x is exact integer math on the same quantized
    * components as the cosine, so the bucket — and therefore the whole
    * result — is oracle-checked; AnnSpec additionally verifies recall
    * against q34 ground truth. */
  def q35AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    // sign_p(v) = Σ_d ±v[d] > 0 over the pre-quantized BIGINT vector
    def bucketOf(vec: String): Column = {
      val bits = (0 until lshPlanes).map { p =>
        val signs = array((1 to lshDims).map(d => lit(lshSign(p, d))): _*)
        val s = aggregate(
          zip_with(col(vec), signs, (x, sg) => x * sg),
          lit(0L), (acc, v) => acc + v)
        when(s > 0, lit(1L << p)).otherwise(lit(0L))
      }
      bits.reduce(_.bitwiseOR(_))
    }
    val emb = Tables.embeddings(spark, dir)
    val q = prep(emb.filter(col("vec_id") < 10), "qid", "qe", "qn")
      .withColumn("bucket", bucketOf("qe"))
    val c = prep(emb.filter(col("vec_id") >= 10), "cid", "ce", "cn")
      .withColumn("bucket", bucketOf("ce"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    c.join(broadcast(q), Seq("bucket"))
      .select(col("qid"), col("cid"), col("bucket"), cosine("qe", "ce", "qn", "cn").as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy(col("qid"), col("rk"))
  }

  /** q36: embedding near-dup pairs — cosine ≥ 0.4 over canonical
    * id1 < id2 pairs, blocked on (label, IVF cell). (Threshold chosen
    * so the oracle exercises real pairs on the synthetic embeddings,
    * whose max pairwise cosine is ~0.5 — a 0.9 "near-dup" bar would
    * make the check vacuously empty.)
    *
    * The cell is a deterministic coarse quantizer: max(8, ⌈√n⌉) seed
    * vectors (the lowest vec_ids — a kB-to-MB broadcast) and
    * nearest-seed-by-cosine assignment using the same exact
    * scaled-integer cosine as the pair scoring — so the DuckDB oracle
    * replicates the cells bit-for-bit, with the SAME ⌈√count⌉ spelled
    * as a scalar subquery (IEEE sqrt is correctly rounded in both
    * engines). √n is the IVF sizing rule: assignment costs n·√n
    * cosines and within-cell pairing ~n²/√n — both n^1.5, where a
    * FIXED cell count left pairing quadratic (measured 19× at a 10×
    * scale-up, the one superlinear query in the sf10 sweep). (MLlib
    * k-means centroids, q48, can't be oracled; at 100 TB you'd swap
    * the seed table for q48's learned centroids — identical plan.)
    *
    * Scale: candidates shuffle on the (label, cell) equi-key — a plain
    * hash-partitioned join, NO corpus broadcast, and per-block pair
    * counts bounded by the cell granularity. Cell assignment is a
    * per-partition argmax KERNEL over the driver-collected ≤√n-row
    * seed table (see the inline note below) — n·√n primitive dot
    * products, zero intermediate rows, no shuffle until the candidate
    * join. PlanSpec pins the no-broadcast shape. */
  def q36DedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // parquet-footer row count (statistics-only, same gate pattern as
    // q22/q46) sizes the quantizer with the data
    val nSeeds = math.max(8L,
      math.ceil(math.sqrt(emb.count().toDouble)).toLong)
    val lab = emb.select(col("vec_id"), col("label"))
    // The seed side is ≤ ~√n rows: collect it once (bounded like
    // Ranking's per-bucket offsets — ~240 kB at n = 200k; at 100 TB
    // this table is exactly how q48 ships its learned centroids) and
    // run assignment as a tight per-partition argmax kernel: n·√n
    // primitive-long dot products and ZERO intermediate rows. The
    // declarative spellings both lose by orders of magnitude here: a
    // broadcast crossJoin materializes n·√n join rows each dragging
    // both 64-element arrays (~1 kB of row copy each — measured 174 s
    // at n = 200k), and a transform() over an inlined seed literal
    // evaluates interpreted (HOFs don't codegen — worse still). This
    // is the justified-imperative seam mapPartitions exists for
    // (SURVEY §4), the same kernel shape as the streaming IVF
    // update's nearest(). Argmax compares the UNROUNDED cosine —
    // exact int64 dot / IEEE norms, bit-identical in Spark, this
    // kernel, and DuckDB — so no engine-specific round() enters the
    // cell decision; ties break toward the smallest seed id.
    val seeds = prep(emb.filter(col("vec_id") < nSeeds), "sid", "sv", "sn")
      .collect()
      .map(r => (r.getAs[Long]("sid"), r.getAs[Seq[Long]]("sv").toArray,
        r.getAs[Double]("sn")))
      .sortBy(_._1)
    val cells = Release.cache {
      import emb.sparkSession.implicits._
      prep(emb, "vid", "v", "n").select(col("vid"), col("v"), col("n"))
        .as[(Long, Array[Long], Double)]
        .mapPartitions { it =>
          it.map { case (vid, v, n) =>
            var bestCos = Double.NegativeInfinity
            var bestSid = Long.MaxValue
            var k = 0
            while (k < seeds.length) {
              val (sid, sv, sn) = seeds(k)
              var dot = 0L
              var i = 0
              val m = math.min(v.length, sv.length)
              while (i < m) { dot += v(i) * sv(i); i += 1 }
              val cos = dot.toDouble / (n * sn)
              if (cos > bestCos || (cos == bestCos && sid < bestSid)) {
                bestCos = cos; bestSid = sid
              }
              k += 1
            }
            (vid, bestSid)
          }
        }
        .toDF("vid", "cell")
    }
    val a = prep(emb, "id1", "v1", "n1")
      .join(lab.withColumnRenamed("vec_id", "id1"), "id1")
      .join(cells.toDF("id1", "cell"), "id1")
    val b = prep(emb, "id2", "v2", "n2")
      .join(lab.toDF("id2", "label2"), "id2")
      .join(cells.toDF("id2", "cell2"), "id2")
    a.join(b, col("label") === col("label2") && col("cell") === col("cell2") &&
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("label"),
        cosine("v1", "v2", "n1", "n2").as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy(col("id1"), col("id2"))
  }

  /** q48 with LIVE training: the MLlib k-means quantizer (fixed seed)
    * fit on the target corpus, served through the same exact probe as
    * the frozen table. Trainer RNG is engine-specific, so THIS path is
    * gated by the TextDedupSpec recall spec, not a hash oracle; the
    * registered q48_ann_ivf entry instead serves the FROZEN centroid
    * table below, which makes the whole call deterministic arithmetic
    * and hash-oracled. */
  def q48AnnIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = Tables.embeddings(spark, dir).select(col("vec_id"),
      array_to_vector(col("embedding")).as("features"))
    val model = new KMeans().setK(8).setSeed(42L).setMaxIter(10).fit(feats)
    ivfProbe(spark, dir,
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toIndexedSeq)
  }

  /** q48: IVF (inverted-file) ANN — the scale path past LSH: a coarse
    * k-means quantizer partitions the corpus into cells; a query probes
    * only its `nprobe` nearest cells and scores exact cosine inside
    * them. At 100 TB: centroids broadcast (kB), corpus is
    * hash-partitioned by cell id, each probe touches nprobe/k of the
    * data. The TRAINING is a recorded one-time run ([[Q48Centroids]],
    * regenerable via IvfFreeze); with the centroids inlined as plan
    * literals the assignment + nprobe search + in-cell ranking is
    * deterministic arithmetic, so the whole SERVING path — the half a
    * cluster actually executes per query — is hash-checked against
    * DuckDB, leaving only the trainer RNG outside the oracle
    * (exactly the reference's index-then-serve split). */
  def q48AnnIvf(spark: SparkSession, dir: String): DataFrame =
    ivfProbe(spark, dir, Q48Centroids.table)

  /** Cells each query probes, of the k the centroid table holds. */
  private final val nprobe = 3

  /** The serving half of the IVF index, decoupled from training: probe
    * the corpus with an externally supplied centroid table. The frozen
    * table (q48), the MLlib batch fit ([[q48AnnIvfTrained]]) and the
    * streaming mini-batch refresh (streaming.EventStream.ivfUpdateStream)
    * all serve through THIS function, which is exactly the
    * lambda-architecture seam: a periodic full re-train and a
    * continuous drift-correction update share one oracled probe.
    *
    * Exact arithmetic: centroids and vectors quantize to the shared
    * 1e9-scaled int64 grid (prep's DECIMAL(18,9) discipline), and
    * nearest-cell ranking orders by ‖y‖² − 2·x·y — the ‖x‖² term is
    * constant per vector, so the argmin matches squared euclidean
    * distance while every compared key is exact integer math (carried
    * as DECIMAL(38,0): 2·dot can reach ~2.4e18 and the subtraction must
    * not wrap int64). Ties break toward the smallest cell id, in both
    * engines. */
  private[graft] def ivfProbe(spark: SparkSession, dir: String,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val cdf = spark.createDataFrame(centroids).toDF("cell", "centroid")
      .select(col("cell"), expr("transform(centroid, x -> " +
        "CAST(CAST(x AS DECIMAL(18,9)) * 1000000000 AS BIGINT))").as("cv"))
      .withColumn("yy", expr(
        "aggregate(transform(cv, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
    val x = prep(Tables.embeddings(spark, dir), "vid", "xv", "xn")
    // ‖y‖² − dot − dot (not − 2·dot): keeps every intermediate inside
    // DECIMAL(38,0) addition, and whole-stage codegen's subexpression
    // elimination evaluates the shared dot Column once
    val dot = dotDec("xv", "cv").cast("decimal(38,0)")
    val ranked = x.crossJoin(broadcast(cdf))
      .withColumn("dk", col("yy").cast("decimal(38,0)") - dot - dot)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vid")).orderBy(col("dk"), col("cell"))))
    val cellof = ranked.filter(col("rn") === 1).select(col("vid"), col("cell"))
    val probes = ranked.filter(col("vid") < 10 && col("rn") <= nprobe)
      .select(col("vid").as("qid"), col("cell"))
    val q = x.filter(col("vid") < 10)
      .select(col("vid").as("qid"), col("xv").as("qe"), col("xn").as("qn"))
    val c = x.filter(col("vid") >= 10)
      .select(col("vid").as("cid"), col("xv").as("ce"), col("xn").as("cn"))
      .join(cellof.toDF("cid", "cell"), "cid")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    c.join(broadcast(probes.join(q, "qid")), Seq("cell"))
      .select(col("qid"), col("cid"), col("cell"),
        cosine("qe", "ce", "qn", "cn").as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy(col("qid"), col("rk"))
  }

  /** The 8×64 sign table as a VALUES list for the q35 oracle — the same
    * [[lshSign]] literals the Spark plan inlines. */
  private def lshSignsSql: String =
    (0 until lshPlanes).flatMap(p =>
      (1 to lshDims).map(d => s"($p,$d,${lshSign(p, d)})")).mkString(",")

  /** The frozen centroid table as a VALUES list — rendered with the
    * same 6dp format IvfFreeze emitted, so both engines parse the
    * identical decimal text. */
  private def q48CentroidsSql: String =
    Q48Centroids.table.map { case (cell, c) =>
      s"($cell, [" + c.map(v => f"$v%.6f").mkString(",") + "])"
    }.mkString(",\n  ")

  /** [[ivfProbe]] spelled for DuckDB: the same 1e9-scaled int64
    * quantization, the same ‖y‖²−2·x·y DECIMAL(38,0) ranking key, the
    * same (cell, cid) tie-breaks, the shared [[cosineSql]] core. */
  private def q48OracleSql: String =
    s"""WITH cent(cell, centroid) AS (VALUES
      |  $q48CentroidsSql),
      | cq AS (SELECT cell, generate_subscripts(centroid, 1) AS pos,
      |   CAST(CAST(CAST(unnest(centroid) AS DOUBLE) AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS y
      |  FROM cent),
      | yy AS (SELECT cell, sum(y * y) AS y2 FROM cq GROUP BY 1),
      | xq AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |   CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS x
      |  FROM embeddings),
      | dt AS (SELECT vec_id, cell, sum(x * y) AS dot
      |  FROM xq JOIN cq USING (pos) GROUP BY 1, 2),
      | rankc AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
      |   ORDER BY CAST(y2 AS DECIMAL(38,0)) - CAST(dot AS DECIMAL(38,0))
      |     - CAST(dot AS DECIMAL(38,0)), cell) AS rn
      |  FROM dt JOIN yy USING (cell)),
      | cellof AS (SELECT vec_id, cell FROM rankc WHERE rn = 1),
      | probes AS (SELECT vec_id AS qid, cell FROM rankc
      |  WHERE vec_id < 10 AND rn <= $nprobe),
      | qt AS (SELECT * FROM embeddings WHERE vec_id < 10),
      | ct AS (SELECT e.* FROM embeddings e
      |  JOIN cellof co ON e.vec_id = co.vec_id WHERE e.vec_id >= 10),
      | ${cosineSql("qt", "ct")},
      | cand AS (SELECT cr.qid, cr.cid, co.cell, cr.cos FROM cosres cr
      |  JOIN cellof co ON cr.cid = co.vec_id
      |  JOIN probes p ON p.qid = cr.qid AND p.cell = co.cell),
      | rkd AS (SELECT qid, cid, cell, cos,
      |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |  FROM cand)
      |SELECT qid, cid, cell, cos, CAST(rk AS BIGINT) AS rk FROM rkd
      |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  val oracles: Map[String, String] = Map(
    "q48_ann_ivf" -> q48OracleSql,
    "q35_ann_lsh" -> {
      s"""WITH qt AS (SELECT * FROM embeddings WHERE vec_id < 10),
        | ct AS (SELECT * FROM embeddings WHERE vec_id >= 10),
        | ${cosineSql("qt", "ct")},
        | signs AS (SELECT * FROM (VALUES $lshSignsSql) v(p, pos, s)),
        | qproj AS (SELECT qid, p, sum(x * s) AS sp
        |  FROM qe JOIN signs USING (pos) GROUP BY 1, 2),
        | qbuck AS (SELECT qid, CAST(sum(CASE WHEN sp > 0
        |   THEN 1::BIGINT << p ELSE 0::BIGINT END) AS BIGINT) AS bucket
        |  FROM qproj GROUP BY 1),
        | cproj AS (SELECT cid, p, sum(y * s) AS sp
        |  FROM ce JOIN signs USING (pos) GROUP BY 1, 2),
        | cbuck AS (SELECT cid, CAST(sum(CASE WHEN sp > 0
        |   THEN 1::BIGINT << p ELSE 0::BIGINT END) AS BIGINT) AS bucket
        |  FROM cproj GROUP BY 1),
        | ranked AS (SELECT qid, cid, qb.bucket AS bucket, cos,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |  FROM cosres JOIN qbuck qb USING (qid) JOIN cbuck cb USING (cid)
        |  WHERE qb.bucket = cb.bucket)
        |SELECT qid, cid, bucket, cos, rk FROM ranked WHERE rk <= 10
        |ORDER BY qid, rk""".stripMargin
    },
    "q34_ann_cosine_topk" -> {
      s"""WITH qt AS (SELECT * FROM embeddings WHERE vec_id < 10),
        | ct AS (SELECT * FROM embeddings WHERE vec_id >= 10),
        | ${cosineSql("qt", "ct")},
        | ranked AS (SELECT qid, cid, cos,
        |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |  FROM cosres)
        |SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 10
        |ORDER BY qid, rk""".stripMargin
    },
    "q36_dedup_embedding" -> {
      // Pair WITHIN (label, cell) blocks BEFORE any per-component work —
      // the unblocked spelling (all-pairs dots, filter after) is n²·dim
      // intermediate rows and never finishes past sf0.1; this mirrors
      // the Spark plan's block-first shape, so oracle cost scales with
      // candidate pairs, not the corpus square.
      s"""WITH qt AS (SELECT * FROM embeddings),
        | st AS (SELECT * FROM embeddings WHERE vec_id <
        |   (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT))
        |      FROM embeddings)),
        | lab AS (SELECT vec_id, label FROM embeddings),
        | ${cosineSql("qt", "st", "_s")},
        | cells AS (SELECT qid AS vid, cid AS cell FROM (
        |   SELECT qid, cid,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot / (sqrt(nq_s.n2) * sqrt(nc_s.n2)) DESC, cid) AS rk
        |   FROM dots_s JOIN nq_s USING (qid) JOIN nc_s USING (cid))
        |  WHERE rk = 1),
        | pairs AS (SELECT ca.vid AS qid, cb.vid AS cid
        |   FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vid < cb.vid
        |   JOIN lab la ON la.vec_id = ca.vid
        |   JOIN lab lb ON lb.vec_id = cb.vid AND la.label = lb.label),
        | comp AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |   CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS x
        |  FROM qt),
        | nrm AS (SELECT vec_id, sqrt(CAST(sum(x * x) AS DOUBLE)) AS n FROM comp GROUP BY 1),
        | dots AS (SELECT p.qid, p.cid, CAST(sum(a.x * b.x) AS DOUBLE) AS dot
        |   FROM pairs p
        |   JOIN comp a ON a.vec_id = p.qid
        |   JOIN comp b ON b.vec_id = p.cid AND b.pos = a.pos
        |   GROUP BY 1, 2)
        |SELECT d.qid AS id1, d.cid AS id2, la.label AS label,
        | round(d.dot / (na.n * nb.n), 6) AS cos
        |FROM dots d
        | JOIN nrm na ON na.vec_id = d.qid
        | JOIN nrm nb ON nb.vec_id = d.cid
        | JOIN lab la ON la.vec_id = d.qid
        |WHERE round(d.dot / (na.n * nb.n), 6) >= 0.4
        |ORDER BY 1, 2""".stripMargin
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_ann_cosine_topk" -> (q34AnnCosineTopk _),
    "q35_ann_lsh" -> (q35AnnLsh _),
    "q36_dedup_embedding" -> (q36DedupEmbedding _),
    "q48_ann_ivf" -> (q48AnnIvf _)
  )
}
