package graft.ops

import graft.{Release, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators over `documents` (SURVEY.md §2.E) —
  * the LLM-training-pipeline family: exact dedup, n-gram Jaccard
  * near-dup, language ID, quality scoring, token counting, rolling-hash
  * fingerprints. The review-text side of the reference (Amazon/Yelp
  * pipelines) motivates the per-document feature shape.
  *
  * Scale notes (100 TB): everything is one scan + one groupBy keyed by
  * doc or shingle; the near-dup candidate join is bounded by a
  * max-document-frequency cap on shingles (df ≤ maxDf), the standard
  * inverted-index trick that keeps candidate pairs ~linear instead of
  * quadratic. Shingling uses array HOFs inside codegen — no UDFs.
  */
object Text {

  /** Word trigram shingles, distinct per doc. Documents are single-space
    * separated words; split(' ') matches DuckDB's string_split exactly.
    *
    * The token array is bound as a LAMBDA VARIABLE (`transform` over a
    * 1-element array), not a projected column: CollapseProject would
    * otherwise inline `split()` into every `element_at(t, i)` reference
    * inside the trigram lambda and re-tokenize the document once per
    * shingle per word — measured 12× slower at sf0.1. */
  private[graft] val shinglesExpr =
    """flatten(transform(array(split(text, ' ')),
      | t -> CASE WHEN size(t) >= 3 THEN
      |   array_distinct(transform(sequence(1, size(t) - 2),
      |     i -> concat_ws(' ', element_at(t, i),
      |                         element_at(t, cast(i+1 AS INT)),
      |                         element_at(t, cast(i+2 AS INT)))))
      |  ELSE array() END))""".stripMargin

  private[graft] def shingled(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("shingle"))

  private[graft] val shingledSql =
    """SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)""".stripMargin

  /** q30: exact dedup — group identical texts by content hash, keep the
    * lowest doc_id as canonical (hash-groupBy; at scale this is the
    * one-shuffle pass that removes byte-identical crawl copies). */
  def q30DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("h"))

  /** q31's document-frequency cap — the bound that keeps the pair
    * explosion linear on power-law shingle distributions (a crawl's
    * boilerplate head). SkewSpec's CI gate pins the candidate volume
    * this cap produces on a hub-injected replica. */
  private[graft] val q31MaxDf = 50

  /** q31: n-gram Jaccard near-dup pairs via an inverted shingle index.
    * Shingles with document frequency > maxDf are dropped BEFORE sizing
    * and pairing (both engines identically), bounding the join at scale;
    * pairs with Jaccard ≥ 0.5 over the kept-shingle sets survive. */
  def q31DedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val kept = q31KeptShingles(spark, dir)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = q31InterFrom(kept)
    inter
      .join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"), col("inter"),
        Exact.r(col("inter") * lit(1.0) /
          (col("s1.sz") + col("s2.sz") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("id1"), col("id2"))
  }

  /** q31's df-capped (doc_id, shingle) stream — the frame whose per-
    * shingle posting width the [[q31MaxDf]] anti-join bounds. Cached:
    * it feeds both the sizing aggregate and the posting lists. */
  private[graft] def q31KeptShingles(spark: SparkSession, dir: String): DataFrame = {
    val maxDf = q31MaxDf
    // Cached: the shingling is the expensive part and feeds both the df
    // aggregation and the semi-join below.
    val sh = Release.cache(shingled(spark, dir))
    // Document frequency via hash aggregation + an ANTI-join against the
    // hot-shingle list — NOT `count(*) OVER (PARTITION BY shingle)`,
    // which sort-shuffles the entire posting list just to drop the hot
    // shingles. Map-side partial counts shrink the df table to one row
    // per distinct shingle before its shuffle, no sort runs anywhere,
    // and the exclusion side (df > maxDf — boilerplate, the tiny head
    // of the df distribution) is what joins back, so AQE broadcasts it
    // and the posting list itself never shuffles for the cap; a
    // pathological corpus with a huge hot head degrades to a shuffle
    // join, not an error. (A groupBy(collect_list) posting-list variant
    // would save this join but accumulates unbounded arrays for hot
    // shingles BEFORE the df filter — a single-key OOM hazard at crawl
    // scale.)
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle"))
    // the cache feeds sizing + the posting-list aggregation
    Release.cache(sh.join(hot, Seq("shingle"), "left_anti")
      .select(col("doc_id"), col("shingle")))
  }

  /** q31's unordered candidate-pair frame (id1, id2, inter) over an
    * already df-capped shingle stream. Exposed so SkewSpec's CI-sized
    * skew gate can pin the candidate count the cap guarantees — the
    * number that goes quadratic if [[q31MaxDf]] stops biting. */
  private[graft] def q31InterFrom(kept: DataFrame): DataFrame = {
    // Posting list per shingle, AFTER the cap — so collect_list is
    // bounded at maxDf ids per key (the cap is exactly what makes this
    // safe; collect_list before it is the hot-key OOM hazard the
    // anti-join exists to prevent). Pairs then explode locally inside
    // one task — ONE hash shuffle of the posting list total, where the
    // previous self-join shuffled it once per side and sort-merged.
    // Shingles are array_distinct'd per doc, so y > x enumerates each
    // unordered doc pair exactly once (≤ maxDf²/2 structs per row).
    val posting = kept.groupBy(col("shingle"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    // Pair enumeration as two chained generators (posexplode + slice +
    // explode) — all codegen'd operators, where the nested
    // transform/filter/flatten HOF spelling evaluates interpreted
    // per posting row (the q36 lesson: HOFs don't codegen). Positional
    // enumeration emits each unordered pair once (ids are distinct
    // within a posting list); least/greatest canonicalizes since
    // collect_list order is nondeterministic.
    val inter = posting
      .select(posexplode(col("ds")).as(Seq("i", "x")), col("ds"))
      .select(col("x"), explode(slice(col("ds"), col("i") + lit(2),
        greatest(size(col("ds")) - col("i") - lit(1), lit(0)))).as("y"))
      .groupBy(least(col("x"), col("y")).as("id1"),
        greatest(col("x"), col("y")).as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
  }

  /** Per-language marker words (the stopword heuristic of production
    * crawl pipelines) — shared by q37 and the q57 language gate. */
  private[graft] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "und", "nicht"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "que", "y"))

  /** Adds c_en..c_es marker-hit counts; expects a token-array column `t`. */
  private[graft] def withLangCounts(df: DataFrame): DataFrame =
    langMarkers.foldLeft(df) { case (d, (lang, ws)) =>
      val inList = ws.map(w => s"x = '$w'").mkString(" OR ")
      d.withColumn(s"c_$lang", expr(s"size(filter(t, x -> $inList))").cast("long"))
    }

  /** Deterministic argmax over the marker counts, ties → 'und'. */
  private[graft] def langPredCol: Column = {
    val best = greatest(col("c_en"), col("c_de"), col("c_fr"), col("c_es"))
    when(best === 0, lit("und"))
      .when(col("c_en") === best, lit("en"))
      .when(col("c_de") === best, lit("de"))
      .when(col("c_fr") === best, lit("fr"))
      .otherwise(lit("es"))
  }

  /** q37: stopword-marker language ID. */
  def q37LangId(spark: SparkSession, dir: String): DataFrame =
    withLangCounts(Tables.documents(spark, dir)
        .withColumn("t", split(col("text"), " ")))
      .select(
        col("doc_id"), col("lang").as("lang_true"),
        langPredCol.as("lang_pred"),
        col("c_en"), col("c_de"), col("c_fr"), col("c_es"))
      .orderBy(col("doc_id"))

  /** Adds n_tok / n_uniq / n_stop from the token-array column `t`, and
    * the [0,1] quality combination — shared by q38 and the q57 quality
    * gate. All ratios of exact integers, so the oracle is exact. */
  private[graft] def withQualityParts(df: DataFrame): DataFrame =
    df.withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("t"))).cast("long"))
      .withColumn("n_stop",
        expr("size(filter(t, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))").cast("long"))

  private[graft] def qualityCol: Column =
    Exact.r(
      least(col("n_tok") * lit(1.0) / 100, lit(1.0)) * lit(0.5)
        + col("n_uniq") * lit(0.3) / col("n_tok")
        + least(col("n_stop") * lit(5.0) / col("n_tok"), lit(1.0)) * lit(0.2),
      6)

  /** q38: heuristic quality score — length, token count, type-token
    * ratio, stopword ratio, mean word length; combined into [0,1]. */
  def q38QualityScore(spark: SparkSession, dir: String): DataFrame =
    withQualityParts(Tables.documents(spark, dir)
        .withColumn("t", split(col("text"), " ")))
      .select(
        col("doc_id"), col("n_tok"), col("n_uniq"), col("n_stop"),
        Exact.r(col("n_uniq") * lit(1.0) / col("n_tok"), 6).as("ttr"),
        Exact.r(col("n_stop") * lit(1.0) / col("n_tok"), 6).as("stop_ratio"),
        Exact.r((length(col("text")) - col("n_tok") + 1) * lit(1.0) / col("n_tok"), 6)
          .as("mean_wlen"),
        qualityCol.as("quality"))
      .orderBy(col("doc_id"))

  /** q39: token counting — whitespace tokens plus the chars/4 BPE-style
    * subword estimate used for LLM token budgeting. */
  def q39TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("t", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("ws_tokens"),
        size(split(col("text"), "[^a-z0-9]+")).cast("long").as("re_tokens"),
        expr("(length(text) + 3) div 4").cast("long").as("bpe_est"),
        length(col("text")).cast("long").as("n_chars_actual"))
      .orderBy(col("doc_id"))

  /** q40: rolling-hash fingerprint — min/max 48-bit content hash over
    * the doc's trigram shingles (winnowing-style signature). The hash is
    * [[Exact.portableHash]] (md5 hex digits as an integer), identical in
    * both engines, so the fingerprint is fully oracle-checked; TextSpec
    * additionally pins identical text ⇒ identical fingerprint. */
  def q40Fingerprint(spark: SparkSession, dir: String): DataFrame =
    shingled(spark, dir)
      .groupBy(col("doc_id"))
      .agg(
        min(Exact.portableHash(col("shingle"), 12)).as("fp_min"),
        max(Exact.portableHash(col("shingle"), 12)).as("fp_max"),
        count(lit(1)).as("n_shingles"))
      .orderBy(col("doc_id"))

  // --- q70: PII scrubbing -------------------------------------------
  // RE2 ∩ java.util.regex common subset ONLY: no alternation (so
  // leftmost-first and leftmost-longest coincide), no backrefs, no
  // lookaround — the same pattern string evaluates identically in
  // Spark (Java regex) and DuckDB (RE2).
  private[graft] val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val ipPat = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private[graft] val phonePat = "\\+[0-9][0-9 ()-]{6,}[0-9]"

  /** Redaction chain (email → IP → phone, in that order so markers
    * never feed a later pattern) — shared by q70 and the spec. */
  private[graft] def piiRedact(t: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(t,
      emailPat, "<EMAIL>"), ipPat, "<IP>"), phonePat, "<PHONE>")

  /** PII detection/redaction columns over any text column — the core
    * behind q70, reusable on raw production text. One email scan
    * (regexp_extract_all) yields both the first match and the count —
    * codegen subexpression elimination dedups the two references, so
    * the text is scanned once per pattern kind, not once per output
    * column. */
  private[graft] def withPiiScrub(df: DataFrame, tcol: String): DataFrame = {
    val t = col(tcol)
    val emails = regexp_extract_all(t, lit(emailPat), lit(0))
    df.withColumn("email", coalesce(try_element_at(emails, lit(1)), lit("")))
      .withColumn("n_emails", size(emails).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(phonePat)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(ipPat)).cast("long"))
      .withColumn("redacted", piiRedact(t))
  }

  /** q70: PII scrubbing — the redaction stage every production corpus
    * pipeline runs (C4/CCNet/Dolma class): detect and replace emails,
    * IPv4s and phone numbers, report per-doc counts and the redacted
    * content hash. The generated corpora carry NO PII, so the query
    * deterministically appends per-doc fixtures (an email, an IP and a
    * phone derived from doc_id) inside BOTH engines before scrubbing —
    * every row's extraction, counts and redacted md5 are then
    * genuinely oracle-verified cross-engine rather than a vacuous
    * no-match identity; production callers use [[withPiiScrub]] on the
    * raw text. Plan shape: the determinism orderBy runs FIRST, on the
    * narrow (doc_id, text) scan — a trailing global sort would make the
    * range partitioner's sampling job execute the whole regex
    * projection a second time (measured: the sort-last shape ran ~2×
    * the sum of its parts at sf1). Sorting the scan keeps the sampling
    * pass regex-free; the per-pattern scans run exactly once per row,
    * post-shuffle, inside one codegen'd projection. */
  def q70PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val t2 = concat(col("text"),
      lit(" contact doc"), col("doc_id").cast("string"),
      lit("@mail.example.com from 10."), (col("doc_id") % 200).cast("string"),
      lit(".0."), (col("doc_id") % 256).cast("string"),
      lit(" tel +1 555 010-"), (col("doc_id") % 9000 + 1000).cast("string"))
    val sorted = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
    withPiiScrub(sorted.withColumn("t2", t2), "t2")
      .select(col("doc_id"), col("email"),
        col("n_emails"), col("n_phones"), col("n_ips"),
        (length(col("t2")) - length(col("redacted"))).cast("long").as("len_delta"),
        md5(col("redacted")).as("redacted_md5"))
  }

  // --- q72: Gopher quality rule battery -----------------------------
  /** The Gopher §A1 heuristic metrics over any text column — the core
    * behind q72, reusable on raw production text: word/line counts,
    * mean word length, alphabetic-word fraction, symbol-to-word ratio
    * ('#' and '...'), bullet- and ellipsis-line fractions, stopword
    * count, and the combined pass flag (Rae et al. 2021 thresholds, as
    * adopted by FineWeb/Dolma/RefinedWeb). Everything is integer counts
    * and one 6dp-quantized IEEE ratio each — ln-free, so fully
    * cross-engine exact. One scan, all codegen'd HOFs. */
  private[graft] def withGopherRules(df: DataFrame, tcol: String): DataFrame = {
    val t = col(tcol)
    df.withColumn("w", split(t, "[ \n]+"))
      .withColumn("lines", split(t, "\n"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_lines", size(col("lines")).cast("long"))
      .withColumn("sum_wlen", aggregate(
        transform(col("w"), x => length(x).cast("long")), lit(0L), (a, x) => a + x))
      .withColumn("n_alpha",
        size(filter(col("w"), x => x.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_sym",
        (regexp_count(t, lit("#")) + regexp_count(t, lit("\\.\\.\\."))).cast("long"))
      .withColumn("n_bullet",
        size(filter(col("lines"), x => x.like("- %") || x.like("* %"))).cast("long"))
      .withColumn("n_ellip",
        size(filter(col("lines"), x => x.like("%..."))).cast("long"))
      .withColumn("n_stop",
        expr("size(filter(w, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))").cast("long"))
      .withColumn("mean_wlen", Exact.r(col("sum_wlen") * lit(1.0) / col("n_words"), 6))
      .withColumn("frac_alpha", Exact.r(col("n_alpha") * lit(1.0) / col("n_words"), 6))
      .withColumn("symbol_ratio", Exact.r(col("n_sym") * lit(1.0) / col("n_words"), 6))
      .withColumn("frac_bullet", Exact.r(col("n_bullet") * lit(1.0) / col("n_lines"), 6))
      .withColumn("frac_ellipsis", Exact.r(col("n_ellip") * lit(1.0) / col("n_lines"), 6))
      .withColumn("gopher_pass",
        col("n_words").between(50L, 100000L) &&
          col("mean_wlen").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("frac_bullet") <= 0.9 &&
          col("frac_ellipsis") <= 0.3 &&
          col("frac_alpha") >= 0.8 &&
          col("n_stop") >= 2L)
  }

  /** q72: the Gopher quality-rule battery (Rae et al. 2021 §A1.1) — the
    * named heuristic filter set FineWeb/Dolma/RefinedWeb run between
    * lang-ID and model-based quality: word-count bounds, mean-word-
    * length bounds, symbol-to-word ratio, bullet/ellipsis line caps,
    * alphabetic-word floor, stopword floor. The generated corpora are
    * single-line lowercase words — every rule except word-count would
    * be vacuously green — so the query appends deterministic per-doc
    * decorations (bullet lines, ellipsis lines, '#' runs, numeric
    * words; amounts keyed off doc_id, q70's fixture pattern) inside
    * BOTH engines: each rule then passes AND fails across the corpus
    * and every row's metrics + verdict are genuinely oracle-checked.
    * Production callers use [[withGopherRules]] on raw text.
    *
    * Plan shape (the q70 lesson): the determinism orderBy runs FIRST on
    * the narrow scan so the range-partitioner sampling pass never
    * executes the HOF projection; one codegen'd projection per row
    * after the sort. */
  def q72GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val deco = concat(col("text"),
      expr("repeat(concat(chr(10), '- item'), CAST(doc_id % 12 AS INT))"),
      expr("repeat(concat(chr(10), 'wait for it...'), CAST(doc_id % 7 AS INT))"),
      expr("repeat(' #', CAST(doc_id % 8 AS INT))"),
      expr("repeat(' 12345', CAST(doc_id % 9 AS INT))"),
      expr("repeat(' pneumonoultramicroscopicsilicovolcanoconiosis', " +
        "CAST(CASE WHEN doc_id % 97 = 0 THEN 40 ELSE 0 END AS INT))"))
    val sorted = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
    withGopherRules(sorted.withColumn("t2", deco), "t2")
      .select(col("doc_id"), col("n_words"), col("n_lines"), col("n_stop"),
        col("mean_wlen"), col("frac_alpha"), col("symbol_ratio"),
        col("frac_bullet"), col("frac_ellipsis"), col("gopher_pass"))
  }

  private val piiRedactSql =
    """regexp_replace(regexp_replace(regexp_replace(t2,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |   '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
      |   '\+[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g')""".stripMargin

  val oracles: Map[String, String] = Map(
    "q72_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
        |   text || repeat(chr(10) || '- item', CAST(doc_id % 12 AS INT))
        |        || repeat(chr(10) || 'wait for it...', CAST(doc_id % 7 AS INT))
        |        || repeat(' #', CAST(doc_id % 8 AS INT))
        |        || repeat(' 12345', CAST(doc_id % 9 AS INT))
        |        || repeat(' pneumonoultramicroscopicsilicovolcanoconiosis',
        |             CAST(CASE WHEN doc_id % 97 = 0 THEN 40 ELSE 0 END AS INT)) AS t2
        |  FROM documents),
        | c AS (SELECT doc_id, t2,
        |   string_split_regex(t2, '[ \n]+') AS w,
        |   string_split(t2, chr(10)) AS l
        |  FROM t),
        | m AS (SELECT doc_id,
        |   len(w)::BIGINT AS n_words,
        |   len(l)::BIGINT AS n_lines,
        |   list_sum(list_transform(w, x -> length(x)))::BIGINT AS sum_wlen,
        |   len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS n_alpha,
        |   (len(regexp_extract_all(t2, '#'))
        |     + len(regexp_extract_all(t2, '\.\.\.')))::BIGINT AS n_sym,
        |   len(list_filter(l, x -> x LIKE '- %' OR x LIKE '* %'))::BIGINT AS n_bullet,
        |   len(list_filter(l, x -> x LIKE '%...'))::BIGINT AS n_ellip,
        |   len(list_filter(w, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))::BIGINT AS n_stop
        |  FROM c)
        |SELECT doc_id, n_words, n_lines, n_stop,
        | floor((sum_wlen*1.0/n_words) * 1e6 + 0.5)/1e6 AS mean_wlen,
        | floor((n_alpha*1.0/n_words) * 1e6 + 0.5)/1e6 AS frac_alpha,
        | floor((n_sym*1.0/n_words) * 1e6 + 0.5)/1e6 AS symbol_ratio,
        | floor((n_bullet*1.0/n_lines) * 1e6 + 0.5)/1e6 AS frac_bullet,
        | floor((n_ellip*1.0/n_lines) * 1e6 + 0.5)/1e6 AS frac_ellipsis,
        | (n_words BETWEEN 50 AND 100000)
        |   AND (floor((sum_wlen*1.0/n_words) * 1e6 + 0.5)/1e6 BETWEEN 3.0 AND 10.0)
        |   AND floor((n_sym*1.0/n_words) * 1e6 + 0.5)/1e6 <= 0.1
        |   AND floor((n_bullet*1.0/n_lines) * 1e6 + 0.5)/1e6 <= 0.9
        |   AND floor((n_ellip*1.0/n_lines) * 1e6 + 0.5)/1e6 <= 0.3
        |   AND floor((n_alpha*1.0/n_words) * 1e6 + 0.5)/1e6 >= 0.8
        |   AND n_stop >= 2 AS gopher_pass
        |FROM m ORDER BY 1""".stripMargin,
    "q70_pii_scrub" ->
      s"""WITH t AS (SELECT doc_id,
        |   text || ' contact doc' || doc_id || '@mail.example.com from 10.'
        |     || (doc_id % 200) || '.0.' || (doc_id % 256)
        |     || ' tel +1 555 010-' || (doc_id % 9000 + 1000) AS t2
        |  FROM documents)
        |SELECT doc_id,
        | regexp_extract(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS email,
        | CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t2, '\\+[0-9][0-9 ()-]{6,}[0-9]')) AS BIGINT) AS n_phones,
        | CAST(len(regexp_extract_all(t2, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
        | CAST(length(t2) - length($piiRedactSql) AS BIGINT) AS len_delta,
        | md5($piiRedactSql) AS redacted_md5
        |FROM t ORDER BY 1""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_dedup_ngram_jaccard" ->
      s"""WITH sh AS ($shingledSql),
        | hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
        | kept AS (SELECT doc_id, shingle FROM sh
        |   WHERE shingle NOT IN (SELECT shingle FROM hot)),
        | sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
        | inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |   FROM kept a JOIN kept b
        |     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |   GROUP BY 1, 2)
        |SELECT id1, id2, inter,
        | floor((inter*1.0/(s1.sz + s2.sz - inter)) * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM inter JOIN sizes s1 ON id1 = s1.doc_id
        | JOIN sizes s2 ON id2 = s2.doc_id
        |WHERE floor((inter*1.0/(s1.sz + s2.sz - inter)) * 1e6 + 0.5) / 1e6 >= 0.5
        |ORDER BY 1, 2""".stripMargin,
    "q38_quality_score" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        | c AS (SELECT doc_id, text,
        |   len(t)::BIGINT AS n_tok,
        |   len(list_distinct(t))::BIGINT AS n_uniq,
        |   len(list_filter(t, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))::BIGINT AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tok, n_uniq, n_stop,
        | floor((n_uniq*1.0/n_tok) * 1e6 + 0.5) / 1e6 AS ttr,
        | floor((n_stop*1.0/n_tok) * 1e6 + 0.5) / 1e6 AS stop_ratio,
        | floor(((length(text) - n_tok + 1)*1.0/n_tok) * 1e6 + 0.5) / 1e6 AS mean_wlen,
        | floor((least(n_tok*1.0/100, 1.0)*0.5 + n_uniq*0.3/n_tok
        |   + least(n_stop*5.0/n_tok, 1.0)*0.2) * 1e6 + 0.5) / 1e6 AS quality
        |FROM c ORDER BY 1""".stripMargin,
    "q37_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        | c AS (SELECT doc_id, lang AS lang_true,
        |   len(list_filter(t, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))::BIGINT AS c_en,
        |   len(list_filter(t, x -> x = 'der' OR x = 'die' OR x = 'und' OR x = 'nicht'))::BIGINT AS c_de,
        |   len(list_filter(t, x -> x = 'le' OR x = 'la' OR x = 'et' OR x = 'les'))::BIGINT AS c_fr,
        |   len(list_filter(t, x -> x = 'el' OR x = 'los' OR x = 'que' OR x = 'y'))::BIGINT AS c_es
        |  FROM t)
        |SELECT doc_id, lang_true,
        | CASE WHEN greatest(c_en, c_de, c_fr, c_es) = 0 THEN 'und'
        |      WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
        |      WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
        |      WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
        |      ELSE 'es' END AS lang_pred,
        | c_en, c_de, c_fr, c_es
        |FROM c ORDER BY 1""".stripMargin,
    "q40_fingerprint" ->
      s"""WITH sh AS ($shingledSql)
        |SELECT doc_id,
        | min(${Exact.sql.portableHash("shingle", 12)}) AS fp_min,
        | max(${Exact.sql.portableHash("shingle", 12)}) AS fp_max,
        | count(*) AS n_shingles
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,
    "q39_token_count" ->
      """SELECT doc_id,
        | len(string_split(text, ' '))::BIGINT AS ws_tokens,
        | len(string_split_regex(text, '[^a-z0-9]+'))::BIGINT AS re_tokens,
        | ((length(text) + 3) // 4)::BIGINT AS bpe_est,
        | length(text)::BIGINT AS n_chars_actual
        |FROM documents ORDER BY 1""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_dedup_exact" -> (q30DedupExact _),
    "q31_dedup_ngram_jaccard" -> (q31DedupNgramJaccard _),
    "q37_lang_id" -> (q37LangId _),
    "q38_quality_score" -> (q38QualityScore _),
    "q39_token_count" -> (q39TokenCount _),
    "q40_fingerprint" -> (q40Fingerprint _),
    "q70_pii_scrub" -> (q70PiiScrub _),
    "q72_gopher_rules" -> (q72GopherRules _)
  )
}
