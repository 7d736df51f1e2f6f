package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash._
import graft.sources.Tables.{load => t}

/** Text-analysis operators for training-data pipelines (north star):
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * All outputs are integers/strings (never raw float ratios) so the DuckDB
  * differential is exact: ratios are scaled (×100/×1000) and integer-divided
  * with identical semantics (`DIV` / `//`) on both engines. Every operator
  * is a single narrow pass over `documents` — no shuffle except the final
  * aggregate where one exists; at 100 TB these run at scan speed.
  */
object TextOps {

  /** Tiny per-language stopword profiles (n-gram-heuristic stand-in; a
    * production profile would be the top-k character n-grams per language,
    * same argmax machinery). Preference order on ties: en > es > fr > de. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "les"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"))

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private def scoreExprs(dialect: String): Seq[(String, String)] =
    stopwords.map { case (lang, words) =>
      val e =
        if (dialect == "spark")
          s"size(filter(tw, li_w -> li_w IN ${inList(words)}))"
        else s"len(list_filter(tw, li_w -> li_w IN ${inList(words)}))"
      lang -> e
    }

  /** Shared argmax CASE chain (identical SQL text in both dialects). */
  private val predCase: String =
    """CASE
       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en > 0
         THEN 'en'
       WHEN s_es >= s_fr AND s_es >= s_de AND s_es > 0 THEN 'es'
       WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
       WHEN s_de > 0 THEN 'de'
       ELSE 'und' END"""

  /** q34 — language ID by stopword-profile argmax. */
  def q34LangId(s: SparkSession, dir: String): DataFrame = {
    val scores = scoreExprs("spark")
    var df = t(s, dir, "documents")
      .withColumn("tw", split(col("text"), " "))
    scores.foreach { case (lang, e) =>
      df = df.withColumn(s"s_$lang", expr(e).cast("bigint"))
    }
    df.select(
      col("doc_id"), col("lang"),
      expr(predCase).as("pred_lang"),
      col("s_en"), col("s_es"), col("s_fr"), col("s_de"))
  }

  private def q34OracleSql: String = {
    val scores = scoreExprs("duck")
      .map { case (l, e) => s"CAST($e AS BIGINT) AS s_$l" }.mkString(", ")
    s"""WITH scored AS (
          SELECT doc_id, lang, $scores
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS tw
                FROM documents))
        SELECT doc_id, lang, $predCase AS pred_lang, s_en, s_es, s_fr, s_de
        FROM scored"""
  }

  /** q35 — quality scoring: distinct-word ratio, mean word length,
    * stopword ratio (all integer-scaled). */
  def q35QualityScore(s: SparkSession, dir: String): DataFrame = {
    val enStops = inList(stopwords.head._2)
    t(s, dir, "documents")
      .withColumn("tw", split(col("text"), " "))
      .withColumn("n_words", size(col("tw")).cast("bigint"))
      .withColumn("n_distinct",
        size(array_distinct(col("tw"))).cast("bigint"))
      .withColumn("n_stop",
        expr(s"size(filter(tw, qs_w -> qs_w IN $enStops))").cast("bigint"))
      .withColumn("sum_wlen", expr(
        "aggregate(tw, 0L, (qa_a, qa_w) -> qa_a + length(qa_w))"))
      .select(
        col("doc_id"), col("n_words"),
        expr("(n_distinct * 1000) DIV n_words").as("distinct_x1000"),
        expr("(sum_wlen * 100) DIV n_words").as("wlen_x100"),
        expr("(n_stop * 1000) DIV n_words").as("stop_x1000"),
        expr("((n_distinct * 1000) DIV n_words + (n_stop * 1000) DIV n_words) DIV 2")
          .as("quality"))
  }

  private def q35OracleSql: String = {
    val enStops = inList(stopwords.head._2)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS tw
                   FROM documents),
        m AS (SELECT doc_id,
                CAST(len(tw) AS BIGINT) AS n_words,
                CAST(len(list_distinct(tw)) AS BIGINT) AS n_distinct,
                CAST(len(list_filter(tw, qs_w -> qs_w IN $enStops))
                  AS BIGINT) AS n_stop,
                CAST(list_sum(list_transform(tw, qa_w -> length(qa_w)))
                  AS BIGINT) AS sum_wlen
              FROM w)
        SELECT doc_id, n_words,
               (n_distinct * 1000) // n_words AS distinct_x1000,
               (sum_wlen * 100) // n_words AS wlen_x100,
               (n_stop * 1000) // n_words AS stop_x1000,
               ((n_distinct * 1000) // n_words
                + (n_stop * 1000) // n_words) // 2 AS quality
        FROM m"""
  }

  /** q36 — token counting: whitespace split, word/number regex, and a
    * BPE-ish bounded-subword regex (≤4-char chunks). */
  def q36TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("bigint").as("n_ws"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
        .cast("bigint").as("n_word"),
      size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)"))
        .cast("bigint").as("n_bpeish"))

  private def q36OracleSql: String =
    """SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
         AS n_word,
       CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT)
         AS n_bpeish
       FROM documents"""

  /** q37 — document fingerprint: rolling polynomial hash of the full text
    * (the portable-hash primitive itself, exposed as an operator; native
    * codegen'd byte fold, bit-identical to the HOF char fold on ASCII). */
  def q37Fingerprint(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").select(
      col("doc_id"),
      expr("poly_hash(text)").as("fingerprint"))
  }

  private def q37OracleSql: String =
    s"""SELECT doc_id, ${duckCharFold("text")} AS fingerprint
        FROM documents"""

  /** q59 — TF/DF term statistics (the integer core of TF-IDF): per
    * (doc, term) frequency joined with corpus document frequency. Two
    * aggregations over one exploded pass; the idf weighting itself is a
    * float transform left to callers (floats aren't differential-safe).
    * Restricted to terms of probe doc 0 to keep output bounded. */
  def q59TfDf(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = words.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val probeTerms = words.filter(col("doc_id") === 0L)
      .select("w").distinct()
    tf.join(broadcast(probeTerms), Seq("w"))
      .join(broadcast(df), Seq("w"))
      .select(col("doc_id"), col("w"), col("tf"), col("df"))
  }

  private def q59OracleSql: String =
    """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents),
       tf AS (SELECT doc_id, w, count(*) AS tf FROM words
              GROUP BY doc_id, w),
       df AS (SELECT w, count(*) AS df FROM
              (SELECT DISTINCT doc_id, w FROM words) GROUP BY w),
       pt AS (SELECT DISTINCT w FROM words WHERE doc_id = 0)
       SELECT tf.doc_id, tf.w, tf.tf, df.df
       FROM tf JOIN pt USING (w) JOIN df USING (w)"""

  /** q61 — ordered string aggregation (LISTAGG family): comma-joined
    * sorted member names per nation-of-customers sample. */
  def q61StringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter(col("c_custkey") < 40L)
      .groupBy("c_nationkey")
      .agg(concat_ws(",",
        sort_array(collect_list(col("c_name")))).as("members"))

  private def q61OracleSql: String =
    """SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name)
         AS members
       FROM customer WHERE c_custkey < 40 GROUP BY c_nationkey"""

  /** q72 — repetition signals (the Gopher-rule family q35's ratios don't
    * cover): per-document top-token and top-bigram frequencies, as
    * integer per-mille fractions. High top-n-gram mass flags boilerplate
    * and degenerate repetition. Two exploded aggregations (token,
    * bigram) re-joined on doc_id — each is one shuffle of O(doc x
    * distinct-gram) rows; integer outputs keep the differential exact. */
  def q72Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val base = docs.select(col("doc_id"),
      size(col("ws")).cast("bigint").as("n_tokens"))
    val topTok = docs
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_token_n"))
    val topBi = docs
      .filter(size(col("ws")) >= 2)
      // native codegen gram generator (round 13, guide §4) — the
      // transform(sequence(...), concat_ws(...)) lambda ran interpreted
      .select(col("doc_id"),
        explode(expr("gram_strings(ws, 2)")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_n"))
    base
      .join(topTok, Seq("doc_id"), "left")
      .join(topBi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("top_token_n"), lit(0L)).as("top_token_n"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        expr("coalesce(top_token_n, 0L) * 1000 div n_tokens")
          .as("top_token_pml"),
        expr("""CASE WHEN n_tokens > 1
                THEN coalesce(top_bigram_n, 0L) * 1000 div (n_tokens - 1)
                ELSE 0L END""").as("top_bigram_pml"))
  }

  private def q72OracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
       base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM w),
       tok AS (SELECT doc_id, max(c) AS top_token_n FROM (
                 SELECT doc_id, t, count(*) AS c FROM (
                   SELECT doc_id, unnest(ws) AS t FROM w)
                 GROUP BY doc_id, t) GROUP BY doc_id),
       bi AS (SELECT doc_id, max(c) AS top_bigram_n FROM (
                SELECT doc_id, bg, count(*) AS c FROM (
                  SELECT doc_id, unnest(list_transform(
                    range(1, len(ws)), bg_i ->
                      concat_ws(' ', ws[bg_i], ws[bg_i + 1]))) AS bg
                  FROM w WHERE len(ws) >= 2)
                GROUP BY doc_id, bg) GROUP BY doc_id)
       SELECT base.doc_id, base.n_tokens,
              COALESCE(tok.top_token_n, 0) AS top_token_n,
              COALESCE(bi.top_bigram_n, 0) AS top_bigram_n,
              COALESCE(tok.top_token_n, 0) * 1000 // base.n_tokens
                AS top_token_pml,
              CASE WHEN base.n_tokens > 1
                   THEN COALESCE(bi.top_bigram_n, 0) * 1000 //
                        (base.n_tokens - 1)
                   ELSE 0 END AS top_bigram_pml
       FROM base
       LEFT JOIN tok ON base.doc_id = tok.doc_id
       LEFT JOIN bi ON base.doc_id = bi.doc_id"""

  /** q80 — regex function family: extract / extract-all / replace /
    * match in one projection. Patterns stay inside the Java∩RE2 common
    * subset (char classes, anchors, word boundaries — no backrefs or
    * lookaround) so Spark's java.util.regex and DuckDB's RE2 agree. */
  def q80RegexFamily(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      regexp_extract(col("text"), "^[a-z]+", 0).as("first_word"),
      size(expr("regexp_extract_all(text, 'vector', 0)"))
        .cast("bigint").as("n_vector"),
      col("text").rlike("\\bdup\\b").as("has_dup"),
      length(regexp_replace(col("text"), "[aeiou]", ""))
        .cast("bigint").as("len_novowels"))

  private def q80OracleSql: String =
    """SELECT doc_id,
       regexp_extract(text, '^[a-z]+') AS first_word,
       CAST(len(regexp_extract_all(text, 'vector')) AS BIGINT)
         AS n_vector,
       regexp_matches(text, '\bdup\b') AS has_dup,
       CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
         AS len_novowels
       FROM documents"""

  /** q90 — percentile QUALITY GATE, the "drop the bottom decile" corpus
    * filter: keep documents whose q35 quality score is strictly above
    * the smallest score whose cumulative count reaches n/10 (ties at
    * the threshold are dropped wholesale — deterministic, no
    * interpolation). Scale shape: the threshold comes from the SCORE
    * HISTOGRAM (bounded integer domain, O(distinct scores) rows — never
    * a global sort of the corpus), cumulated on the tiny histogram and
    * broadcast back over a scan-speed filter. The rational test
    * cum·10 ≥ n keeps floats out of the differential. */
  def q90QualityGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = q35QualityScore(s, dir).select("doc_id", "quality")
    val hist = scores.groupBy("quality").agg(count(lit(1)).as("c"))
    val tot = hist.agg(sum("c").as("n"))
    // the window's single partition holds only the histogram (~200 rows)
    val thr = hist.crossJoin(broadcast(tot))
      .withColumn("cum", sum("c").over(
        Window.orderBy("quality")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") * 10 >= col("n"))
      .agg(min("quality").as("thr"))
    scores.crossJoin(broadcast(thr))
      .filter(col("quality") > col("thr"))
      .select("doc_id", "quality")
  }

  private def q90OracleSql: String = {
    val enStops = inList(stopwords.head._2)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS tw
                   FROM documents),
        m AS (SELECT doc_id,
                CAST(len(tw) AS BIGINT) AS n_words,
                CAST(len(list_distinct(tw)) AS BIGINT) AS n_distinct,
                CAST(len(list_filter(tw, qs_w -> qs_w IN $enStops))
                  AS BIGINT) AS n_stop
              FROM w),
        q AS (SELECT doc_id,
                ((n_distinct * 1000) // n_words
                 + (n_stop * 1000) // n_words) // 2 AS quality
              FROM m),
        h AS (SELECT quality, count(*) AS c FROM q GROUP BY quality),
        cum AS (SELECT quality,
                  sum(c) OVER (ORDER BY quality
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
                FROM h),
        thr AS (SELECT min(quality) AS thr FROM cum
                WHERE cum * 10 >= (SELECT count(*) FROM q))
        SELECT doc_id, quality FROM q, thr WHERE quality > thr.thr"""
  }

  /** Chunk geometry for q89: 32-token windows, stride 16 (50% overlap) —
    * the shape embedding pipelines feed to fixed-context encoders. */
  val ChunkSize = 32
  val ChunkStride = 16

  /** q89 — document CHUNKING, the pass between text prep and embedding:
    * split every document into overlapping token windows with stable
    * (doc_id, chunk_idx) identities. One narrow pass, zero shuffles —
    * the generator multiplies rows ~len/stride× but never crosses the
    * wire; chunk identity is positional, so re-runs and re-partitions
    * produce identical chunk ids (what makes incremental re-embedding
    * possible). Documents shorter than one window become exactly one
    * whole-document chunk. All-integer geometry (`div`), so both
    * engines cut identical boundaries. */
  def q89ChunkDocuments(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("len", size(col("ws")))
      .withColumn("nchunks", expr(
        s"""CASE WHEN len <= $ChunkSize THEN 1
            ELSE ((len - $ChunkSize + ${ChunkStride - 1}) div $ChunkStride) + 1
            END"""))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, nchunks - 1), k -> struct(
              array_join(slice(ws, k * $ChunkStride + 1, $ChunkSize), ' ')
                AS chunk_text,
              least($ChunkSize, len - k * $ChunkStride) AS n_tokens))"""))
        .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        col("c.chunk_text").as("chunk_text"),
        col("c.n_tokens").cast("bigint").as("n_tokens"))

  private def q89OracleSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
          len(string_split(text, ' ')) AS len FROM documents),
        n AS (SELECT doc_id, ws, len,
          CASE WHEN len <= $ChunkSize THEN 1
            ELSE ((len - $ChunkSize + ${ChunkStride - 1}) // $ChunkStride) + 1
            END AS nchunks FROM w),
        c AS (SELECT doc_id, unnest(range(0, nchunks)) AS k, ws, len
              FROM n)
        SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
               array_to_string(list_slice(ws, k * $ChunkStride + 1,
                 k * $ChunkStride + $ChunkSize), ' ') AS chunk_text,
               CAST(LEAST($ChunkSize, len - k * $ChunkStride) AS BIGINT)
                 AS n_tokens
        FROM c"""

  /** PII scrub pattern: word-bounded sensitive-term alternation plus an
    * email shape. The term list stands in for a deny-list (names, ids);
    * the email branch is the real-world regex shape. `\b` and the
    * character classes behave identically in Java regex (Spark) and RE2
    * (DuckDB) over ASCII. */
  val PiiPattern: String =
    "\\b(customer|key|merge)\\b|[a-z0-9._]+@[a-z0-9.]+"
  val PiiReplacement = "[PII]"

  /** Library API: scrub a text column, returning the cleaned text plus a
    * per-row match count (the audit trail a compliance pass needs). */
  def redact(text: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    (regexp_replace(text, lit(PiiPattern), lit(PiiReplacement)),
      size(regexp_extract_all(text, lit(PiiPattern), lit(0))))

  /** q96 — PII redaction: regex scrub with per-document hit counts and
    * the cleaned text itself. One narrow map pass, zero shuffles; the
    * regex compiles once per codegen'd task, not per row. At 100 TB this
    * runs at scan speed and is trivially restartable (pure function of
    * the row). */
  def q96PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val (clean, hits) = redact(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        hits.cast("bigint").as("n_pii"),
        length(clean).cast("bigint").as("clean_len"),
        clean.as("clean_text"))
  }

  // DuckDB regexp_replace is first-match-only without the 'g' flag;
  // Spark's replaces all matches — the flag is the parity requirement.
  private def q96OracleSql: String =
    s"""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$PiiPattern'))
            AS BIGINT) AS n_pii,
          CAST(len(regexp_replace(text, '$PiiPattern',
            '$PiiReplacement', 'g')) AS BIGINT) AS clean_len,
          regexp_replace(text, '$PiiPattern', '$PiiReplacement', 'g')
            AS clean_text
        FROM documents"""

  /** Posting-list cap: enough to show the shape, bounded output. */
  val PostingsCap = 20

  /** q98 — inverted-index construction (term → df + capped sorted
    * posting list), the retrieval-side artifact a corpus pipeline emits
    * next to the text. One explode + one (doc,term)-distinct + one
    * term-shuffle — df and postings come out of the SAME aggregate, so
    * the corpus is scanned once. Postings are sorted then capped, giving
    * deterministic output regardless of partitioning; the string join
    * keeps arrays out of the driver's pandas compare. At 100 TB the
    * term key space is Zipf-skewed — the cap bounds the per-key state
    * the way production index shards cap posting blocks (full lists
    * would go to a partitioned sink instead). */
  def q98InvertedIndex(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(
          slice(array_sort(collect_list(col("doc_id"))), 1, PostingsCap),
          ",").as("postings"))

  private def q98OracleSql: String =
    s"""WITH words AS (SELECT DISTINCT doc_id,
          unnest(string_split(text, ' ')) AS term FROM documents)
        SELECT term, count(*) AS df,
               array_to_string(
                 (list_sort(list(doc_id)))[1:$PostingsCap], ',')
                 AS postings
        FROM words GROUP BY term"""

  // ------------------------------------------------------------ q409

  /** q409's 7-bit-group byte count for a delta gap as shared CASE
    * text — the LEB128/varint size every postings format pays per
    * gap. Gaps here are ≥ 1 (first gap = doc_id + 1) and < 2³⁵
    * at any conceivable corpus, so five rungs close the ladder. */
  private val varintBytes =
    """(CASE WHEN gap < 128 THEN 1
        WHEN gap < 16384 THEN 2
        WHEN gap < 2097152 THEN 3
        WHEN gap < 268435456 THEN 4
        ELSE 5 END)"""

  /** q409 — POSTINGS DELTA + VARINT SIZING of the q98 inverted index
    * (the STORAGE-ENGINEERING readout behind every retrieval system's
    * capacity plan: posting lists compress as sorted-gap varints, and
    * the bytes-per-posting number — driven by each term's density —
    * is what sizes an index shard at 100 TB; a term in every 128th
    * doc costs 1 byte/posting, a rare term pays the full id width):
    * per term the EXACT {df, varint_bytes = Σ [[varintBytes]] over
    * the sorted gaps (first gap = doc_id + 1 — the delta-from-−1
    * convention that keeps every gap ≥ 1), fixed_bytes = 8·df,
    * savings_ppm = (fixed − varint)·10⁶ div fixed}.
    *
    * Scale shape: ONE corpus scan exploded to distinct (term, doc_id)
    * (q98's build); the gap lag rides a term-keyed window — the same
    * exchange the index build itself needs; output = |vocab| rows. */
  def q409PostingsVarint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .withColumn("gap", col("doc_id") - coalesce(
        lag("doc_id", 1).over(
          Window.partitionBy("term").orderBy("doc_id")), lit(-1L)))
    postings.groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum(expr(varintBytes)).as("varint_bytes"))
      .select(col("term"), col("df"), col("varint_bytes"),
        (col("df") * 8L).as("fixed_bytes"),
        expr("""CAST((df * 8 - varint_bytes) * 1000000
          DIV (df * 8) AS BIGINT)""").as("savings_ppm"))
  }

  private def q409OracleSql: String =
    s"""WITH words AS (SELECT DISTINCT doc_id,
          unnest(string_split(text, ' ')) AS term FROM documents),
        gaps AS (SELECT term,
            doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
              ORDER BY doc_id), -1) AS gap
          FROM words),
        sized AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
            CAST(sum($varintBytes) AS BIGINT) AS varint_bytes
          FROM gaps GROUP BY 1)
        SELECT term, df, varint_bytes,
          CAST(df * 8 AS BIGINT) AS fixed_bytes,
          CAST((df * 8 - varint_bytes) * 1000000 // (df * 8) AS BIGINT)
            AS savings_ppm
        FROM sized"""

  /** Misra-Gries counter budget for q100: the token-length domain has 6
    * distinct values with two ~30% heavies — k=4 forces real evictions
    * (sketch smaller than the domain) while the >N/5 guarantee still
    * binds the heavies. */
  val HhK = 4

  /** q100 — HEAVY HITTERS with a provable capture guarantee: a k-counter
    * Misra-Gries sketch (functions/MisraGries.scala) over token lengths,
    * differentially checked on its theorem — every value with true
    * frequency > N/(k+1) MUST appear in the sketch's candidate set, no
    * matter how partitions merged. The declared output is the exact
    * heavy set with a `captured` flag the oracle pins to TRUE (the
    * q47/q66 contract style: sketches aren't cross-engine comparable,
    * their guarantees are). The candidate set itself is merge-order-
    * dependent BELOW the threshold, so only guaranteed rows are output.
    * Scale shape: O(k) partial state per partition vs the exact
    * groupBy's O(distinct keys) shuffle; the exact side here exists only
    * to make the guarantee checkable. */
  def q100HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lens = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .select(length(col("w")).cast("bigint").as("l"))
      // eager materialization: the sketch pass and the exact census both
      // consume `lens`; without it the corpus scan + explode run twice
      .localCheckpoint(true)
    val mg = new graft.functions.MisraGries(HhK)
    val cands = lens.as[Long].select(mg.toColumn.name("cand")).toDF("cand")
      .select(explode(col("cand")).as("cand_l"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val heavy = lens.groupBy("l").agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(all))
      .filter(col("n") * (HhK + 1) > col("total"))
    heavy.join(broadcast(cands), col("l") === col("cand_l"), "left")
      .select(col("l"), col("n"), col("cand_l").isNotNull.as("captured"))
  }

  private def q100OracleSql: String =
    s"""WITH w AS (SELECT CAST(len(unnest(string_split(text, ' ')))
          AS BIGINT) AS l FROM documents),
        c AS (SELECT l, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY l),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        SELECT l, n, TRUE AS captured FROM c, tot
        WHERE n * ${HhK + 1} > total"""

  // ---------------------------------------------------------------- q102

  /** Winnowing geometry: k-gram width = Dedup.ShingleN (3), window
    * w = 4 consecutive k-gram hashes. Guarantee (Schleimer et al.,
    * "Winnowing: Local Algorithms for Document Fingerprinting", 2003):
    * any match of length ≥ w + k - 1 tokens between two documents
    * shares at least one selected fingerprint. */
  val WinnowW = 4

  /** Packing: poly_hash < 2^30 (mod 1e9+7), positions < 2^20, so
    * h·2^20 + (2^20-1-pos) fits a BIGINT and min() selects the minimal
    * hash with ties broken toward the RIGHTMOST position — the classic
    * winnowing tie rule — in one integer comparison. */
  private val WinnowPosBase = 1048576L // 2^20

  /** q102 — WINNOWING fingerprint selection (MOSS): from each window of
    * `WinnowW` consecutive k-gram hashes keep the minimum (rightmost on
    * ties); consecutive windows that agree collapse via distinct. The
    * positional, guarantee-carrying alternative to q37's whole-doc hash
    * and q30's MinHash sketch: any shared run of ≥ w+k-1 tokens between
    * two documents is CERTAIN to share a fingerprint, so winnowing is
    * the standard index for plagiarism/boilerplate substring detection
    * where LSH's probabilistic recall isn't acceptable. Scale shape:
    * the whole selection happens INSIDE the row (the codegen'd
    * `winnow_keys` monotonic-deque sliding minimum — zero shuffles, one
    * O(len) pass, ~2/(w+1) of positions emitted; the nested-HOF
    * formulation it replaced interpreted O(len·w) lambdas per row and
    * was the suite's slowest query); only the final distinct fingerprint
    * rows leave the node. Documents with ≥ 2^20-1 k-grams fail loudly in
    * the expression instead of silently corrupting the position pack.
    */
  def q102Winnowing(s: SparkSession, dir: String): DataFrame = {
    winnowKeyed(t(s, dir, "documents"))
  }

  /** Winnowed (doc_id, fp_hash, fp_pos) rows over ANY (doc_id, text)
    * frame — q102's selection as a reusable core (q301 runs it over the
    * planted corpus). No explicit short-doc filter: winnow_keys emits an
    * empty key set when fewer than w k-grams exist (equivalently
    * size(wn_t) < ShingleN + w - 1) and explode drops empties — a filter
    * here would just push a second regex split below the project. */
  private[operators] def winnowKeyed(docs: DataFrame): DataFrame = {
    val w = WinnowW
    val pb = WinnowPosBase
    docs
      .select(col("doc_id"), explode(expr(
        s"""winnow_keys(shingle_hashes(split(text, ' '),
            ${Dedup.ShingleN}), $w, $pb)""")).as("wn_key"))
      .select(col("doc_id"),
        expr(s"wn_key div $pb").as("fp_hash"),
        expr(s"${pb - 1} - wn_key % $pb").cast("bigint").as("fp_pos"))
  }

  /** Library API: DISTINCT winnowed fingerprint hashes per document —
    * the index side of MOSS-style substring matching (positions
    * dropped: matching cares WHICH fingerprints collide, q113). */
  def winnowFps(docs: DataFrame): DataFrame =
    winnowKeyed(docs).select(col("doc_id"), col("fp_hash")).distinct()

  private def q102OracleSql: String = winnowSelSql("documents")

  /** q102's winnow-selection oracle, parameterized over the docs source
    * (a table name or parenthesized subquery + alias) so q301 can run
    * the SAME selection text over the planted corpus. */
  private[operators] def winnowSelSql(docsFrom: String): String = {
    val k = Dedup.ShingleN
    val w = WinnowW
    val pb = WinnowPosBase
    val gram = (0 until k).map(j => s"wn_t[wn_i + $j]").mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS wn_t
                   FROM $docsFrom),
        g AS (SELECT doc_id,
                list_transform(range(1, len(wn_t) - ${k - 2}),
                  wn_i -> ${duckCharFold(s"concat_ws(' ', $gram)")}) AS wn_h
              FROM d WHERE len(wn_t) >= ${k + w - 1}),
        sel AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range($w, len(wn_h) + 1),
                    wn_e -> list_min(list_transform(
                      range(wn_e - ${w - 1}, wn_e + 1),
                      wn_i -> wn_h[wn_i] * $pb
                              + (${pb - 1} - wn_i)))))) AS wn_key
                FROM g)
        SELECT doc_id, wn_key // $pb AS fp_hash,
               ${pb - 1} - wn_key % $pb AS fp_pos
        FROM sel"""
  }

  // ---------------------------------------------------------------- q108

  /** Vocabulary size for q108 — small enough that real OOV traffic
    * exists in the 31-token corpus vocabulary. */
  val VocabSize = 16

  /** q108 — VOCABULARY build + token ENCODING, the tokenization step a
    * training pipeline runs between text cleaning and sequence packing
    * (q95): (1) build the vocab = top-`VocabSize` tokens by corpus
    * frequency (ties on the token string — fully deterministic ids),
    * (2) encode every document against it. Declared output pins the
    * encoding exactly without emitting arrays: per document, token
    * count, OOV count, and the position-weighted id checksum
    * Σ (pos+1)·(id+1) over in-vocab tokens — any id swap, position
    * shift, or dropped token moves it. Scale shape: vocab build is one
    * token census (the explode reduces to O(distinct tokens) before the
    * rank), then `orderBy.limit(V)` — TakeOrderedAndProject, k rows per
    * partition — selects the top-V survivors and only THOSE V rows pass
    * through the id-assigning rank window (a web-scale census has
    * billions of distinct tokens; a global row_number over it would
    * single-partition the lot). Encoding is a BROADCAST join against
    * the O(VocabSize) dictionary — corpus side stays scan-speed, zero
    * shuffles. */
  def q108VocabEncode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(VocabSize)
      .withColumn("id",
        row_number().over(Window.orderBy(col("c").desc, col("tok"))) - 1)
      .select("tok", "id")
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L))
          .cast("bigint").as("n_oov"),
        sum(when(col("id").isNotNull,
          (col("pos") + 1) * (col("id") + 1)).otherwise(0L))
          .cast("bigint").as("id_checksum"))
  }

  private def q108OracleSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS tw
                   FROM documents),
        toks AS (SELECT doc_id,
                   unnest(range(0, len(tw))) AS pos,
                   unnest(tw) AS tok
                 FROM w),
        census AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        vocab AS (SELECT tok,
                    row_number() OVER (ORDER BY c DESC, tok) - 1 AS id
                  FROM census
                  QUALIFY id < $VocabSize)
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_oov,
               CAST(sum(CASE WHEN v.id IS NOT NULL
                        THEN (t.pos + 1) * (v.id + 1) ELSE 0 END)
                 AS BIGINT) AS id_checksum
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id"""

  // ---------------------------------------------------------------- q112

  /** q112 — cross-document NOVELTY rate: per document, how many of its
    * DISTINCT word bigrams occur in no other document (corpus
    * document-frequency 1). The cross-doc complement of q72's
    * within-doc repetition score: a doc can be internally non-repetitive
    * yet assembled almost entirely from boilerplate shared across the
    * corpus — low novelty is the signal dedup pipelines use to rank
    * near-dup survivors and drop template pages that exact/near dedup
    * (q23/q30) misses because no single pair crosses the threshold.
    * Scale shape: per-doc distinct bigrams via the codegen'd
    * shingle_hashes (in-row), ONE df census shuffle on the bigram hash
    * (partial-aggregated), one join back carrying (hash, df), one
    * per-doc aggregate — O(corpus bigrams) with map-side reduction,
    * never pairwise. */
  def q112BigramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), explode(expr(
        "array_distinct(shingle_hashes(split(text, ' '), 2))")).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("bdf"))
    sh.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("bdf") === 1L, 1L).otherwise(0L))
          .cast("bigint").as("n_novel"))
  }

  private def q112OracleSql: String = {
    val fold = graft.functions.PortableHash.duckCharFold(
      "concat_ws(' ', bn_w[bn_i], bn_w[bn_i + 1])")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS bn_w
                   FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, len(bn_w)), bn_i -> $fold))) AS h
               FROM d),
        bdf AS (SELECT h, count(*) AS bdf FROM sh GROUP BY h)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN b.bdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel
        FROM sh s JOIN bdf b ON s.h = b.h
        GROUP BY s.doc_id"""
  }

  // ---------------------------------------------------------------- q113

  /** Minimum shared winnow fingerprints for a q113 match pair. */
  val FpPairMin = 2L

  /** q113 — winnow-fingerprint COLLISION join, the USE step of q102's
    * index (MOSS proper): doc pairs sharing ≥ `FpPairMin` distinct
    * winnowed k-gram hashes. Winnowing's guarantee makes this
    * SUBSTRING-level near-dup detection — any shared token run of
    * ≥ w+k−1 tokens forces a shared fingerprint, so plagiarized/quoted/
    * boilerplate passages are caught even when whole-document similarity
    * (q30/q101) is negligible. Scale shape: exactly the LSH-join
    * discipline — fingerprints are the (already ~2/(w+1)-sampled) index;
    * pairs come from an equi-self-join on the fingerprint HASH with
    * hot-hash safety (ubiquitous boilerplate fingerprints would square —
    * the df cap drops them, same reasoning as a stop-shingle list), then
    * a pair count + threshold. Never all-pairs. */
  def q113FingerprintMatch(s: SparkSession, dir: String): DataFrame = {
    // distinct (doc, fingerprint-hash): positions don't matter for
    // matching, only WHICH fingerprints collide
    val fps = q102Winnowing(s, dir)
      .select(col("doc_id"), col("fp_hash")).distinct()
      .cache()
    val fdf = fps.groupBy("fp_hash").agg(count(lit(1)).as("fdf"))
    // df cap: a fingerprint appearing in >32 docs is boilerplate — it
    // contributes O(df²) candidate pairs and no discrimination. Cached:
    // both sides of the pair self-join read it (drivers clearCache
    // between queries)
    val rare = fps.join(fdf.filter(col("fdf") <= 32), "fp_hash")
      .select("doc_id", "fp_hash")
      .cache()
    rare.select(col("doc_id").as("doc_id_1"), col("fp_hash"))
      .join(rare.select(col("doc_id").as("doc_id_2"), col("fp_hash")),
        "fp_hash")
      .filter(col("doc_id_1") < col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= FpPairMin)
  }

  private def q113OracleSql: String =
    s"""WITH sel AS (${q102OracleSql}),
        fps AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
        fdf AS (SELECT fp_hash, count(*) AS fdf FROM fps GROUP BY fp_hash),
        rare AS (SELECT f.doc_id, f.fp_hash FROM fps f
                 JOIN fdf d ON f.fp_hash = d.fp_hash AND d.fdf <= 32)
        SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM rare a JOIN rare b
          ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= $FpPairMin"""

  // ---------------------------------------------------------------- q122

  /** A winnow fingerprint present in more than this many distinct
    * documents is boilerplate for q122. Distinct knob from q113's df≤32
    * SAFETY cap (which bounds candidate-join volume): this one is the
    * cleaning POLICY — how widely shared a run must be before it's cut —
    * and sits at the aggressive end because removal, unlike matching,
    * wants the template tail too. On this corpus: 1 hot fingerprint /
    * 7 docs touched at sf0.01, 6.6k fingerprints / 64k spans at sf0.1. */
  val BoilerplateDf = 6L

  /** Tokens covered by one boilerplate mark: the winnowing guarantee
    * unit w + k - 1 (any shared run of at least this many tokens shares
    * a fingerprint), so expanding each selected k-gram to the full
    * window closes the sampling gaps between selected positions inside
    * a continuing run (consecutive selections are ≤ w apart < span). */
  val ScrubSpanTokens: Int = WinnowW + Dedup.ShingleN - 1

  /** q122 — boilerplate-span REMOVAL, the CLEAN step completing the
    * substring-dedup family (q102 builds the winnow index, q113 detects
    * cross-doc shared runs, q122 rewrites the documents): tokens covered
    * by a boilerplate-hot fingerprint's winnow span are cut and the
    * remainder re-stitched. Declared output pins the cleaned text by
    * md5 plus the exact integers (n_cut, n_spans), so the differential
    * verifies every byte of every rewritten document without shipping
    * the texts through the compare.
    *
    * Scale shape: the df census and per-doc mark collection are the two
    * keyed shuffles (fingerprints partially aggregate; marks are the
    * HOT subset only — a tiny broadcast join against the census); the
    * rewrite itself is IN-ROW integer geometry (q89's chunker
    * discipline): positions → merged spans → token filter → concat,
    * one narrow pass over documents joined 1:1 with its own mark array.
    * Nothing pairwise, nothing O(corpus²): removal cost is O(corpus
    * tokens) + O(hot marks). */
  /** The surviving token indexes of a (toks, ps) row: a token survives
    * iff no boilerplate span [p, p + W - 1] covers it. Set-difference
    * form: expand each mark to its clamped token range (|ps| is small —
    * hot marks only) and subtract from the index sequence — native
    * sequence/flatten/array_except instead of an interpreted
    * O(len × |ps|) nested lambda; array_except preserves left-operand
    * order, so the stitch order is unchanged. Package-visible so the
    * model-based property test runs the exact production expression. */
  private[graft] val scrubKeepExpr: String =
    s"""array_except(
          sequence(CAST(0 AS BIGINT), CAST(size(toks) - 1 AS BIGINT)),
          flatten(transform(ps,
            p -> sequence(p, least(p + ${ScrubSpanTokens - 1},
                                   CAST(size(toks) - 1 AS BIGINT))))))"""

  def q122BoilerplateScrub(s: SparkSession, dir: String): DataFrame = {
    val W = ScrubSpanTokens
    val fps = q102Winnowing(s, dir).cache() // census + marks both read it
    val hot = fps.select("doc_id", "fp_hash").distinct()
      .groupBy("fp_hash").agg(count(lit(1)).as("fdf"))
      .filter(col("fdf") > BoilerplateDf)
      .select("fp_hash")
    val marks = fps.join(broadcast(hot), "fp_hash")
      .select("doc_id", "fp_pos").distinct()
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("fp_pos"))).as("ps"))
    t(s, dir, "documents")
      .join(marks, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("ps",
        coalesce(col("ps"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("keep", expr(scrubKeepExpr))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          expr("transform(keep, i -> element_at(toks, CAST(i + 1 AS INT)))")))
          .as("clean_md5"),
        (size(col("toks")) - size(col("keep"))).cast("bigint").as("n_cut"),
        // fixed-width spans merge iff consecutive sorted positions are
        // <= W apart, so span count = 1 + gaps exceeding W
        expr(s"""CAST(CASE WHEN size(ps) = 0 THEN 0 ELSE
                   1 + size(filter(zip_with(
                     slice(ps, 1, size(ps) - 1), slice(ps, 2, size(ps) - 1),
                     (a, b) -> b - a), d -> d > $W)) END AS BIGINT)""")
          .as("n_spans"))
  }

  private def q122OracleSql: String = {
    val W = ScrubSpanTokens
    s"""WITH sel AS (${q102OracleSql}),
        fps AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
        fdf AS (SELECT fp_hash, count(*) AS fdf FROM fps GROUP BY fp_hash),
        hot AS (SELECT fp_hash FROM fdf WHERE fdf > $BoilerplateDf),
        marks AS (SELECT DISTINCT s.doc_id, s.fp_pos FROM sel s
                  JOIN hot h ON s.fp_hash = h.fp_hash),
        pos AS (SELECT doc_id, list_sort(list(fp_pos)) AS ps
                FROM marks GROUP BY doc_id),
        d AS (SELECT dd.doc_id, string_split(dd.text, ' ') AS toks,
                coalesce(p.ps, CAST([] AS BIGINT[])) AS ps
              FROM documents dd LEFT JOIN pos p ON dd.doc_id = p.doc_id),
        k AS (SELECT doc_id, toks, ps,
                list_filter(range(0, len(toks)),
                  t -> len(list_filter(ps,
                         p -> t >= p AND t <= p + ${W - 1})) = 0) AS keep
              FROM d)
        SELECT doc_id,
          md5(array_to_string(
            list_transform(keep, i -> toks[i + 1]), ' ')) AS clean_md5,
          CAST(len(toks) - len(keep) AS BIGINT) AS n_cut,
          CAST(CASE WHEN len(ps) = 0 THEN 0 ELSE
            1 + len(list_filter(list_transform(range(2, len(ps) + 1),
              i -> ps[i] - ps[i - 1]), dd -> dd > $W)) END AS BIGINT)
            AS n_spans
        FROM k"""
  }

  /** Vocabulary sizes probed by the q136 coverage curve. */
  val CoverageKs: Seq[Int] = Seq(10, 50, 100, 500)

  /** q136 — VOCABULARY COVERAGE curve: for each candidate vocab size k,
    * the exact fraction of corpus token OCCURRENCES covered by the top-k
    * tokens (rank = count desc, token asc — q108's ordering) — the
    * Zipf-curve measurement that sizes a tokenizer's vocab / OOV budget
    * before training one. Output (k, covered_tokens, total_tokens,
    * coverage_ppm) in exact integers.
    *
    * Scale shape: ONE corpus-bearing shuffle (the token census,
    * partial-aggregated map-side); the top-max(k) cut reduces through
    * TakeOrderedAndProject (never a global sort), ranks and the
    * per-k sums ride the max(k)-row frame, and the corpus total is a
    * window over the census' partials — O(vocab) rows, the corpus is
    * scanned once. */
  def q136VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kMax = CoverageKs.max
    val census = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = census.agg(sum("c").cast("bigint").as("total_tokens"))
    val top = census.orderBy(col("c").desc, col("tok")).limit(kMax)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("tok"))))
    val ks = CoverageKs.map(k => s"${k}L").mkString("array(", ", ", ")")
    top.select(col("c"), col("rank"),
        explode(expr(ks)).as("k"))
      .filter(col("rank") <= col("k"))
      .groupBy("k")
      .agg(sum("c").cast("bigint").as("covered_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("coverage_ppm",
        expr("(covered_tokens * 1000000) div total_tokens"))
  }

  private def q136OracleSql: String = {
    val kMax = CoverageKs.max
    val ks = CoverageKs.mkString("[", ", ", "]")
    s"""WITH census AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents) GROUP BY tok),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens
                FROM census),
        top AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok)
                  AS rank
                FROM census ORDER BY c DESC, tok LIMIT $kMax),
        x AS (SELECT CAST(unnest($ks) AS BIGINT) AS k)
        SELECT k, CAST(sum(c) AS BIGINT) AS covered_tokens,
               total_tokens,
               (CAST(sum(c) AS BIGINT) * 1000000) // total_tokens
                 AS coverage_ppm
        FROM top, x, tot WHERE rank <= k
        GROUP BY k, total_tokens"""
  }

  /** Merge rounds learned by q137. */
  val BpeRounds = 3

  /** Library API: learn the first `rounds` BPE merges from a
    * (word, freq) dictionary — the Sennrich et al. 2016 trainer loop,
    * relationally. Each round: (1) census adjacent symbol pairs
    * weighted by word frequency (overlaps counted, as BPE counts);
    * (2) pick argmax (count, then lexicographic — fully tie-broken);
    * (3) rewrite every word, fusing LEFT-TO-RIGHT NON-OVERLAPPING
    * occurrences of the winning pair — the overlap rule ("aaa" + merge
    * "aa" fuses positions 0–1, leaves 2) falls out of a gaps-and-
    * islands computation: within each maximal run of consecutive
    * candidate positions, keep alternate ones. Returns
    * (round, lhs, rhs, cnt).
    *
    * Scale design: BPE training state is the DISTINCT-WORD symbol
    * table (vocabulary-sized — corpus volume only enters through the
    * freq weights; this is why production BPE trainers run on the word
    * dictionary, and what makes 100 TB trainable: the dictionary of
    * even a crawl corpus is millions of rows, not billions). Every
    * round is a handful of word-keyed windows/joins on that frame +
    * one O(pairs) census argmax; `localCheckpoint` per round keeps the
    * plan linear (pageRank discipline). */
  def bpeMerges(wordfreq: DataFrame, rounds: Int): DataFrame =
    runBpe(wordfreq, rounds)._1

  /** Final per-word symbol state after `rounds` of training — each
    * word's BPE segmentation under the learned merge table (the encode
    * side of the trainer; see [[q149BpeTokenize]]). */
  def bpeSegments(wordfreq: DataFrame, rounds: Int): DataFrame =
    runBpe(wordfreq, rounds)._2

  private def runBpe(wordfreq: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("word").orderBy("pos")
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (syms, _, _) = Iterate("bpe", wordfreq
        .select(col("word"), col("freq"),
          posexplode(expr("filter(split(word, ''), bp_c -> bp_c <> '')"))
            .as(Seq("pos", "sym")))
        .localCheckpoint(true), rounds) { (syms, r) =>
      val withNext = syms.withColumn("nxt", lead("sym", 1).over(w))
      val best = withNext
        .filter(col("nxt").isNotNull)
        .groupBy("sym", "nxt")
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("sym"), col("nxt"))
        .limit(1)
        .select(col("sym").as("lhs"), col("nxt").as("rhs"), col("cnt"))
        .localCheckpoint(true) // read by the fusion join and the merge table
      val cands = withNext
        .join(broadcast(best),
          col("sym") === col("lhs") && col("nxt") === col("rhs"))
        .select("word", "pos")
        .withColumn("newrun",
          when(lag("pos", 1).over(w) === col("pos") - 1, 0L).otherwise(1L))
        .withColumn("runid", sum("newrun").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val kept = cands
        .withColumn("rn", row_number().over(
          Window.partitionBy("word", "runid").orderBy("pos")))
        .filter(col("rn") % 2 === 1)
        .select(col("word"), col("pos"))
      merges += best.select(lit(r.toLong).as("step"),
        col("lhs"), col("rhs"), col("cnt"))
      withNext
        .join(kept.withColumn("is_kept", lit(1)),
          Seq("word", "pos"), "left")
        .join(
          kept.select(col("word"), (col("pos") + 1).as("pos"),
            lit(1).as("is_dropped")),
          Seq("word", "pos"), "left")
        .filter(col("is_dropped").isNull)
        .select(col("word"), col("freq"), col("pos").as("opos"),
          when(col("is_kept") === 1, concat(col("sym"), col("nxt")))
            .otherwise(col("sym")).as("sym"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("word").orderBy("opos")) - 1)
        .select("word", "freq", "pos", "sym")
    }()
    (merges.reduceOption(_ unionByName _).orNull, syms)
  }

  /** q137 — BPE MERGE TRAINING: the first $BpeRounds byte-pair-encoding
    * merges learned from the documents corpus (word-frequency
    * dictionary weighting, overlap-correct left-to-right fusion) —
    * tokenizer training as a declared, DuckDB-differential query.
    * See [[bpeMerges]] for the algorithm and the dictionary-sized
    * scale argument; a synthetic-dictionary model test pins the
    * overlap semantics ("aaa" fuses once). */
  def q137BpeMerges(s: SparkSession, dir: String): DataFrame = {
    val wf = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    bpeMerges(wf, BpeRounds)
  }

  /** Shared CTE chain for the q137/q149 oracles: word dictionary, char
    * seed state, and the $BpeRounds training rounds (final state =
    * s$BpeRounds). */
  private def bpeCtes: String = {
    def round(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""m$r AS (SELECT word, freq, pos, sym,
            lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
          FROM $prev),
        b$r AS MATERIALIZED (SELECT sym AS lhs, nxt AS rhs,
            CAST(sum(freq) AS BIGINT) AS cnt
          FROM m$r WHERE nxt IS NOT NULL GROUP BY sym, nxt
          ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        cand$r AS (SELECT m.word, m.pos FROM m$r m, b$r b
                   WHERE m.sym = b.lhs AND m.nxt = b.rhs),
        run$r AS (SELECT word, pos, sum(newrun) OVER (
              PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING)
              AS runid
          FROM (SELECT word, pos,
              CASE WHEN lag(pos) OVER (PARTITION BY word ORDER BY pos)
                   = pos - 1 THEN 0 ELSE 1 END AS newrun
            FROM cand$r)),
        keep$r AS (SELECT word, pos FROM (
            SELECT word, pos, row_number() OVER (
                PARTITION BY word, runid ORDER BY pos) AS rn
            FROM run$r) WHERE rn % 2 = 1),
        s$r AS MATERIALIZED (SELECT word, freq,
            row_number() OVER (PARTITION BY word ORDER BY opos) - 1
              AS pos, sym
          FROM (SELECT m.word, m.freq, m.pos AS opos,
              CASE WHEN k.pos IS NOT NULL THEN m.sym || m.nxt
                   ELSE m.sym END AS sym
            FROM m$r m
            LEFT JOIN keep$r k ON m.word = k.word AND m.pos = k.pos
            LEFT JOIN keep$r d ON m.word = d.word AND m.pos = d.pos + 1
            WHERE d.pos IS NULL) z$r)"""
    }
    val rounds = (1 to BpeRounds).map(round).mkString(",\n        ")
    s"""wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents) WHERE word <> '' GROUP BY word),
        s0 AS MATERIALIZED (SELECT word, freq,
            CAST(unnest(range(0, len(string_split(word, '')))) AS INT)
              AS pos,
            unnest(string_split(word, '')) AS sym
          FROM wf),
        $rounds"""
  }

  private def q137OracleSql: String = {
    val out = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS step, lhs, rhs, cnt " +
        s"FROM b$r")
      .mkString("\n        UNION ALL ")
    s"""WITH $bpeCtes
        $out"""
  }

  /** q149 — BPE TOKENIZE (the encode side of q137's trainer, closing
    * the tokenizer loop train → apply): every word's final segmentation
    * under the $BpeRounds learned merges is read off the trainer's
    * final symbol state, and the corpus is re-counted under it —
    * declared output = per-document whitespace word count vs BPE token
    * count (the sequence-length planning numbers a training pipeline
    * publishes: q36 counts pre-tokenizer, this counts post).
    *
    * Scale shape: segmentation lives on the DISTINCT-WORD dictionary
    * (the [[bpeMerges]] scale argument — vocabulary-sized state, corpus
    * volume only enters through frequencies); documents then tokenize
    * via ONE broadcast join of the word→token-count map onto the
    * exploded token stream — the corpus-sized pass is a broadcast
    * lookup + re-aggregation on doc_id, no dictionary shuffle. */
  def q149BpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val wf = words.groupBy("word").agg(count(lit(1)).as("freq"))
    val ntok = bpeSegments(wf, BpeRounds)
      .groupBy("word").agg(count(lit(1)).as("ntok"))
    words.join(broadcast(ntok), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("ntok").as("n_bpe_tokens"))
  }

  private def q149OracleSql: String =
    s"""WITH $bpeCtes,
        ntok AS (SELECT word, CAST(count(*) AS BIGINT) AS ntok
          FROM s$BpeRounds GROUP BY word),
        dw AS (SELECT doc_id,
            unnest(string_split(text, ' ')) AS word FROM documents)
        SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n.ntok) AS BIGINT) AS n_bpe_tokens
        FROM dw JOIN ntok n ON dw.word = n.word
        WHERE dw.word <> ''
        GROUP BY dw.doc_id"""

  /** q218 — TOKENIZER FERTILITY by language (tokens-per-word): the
    * metric that decides vocabulary allocation in multilingual
    * tokenizer training — a shared BPE vocabulary trained on the
    * MIXTURE (q137's trainer, unchanged) systematically over-segments
    * under-represented languages, and fertility is how that's measured
    * (e.g. the XLM-R and NLLB tokenizer analyses). Declared per lang:
    * word count, BPE token count, and fertility in exact ppm
    * (tokens·10⁶ div words). Completes the tokenizer family: train
    * (q137) → apply (q149) → vocabulary sizing (q136) → per-language
    * cost audit (here).
    *
    * Scale shape: identical to q149 — the BPE state is the DISTINCT-
    * WORD dictionary (vocabulary-sized, never the corpus), segment
    * counts broadcast back to one corpus-sized word pass, and the final
    * aggregate is languages-sized. The corpus is scanned once. */
  def q218TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val wf = words.groupBy("word").agg(count(lit(1)).as("freq"))
    val ntok = bpeSegments(wf, BpeRounds)
      .groupBy("word").agg(count(lit(1)).as("ntok"))
    words.join(broadcast(ntok), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("ntok").as("n_bpe_tokens"))
      .withColumn("fertility_ppm",
        expr("(n_bpe_tokens * 1000000) div n_words"))
  }

  private def q218OracleSql: String =
    s"""WITH $bpeCtes,
        ntok AS (SELECT word, CAST(count(*) AS BIGINT) AS ntok
          FROM s$BpeRounds GROUP BY word),
        dw AS (SELECT lang,
            unnest(string_split(text, ' ')) AS word FROM documents)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n.ntok) AS BIGINT) AS n_bpe_tokens,
               CAST((sum(n.ntok) * 1000000) // count(*) AS BIGINT)
                 AS fertility_ppm
        FROM dw JOIN ntok n ON dw.word = n.word
        WHERE dw.word <> ''
        GROUP BY lang"""

  /** Window width and result size for q142's co-occurrence census. */
  val CoocWindow = 5
  val CoocTopK = 30

  /** q142 — word CO-OCCURRENCE census (the word2vec/GloVe data-prep
    * pass): unordered token pairs within a ±$CoocWindow-token window,
    * counted corpus-wide; declared output = the top $CoocTopK pairs by
    * count with both unigram counts attached (PMI's exact integer
    * numerators — the log itself is the consumer's float, never
    * differential-compared).
    *
    * Scale shape: pair generation is IN-ROW (each doc's token array
    * expands to its ≤ n·W window pairs via one nested transform +
    * one explode — never a self-join of the exploded token table, whose
    * doc-keyed join would admit the full n² before any window filter);
    * the pair census partial-aggregates map-side; the top-k cut is a
    * TakeOrderedAndProject; unigram counts attach by broadcasting the
    * 30 SURVIVORS against the vocab-sized census (broadcast side =
    * top-k, never the census). */
  def q142Cooccurrence(s: SparkSession, dir: String): DataFrame = {
    // skip-gram pair generation as a concat of $CoocWindow distance-
    // shifted arrays_zip slices (round 12, guide §4): the previous
    // nested transform(sequence(...)) lambdas ran INTERPRETED (HOFs
    // fall out of whole-stage codegen) and dispatched a lambda per
    // generated pair. For each distance d ∈ [1, $CoocWindow],
    // zip(tw[1..n−d], tw[1+d..n]) enumerates exactly the (i, i+d)
    // pairs, so the union over d is the identical pair multiset; the
    // least/greatest canonicalization moves AFTER the explode, where
    // it is plain codegen. Same census, same released rows.
    val shifted = (1 to CoocWindow).map(d =>
      s"""arrays_zip(slice(tw, 1, greatest(size(tw) - $d, 0)),
                     slice(tw, 1 + $d, greatest(size(tw) - $d, 0)))""")
      .mkString("concat(", ", ", ")")
    val toks = t(s, dir, "documents")
      .select(split(col("text"), " ").as("tw"))
      .filter(size(col("tw")) >= 2)
    val census = toks
      .select(explode(expr(shifted)).as("p"))
      .select(least(col("p.0"), col("p.1")).as("wa"),
        greatest(col("p.0"), col("p.1")).as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("wa"), col("wb"))
      .limit(CoocTopK)
    val uni = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    census
      .join(uni.withColumnRenamed("w", "wa")
        .withColumnRenamed("n", "n_wa"), Seq("wa"))
      .join(uni.withColumnRenamed("w", "wb")
        .withColumnRenamed("n", "n_wb"), Seq("wb"))
      .select("wa", "wb", "n_pair", "n_wa", "n_wb")
  }

  private def q142OracleSql: String =
    s"""WITH d AS (SELECT string_split(text, ' ') AS tw FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        pairs AS (SELECT unnest(flatten(list_transform(
            range(1, len(tw)),
            co_i -> list_transform(
              range(co_i + 1, least(co_i + $CoocWindow, len(tw)) + 1),
              co_j -> {'wa': least(tw[co_i], tw[co_j]),
                       'wb': greatest(tw[co_i], tw[co_j])})))) AS p
          FROM d),
        census AS (SELECT p.wa AS wa, p.wb AS wb, count(*) AS n_pair
          FROM pairs GROUP BY 1, 2
          ORDER BY n_pair DESC, wa, wb LIMIT $CoocTopK),
        uni AS (SELECT w, count(*) AS n FROM
          (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY w)
        SELECT c.wa, c.wb, c.n_pair, a.n AS n_wa, b.n AS n_wb
        FROM census c JOIN uni a ON c.wa = a.w JOIN uni b ON c.wb = b.w"""

  /** Count-Min geometry for q144: depth 3 × width 128, sketching the
    * token BIGRAM domain (~31² keys on this corpus — the unigram vocab
    * is only 31 words, which no sane sketch would collide). Width is
    * sized BELOW the domain so the sketch genuinely overcounts (the
    * interesting regime: measured, all 10 probes overcount at sf0.01);
    * the est ≥ exact inequality is what the differential pins, with
    * exact equality of the sketches themselves guaranteed by the
    * portable hash family. */
  val CmDepth = 3
  val CmWidth = 128L
  val CmTopK = 10

  private def cmBucket(d: Int): String =
    s"((h * ${minhashA(d)}L + ${minhashB(d)}L) % $MersennePrime) " +
      s"% $CmWidth"

  /** q144 — COUNT-MIN SKETCH over the token-bigram stream (the
    * mergeable frequency sketch next to q47's HLL, q66's quantile
    * sketch and q100's Misra-Gries): a depth-$CmDepth × width-$CmWidth
    * counter matrix built in ONE aggregation, then point-queried for
    * the top-$CmTopK exact heavy-hitter bigrams; declared output =
    * bigram, exact count, sketch estimate. Both engines build
    * bit-identical sketches (poly_hash ∘ the minhash LCG family), so
    * est_n is exactly comparable — and the CMS theorem (est ≥ exact,
    * always) rides along as a checked invariant (PropertySpec).
    *
    * Scale shape: bigram generation is in-row (one transform+explode,
    * q142's discipline); the sketch build partial-aggregates map-side
    * to ≤ depth·width counters per partition — the shuffle moves
    * O(d·w) rows per partition regardless of corpus size, and counter
    * merge is elementwise integer addition (commutes exactly). Point
    * queries are $CmDepth broadcast lookups against a ≤384-row frame.
    * This is the sketch you keep PER CORPUS SHARD and merge at publish
    * time — the q94 mergeable-stats contract applied to frequencies. */
  def q144Countmin(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(split(col("text"), " ").as("tw"))
      .filter(size(col("tw")) >= 2)
      // native codegen gram generator (round 13, guide §4);
      // concatWs(' ', a, b) is byte-identical to concat(a, ' ', b), so
      // the poly_hash sketch keys are unchanged
      .select(explode(expr("gram_strings(tw, 2)")).as("w"))
    val sketch = toks
      .withColumn("h", expr("poly_hash(w)"))
      .select(explode(array((0 until CmDepth).map(d =>
        struct(lit(d).as("d"), expr(cmBucket(d)).as("b"))): _*)).as("db"))
      .select(col("db.d").as("d"), col("db.b").as("b"))
      .groupBy("d", "b").agg(count(lit(1)).as("c"))
      .cache() // three depth-slice consumers; drivers clearCache between queries
    val probes = toks.groupBy("w").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("w")).limit(CmTopK)
      .withColumn("h", expr("poly_hash(w)"))
    val est = (0 until CmDepth).foldLeft(
      (0 until CmDepth).foldLeft(probes) { (df, d) =>
        df.withColumn(s"b$d", expr(cmBucket(d)))
      }) { (df, d) =>
      df.join(
        broadcast(sketch.filter(col("d") === d)
          .select(col("b").as(s"b$d"), col("c").as(s"c$d"))),
        Seq(s"b$d"))
    }
    est.select(col("w"), col("exact_n"),
      least((0 until CmDepth).map(d => col(s"c$d")): _*).as("est_n"))
  }

  private def q144OracleSql: String = {
    def bucket(d: Int) =
      s"((h * ${minhashA(d)} + ${minhashB(d)}) % $MersennePrime) " +
        s"% $CmWidth"
    val sliceCtes = (0 until CmDepth).map(d =>
      s"""s$d AS (SELECT b$d AS b, CAST(count(*) AS BIGINT) AS c$d
          FROM occ GROUP BY b$d)""").mkString(",\n        ")
    val bucketCols = (0 until CmDepth)
      .map(d => s"${bucket(d)} AS b$d").mkString(",\n          ")
    val joins = (0 until CmDepth)
      .map(d => s"JOIN s$d ON s$d.b = p.b$d").mkString("\n        ")
    s"""WITH toks AS (SELECT tw[cm_i] || ' ' || tw[cm_i + 1] AS w
          FROM (SELECT string_split(text, ' ') AS tw FROM documents),
            unnest(range(1, len(tw))) AS cm_t(cm_i)),
        occ AS (SELECT w,
          $bucketCols
          FROM (SELECT w, ${duckCharFold("w")} AS h FROM toks)),
        $sliceCtes,
        exact AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_n
          FROM toks GROUP BY w
          ORDER BY exact_n DESC, w LIMIT $CmTopK),
        p AS (SELECT w, exact_n,
          $bucketCols
          FROM (SELECT w, exact_n, ${duckCharFold("w")} AS h FROM exact))
        SELECT p.w, p.exact_n,
          least(${(0 until CmDepth).map(d => s"s$d.c$d").mkString(", ")})
            AS est_n
        FROM p
        $joins"""
  }

  /** q214 — BIGRAM LANGUAGE-MODEL QUALITY SCORE (the CCNet/RefinedWeb
    * perplexity-filter shape with an n-gram LM instead of a neural one):
    * every document is scored by how probable its token transitions are
    * under the corpus's own bigram MLE, p(w₂|w₁) = c(w₁w₂)/c(w₁·) — low
    * scores mark gibberish, OCR noise, and word-salad spam that
    * per-doc heuristics (q35) can't see because they need CORPUS
    * statistics. Float-free: probabilities are exact integer ppm
    * (c(w₁w₂)·10⁶ div c(w₁·), where c(w₁·) counts bigrams starting with
    * w₁, so Σ_w p(w|w₁) ≈ 1); declared per doc are the transition
    * count, the ppm sum (mean derivable), and the minimum (the single
    * most surprising transition — the fuzzy-span locator). Docs under 2
    * tokens have no transitions and no row.
    *
    * Scale shape: the bigram frame is ONE generator pass (in-row
    * adjacent pairing, no self-join); the censuses are two partial-
    * aggregated shuffles of it; scoring is two equi-joins back on the
    * census keys (the (w1,w2) join co-partitions with the census
    * build); one doc-keyed aggregate finishes. Everything linear in
    * corpus tokens; census cardinality is the corpus's distinct-bigram
    * count (vocabulary-bounded, the q137 state argument). The frame is
    * checkpointed once for its three consumers (q177 discipline). */
  def q214BigramLmScore(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      // native codegen pair generator (round 13, guide §4)
      .select(col("doc_id"), explode(expr("adjacent_pairs(ws)")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // three consumers (two censuses + the scoring join): materialize
      // once, race-free
      .localCheckpoint(true)
    val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val uc = big.groupBy("w1").agg(count(lit(1)).as("cu"))
    big.join(bc, Seq("w1", "w2"))
      .join(uc, Seq("w1"))
      .withColumn("p_ppm", expr("(cb * 1000000) div cu"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("p_ppm").as("sum_p_ppm"),
        min("p_ppm").as("min_p_ppm"))
  }

  private def q214OracleSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        bb AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          FROM d, unnest(range(1, len(ws))) AS r(i)),
        bc AS (SELECT w1, w2, count(*) AS cb FROM bb GROUP BY 1, 2),
        uc AS (SELECT w1, count(*) AS cu FROM bb GROUP BY 1)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum((cb * 1000000) // cu) AS BIGINT) AS sum_p_ppm,
          CAST(min((cb * 1000000) // cu) AS BIGINT) AS min_p_ppm
        FROM bb JOIN bc USING (w1, w2) JOIN uc USING (w1)
        GROUP BY doc_id"""

  // ------------------------------------------------------------ q243

  /** q243 — SOURCE VOCABULARY-OVERLAP MATRIX (the corpus-composition
    * diagnostic behind mixture design: two sources with near-identical
    * vocabularies add redundancy, not coverage — q124 measures
    * DOCUMENT-level duplication between sources, this measures
    * LEXICAL overlap even when no document repeats): per unordered
    * source pair, both vocabulary sizes, the shared-word count, and
    * vocabulary Jaccard in exact ppm.
    *
    * Scale shape: one (source, word) distinct pass (map-side
    * partial-aggregated); per-source sizes ride it; the pair census is
    * a word-keyed self-join of the vocabulary frame — candidate volume
    * Σ_w df(w)², bounded by |sources|² per word (df ≤ |sources|, a
    * CONSTANT), so linear in vocabulary. Output is |sources choose 2|
    * rows. */
  def q243VocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("vsize"))
    val x = vocab.select(col("source").as("source_a"), col("w"))
    val y = vocab.select(col("source").as("source_b"), col("w"))
    x.join(y, Seq("w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"),
        col("vsize").as("vsize_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"),
        col("vsize").as("vsize_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("vsize_a"),
        col("vsize_b"), col("n_shared"),
        expr("""n_shared * 1000000
                div (vsize_a + vsize_b - n_shared)""")
          .as("jaccard_ppm"))
  }

  private def q243OracleSql: String =
    """WITH v AS (SELECT DISTINCT source,
          unnest(string_split(text, ' ')) AS w FROM documents),
        sz AS (SELECT source, CAST(count(*) AS BIGINT) AS vsize
          FROM v GROUP BY source),
        pr AS (SELECT a.source AS source_a, b.source AS source_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
          GROUP BY a.source, b.source)
        SELECT pr.source_a, pr.source_b,
          sa.vsize AS vsize_a, sb.vsize AS vsize_b, pr.n_shared,
          pr.n_shared * 1000000
            // (sa.vsize + sb.vsize - pr.n_shared) AS jaccard_ppm
        FROM pr
        JOIN sz sa ON sa.source = pr.source_a
        JOIN sz sb ON sb.source = pr.source_b"""

  // ------------------------------------------------------------ q244

  /** q244 — LANGUAGE-ID CONFUSION MATRIX (the eval that closes q34's
    * loop: a lang-ID gate routes documents into per-language pipelines,
    * and its confusion matrix — not its accuracy — says WHERE
    * misrouted mass goes; es→fr confusion poisons the French corpus,
    * es→en merely shrinks the Spanish one): q34's classifier scored
    * against the `lang` ground truth, one row per (actual, predicted)
    * cell with the count and the cell's share of the actual language
    * in exact ppm — the diagonal shares ARE per-language recall, the
    * columns give precision; a `hit` flag marks the diagonal.
    *
    * Scale shape: q34's one classification scan → a (lang, pred) cell
    * census (map-side combinable, ≤ |langs|² rows); the share ppm
    * rides a lang-keyed window over the cell-sized frame. */
  def q244LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = q34LangId(s, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_actual",
        sum("n").over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang")))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("n * 1000000 div n_actual").as("share_of_actual_ppm"),
        (col("lang") === col("pred_lang")).as("hit"))
  }

  private def q244OracleSql: String =
    s"""WITH pred AS ($q34OracleSql),
        cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
          FROM pred GROUP BY lang, pred_lang),
        tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_actual
          FROM cells GROUP BY lang)
        SELECT c.lang, c.pred_lang, c.n,
          c.n * 1000000 // t.n_actual AS share_of_actual_ppm,
          c.lang = c.pred_lang AS hit
        FROM cells c JOIN tot t ON c.lang = t.lang"""

  /** q262 support floor and result size. */
  val BurstMinDf = 16L
  val BurstTopK = 100

  /** q262 — TOKEN BURSTINESS by exact Fano factor (the content-word
    * detector corpus linguistics runs before stopword lists exist for
    * a language: a function word sprinkles uniformly (variance ≈ mean,
    * F ≈ 1), a topical word CLUMPS — absent from most documents, dense
    * in a few (F ≫ 1) — and the dispersion ratio separates them with
    * no lexicon at all; TF-DF (q59) measures how MUCH a token occurs,
    * this measures HOW it distributes): over whitespace tokens with
    * df ≥ 16, the zero-inclusive population Fano factor as exact
    * integers — F·10⁶ = (N·Σc² − (Σc)²)·10⁶ div (N·Σc) with c the
    * per-doc count and N the corpus size (absent docs contribute the
    * zeros through N). Top-100 by F desc, token asc.
    *
    * Scale shape: the (doc, token) census collapses the explode
    * map-side; per-token sufficient stats are a second map-side
    * aggregate; top-k is TakeOrdered (never a global sort). The
    * whole operator is census algebra — corpus touched once. */
  def q262TokenBurstiness(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val n = d.agg(count(lit(1)).as("n_docs"))
    val tc = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    tc.groupBy("w")
      .agg(count(lit(1)).as("df"), sum("c").as("tf"),
        sum(expr("c * c")).as("sc2"))
      .filter(col("df") >= BurstMinDf)
      .crossJoin(broadcast(n))
      .select(col("w"), col("df"), col("tf"),
        expr("""(n_docs * sc2 - tf * tf) * 1000000
             div (n_docs * tf)""").as("fano_ppm"))
      .orderBy(col("fano_ppm").desc, col("w"))
      .limit(BurstTopK)
  }

  private def q262OracleSql: String =
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
          FROM documents),
        tc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents) z
          GROUP BY doc_id, w),
        st AS (SELECT w, CAST(count(*) AS BIGINT) AS df,
            CAST(sum(c) AS BIGINT) AS tf,
            CAST(sum(c * c) AS BIGINT) AS sc2
          FROM tc GROUP BY w)
        SELECT w, df, tf,
          (n.n_docs * sc2 - tf * tf) * 1000000
            // (n.n_docs * tf) AS fano_ppm
        FROM st CROSS JOIN n
        WHERE df >= $BurstMinDf
        ORDER BY fano_ppm DESC, w LIMIT $BurstTopK"""

  /** q276 candidate truncation lengths and the truncated-docs budget. */
  val TruncCandidates: Seq[Long] = (16L to 96L by 8L)
  val TruncBudgetPpm = 100000L

  /** q276 — TRUNCATION-LENGTH PLANNER (choosing max_seq_len, the
    * q269-style policy table for the other big preprocessing knob: a
    * long cap wastes the batch on padding — q250's measured cost — a
    * short one amputates documents; the planner tabulates BOTH sides
    * per candidate and flags the policy choice): for each candidate
    * cap T over the whitespace-token length census, the kept token
    * mass Σ min(len, T), the kept share of all tokens in exact ppm,
    * the count and ppm of documents that would be truncated, and
    * `chosen` marking the SMALLEST T whose truncation rate fits the
    * 10% budget — minimize padding subject to bounded amputation.
    *
    * Scale shape: corpus collapses map-side to the ≤|distinct
    * lengths| census; every candidate evaluates against the census
    * (|candidates| × |lengths| domain join), never the corpus; the
    * `chosen` flag rides the |candidates|-row frame. */
  def q276TruncationPlanner(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "documents")
      .select(size(split(col("text"), " ")).cast("bigint").as("len"))
      .groupBy("len").agg(count(lit(1)).as("n"))
    val tot = census.agg(sum(expr("len * n")).as("tot_tokens"),
      sum("n").as("tot_docs"))
    val cands = TruncCandidates
      .map(t0 => s"SELECT ${t0}L AS cap").mkString(" UNION ALL ")
    val per = census.crossJoin(broadcast(s.sql(cands)))
      .crossJoin(broadcast(tot))
      .groupBy("cap", "tot_tokens", "tot_docs")
      .agg(sum(expr("least(len, cap) * n")).as("kept_tokens"),
        sum(when(col("len") > col("cap"), col("n")).otherwise(0L))
          .as("trunc_docs"))
      .select(col("cap"), col("kept_tokens"),
        expr("kept_tokens * 1000000 div tot_tokens").as("kept_ppm"),
        col("trunc_docs"),
        expr("trunc_docs * 1000000 div tot_docs").as("trunc_ppm"))
    val pick = per.filter(col("trunc_ppm") <= TruncBudgetPpm)
      .agg(coalesce(min("cap"), lit(-1L)).as("pick"))
    per.crossJoin(broadcast(pick))
      .select(col("cap"), col("kept_tokens"), col("kept_ppm"),
        col("trunc_docs"), col("trunc_ppm"),
        (col("cap") === col("pick")).as("chosen"))
  }

  private def q276OracleSql: String = {
    val values = TruncCandidates.map(t0 => s"($t0)").mkString(", ")
    s"""WITH census AS (SELECT
          CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
          CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(len * n) AS BIGINT) AS tot_tokens,
            CAST(sum(n) AS BIGINT) AS tot_docs FROM census),
        cands(cap) AS (VALUES $values),
        per AS (SELECT c.cap,
            CAST(sum(least(census.len, c.cap) * census.n) AS BIGINT)
              AS kept_tokens,
            CAST(sum(least(census.len, c.cap) * census.n) * 1000000
              // tot.tot_tokens AS BIGINT) AS kept_ppm,
            CAST(sum(CASE WHEN census.len > c.cap THEN census.n
              ELSE 0 END) AS BIGINT) AS trunc_docs,
            CAST(sum(CASE WHEN census.len > c.cap THEN census.n
              ELSE 0 END) * 1000000 // tot.tot_docs AS BIGINT)
              AS trunc_ppm
          FROM cands c CROSS JOIN census CROSS JOIN tot
          GROUP BY c.cap, tot.tot_tokens, tot.tot_docs),
        pick AS (SELECT coalesce(min(cap), -1) AS pick FROM per
          WHERE trunc_ppm <= $TruncBudgetPpm)
        SELECT CAST(per.cap AS BIGINT) AS cap, kept_tokens, kept_ppm,
          trunc_docs, trunc_ppm, per.cap = pick.pick AS chosen
        FROM per CROSS JOIN pick"""
  }

  // ------------------------------------------------------------ q331

  /** q331's per-word JSD contribution as ONE shared-text double
    * expression over the exact integer counts {c_sw, n_s, c_w, n}:
    * with p = c_sw/n_s and q = c_w/n, the term is
    * ½·p·ln(2p/(p+q)) + ½·q·ln(2q/(p+q)); a word absent from the
    * source (c_sw = 0) keeps only the ½·q·ln 2 half — which is why the
    * released frame is the FULL source×vocabulary spine, not just the
    * observed cells (dropping absent cells would drop real mass, the
    * opposite of q317's x·ln x case where absent cells contribute 0). */
  private def jsdTermExpr: String =
    """(CASE WHEN c_sw = 0 THEN 0.0
         ELSE 0.5 * (CAST(c_sw AS DOUBLE) / n_s)
           * ln(2.0 * (CAST(c_sw AS DOUBLE) / n_s)
               / (CAST(c_sw AS DOUBLE) / n_s + CAST(c_w AS DOUBLE) / n))
         END
       + 0.5 * (CAST(c_w AS DOUBLE) / n)
         * ln(2.0 * (CAST(c_w AS DOUBLE) / n)
             / (CAST(c_sw AS DOUBLE) / n_s + CAST(c_w AS DOUBLE) / n)))"""

  /** q331 — JENSEN–SHANNON DIVERGENCE of each source's token
    * distribution from the corpus (the mixture-design distance: q243
    * measures vocabulary OVERLAP as sets, q225 source diversity within
    * a language — JSD weighs every shared word by how differently the
    * two distributions USE it, is symmetric, bounded by ln 2, and is
    * the standard report when choosing pretraining mixture weights).
    * Per (source, word) cell of the full spine: the exact counts
    * {c_sw, n_s, c_w, n} and the contribution ×10⁹ through
    * [[jsdTermExpr]] — Σ over a source's released rows IS its JSD in
    * nats, reconstructible to the last bit from the released integers
    * (q317's release discipline, extended to the zero-cell spine).
    *
    * Scale shape: one token-census shuffle (map-side combined,
    * vocabulary-bounded); marginals ride the census; the spine is
    * |sources|×|vocab| — census-scale, not corpus-scale. */
  def q331SourceJsd(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val cnt = words.groupBy("source", "word")
      .agg(count(lit(1)).as("c_obs"))
      .localCheckpoint(true)
    val ns = cnt.groupBy("source").agg(sum("c_obs").as("n_s"))
    val cw = cnt.groupBy("word").agg(sum("c_obs").as("c_w"))
    val nT = cnt.agg(sum("c_obs").as("n"))
    ns.crossJoin(broadcast(cw))
      .join(cnt, Seq("source", "word"), "left")
      .crossJoin(broadcast(nT))
      .select(col("source"), col("word"),
        coalesce(col("c_obs"), lit(0L)).as("c_sw"),
        col("n_s"), col("c_w"), col("n"))
      .select(col("source"), col("word"), col("c_sw"), col("n_s"),
        col("c_w"), col("n"),
        expr(s"CAST(floor($jsdTermExpr * 1000000000) AS BIGINT)")
          .as("jsd_ppb"))
  }

  private def q331OracleSql: String =
    s"""WITH words AS (SELECT source,
          unnest(string_split(text, ' ')) AS word FROM documents),
        cnt AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c_obs
          FROM words GROUP BY source, word),
        ns AS (SELECT source, CAST(sum(c_obs) AS BIGINT) AS n_s
          FROM cnt GROUP BY source),
        cw AS (SELECT word, CAST(sum(c_obs) AS BIGINT) AS c_w
          FROM cnt GROUP BY word),
        nt AS (SELECT CAST(sum(c_obs) AS BIGINT) AS n FROM cnt),
        spine AS (SELECT ns.source, cw.word, ns.n_s, cw.c_w,
            COALESCE(cnt.c_obs, 0) AS c_sw
          FROM ns CROSS JOIN cw
          LEFT JOIN cnt ON cnt.source = ns.source AND cnt.word = cw.word)
        SELECT source, word, c_sw, n_s, c_w, n,
          CAST(floor($jsdTermExpr * 1000000000) AS BIGINT) AS jsd_ppb
        FROM spine CROSS JOIN nt"""

  // ------------------------------------------------------------ q337

  /** Collocation table size for q337. */
  val CollocTopK = 50

  /** q337's Dunning log-likelihood ratio as ONE shared-text double
    * expression over the exact contingency integers {c12, c1, c2, n}:
    * LLR = 2·Σ_cells k·ln(k·N/(R·C)) with zero cells contributing 0
    * (each is a CASE arm — k sits OUTSIDE the log, so k = 0 kills the
    * term exactly; same absent-cell algebra as q317). */
  private def llrExpr: String = {
    def cell(k: String, r: String, c: String) =
      s"""(CASE WHEN $k = 0 THEN 0.0
           ELSE CAST($k AS DOUBLE)
             * ln(CAST($k AS DOUBLE) * n
                 / (CAST($r AS DOUBLE) * ($c))) END)"""
    s"""(2.0 * (${cell("c12", "c1", "c2")}
       + ${cell("(c1 - c12)", "c1", "(n - c2)")}
       + ${cell("(c2 - c12)", "(n - c1)", "c2")}
       + ${cell("(n - c1 - c2 + c12)", "(n - c1)", "(n - c2)")}))"""
  }

  /** Adjacent-bigram rows (w1, w2), one per in-document adjacency — the
    * shared generator for q337/q340/q341 (q214's in-row transform shape:
    * no self-join, no shuffle; bigrams never leave the row until the
    * census groupBy). */
  private def adjacentBigrams(s: SparkSession, dir: String): DataFrame = {
    adjacentBigramsOf(t(s, dir, "documents"))
  }

  /** [[adjacentBigrams]] over an arbitrary (…, text) frame — shared
    * with q347's per-micro-batch census. */
  private[graft] def adjacentBigramsOf(docs: DataFrame): DataFrame = {
    // callers register the function set ONCE (a streaming consumer
    // invokes this per micro-batch — re-registering there is overhead)
    docs
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      // native codegen pair generator (round 13, guide §4) — the
      // transform(sequence(...), struct(...)) lambda ran interpreted
      .select(explode(expr("adjacent_pairs(ws)")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  /** DuckDB twin of [[adjacentBigrams]]: CTEs `d` (tokenized docs) and
    * `bb` (one row per adjacency). */
  private val bigramCtes: String =
    """d AS (SELECT string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        bb AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
          FROM d, unnest(range(1, len(ws))) AS r(i))"""

  /** q337 — COLLOCATION EXTRACTION by Dunning log-likelihood ratio
    * (Dunning 1993 — the statistic that found "strong tea"/"powerful
    * computers": q142 releases co-occurrence counts and deliberately
    * leaves PMI's log to the consumer, q214 scores DOCUMENTS by
    * transition probability — this DECLARES the ranked phrase table
    * itself, the artifact a tokenizer pipeline merges into multi-word
    * units and a quality pipeline uses to spot templated boilerplate;
    * LLR beats PMI on rare pairs because the k·ln k form weighs
    * EVIDENCE, not just lift). Per adjacent-bigram: the 2×2 contingency
    * {c12, c1−c12, c2−c12, N−c1−c2+c12} in exact integers, LLR ×10⁶
    * through [[llrExpr]], top [[CollocTopK]] by llr_micro DESC with
    * (w1, w2) tie-break — ordering on the FLOORED integer, so the rank
    * is cross-engine-stable even at equal scores.
    *
    * Scale shape: one in-row bigram generator pass (q214's shape, no
    * self-join) → one vocabulary²-bounded census shuffle; marginals
    * broadcast back onto the census; TakeOrdered releases k rows. */
  def q337Collocations(s: SparkSession, dir: String): DataFrame = {
    val bc = adjacentBigrams(s, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val u1 = bc.groupBy("w1").agg(sum("c12").as("c1"))
    val u2 = bc.groupBy("w2").agg(sum("c12").as("c2"))
    val nT = bc.agg(sum("c12").as("n"))
    bc.join(broadcast(u1), "w1").join(broadcast(u2), "w2")
      .crossJoin(broadcast(nT))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("n"),
        expr(s"CAST(floor($llrExpr * 1000000) AS BIGINT)").as("llr_micro"))
      .orderBy(col("llr_micro").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
  }

  private def q337OracleSql: String =
    s"""WITH $bigramCtes,
        bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bb GROUP BY 1, 2),
        u1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
          FROM bc GROUP BY w1),
        u2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2
          FROM bc GROUP BY w2),
        nt AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bc)
        SELECT bc.w1, bc.w2, c12, c1, c2, n,
          CAST(floor($llrExpr * 1000000) AS BIGINT) AS llr_micro
        FROM bc JOIN u1 ON bc.w1 = u1.w1 JOIN u2 ON bc.w2 = u2.w2
        CROSS JOIN nt
        ORDER BY llr_micro DESC, bc.w1, bc.w2 LIMIT $CollocTopK"""

  // ------------------------------------------------------------ q340

  /** q340's interpolated Kneser–Ney probability ×10⁹ as PURE integer
    * arithmetic over the exact counts {c12, c1, r1, l2, nbb} with
    * discount D = 3/4:
    * P = max(c12−D,0)/c1 + (D·r1/c1)·(l2/nbb)
    *   = (max(4·c12−3, 0)·nbb + 3·r1·l2) / (4·c1·nbb)
    * — the ×4 clears the only fraction, so floor(P·10⁹) is one widened
    * integer division both engines compute bit-identically (q259's
    * widen-before-multiply discipline; the max() term alone reaches
    * ~4·10¹⁸ at sf0.1). */
  private def knExpr(divOp: String, bigT: String): String =
    s"""CAST((CAST(greatest(4 * c12 - 3, 0) AS $bigT) * nbb
            + CAST(3 AS $bigT) * r1 * l2) * 1000000000
          $divOp (CAST(4 AS $bigT) * c1 * nbb) AS BIGINT)"""

  /** q340 — INTERPOLATED KNESER–NEY BIGRAM TABLE (Kneser & Ney 1995;
    * Chen & Goodman 1998's interpolated form — the smoothing that made
    * n-gram LMs usable and still powers perplexity-based corpus quality
    * filtering à la CCNet: q214 scores documents by RAW transition
    * probability, which assigns zero to any unseen bigram and overrates
    * words that appear only inside one frequent phrase; KN's continuation
    * counts fix exactly that — "Francisco" is frequent but follows only
    * "San", so its unigram backoff weight collapses to its CONTEXT
    * diversity l2 = N₁₊(•w₂), not its frequency). Per seen bigram: the
    * exact integers {c12 count, c1 left marginal, r1 = N₁₊(w₁•) right
    * diversity, l2 = N₁₊(•w₂) left diversity, nbb = N₁₊(••) distinct
    * bigrams} and P_KN ×10⁹ through [[knExpr]] — the numerators also
    * answer the unseen case (c12 = 0 ⇒ pure backoff), so the released
    * marginals are the COMPLETE model; the spec pins the closed-form
    * mass identity Σ_vocab P_KN(·|w₁) = 1 exactly from the released
    * columns.
    *
    * Scale shape: q337's — one in-row bigram generator pass → one
    * vocab²-bounded census shuffle; the three marginal frames are
    * census-sized and BROADCAST back onto it. */
  /** The joined KN census {w1, w2, c12, c1, r1, l2, nbb} — q340's
    * frame, shared with q348's cross-entropy fold. */
  private def knCensus(s: SparkSession, dir: String): DataFrame = {
    val bc = adjacentBigrams(s, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val u1 = bc.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("r1"))
    val u2 = bc.groupBy("w2").agg(count(lit(1)).as("l2"))
    val nbbF = bc.agg(count(lit(1)).as("nbb"))
    bc.join(broadcast(u1), "w1").join(broadcast(u2), "w2")
      .crossJoin(broadcast(nbbF))
  }

  /** DuckDB twin of [[knCensus]]: CTEs bc/u1/u2/nt (compose after
    * [[bigramCtes]]; the consumer writes the final joined SELECT). */
  private val knCtes: String =
    """bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bb GROUP BY 1, 2),
        u1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
          CAST(count(*) AS BIGINT) AS r1 FROM bc GROUP BY w1),
        u2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS l2
          FROM bc GROUP BY w2),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM bc)"""

  def q340KneserNey(s: SparkSession, dir: String): DataFrame =
    knCensus(s, dir)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("r1"),
        col("l2"), col("nbb"),
        expr(knExpr("div", "DECIMAL(38,0)")).as("pkn_ppb"))

  private def q340OracleSql: String =
    s"""WITH $bigramCtes,
        $knCtes
        SELECT bc.w1, bc.w2, c12, c1, r1, l2, nbb,
          ${knExpr("//", "HUGEINT")} AS pkn_ppb
        FROM bc JOIN u1 ON bc.w1 = u1.w1 JOIN u2 ON bc.w2 = u2.w2
        CROSS JOIN nt"""

  // ------------------------------------------------------------ q348

  /** q348's per-cell negative log-likelihood mass ×10⁹ as ONE
    * shared-text double expression over the exact census integers: the
    * cell's c12 occurrences each contribute −ln P_KN, with P_KN as the
    * exact rational num/den in DOUBLE (the UN-floored probability —
    * flooring before the log would bias every cell), floored ONCE per
    * cell so the corpus sum is an exact integer sum of deterministic
    * per-cell values. */
  private def knNllExpr: String =
    s"""CAST(floor(CAST(c12 AS DOUBLE)
          * ln((CAST(greatest(4 * c12 - 3, 0) AS DOUBLE) * nbb
                + 3.0 * r1 * l2)
               / (4.0 * CAST(c1 AS DOUBLE) * nbb))
          * 1000000000) AS BIGINT)"""

  /** q348 — CORPUS CROSS-ENTROPY UNDER ITS OWN KNESER–NEY MODEL (the
    * perplexity a quality pipeline tracks per snapshot — CCNet-style
    * filtering thresholds on exactly this number; over the TRAINING
    * corpus itself it is the compressibility read: entropy rising
    * across snapshots means new structure, collapsing means the crawl
    * is eating its own boilerplate): H = Σ c12·(−ln P_KN(w2|w1)) / N
    * folded over the q340 census — per-cell masses floored ×10⁹
    * ([[knNllExpr]]) so the sum is exact, then one integer division by
    * the bigram token count and a deterministic exp() for the
    * perplexity. Released: {n_tokens, nll_sum_ppb, h_ppb,
    * ppl_micro}. Spec pins a brute-force model and Gibbs' inequality
    * (cross-entropy ≥ empirical MLE entropy — the model can't beat the
    * data's own code).
    *
    * Scale shape: q340's census plan plus a census-bounded fold —
    * nothing new leaves the vocab²-bounded frame. */
  def q348KnCrossEntropy(s: SparkSession, dir: String): DataFrame =
    knCensus(s, dir)
      .select(col("c12"), expr(knNllExpr).as("nll_ppb"))
      .agg(sum("c12").as("n_tokens"),
        (-sum("nll_ppb")).as("nll_sum_ppb"))
      .select(col("n_tokens"), col("nll_sum_ppb"),
        expr("nll_sum_ppb div n_tokens").as("h_ppb"))
      .select(col("n_tokens"), col("nll_sum_ppb"), col("h_ppb"),
        expr("""CAST(floor(exp(CAST(h_ppb AS DOUBLE) / 1000000000)
                * 1000000) AS BIGINT)""").as("ppl_micro"))

  private def q348OracleSql: String =
    s"""WITH $bigramCtes,
        $knCtes,
        cells AS (SELECT c12, $knNllExpr AS nll_ppb
          FROM bc JOIN u1 ON bc.w1 = u1.w1 JOIN u2 ON bc.w2 = u2.w2
          CROSS JOIN nt),
        ag AS (SELECT CAST(sum(c12) AS BIGINT) AS n_tokens,
          CAST(-sum(nll_ppb) AS BIGINT) AS nll_sum_ppb FROM cells)
        SELECT n_tokens, nll_sum_ppb,
          nll_sum_ppb // n_tokens AS h_ppb,
          CAST(floor(exp(CAST(nll_sum_ppb // n_tokens AS DOUBLE)
              / 1000000000) * 1000000) AS BIGINT) AS ppl_micro
        FROM ag"""

  // ------------------------------------------------------------ q341

  /** q341 — TEXTRANK KEYWORD SCORES (Mihalcea & Tarau 2004 — the
    * unsupervised keyword extractor: words vote for their neighbors
    * through the adjacency co-occurrence graph and PageRank finds the
    * words the whole corpus keeps routing through; unlike frequency
    * rankings (q24) or burstiness (q262), a word ranks high only if its
    * NEIGHBORS rank high, which is what separates load-bearing terms
    * from merely common ones). Graph: nodes = every distinct token,
    * undirected edges = distinct adjacent co-occurrences (self-loops
    * dropped), both directions materialized for [[Graph.pageRank]]'s
    * directed engine — the standard TextRank window-2 formulation,
    * unweighted (the weighted variant changes only the contrib
    * expression). Ranks by the shared integer fixed-point PageRank
    * ([[Graph.PrIters]] rounds, damping 85/100, rank 1.0 ≡ 10⁶) — the
    * same deterministic-across-engines arithmetic q99 pinned; isolated
    * tokens (single-word docs) keep the damping floor.
    *
    * Scale shape: one in-row bigram pass → vocab²-bounded distinct edge
    * frame; each PageRank round is one edge⋈rank equi-join + one
    * node-keyed aggregate (vocab-bounded here; web-scale graphs ride the
    * same plan partitioned on id). */
  def q341Textrank(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("id")).distinct()
    val dir1 = adjacentBigrams(s, dir).filter(col("w1") =!= col("w2"))
      .select(col("w1").as("src"), col("w2").as("dst"))
    val edges = dir1
      .union(dir1.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    Graph.pageRank(nodes, edges)
      .select(col("id").as("word"), col("rank_scaled"))
  }

  private def q341OracleSql: String = {
    val base = Graph.PrScale * 15L / 100L
    val iterCtes = (1 to Graph.PrIters).map { i =>
      s"""c$i AS (SELECT e.dst AS id,
            CAST(sum(((r.rank_scaled * 85) // 100) // d.deg) AS BIGINT)
              AS m
          FROM eb e JOIN deg d ON e.src = d.src
          JOIN r${i - 1} r ON r.id = e.src
          GROUP BY e.dst),
        r$i AS (SELECT n.id,
            $base + COALESCE(c.m, CAST(0 AS BIGINT)) AS rank_scaled
          FROM r${i - 1} n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n        ")
    s"""WITH $bigramCtes,
        alltok AS (SELECT unnest(string_split(text, ' ')) AS w
          FROM documents),
        nodes AS (SELECT DISTINCT w AS id FROM alltok),
        eb AS (SELECT DISTINCT w1 AS src, w2 AS dst FROM bb
                 WHERE w1 <> w2
               UNION
               SELECT DISTINCT w2 AS src, w1 AS dst FROM bb
                 WHERE w1 <> w2),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM eb
          GROUP BY src),
        r0 AS (SELECT id, CAST(${Graph.PrScale} AS BIGINT)
          AS rank_scaled FROM nodes),
        $iterCtes
        SELECT id AS word, rank_scaled FROM r${Graph.PrIters}"""
  }

  // ------------------------------------------------------------ q343

  /** q343 — GOOD–TURING COUNT-OF-COUNTS SPECTRUM over the bigram census
    * (Good 1953 — the frequency-of-frequencies table behind simple
    * Good–Turing smoothing and the "how much probability mass belongs
    * to bigrams we've NEVER seen" estimate N₁/N that a corpus-coverage
    * report leads with; the natural companion to q340, whose discount
    * D ≈ N₁/(N₁+2N₂) is read straight off this table): per occupied
    * frequency r the exact integers {n_r = #bigram types seen exactly r
    * times, n_r1 = N_{r+1} (0 at spectrum gaps), the adjusted count
    * r* = (r+1)·N_{r+1}/N_r ×10⁶ truncated-div}, plus each row carries
    * the grand totals {n_types, n_tokens} so the unseen-mass estimate
    * N₁/n_tokens and the normalization ΣrN_r = n_tokens are one-row
    * reads. Simple (unsmoothed) GT by design: at spectrum gaps r* = 0,
    * the known artifact Gale & Sampson's smoothing fixes — documented,
    * not hidden; the spec pins the spectrum against a brute-force model
    * and both closure identities.
    *
    * Scale shape: the bigram census (vocab²-bounded) re-censused by
    * count — a double aggregation whose second stage is
    * spectrum-bounded (≤ distinct frequencies); the r+1 lookup is a
    * census-sized self-join, broadcast. */
  def q343GoodTuring(s: SparkSession, dir: String): DataFrame =
    goodTuringSpectrum(adjacentBigrams(s, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true))

  /** q343's release over an arbitrary (w1, w2, c12) census — shared
    * with q347, whose drained streaming state is the same census. */
  private[graft] def goodTuringSpectrum(bc: DataFrame): DataFrame = {
    val spec = bc.groupBy(col("c12").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val tot = bc.agg(count(lit(1)).as("n_types"),
      sum("c12").as("n_tokens"))
    spec
      .join(broadcast(spec.select((col("r") - 1).as("r"),
        col("n_r").as("n_r1"))), Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        coalesce(col("n_r1"), lit(0L)).as("n_r1"),
        expr("""CAST((r + 1) * coalesce(n_r1, 0) * 1000000
                div n_r AS BIGINT)""").as("rstar_micro"),
        col("n_types"), col("n_tokens"))
  }

  private[graft] def q343OracleSql2: String = q343OracleSql

  private def q343OracleSql: String =
    s"""WITH $bigramCtes,
        bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bb GROUP BY 1, 2),
        spec AS (SELECT c12 AS r, CAST(count(*) AS BIGINT) AS n_r
          FROM bc GROUP BY c12),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(c12) AS BIGINT) AS n_tokens FROM bc)
        SELECT s.r, s.n_r,
          CAST(coalesce(s1.n_r, 0) AS BIGINT) AS n_r1,
          CAST((s.r + 1) * coalesce(s1.n_r, 0) * 1000000
            // s.n_r AS BIGINT) AS rstar_micro,
          n_types, n_tokens
        FROM spec s LEFT JOIN spec s1 ON s1.r = s.r + 1
        CROSS JOIN tot"""

  // ------------------------------------------------------------ q346

  /** Growth-curve resolution: the corpus is swept in this many
    * equal-width doc_id buckets. */
  val GrowthBuckets = 20L

  /** q346 — VOCABULARY GROWTH CURVE over trigram types (Heaps' law
    * V(n) ≈ K·nᵝ — the corpus-scaling report that answers "is new data
    * still bringing new language?": a plateauing curve means the next
    * 10 TB buys repetition, not coverage, the first-order signal for
    * dedup budgeting and mixture refresh; type axis = word TRIGRAMS
    * because this generator's unigram vocabulary is fixed by design and
    * saturates in the first bucket — trigram contexts keep growing, the
    * same reason shingle features (q30/q102) are trigram-based).
    * Ingest order = doc_id, swept in [[GrowthBuckets]] equal-width
    * buckets; per bucket the exact {cum_tokens, cum_types} with types
    * credited to their FIRST bucket (min-bucket census — the
    * distributed way to compute every prefix's distinct count in ONE
    * aggregation instead of B distinct scans). Spec pins a brute-force
    * prefix model, monotonicity, and the endpoint identities (last
    * cum_types = corpus distinct trigrams; last cum_tokens = corpus
    * token count).
    *
    * Scale shape: one in-row trigram pass → one type-keyed min census
    * (map-side combined, type-domain-bounded) re-censused to ≤B rows +
    * one bucket-keyed token count; cumsums ride the B-row frame. */
  def q346VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val nF = docs.agg(count(lit(1)).as("nd"))
    val toks = docs.crossJoin(broadcast(nF))
      .select(expr(s"doc_id * $GrowthBuckets div nd").as("b"),
        split(col("text"), " ").as("ws"))
      .localCheckpoint(true)
    val firstB = toks
      .filter(size(col("ws")) >= 3)
      // native codegen trigram generator (round 13, guide §4)
      .select(col("b"), explode(expr("gram_strings(ws, 3)")).as("g"))
      .groupBy("g").agg(min("b").as("fb"))
      .groupBy("fb").agg(count(lit(1)).as("new_types"))
    val tokCnt = toks.groupBy("b")
      .agg(sum(size(col("ws")).cast("bigint")).as("n_toks"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCnt.join(firstB, tokCnt("b") === firstB("fb"), "left")
      .select(col("b"), col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("nt"))
      .select(col("b"), sum("n_toks").over(w).as("cum_tokens"),
        sum("nt").over(w).as("cum_types"))
  }

  private def q346OracleSql: String =
    s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd
          FROM documents),
        tk AS (SELECT doc_id * $GrowthBuckets // nd AS b,
            string_split(text, ' ') AS ws
          FROM documents CROSS JOIN nd),
        tc AS (SELECT b, CAST(sum(len(ws)) AS BIGINT) AS n_toks
          FROM tk GROUP BY b),
        gr AS (SELECT b,
            ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
          FROM tk, unnest(range(1, len(ws) - 1)) AS r(i)
          WHERE len(ws) >= 3),
        fb AS (SELECT g, CAST(min(b) AS BIGINT) AS fb FROM gr GROUP BY g),
        nt AS (SELECT fb, CAST(count(*) AS BIGINT) AS new_types
          FROM fb GROUP BY fb)
        SELECT CAST(tc.b AS BIGINT) AS b,
          CAST(sum(tc.n_toks) OVER w AS BIGINT) AS cum_tokens,
          CAST(sum(coalesce(nt.new_types, 0)) OVER w AS BIGINT)
            AS cum_types
        FROM tc LEFT JOIN nt ON nt.fb = tc.b
        WINDOW w AS (ORDER BY tc.b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  // ------------------------------------------------------------ q367

  /** q367 fit width: the head of the rank-frequency curve (the Zipf
    * regime; the tail bends away and would bias the slope). */
  val ZipfTopV = 1000

  /** q367's least-squares pieces as shared-text doubles over the exact
    * integer log-moment sums (each int64 → double cast is one
    * correctly-rounded IEEE operation, deterministic cross-engine).
    * slope = (V·Σxy − Σx·Σy) / (V·Σxx − Σx²); intercept = (Σy −
    * slope·Σx)/V — computed inline so both releases share one text. */
  private def zipfSlopeExpr: String =
    """((CAST(v AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       / (CAST(v AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"""

  /** q367 — ZIPF RANK-FREQUENCY FIT over the word-frequency census
    * (the power-law exponent s in f(r) ∝ r^(−s): the companion report
    * to q346's Heaps curve — Heaps says whether new data brings new
    * TYPES, Zipf says how mass concentrates in the head, the
    * first-order statistic behind vocabulary truncation (q136), token
    * budgeting, and "is this corpus natural language or boilerplate?"
    * triage (natural text sits near s ≈ 1; templated spam skews far
    * steeper)). OLS of ln f on ln r over the top-[[ZipfTopV]] ranks
    * (freq DESC, word ASC tie-break — deterministic). Exactness: the
    * per-rank logs are FLOORED TO THE ×10⁶ GRID first (q331's
    * floor-at-cell convention — ln of an exact integer, one libm call
    * per cell), so the moment sums {Σx, Σy, Σxx, Σxy} are exact
    * BIGINTs; slope/intercept are shared-text doubles over them.
    * Released: {v, n_types, n_tokens, sx, sy, sxx, sxy, slope_ppm,
    * intercept_ppm} — the fit is reconstructible from the released
    * integers to the last bit.
    *
    * Scale shape: one token-census shuffle (map-side combined,
    * vocab-bounded); the rank window and moment fold ride the ≤V-row
    * head of the census (global Window over a LIMIT-sized frame — the
    * q168 domain-bound convention); corpus touched once. */
  def q367ZipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val tot = census.agg(count(lit(1)).as("n_types"),
      sum("f").as("n_tokens"))
    val head = census
      .withColumn("r", row_number().over(
        Window.orderBy(col("f").desc, col("w"))))
      .filter(col("r") <= ZipfTopV)
      .select(
        expr("CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("lx"),
        expr("CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("ly"))
    head.agg(count(lit(1)).as("v"), sum("lx").as("sx"),
        sum("ly").as("sy"), sum(expr("lx * lx")).as("sxx"),
        sum(expr("lx * ly")).as("sxy"))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("n_types"), col("n_tokens"),
        col("sx"), col("sy"), col("sxx"), col("sxy"),
        expr(s"CAST(floor($zipfSlopeExpr * 1000000) AS BIGINT)")
          .as("slope_ppm"),
        expr(s"""CAST(floor((CAST(sy AS DOUBLE) / v
            - $zipfSlopeExpr * (CAST(sx AS DOUBLE) / v)) * 1000000)
            AS BIGINT)""").as("intercept_ppm"))
  }

  private def q367OracleSql: String =
    s"""WITH census AS (
          SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY w),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
          CAST(sum(f) AS BIGINT) AS n_tokens FROM census),
        head AS (SELECT
            CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
            CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS ly
          FROM (SELECT f, row_number()
              OVER (ORDER BY f DESC, w) AS r FROM census)
          WHERE r <= $ZipfTopV),
        m AS (SELECT CAST(count(*) AS BIGINT) AS v,
            CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
            CAST(sum(lx * lx) AS BIGINT) AS sxx,
            CAST(sum(lx * ly) AS BIGINT) AS sxy
          FROM head)
        SELECT v, n_types, n_tokens, sx, sy, sxx, sxy,
          CAST(floor($zipfSlopeExpr * 1000000) AS BIGINT) AS slope_ppm,
          CAST(floor((CAST(sy AS DOUBLE) / v
            - $zipfSlopeExpr * (CAST(sx AS DOUBLE) / v)) * 1000000)
            AS BIGINT) AS intercept_ppm
        FROM m CROSS JOIN tot"""

  // ------------------------------------------------------------ q438

  /** q438 — READABILITY PANEL per source: Flesch reading-ease and
    * Flesch–Kincaid grade over the corpus, with the document as the
    * sentence unit (the generator's texts carry no terminal
    * punctuation, so words-per-sentence = words-per-document — the
    * panel's value here is the per-source SYLLABLE-DENSITY contrast,
    * which the vocabulary does vary). Syllables are vowel GROUPS
    * (runs of [aeiou]), counted without a UDF as
    * len(replace(groups→x)) − len(strip(vowels)) — two codegen'd
    * regexp passes; both scores are released in EXACT milli units via
    * integer division of the aggregate counts (11800·Syl div W etc.),
    * so no float fold exists at all. The classic Flesch constants
    * (206.835, 1.015, 84.6; FK 0.39, 11.8, 15.59) appear ×10³ as
    * integer literals.
    *
    * Scale shape: one corpus scan, three codegen'd per-row counters,
    * map-side combined to a \|sources\|-row census. */
  def q438Readability(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint").as("w"),
        (length(regexp_replace(col("text"), "[aeiou]+", "x"))
          - length(regexp_replace(col("text"), "[aeiou]+", "")))
          .cast("bigint").as("syl"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
        sum("syl").as("syllables"))
    per.select(col("source"), col("n_docs"), col("words"),
      col("syllables"),
      expr("""CAST(206835 - (1015 * words) div n_docs
           - (84600 * syllables) div words AS BIGINT)""")
        .as("flesch_milli"),
      expr("""CAST((390 * words) div n_docs
           + (11800 * syllables) div words - 15590 AS BIGINT)""")
        .as("fk_grade_milli"))
  }

  private def q438OracleSql: String =
    """WITH per AS (SELECT source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
          CAST(len(regexp_replace(text, '[aeiou]+', 'x', 'g'))
            - len(regexp_replace(text, '[aeiou]+', '', 'g'))
            AS BIGINT) AS syl
        FROM documents),
        g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(w) AS BIGINT) AS words,
          CAST(sum(syl) AS BIGINT) AS syllables
          FROM per GROUP BY source)
        SELECT source, n_docs, words, syllables,
          CAST(206835 - (1015 * words) // n_docs
            - (84600 * syllables) // words AS BIGINT) AS flesch_milli,
          CAST((390 * words) // n_docs
            + (11800 * syllables) // words - 15590 AS BIGINT)
            AS fk_grade_milli
        FROM g"""

  // ------------------------------------------------------------ q448

  /** q448's stopword set — the generator vocabulary's two function
    * words. */
  val RakeStops: Seq[String] = Seq("a", "the")
  val RakeTopK = 20

  /** q448 — RAKE KEYWORD EXTRACTION over the corpus (Rose et al.
    * 2010 — the degree/frequency keyword scorer: q100's heavy hitters
    * rank words by raw count, which surfaces function-adjacent filler;
    * RAKE splits text into stopword-delimited PHRASES and scores each
    * word by co-occurrence degree over frequency, preferring words
    * that live in long content phrases — the classic cheap keyword
    * baseline a corpus explorer runs before anything neural). Phrase
    * segmentation WITHOUT string surgery: per-doc word positions, a
    * running stopword count as the phrase id (one doc-keyed window),
    * stopwords dropped; deg(w) = Σ |phrase| over w's occurrences,
    * freq(w) = occurrences; released top-[[RakeTopK]] by EXACT
    * score_milli = 1000·deg div freq (ties by word).
    *
    * Scale shape: one corpus token explode (the q59/q98 token-pass
    * law), ONE doc-keyed window for phrase ids, phrase-length join
    * rides the (doc, phrase) census, final word census is
    * vocab-bounded with a TakeOrderedAndProject top-k. */
  def q448RakeKeywords(s: SparkSession, dir: String): DataFrame = {
    val stopList = RakeStops.map(w => s"'$w'").mkString("(", ", ", ")")
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "w").withColumnRenamed("pos", "p")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val phrased = toks
      .withColumn("pid",
        sum(expr(s"CASE WHEN w IN $stopList THEN 1 ELSE 0 END")).over(w))
      .filter(!col("w").isin(RakeStops: _*))
      .localCheckpoint(true)
    val plen = phrased.groupBy("doc_id", "pid")
      .agg(count(lit(1)).as("plen"))
    phrased.join(plen, Seq("doc_id", "pid"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("score_milli", expr("1000 * deg div freq"))
      .orderBy(col("score_milli").desc, col("w"))
      .limit(RakeTopK)
  }

  private def q448OracleSql: String = {
    val stopList = RakeStops.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH toks AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS w,
          CAST(generate_subscripts(string_split(text, ' '), 1)
            AS BIGINT) AS p
          FROM documents),
        phrased AS (SELECT doc_id, w,
          CAST(sum(CASE WHEN w IN $stopList THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY p) AS BIGINT) AS pid,
          p
          FROM toks),
        content AS (SELECT doc_id, w, pid FROM phrased
          WHERE w NOT IN $stopList),
        plen AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
          FROM content GROUP BY 1, 2),
        scored AS (SELECT c.w, CAST(count(*) AS BIGINT) AS freq,
            CAST(sum(p.plen) AS BIGINT) AS deg
          FROM content c JOIN plen p
            ON c.doc_id = p.doc_id AND c.pid = p.pid
          GROUP BY c.w)
        SELECT w, freq, deg, 1000 * deg // freq AS score_milli
        FROM scored
        ORDER BY score_milli DESC, w LIMIT $RakeTopK"""
  }

  // ------------------------------------------------------------ q452

  /** q452's marker-word count (the most frequent function-ish words —
    * Burrows' original recipe uses the corpus head). */
  val DeltaTopM = 15

  /** q452 — BURROWS' DELTA stylometric distance between sources (the
    * authorship-attribution classic — Burrows 2002: normalize each
    * high-frequency word's rate to a z-score ACROSS sources, then
    * Delta = mean |z₁ − z₂| over the marker set; it is the standard
    * "which corpus slice wrote this" readout, here answering which
    * SOURCES share a generator — the provenance question a
    * training-data pipeline asks when a new feed arrives). Marker set
    * = top-[[DeltaTopM]] corpus words (count desc, word asc —
    * deterministic); per-source rates as EXACT ppm integers over a
    * zero-filled source×marker spine; per-marker μ/σ and the 15-term
    * |z|-fold ride PIVOTED rank columns, so the double chain is a
    * FIXED-ORDER generated text (the q432 discipline — no
    * data-length fold); σ = 0 markers contribute 0 by declared guard.
    * Released per source pair: {s1, s2, delta_milli}.
    *
    * Scale shape: one corpus token explode to the (source × word)
    * census (vocab-bounded); marker selection is a top-15 census
    * read; everything after rides a \|sources\|-row pivot and its
    * 190-row pair self-join. */
  def q452BurrowsDelta(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .localCheckpoint(true)
    val srcTok = toks.groupBy("source").agg(count(lit(1)).as("nt"))
    val markers = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(DeltaTopM)
      .select(col("w"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("w"))).as("rk"))
      .localCheckpoint(true)
    val spine = srcTok.crossJoin(broadcast(markers))
    val counts = toks.join(broadcast(markers), "w")
      .groupBy("source", "rk").agg(count(lit(1)).as("cnt"))
    val rates = spine.join(counts, Seq("source", "rk"), "left")
      .select(col("source"), col("rk"),
        expr("1000000 * coalesce(cnt, 0) div nt").as("f"))
    val piv = rates.groupBy("source")
      .agg(max(when(col("rk") === 1, col("f"))).as("f1"),
        (2 to DeltaTopM).map(k =>
          max(when(col("rk") === k, col("f"))).as(s"f$k")): _*)
      .localCheckpoint(true)
    val statCols = (1 to DeltaTopM).flatMap { k => Seq(
      sum(s"f$k").as(s"s1_$k"),
      sum(expr(s"CAST(f$k AS DECIMAL(38,0)) * f$k")).as(s"s2_$k")) }
    val stats = piv.agg(count(lit(1)).as("ns"), statCols: _*)
    val withStats = piv.crossJoin(broadcast(stats))
    val a = withStats.select((col("source").as("sa") +:
      col("ns").as("ns_a") +:
      (1 to DeltaTopM).flatMap(k => Seq(col(s"f$k").as(s"a$k"),
        col(s"s1_$k"), col(s"s2_$k")))): _*)
    val b = withStats.select((col("source").as("sb") +:
      (1 to DeltaTopM).map(k => col(s"f$k").as(s"b$k"))): _*)
    def sd(k: Int): String =
      s"""sqrt((CAST(s2_$k AS DOUBLE) - CAST(s1_$k AS DOUBLE)
         * (CAST(s1_$k AS DOUBLE) / CAST(ns_a AS DOUBLE)))
         / CAST(ns_a AS DOUBLE))"""
    val terms = (1 to DeltaTopM).map { k =>
      s"""(CASE WHEN ${sd(k)} = 0.0 THEN 0.0
         ELSE abs(CAST(a$k AS DOUBLE) - CAST(b$k AS DOUBLE))
           / ${sd(k)} END)"""
    }.mkString(" + ")
    a.crossJoin(b).filter(col("sa") < col("sb"))
      .select(col("sa").as("s1"), col("sb").as("s2"),
        expr(s"CAST(floor(($terms) / $DeltaTopM.0 * 1000) AS BIGINT)")
          .as("delta_milli"))
  }

  private def q452OracleSql: String = {
    val fCols = (1 to DeltaTopM).map(k =>
      s"max(CASE WHEN rk = $k THEN f END) AS f$k").mkString(", ")
    val statCols = (1 to DeltaTopM).flatMap { k => Seq(
      s"CAST(sum(f$k) AS BIGINT) AS s1_$k",
      s"sum(CAST(f$k AS HUGEINT) * f$k) AS s2_$k") }.mkString(", ")
    def sd(k: Int): String =
      s"""sqrt((CAST(s2_$k AS DOUBLE) - CAST(s1_$k AS DOUBLE)
         * (CAST(s1_$k AS DOUBLE) / CAST(ns_a AS DOUBLE)))
         / CAST(ns_a AS DOUBLE))"""
    val terms = (1 to DeltaTopM).map { k =>
      s"""(CASE WHEN ${sd(k)} = 0.0 THEN 0.0
         ELSE abs(CAST(a.f$k AS DOUBLE) - CAST(b.f$k AS DOUBLE))
           / ${sd(k)} END)"""
    }.mkString(" + ")
    s"""WITH toks AS (SELECT source,
          unnest(string_split(text, ' ')) AS w FROM documents),
        srctok AS (SELECT source, CAST(count(*) AS BIGINT) AS nt
          FROM toks GROUP BY 1),
        markers AS (SELECT w, CAST(row_number() OVER
            (ORDER BY count(*) DESC, w) AS BIGINT) AS rk
          FROM toks GROUP BY w
          ORDER BY count(*) DESC, w LIMIT $DeltaTopM),
        counts AS (SELECT t.source, m.rk,
            CAST(count(*) AS BIGINT) AS cnt
          FROM toks t JOIN markers m ON t.w = m.w GROUP BY 1, 2),
        rates AS (SELECT s.source, m.rk,
            1000000 * coalesce(c.cnt, 0) // s.nt AS f
          FROM srctok s CROSS JOIN markers m
          LEFT JOIN counts c ON c.source = s.source AND c.rk = m.rk),
        piv AS (SELECT source, $fCols FROM rates GROUP BY source),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS ns_a, $statCols
          FROM piv)
        SELECT a.source AS s1, b.source AS s2,
          CAST(floor(($terms) / $DeltaTopM.0 * 1000) AS BIGINT)
            AS delta_milli
        FROM piv a CROSS JOIN piv b CROSS JOIN stats
        WHERE a.source < b.source"""
  }

  // ------------------------------------------------------------ q455

  /** q455 — CROSS-LINGUAL CONTAMINATION SCREEN over winnowed
    * fingerprints (the language axis of the q84/q224 leakage family:
    * a "multilingual" corpus whose zh slice shares verbatim substrings
    * with its en slice is usually one crawl mislabeled twice, and
    * fingerprint collisions ACROSS language labels are the cheap
    * first-pass detector — language-ID errors and boilerplate both
    * surface here before any aligner runs). Per unordered language
    * pair: distinct winnowed fingerprints (q102's selection, so a
    * shared ≥ w+k−1-token run FORCES a collision) present in BOTH
    * labels, plus per-label fingerprint totals and the containment
    * ratio shared·10⁶ div min(total) — exact integers.
    *
    * Scale shape: the q102 winnow pass (corpus-linear), one
    * (fp × lang) distinct census; the pair join fans out per
    * fingerprint only over its ≤5 language labels (never documents),
    * so candidate volume is ≤ C(5,2)·|fps|. */
  def q455CrossLingualContamination(s: SparkSession,
      dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val flang = winnowFps(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select("fp_hash", "lang").distinct()
      .localCheckpoint(true)
    val perLang = flang.groupBy("lang").agg(count(lit(1)).as("fps"))
    val shared = flang.select(col("fp_hash"), col("lang").as("lang_a"))
      .join(flang.select(col("fp_hash"), col("lang").as("lang_b")),
        "fp_hash")
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("shared_fps"))
    shared
      .join(broadcast(perLang.select(col("lang").as("lang_a"),
        col("fps").as("fps_a"))), "lang_a")
      .join(broadcast(perLang.select(col("lang").as("lang_b"),
        col("fps").as("fps_b"))), "lang_b")
      .select(col("lang_a"), col("lang_b"), col("shared_fps"),
        col("fps_a"), col("fps_b"),
        expr("shared_fps * 1000000 div least(fps_a, fps_b)")
          .as("containment_ppm"))
  }

  private def q455OracleSql: String =
    s"""WITH wn AS (${winnowSelSql("documents")}),
        flang AS (SELECT DISTINCT wn.fp_hash, d.lang
          FROM wn JOIN documents d ON wn.doc_id = d.doc_id),
        perlang AS (SELECT lang, CAST(count(*) AS BIGINT) AS fps
          FROM flang GROUP BY lang),
        shared AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
            CAST(count(*) AS BIGINT) AS shared_fps
          FROM flang a JOIN flang b
            ON a.fp_hash = b.fp_hash AND a.lang < b.lang
          GROUP BY 1, 2)
        SELECT s.lang_a, s.lang_b, s.shared_fps,
          pa.fps AS fps_a, pb.fps AS fps_b,
          s.shared_fps * 1000000 // least(pa.fps, pb.fps)
            AS containment_ppm
        FROM shared s
        JOIN perlang pa ON s.lang_a = pa.lang
        JOIN perlang pb ON s.lang_b = pb.lang"""

  // ------------------------------------------------------------ q478

  /** q478's gates: a stopword candidate appears in ≥ 60% of documents
    * AND carries ≥ 2% of all tokens. */
  val StopDfGatePpm = 600000L
  val StopCfGatePpm = 20000L

  /** q478 — STOPWORD LIST ADVISOR from corpus statistics (the
    * list-BUILDING op the text family consumes but never derives:
    * q59's TF/DF measures terms, q448's RAKE and q98's index take a
    * stopword list as INPUT — this derives one the way Fox 1989 and
    * every search team does, from the corpus itself: words that are
    * both ubiquitous (document frequency) and bulky (collection
    * frequency share) carry no retrieval signal and dominate index
    * size). Per word: exact {df, cf, df_ppm = df·10⁶ div n_docs,
    * cf_ppm = cf·10⁶ div n_tokens}; released = words passing BOTH
    * [[StopDfGatePpm]]/[[StopCfGatePpm]] gates, with the index-size
    * share they'd save — all integers.
    *
    * Scale shape: one token explode to the vocab-bounded
    * (word → df, cf) census (df via per-doc distinct, the q59 law);
    * the gate is a census filter, output ≤ \|vocab\|. */
  def q478StopwordAdvisor(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .localCheckpoint(true)
    val g = toks.agg(countDistinct("doc_id").as("n_docs"),
      count(lit(1)).as("n_tokens"))
    val census = toks.groupBy("w")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
    census.crossJoin(broadcast(g))
      .select(col("w"), col("df"), col("cf"),
        expr("df * 1000000 div n_docs").as("df_ppm"),
        expr("cf * 1000000 div n_tokens").as("cf_ppm"))
      .filter(col("df_ppm") >= StopDfGatePpm &&
        col("cf_ppm") >= StopCfGatePpm)
  }

  private def q478OracleSql: String =
    s"""WITH toks AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS w FROM documents),
        g AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(count(*) AS BIGINT) AS n_tokens FROM toks),
        census AS (SELECT w,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
          CAST(count(*) AS BIGINT) AS cf
          FROM toks GROUP BY w)
        SELECT w, df, cf,
          df * 1000000 // n_docs AS df_ppm,
          cf * 1000000 // n_tokens AS cf_ppm
        FROM census CROSS JOIN g
        WHERE df * 1000000 // n_docs >= $StopDfGatePpm
          AND cf * 1000000 // n_tokens >= $StopCfGatePpm"""

  // ----------------------------------------------------------- q502

  /** q502 — ROUGE OVERLAP PANEL between same-source document pairs
    * (ROUGE-1/-2 recall and precision, Lin 2004 — the n-gram-overlap
    * eval every summarization/distillation pipeline scores with, and
    * a metric this suite's set-based members deliberately don't
    * cover: Jaccard (q32/q101) is SET overlap symmetric in both
    * sides, ROUGE is MULTISET overlap — Σ min(count_a, count_b) —
    * normalized per side, so repeated tokens count and
    * reference/candidate are distinct roles). Pairs = (doc, doc+20):
    * the generator's source = id mod 20 law makes these same-source
    * neighbors, and the shared 30-word vocabulary makes the overlap
    * non-trivially distributed rather than near-zero. Released per
    * source: pair count and the mean ROUGE-1/-2 recall (vs the lower-
    * id reference) and precision (vs the candidate) in ppm — exact
    * integers: per-pair Σ min of exact counts, one integer division
    * per released cell.
    *
    * Scale shape: token/bigram censuses are map-side per-doc folds;
    * the pair overlap is ONE equi-join on (doc_id+20, gram) whose
    * per-key volume is bounded by per-doc distinct grams (≤ ~100);
    * the source frame aggregates ≤ 20 rows. Nothing corpus². */
  def q502RougeOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("w"))
      // bigram key as a (w_i, w_{i+1}) STRUCT via arrays_zip + slice
      // (round-12, guide §4): the previous
      // transform(sequence(...), concat(w[i], ' ', w[i+1])) lambda ran
      // INTERPRETED (higher-order functions fall out of whole-stage
      // codegen) and allocated a concatenated string per gram — the
      // profile pinned ~6 s of the query's 8 s on exactly this
      // projection. Struct equality ≡ concat-string equality here
      // because `w` comes from split(text, ' '), so no word can
      // contain the separator — the census groups, the pair join, and
      // Σ min(count) are over the identical gram partition.
      .withColumn("bg", expr(
        """arrays_zip(slice(w, 1, greatest(size(w) - 1, 0)),
                      slice(w, 2, greatest(size(w) - 1, 0)))"""))
    // Round-12 optimization (guide §1/§2.4, repeated-subplan removal):
    // the per-doc unigram/bigram censuses and the length frame are each
    // consumed TWICE (both sides of the pair self-join / both roles of
    // the pair), and previously re-derived the full split+bigram
    // pipeline each time — profile showed one 7 s job recomputing the
    // corpus tokenization ~8×. Materialize each census once
    // (vocabulary-bounded per doc, so the checkpointed frames are
    // corpus-linear and SMALLER than the text they summarize); every
    // expression is unchanged, so the released integers are identical.
    // (toDF after the checkpoint re-aliases with fresh attribute ids —
    // a LogicalRDD keeps its parent plan's ids, which would collide
    // with the skeleton branch of the pair join below)
    def censusPlan(column: String) = docs
      .select(col("doc_id"), explode(col(column)).as("g"))
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("ca"))
    // the two censuses and the length frame are independent — one
    // concurrent materialization (guide §2.6, round 13) instead of
    // three sequential walls
    val Seq(lens0, cw0, cbg0) = Par.checkpointAll(
      docs.select(col("doc_id"),
        size(col("w")).cast("bigint").as("n1"),
        greatest(size(col("w")) - 1, lit(0)).cast("bigint").as("n2")),
      censusPlan("w"), censusPlan("bg"))
    val lens = lens0.toDF("doc_id", "n1", "n2")
    val censuses = Map("w" -> cw0.toDF("doc_id", "g", "ca"),
      "bg" -> cbg0.toDF("doc_id", "g", "ca"))
    def census(column: String, out: String) =
      censuses(column).withColumnRenamed("ca", out)
    def overlap(c: DataFrame, out: String) = {
      val cb = c.select((col("doc_id") - 20).as("doc_id"),
        col("g"), col("ca").as("cb"))
      c.join(cb, Seq("doc_id", "g"))
        .groupBy("doc_id")
        .agg(sum(least(col("ca"), col("cb"))).as(out))
    }
    val pairs = docs.select(col("doc_id"), col("source"))
      .join(docs.select((col("doc_id") - 20).as("doc_id")),
        "doc_id")
      .join(overlap(census("w", "ca"), "i1"), Seq("doc_id"), "left")
      .join(overlap(census("bg", "ca"), "i2"), Seq("doc_id"), "left")
      .join(lens.as("la"), Seq("doc_id"))
      .join(lens.select((col("doc_id") - 20).as("doc_id"),
        col("n1").as("m1"), col("n2").as("m2")), Seq("doc_id"))
      .select(col("source"),
        coalesce(col("i1"), lit(0L)).as("i1"),
        coalesce(col("i2"), lit(0L)).as("i2"),
        col("n1"), col("n2"), col("m1"), col("m2"))
    pairs.groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(i1 * 1000000 div n1) div count(1)")
          .as("r1_recall_ppm"),
        expr("sum(i1 * 1000000 div m1) div count(1)")
          .as("r1_prec_ppm"),
        expr("sum(CASE WHEN n2 > 0 THEN i2 * 1000000 div n2 " +
          "ELSE 0 END) div count(1)").as("r2_recall_ppm"),
        expr("sum(CASE WHEN m2 > 0 THEN i2 * 1000000 div m2 " +
          "ELSE 0 END) div count(1)").as("r2_prec_ppm"))
  }

  private def q502OracleSql: String =
    """WITH docs AS (SELECT doc_id, source,
         string_split(text, ' ') AS w FROM documents),
       grams AS (SELECT doc_id, source, w,
         CASE WHEN len(w) < 2 THEN []
           ELSE list_transform(range(1, len(w)),
             bg_i -> w[bg_i] || ' ' || w[bg_i + 1]) END AS bg
       FROM docs),
       lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n1,
         CAST(greatest(len(w) - 1, 0) AS BIGINT) AS n2 FROM grams),
       c1 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT doc_id, unnest(w) AS g FROM grams)
         GROUP BY doc_id, g),
       c2 AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT doc_id, unnest(bg) AS g FROM grams)
         GROUP BY doc_id, g),
       o1 AS (SELECT a.doc_id,
           CAST(sum(least(a.c, b.c)) AS BIGINT) AS i1
         FROM c1 a JOIN c1 b
           ON b.doc_id = a.doc_id + 20 AND b.g = a.g
         GROUP BY a.doc_id),
       o2 AS (SELECT a.doc_id,
           CAST(sum(least(a.c, b.c)) AS BIGINT) AS i2
         FROM c2 a JOIN c2 b
           ON b.doc_id = a.doc_id + 20 AND b.g = a.g
         GROUP BY a.doc_id),
       pairs AS (SELECT d.source,
           coalesce(o1.i1, 0) AS i1, coalesce(o2.i2, 0) AS i2,
           la.n1, la.n2, lb.n1 AS m1, lb.n2 AS m2
         FROM grams d
         JOIN grams e ON e.doc_id = d.doc_id + 20
         LEFT JOIN o1 ON o1.doc_id = d.doc_id
         LEFT JOIN o2 ON o2.doc_id = d.doc_id
         JOIN lens la ON la.doc_id = d.doc_id
         JOIN lens lb ON lb.doc_id = d.doc_id + 20)
       SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(i1 * 1000000 // n1) // count(*) AS BIGINT)
           AS r1_recall_ppm,
         CAST(sum(i1 * 1000000 // m1) // count(*) AS BIGINT)
           AS r1_prec_ppm,
         CAST(sum(CASE WHEN n2 > 0 THEN i2 * 1000000 // n2
           ELSE 0 END) // count(*) AS BIGINT) AS r2_recall_ppm,
         CAST(sum(CASE WHEN m2 > 0 THEN i2 * 1000000 // m2
           ELSE 0 END) // count(*) AS BIGINT) AS r2_prec_ppm
       FROM pairs GROUP BY source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q502_rouge_overlap" -> (q502RougeOverlap _),
    "q478_stopword_advisor" -> (q478StopwordAdvisor _),
    "q455_cross_lingual_contamination" ->
      (q455CrossLingualContamination _),
    "q452_burrows_delta" -> (q452BurrowsDelta _),
    "q448_rake_keywords" -> (q448RakeKeywords _),
    "q438_readability" -> (q438Readability _),
    "q367_zipf_fit" -> (q367ZipfFit _),
    "q337_collocations" -> (q337Collocations _),
    "q346_vocab_growth" -> (q346VocabGrowth _),
    "q343_good_turing" -> (q343GoodTuring _),
    "q340_kneser_ney" -> (q340KneserNey _),
    "q348_kn_cross_entropy" -> (q348KnCrossEntropy _),
    "q341_textrank" -> (q341Textrank _),
    "q331_source_jsd" -> (q331SourceJsd _),
    "q276_truncation_planner" -> (q276TruncationPlanner _),
    "q262_token_burstiness" -> (q262TokenBurstiness _),
    "q244_lang_confusion" -> (q244LangConfusion _),
    "q243_vocab_overlap" -> (q243VocabOverlap _),
    "q214_bigram_lm_score" -> (q214BigramLmScore _),
    "q218_tokenizer_fertility" -> (q218TokenizerFertility _),
    "q113_fingerprint_match" -> (q113FingerprintMatch _),
    "q136_vocab_coverage" -> (q136VocabCoverage _),
    "q144_countmin" -> (q144Countmin _),
    "q149_bpe_tokenize" -> (q149BpeTokenize _),
    "q137_bpe_merges" -> (q137BpeMerges _),
    "q142_cooccurrence" -> (q142Cooccurrence _),
    "q122_boilerplate_scrub" -> (q122BoilerplateScrub _),
    "q112_bigram_novelty" -> (q112BigramNovelty _),
    "q102_winnowing" -> (q102Winnowing _),
    "q108_vocab_encode" -> (q108VocabEncode _),
    "q89_chunk_documents" -> (q89ChunkDocuments _),
    "q90_quality_gate" -> (q90QualityGate _),
    "q96_pii_redaction" -> (q96PiiRedaction _),
    "q98_inverted_index" -> (q98InvertedIndex _),
    "q409_postings_varint" -> (q409PostingsVarint _),
    "q100_heavy_hitters" -> (q100HeavyHitters _),
    "q34_lang_id" -> (q34LangId _),
    "q35_quality_score" -> (q35QualityScore _),
    "q36_token_count" -> (q36TokenCount _),
    "q37_fingerprint" -> (q37Fingerprint _),
    "q59_tf_df" -> (q59TfDf _),
    "q61_string_agg" -> (q61StringAgg _),
    "q72_repetition" -> (q72Repetition _),
    "q80_regex_family" -> (q80RegexFamily _))

  val oracleSql: Map[String, String] = Map(
    "q478_stopword_advisor" -> q478OracleSql,
    "q455_cross_lingual_contamination" -> q455OracleSql,
    "q452_burrows_delta" -> q452OracleSql,
    "q448_rake_keywords" -> q448OracleSql,
    "q438_readability" -> q438OracleSql,
    "q367_zipf_fit" -> q367OracleSql,
    "q337_collocations" -> q337OracleSql,
    "q343_good_turing" -> q343OracleSql,
    "q346_vocab_growth" -> q346OracleSql,
    "q340_kneser_ney" -> q340OracleSql,
    "q348_kn_cross_entropy" -> q348OracleSql,
    "q341_textrank" -> q341OracleSql,
    "q331_source_jsd" -> q331OracleSql,
    "q276_truncation_planner" -> q276OracleSql,
    "q262_token_burstiness" -> q262OracleSql,
    "q244_lang_confusion" -> q244OracleSql,
    "q243_vocab_overlap" -> q243OracleSql,
    "q214_bigram_lm_score" -> q214OracleSql,
    "q218_tokenizer_fertility" -> q218OracleSql,
    "q136_vocab_coverage" -> q136OracleSql,
    "q144_countmin" -> q144OracleSql,
    "q149_bpe_tokenize" -> q149OracleSql,
    "q137_bpe_merges" -> q137OracleSql,
    "q142_cooccurrence" -> q142OracleSql,
    "q113_fingerprint_match" -> q113OracleSql,
    "q122_boilerplate_scrub" -> q122OracleSql,
    "q112_bigram_novelty" -> q112OracleSql,
    "q102_winnowing" -> q102OracleSql,
    "q108_vocab_encode" -> q108OracleSql,
    "q89_chunk_documents" -> q89OracleSql,
    "q90_quality_gate" -> q90OracleSql,
    "q96_pii_redaction" -> q96OracleSql,
    "q98_inverted_index" -> q98OracleSql,
    "q409_postings_varint" -> q409OracleSql,
    "q100_heavy_hitters" -> q100OracleSql,
    "q34_lang_id" -> q34OracleSql,
    "q35_quality_score" -> q35OracleSql,
    "q36_token_count" -> q36OracleSql,
    "q37_fingerprint" -> q37OracleSql,
    "q59_tf_df" -> q59OracleSql,
    "q61_string_agg" -> q61OracleSql,
    "q72_repetition" -> q72OracleSql,
    "q502_rouge_overlap" -> q502OracleSql,
    "q80_regex_family" -> q80OracleSql)
}
