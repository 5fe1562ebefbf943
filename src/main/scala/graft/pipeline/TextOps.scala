package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.sources.Tables

/** SURVEY.md §2D — text-analysis operators over the `documents` table.
  * All are single-pass, per-row, codegen-friendly column pipelines (no
  * UDFs, no shuffles except explicit aggregations), and every formula is
  * exact integer / deterministic-IEEE math so the DuckDB oracle hashes
  * identically.
  */
object TextOps {

  /** Occurrence count of `needle` in `hay` via length arithmetic — exact
    * integer math that both Spark and DuckDB express identically. */
  private def occurrences(hay: org.apache.spark.sql.Column, needle: String) =
    ((length(hay) - length(replace(hay, lit(needle), lit("")))) / needle.length).cast("long")

  private def occSql(hayExpr: String, needle: String): String =
    s"CAST((length($hayExpr) - length(replace($hayExpr, '$needle', ''))) / ${needle.length} AS BIGINT)"

  /** Language ID by marker-token frequency: count per-language marker hits,
    * argmax with a deterministic priority order. The marker lists are the
    * n-gram-heuristic mechanism (real deployments plug in per-language
    * n-gram tables; the argmax plumbing is identical). */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val padded = concat(lit(" "), col("text"), lit(" "))
    val enScore = occurrences(padded, " the ") + occurrences(padded, " join ")
    val esScore = occurrences(padded, " table ") + occurrences(padded, " data ")
    val zhScore = occurrences(padded, " query ") + occurrences(padded, " row ")
    d.select(col("doc_id"), col("lang"),
        enScore.as("s_en"), esScore.as("s_es"), zhScore.as("s_zh"))
      .withColumn("pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_zh"), "en")
          .when(col("s_es") >= col("s_zh"), "es")
          .otherwise("zh"))
  }

  val textLangidSql: String = {
    val p = "(' ' || text || ' ')"
    val en = s"${occSql(p, " the ")} + ${occSql(p, " join ")}"
    val es = s"${occSql(p, " table ")} + ${occSql(p, " data ")}"
    val zh = s"${occSql(p, " query ")} + ${occSql(p, " row ")}"
    s"""SELECT doc_id, lang, s_en, s_es, s_zh,
       |  CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
       |       WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS pred
       |FROM (SELECT doc_id, lang, $en AS s_en, $es AS s_es, $zh AS s_zh
       |      FROM documents) t""".stripMargin
  }

  /** Quality scoring: length, token, punctuation and stopword statistics
    * per document. Ratios are single IEEE divisions of exact integers —
    * bit-identical across engines. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val padded = concat(lit(" "), col("text"), lit(" "))
    val nChars = length(col("text")).cast("long")
    val nTokens = size(split(trim(col("text")), "\\s+")).cast("long")
    val nStop = (occurrences(padded, " the ") + occurrences(padded, " and ") +
      occurrences(padded, " of ")).cast("long")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long")
    // ratios are NULL when the denominator is 0 (empty text) — stated
    // explicitly on both sides: Spark ANSI errors on /0 and DuckDB
    // returns NULL, so the guard is the only portable definition
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(num.cast("double") / den)
    d.select(col("doc_id"), nChars.as("n_chars_m"), nTokens.as("n_tokens"),
        nStop.as("n_stop"), nPunct.as("n_punct"))
      .withColumn("stop_ratio", ratio(col("n_stop"), col("n_tokens")))
      .withColumn("punct_ratio", ratio(col("n_punct"), col("n_chars_m")))
      .withColumn("mean_tok_len", ratio(col("n_chars_m"), col("n_tokens")))
  }

  val textQualitySql: String = {
    val p = "(' ' || text || ' ')"
    val stop = s"${occSql(p, " the ")} + ${occSql(p, " and ")} + ${occSql(p, " of ")}"
    s"""SELECT doc_id, n_chars_m, n_tokens, n_stop, n_punct,
       |  CASE WHEN n_tokens = 0 THEN NULL ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stop_ratio,
       |  CASE WHEN n_chars_m = 0 THEN NULL ELSE CAST(n_punct AS DOUBLE) / n_chars_m END AS punct_ratio,
       |  CASE WHEN n_tokens = 0 THEN NULL ELSE CAST(n_chars_m AS DOUBLE) / n_tokens END AS mean_tok_len
       |FROM (SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_m,
       |  CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |  CAST($stop AS BIGINT) AS n_stop,
       |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
       |FROM documents) t""".stripMargin
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (word pieces / digit runs / single punctuation marks). */
  def textTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")
        .as("n_bpe_tokens"))
  }

  val textTokensSql: String =
    """SELECT doc_id,
      |  CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
      |FROM documents""".stripMargin

  /** Rolling polynomial fingerprint: acc = (acc*31 + codepoint) mod 1e9+7,
    * folded left over the characters — exact 64-bit integer math in both
    * engines (Spark `aggregate` HOF; DuckDB `list_reduce`). */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("aggregate(split(text, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007L)")
          .as("fingerprint"))
  }

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length(text) + 1), i -> CAST(ascii(text[i]) AS BIGINT))),
      |              (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      |FROM documents""".stripMargin

  /** Gopher-style repetition signals: duplicate-token fraction and
    * most-frequent-token share per document. Token counting is a
    * (doc_id, token) aggregation — the honest 100 TB shape (explode +
    * two map-side-combinable groupBys that reuse the same hash
    * partitioning prefix), not a per-row quadratic HOF. Ratios are one
    * IEEE division of exact integers each. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val tc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_cnt"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .as("dup_frac"),
        (col("top_cnt").cast("double") / col("n_tokens")).as("top_frac"))
  }

  val textRepetitionSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents),
      |tc AS (
      |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM tok WHERE length(token) > 0 GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(MAX(c) AS BIGINT) AS top_cnt,
      |  CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_frac,
      |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_frac
      |FROM tc GROUP BY doc_id""".stripMargin

  // PII patterns shared by the Spark pipeline and the DuckDB oracle —
  // RE2-compatible (DuckDB) and java.util.regex-compatible (Spark).
  private val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiSsn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  private val piiIp = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scrubbing: redact emails / SSN-shaped ids / IPv4 addresses with
    * typed placeholder tokens and count redactions. The synthetic corpus
    * carries no PII, so a deterministic injection (keyed on doc_id, same
    * formula on both engines) plants known instances first — the oracle
    * then proves the scrubber removed exactly what was planted. Pure
    * per-row regex column ops: no shuffle, whole-stage codegen. */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val injected = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" reach me at user"), col("doc_id"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit(" id 123-45-6789")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" host 10.0.42.7")).otherwise(lit("")))
    val redactions = regexp_count(injected, lit(piiEmail)) +
      regexp_count(injected, lit(piiSsn)) + regexp_count(injected, lit(piiIp))
    val scrubbed = regexp_replace(
      regexp_replace(regexp_replace(injected, piiEmail, "<EMAIL>"),
        piiSsn, "<ID>"), piiIp, "<IP>")
    d.select(col("doc_id"), scrubbed.as("scrub_text"),
      redactions.cast("long").as("n_redactions"))
  }

  val textPiiScrubSql: String = {
    val inj = "text || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' reach me at user' || doc_id || '@mail.example.com' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' id 123-45-6789' ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.42.7' ELSE '' END"
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(inj,
       |    '$piiEmail', '<EMAIL>', 'g'),
       |    '$piiSsn', '<ID>', 'g'),
       |    '$piiIp', '<IP>', 'g') AS scrub_text,
       |  CAST(len(regexp_extract_all(inj, '$piiEmail'))
       |     + len(regexp_extract_all(inj, '$piiSsn'))
       |     + len(regexp_extract_all(inj, '$piiIp')) AS BIGINT) AS n_redactions
       |FROM (SELECT doc_id, $inj AS inj FROM documents) t""".stripMargin
  }

  /** Unigram language-model quality score: avg per-token log-probability
    * under the corpus's own unigram distribution — the cheap tier of the
    * perplexity-filter ladder (KenLM-style filters are the same plumbing
    * with a bigger table). Two aggregations: token counts (one shuffle,
    * map-side combined), then the tiny vocab log-prob table BROADCAST
    * back onto the token stream — the corpus never shuffles for the
    * lookup, only for the final per-doc fold. Determinism: each token's
    * log-prob is rounded to 9dp once and summed as DECIMAL (exact,
    * order-independent); only the final mean is IEEE, rounded to 6dp. */
  def textUnigramLm(spark: SparkSession, dir: String): DataFrame = {
    // two-scan shape KEPT (r15 note): a one-pass rewrite through a
    // checkpointed per-(doc, token) count table was built and MEASURED
    // SLOWER at sf0.1 (0.47 → ~1.0 s): it trades the second cheap
    // pruned-parquet tokenize for a corpus-wide (doc, tok) shuffle plus
    // a checkpoint materialization — distinct (doc, token) pairs barely
    // collapse, unlike DSIR's 256-bucket fold. Reverted per guide §1
    // (re-measure, keep the measured winner).
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val lp = counts.crossJoin(broadcast(counts.agg(sum(col("n")).as("total"))))
      .select(col("tok"),
        round(log(col("n").cast("double") / col("total").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("lp"))
    toks.join(broadcast(lp), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lp")).cast("double") / count(lit(1)), 6).as("avg_logprob"))
  }

  val textUnigramLmSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
      |lp AS (SELECT tok,
      |  CAST(round(ln(CAST(n AS DOUBLE) / total), 9) AS DECIMAL(18,9)) AS lp
      |  FROM c, tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
      |FROM t JOIN lp USING (tok) GROUP BY doc_id""".stripMargin

  /** BIGRAM language-model score — the next tier of the perplexity-filter
    * ladder: avg log p(w₂|w₁) under the corpus's own conditional bigram
    * MLE (every observed bigram has count ≥ 1, so logs stay finite
    * without smoothing). Two corpus passes — stats then score, the same
    * inherent shape as DSIR: one per-row HOF (adjacent-pair transform —
    * no positional self-join) feeds a per-(doc, bigram) count aggregate;
    * global bigram counts roll up from that, and the prefix counts n(w₁)
    * are a window sum OVER the aggregated bigram table (n₁(w) = Σ n₁₂
    * over bigrams starting with w) — the corpus itself never enters a
    * window or a third scan. (A persist of the per-doc counts would make
    * it one pass, but a builder-level persist leaks across bench passes
    * via CacheManager canonical matching; a localCheckpoint avoids the
    * leak — instance-tied, no canonical-plan matching — but was built
    * and MEASURED SLOWER at sf0.1 in r15: materializing the barely-
    * collapsing (doc, bigram) table costs more than the second pruned
    * tokenize it saves. Reverted per guide §1.) Unlike the unigram's
    * vocab-sized table, the bigram
    * table scales with corpus vocabulary² — so the score join is NOT
    * forced broadcast; it shuffles by bigram key (AQE picks broadcast
    * when it fits), and the per-doc side is the aggregated count table,
    * not the raw occurrence stream. Same exactness discipline: per-bigram
    * log rounded to 9dp once, occurrence sums are exact DECIMAL
    * (m × lp per distinct bigram ≡ per-occurrence summation — the
    * DECIMAL(10,0) cast keeps the product inside precision 38 with scale
    * 9 intact), one final IEEE mean. Final adaptive plan pinned in
    * BigramPlanSpec. */
  def textBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val bgc = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // docs with <2 tokens have no bigrams and must DROP here: Spark's
      // sequence(1, 0) runs backwards ([1,0]) and t[1] then faults under
      // ANSI, where DuckDB's range(1,1) is simply empty — the filter
      // makes both engines agree (such docs absent from the result)
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
        .as("big"))
      .groupBy(col("doc_id"), col("big")).agg(count(lit(1)).as("m"))
    val bigCounts = bgc.groupBy(col("big")).agg(sum(col("m")).as("n12"))
    // n1(w1) as a window sum over the bigram-count table keeps lp a SINGLE
    // chain off bgc: a separate prefix aggregate would reference bgc a
    // third time, and join-side re-aliasing defeats AQE stage reuse for
    // that branch (observed: one extra corpus scan). The window sorts only
    // the aggregated vocab² table, never the corpus.
    val lp = bigCounts
      .withColumn("n1", sum(col("n12")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(
          substring_index(col("big"), " ", 1))))
      .select(col("big"),
        round(log(col("n12").cast("double") / col("n1").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("lp"))
    bgc.join(lp, Seq("big"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast("long").as("n_bigrams"),
        // m capped to DECIMAL(10,0): the product stays DECIMAL(29,9) —
        // inside precision 38, so no scale loss vs per-occurrence sums.
        round(sum(col("m").cast(org.apache.spark.sql.types.DecimalType(10, 0)) * col("lp"))
          .cast("double") / sum(col("m")), 6).as("avg_logprob"))
  }

  val textBigramLmSql: String =
    """WITH b AS (
      |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS big
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |       LATERAL (SELECT unnest(range(1, length(t))) AS i)),
      |c12 AS (SELECT big, count(*) AS n12 FROM b GROUP BY 1),
      |c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1),
      |lp AS (SELECT big,
      |  CAST(round(ln(CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lp
      |  FROM c12 JOIN c1 ON string_split(big, ' ')[1] = w1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
      |FROM b JOIN lp USING (big) GROUP BY doc_id""".stripMargin

  /** Character-level statistics + Simpson repeat-probability (the
    * probability two random character draws coincide — a log-free
    * diversity measure: every compared value is either exact integer
    * math or ONE IEEE division of exact integers, so engines agree
    * bit-for-bit; entropy's log2 would differ across libm
    * implementations at the rounding boundary). Shape: explode chars →
    * two map-side-combinable groupBys sharing the doc_id hash
    * partitioning — linear, no per-row quadratic HOF. */
  def textCharStats(spark: SparkSession, dir: String): DataFrame = {
    val cc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    cc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("distinct_chars"),
        max(col("c")).as("top_char_count"),
        sum(col("c") * (col("c") - lit(1L))).as("rep2"))
      .select(col("doc_id"), col("n_chars"), col("distinct_chars"),
        col("top_char_count"),
        when(col("n_chars") > 1,
          col("rep2").cast("double")
            / (col("n_chars") * (col("n_chars") - lit(1L))).cast("double"))
          .otherwise(lit(0.0)).as("simpson"))
  }

  val textCharStatsSql: String =
    """WITH ch AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, length(text) + 1), i -> text[i])) AS ch
      |  FROM documents),
      |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
      |  COUNT(*) AS distinct_chars, CAST(MAX(c) AS BIGINT) AS top_char_count,
      |  CASE WHEN SUM(c) > 1
      |    THEN CAST(SUM(c * (c - 1)) AS DOUBLE) / CAST(SUM(c) * (SUM(c) - 1) AS DOUBLE)
      |    ELSE 0.0 END AS simpson
      |FROM cc GROUP BY doc_id""".stripMargin

  /** URL extraction + per-host corpus stats — the domain-level view a
    * web-corpus curation pipeline filters and rebalances on (block-listed
    * hosts, per-domain caps). `documents.text` carries no URLs, so the
    * query plants deterministic links (same congruence construction on
    * both engines — the `text_pii_scrub` planted-instance pattern; one
    * clause plants the SAME host twice in a doc so n_urls > n_docs is
    * exercised). Shape: single scan → regexp_extract_all → explode →
    * one shuffle on host; the regex is class-based (no backtracking
    * ambiguity), identical under Java regex and DuckDB's RE2. */
  def textUrlStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val idS = col("doc_id").cast("string")
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" see https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), idS)).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        concat(lit(" again https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/q/"), idS)).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" ref http://cdn"), (col("doc_id") % 4).cast("string"),
          lit(".example.net/x"))).otherwise(lit("")))
    d.select(col("doc_id"),
        explode(regexp_extract_all(aug,
          lit("https?://[a-z0-9.-]+[a-z0-9/._-]*"), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "https?://([a-z0-9.-]+)", 1).as("host"))
      .groupBy(col("host"))
      .agg(
        max(regexp_extract(col("host"), "([a-z0-9-]+\\.[a-z0-9-]+)$", 1)).as("domain"),
        count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  val textUrlStatsSql: String =
    """WITH aug AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
      |         || '.example.com/p/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0 THEN ' again https://site' || CAST(doc_id % 7 AS VARCHAR)
      |         || '.example.com/q/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' ref http://cdn' || CAST(doc_id % 4 AS VARCHAR)
      |         || '.example.net/x' ELSE '' END AS t
      |  FROM documents
      |), urls AS (
      |  SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[a-z0-9.-]+[a-z0-9/._-]*')) AS url
      |  FROM aug
      |), hosts AS (
      |  SELECT doc_id, regexp_extract(url, 'https?://([a-z0-9.-]+)', 1) AS host FROM urls
      |)
      |SELECT host, regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+)$', 1) AS domain,
      |  CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM hosts GROUP BY host""".stripMargin

  /** Ranked keyword search — the retrieval endpoint over the corpus: for
    * a term set, rank documents by (matched-term count, total term
    * frequency, id) and return the top 20. Scoring is ALL-INTEGER (a
    * BM25 deployment would swap the score expression; the
    * explode→aggregate→TakeOrdered shape is identical), so the oracle is
    * hash-exact. Shape: token explode with an IN pre-filter (only query
    * terms survive into the shuffle — the inverted-index access path),
    * ONE groupBy on doc_id, global top-20 via TakeOrderedAndProject —
    * no full sort at any scale. */
  def textSearchRank(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("table", "join", "query")
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("tok")).as("n_match"),
        count(lit(1)).as("total_tf"))
      .orderBy(col("n_match").desc, col("total_tf").desc, col("doc_id").asc)
      .limit(20)
      // rank over the 20 surviving rows only — the global TakeOrdered
      // already did the heavy lifting distributively
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("n_match").desc, col("total_tf").desc, col("doc_id").asc)).cast("long"))
  }

  val textSearchRankSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, COUNT(DISTINCT tok) AS n_match,
      |    CAST(COUNT(*) AS BIGINT) AS total_tf
      |  FROM toks WHERE tok IN ('table', 'join', 'query') GROUP BY doc_id
      |)
      |SELECT doc_id, n_match, total_tf, rank FROM (
      |  SELECT doc_id, n_match, total_tf,
      |    CAST(row_number() OVER (ORDER BY n_match DESC, total_tf DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM m) t
      |WHERE rank <= 20""".stripMargin

  /** BM25-ranked retrieval (k1 = 1.2, b = 0.75) for a pinned query-term
    * set — the scoring upgrade `text_search_rank`'s shape note promised.
    * No data shuffle: per-doc term frequencies come from array HOFs on
    * the token array (no explode — only 3 counters per row ever exist),
    * the corpus statistics (N, Σdl as exact LONG, per-term df) are ONE
    * map-side-combined aggregate whose single exchange moves one partial
    * row per partition, broadcast back as a single row, and the top-20
    * is TakeOrderedAndProject (plan-pinned). Cross-engine exactness:
    * idf and the idf×tf_norm product are rounded to 9dp once and summed
    * as DECIMAL(18,9) (the unigram-LM recipe); every IEEE expression is
    * written with identical literals/parenthesization in both engines. */
  private val bm25Terms = Seq("table", "join", "query")

  // The tokenize-and-count projection (doc_id, dl, tf_<term>…) is the
  // analog of a search engine's persisted postings statistics — a
  // materialized INDEX view of the corpus, computed once per
  // (session, corpus) and read by BOTH the stats pass and the scoring
  // pass below (and by every consumer of the BM25 arm, e.g.
  // ann_hybrid_rrf's lexical side), exactly like DocStore
  // .eventsCollection materializes the events→docs mapping once. Without
  // it every BM25 evaluation tokenizes the full text column twice —
  // the term-frequency HOFs over multi-KB text dominate the scan at
  // 100 TB.
  private def bm25TfProjection(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.sources.Memo.persisted("text.bm25_tf", docs) {
      val base = docs
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
      bm25Terms.foldLeft(base) { (df, t) =>
        df.withColumn(s"tf_$t",
          size(filter(col("toks"), x => x === lit(t))).cast("double"))
      }.drop("toks")
    }
  }

  def textSearchBm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = bm25Terms
    val D9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val withTf = bm25TfProjection(spark, dir)
    val statCols =
      sum(col("dl").cast("long")).as("total_toks") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = withTf.agg(count(lit(1)).as("n_docs"), statCols: _*)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_toks").cast("double") / col("n_docs"))
    val termScore: String => org.apache.spark.sql.Column = t => {
      val tf = col(s"tf_$t")
      val idf = round(log((col("n_docs") - col(s"df_$t") + 0.5) /
        (col(s"df_$t") + 0.5) + 1), 9)
      when(tf > 0,
        round(idf * (tf * 2.2 / (tf + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))), 9).cast(D9))
        .otherwise(lit(0).cast(D9))
    }
    scored.select(col("doc_id"),
      terms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L))
        .reduce(_ + _).as("matched"),
      terms.map(termScore).reduce(_ + _).cast("double").as("score"))
      .filter(col("matched") > 0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  val textSearchBm25Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'table')) AS DOUBLE) AS tf_table,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'join')) AS DOUBLE) AS tf_join,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x = 'query')) AS DOUBLE) AS tf_query
      |  FROM documents),
      |s AS (
      |  SELECT COUNT(*) AS n_docs, SUM(CAST(dl AS BIGINT)) AS total_toks,
      |    SUM(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS df_table,
      |    SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
      |    SUM(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS df_query
      |  FROM t),
      |x AS (SELECT *, CAST(total_toks AS DOUBLE) / n_docs AS avgdl FROM s)
      |SELECT doc_id,
      |  (CASE WHEN tf_table > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN tf_join > 0 THEN 1 ELSE 0 END
      |   + CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS matched,
      |  CAST(
      |    (CASE WHEN tf_table > 0 THEN CAST(round(round(ln((n_docs - df_table + 0.5) / (df_table + 0.5) + 1), 9) * (tf_table * 2.2 / (tf_table + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END
      |     + CASE WHEN tf_join > 0 THEN CAST(round(round(ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1), 9) * (tf_join * 2.2 / (tf_join + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END
      |     + CASE WHEN tf_query > 0 THEN CAST(round(round(ln((n_docs - df_query + 0.5) / (df_query + 0.5) + 1), 9) * (tf_query * 2.2 / (tf_query + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 9) AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END)
      |    AS DOUBLE) AS score
      |FROM t, x
      |WHERE tf_table > 0 OR tf_join > 0 OR tf_query > 0
      |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** Percentile-based quality gating — keep the top quartile per source
    * by stopword-density score, the rank-based cutoff real curation
    * pipelines use when a fixed threshold would keep 90% of one source
    * and 2% of another. The per-source cutoff is an exact interpolated
    * percentile evaluated as a WINDOW over the source partition, so the
    * corpus is scanned ONCE (cutoff-then-rejoin would scan twice); the
    * final per-source rollup reuses the window's partitioning (source ⊆
    * grouping key → no extra exchange). Both engines interpolate
    * identically (`percentile` ≙ `quantile_cont`, the evt_percentiles
    * precedent) and the score is one IEEE division of exact longs. */
  def pipelineQualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val padded = concat(lit(" "), col("text"), lit(" "))
    val nTokens = size(split(trim(col("text")), "\\s+")).cast("long")
    val nStop = (occurrences(padded, " the ") + occurrences(padded, " and ") +
      occurrences(padded, " of ")).cast("long")
    d.select(col("doc_id"), col("source"),
        (nStop.cast("double") / nTokens).as("score"))
      .withColumn("cutoff", expr("percentile(score, 0.75)").over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("cutoff"), 1L).otherwise(0L)).as("n_kept"),
        max(col("cutoff")).as("cutoff"))
  }

  val pipelineQualityPercentileSql: String = {
    val p = "(' ' || text || ' ')"
    val stop = s"${occSql(p, " the ")} + ${occSql(p, " and ")} + ${occSql(p, " of ")}"
    s"""WITH sc AS (
       |  SELECT doc_id, source,
       |    CAST($stop AS DOUBLE)
       |      / CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS score
       |  FROM documents),
       |w AS (
       |  SELECT source, score,
       |    quantile_cont(score, 0.75) OVER (PARTITION BY source) AS cutoff
       |  FROM sc)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN score >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  MAX(cutoff) AS cutoff
       |FROM w GROUP BY source""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("text_search_rank", textSearchRank, Some(textSearchRankSql)),
    Declared("text_search_bm25", textSearchBm25, Some(textSearchBm25Sql)),
    Declared("pipeline_quality_percentile", pipelineQualityPercentile, Some(pipelineQualityPercentileSql)),
    Declared("text_url_stats", textUrlStats, Some(textUrlStatsSql)),
    Declared("text_char_stats", textCharStats, Some(textCharStatsSql)),
    Declared("text_unigram_lm", textUnigramLm, Some(textUnigramLmSql)),
    Declared("text_bigram_lm", textBigramLm, Some(textBigramLmSql)),
    Declared("text_repetition", textRepetition, Some(textRepetitionSql)),
    Declared("text_pii_scrub", textPiiScrub, Some(textPiiScrubSql)),
    Declared("text_langid", textLangid, Some(textLangidSql)),
    Declared("text_quality", textQuality, Some(textQualitySql)),
    Declared("text_tokens", textTokens, Some(textTokensSql)),
    Declared("text_fingerprint", textFingerprint, Some(textFingerprintSql)),
  )
}
