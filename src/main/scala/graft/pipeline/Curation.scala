package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.sources.Tables
import graft.functions.GraftFunctions._

/** SURVEY §2D/F — corpus curation endpoints: text normalization and the
  * keep-list materialization that an LLM-data pipeline actually ships
  * (exact dedup + near-dup drop + quality floor, in one declarative
  * plan).
  */
object Curation {

  /** Canonical text normalization: lowercase, strip punctuation, collapse
    * whitespace, trim. Deterministic string ops — oracle-exact. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[.,;:!?]", " "),
          "\\s+", " ")).as("norm_text"))
      .withColumn("norm_chars", length(col("norm_text")).cast("long"))
  }

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS norm_chars
      |FROM documents""".stripMargin

  /** The pipeline endpoint: which documents survive curation.
    * Drop rules (each independently verifiable):
    *  1. exact duplicates — keep the min doc_id per content hash;
    *  2. near-duplicates — greedy-by-id: drop the higher id of every
    *     ngram-jaccard ≥ 0.5 pair (left_anti against the pair set);
    *  3. quality floor — ≥ 20 whitespace tokens.
    * One declarative plan: two aggregations + one anti join. */
  def pipelineKeepList(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // Quality floor BEFORE the exact-dedup aggregate (r16): every copy
    // of a content hash carries the same text, so a content group either
    // fully passes the ≥20-token floor or fully fails — filtering first
    // leaves min(doc_id) per surviving group unchanged, and drops the
    // old shape's third step (re-joining the survivor ids against the
    // docs table just to fetch the text back for the filter): one fewer
    // join, one fewer corpus scan, and the exact-dedup shuffle carries
    // only quality survivors. Row-identical by the group-level argument
    // above (oracle hash pins it).
    val exactKeep = d
      .filter(size(split(trim(col("text")), "\\s+")) >= 20)
      .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nearDupLosers = Dedup.dedupNgramJaccard(spark, dir)
      .select(col("b_id").as("doc_id")).distinct()
    exactKeep.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  val pipelineKeepListSql: String =
    """WITH ng AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2])) AS g
      |  FROM documents),
      |pairs AS (
      |  SELECT b.doc_id AS b_id
      |  FROM ng a JOIN ng b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(list_distinct(list_concat(a.g, b.g))) >= 0.5),
      |exact_keep AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
      |SELECT doc_id FROM exact_keep
      |WHERE doc_id NOT IN (SELECT b_id FROM pairs)
      |  AND doc_id IN (SELECT doc_id FROM documents
      |                 WHERE length(regexp_split_to_array(trim(text), '\s+')) >= 20)""".stripMargin

  /** The deterministic train/val/test assignment shared by
    * `pipelineTrainSplit` and the e2e chain — one definition so the
    * standalone split and the chain's split can never drift apart.
    * Multiplicative hash of the doc key (Knuth's 2654435761 mod 100 →
    * 90/5/5): reproducible across runs and engines, no RNG, stable under
    * repartitioning. */
  def splitOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = pmod(docId * 2654435761L, lit(100L))
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  def pipelineTrainSplit(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
  }

  val pipelineTrainSplitSql: String =
    """SELECT CASE WHEN (doc_id * 2654435761) % 100 < 90 THEN 'train'
      |            WHEN (doc_id * 2654435761) % 100 < 95 THEN 'val'
      |            ELSE 'test' END AS split,
      |       lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** Vocabulary building: corpus-wide token frequencies, top 100 with
    * deterministic tiebreak — the input to tokenizer/BPE training. */
  def textVocab(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(100)
  }

  val textVocabSql: String =
    """SELECT token, COUNT(*) AS freq
      |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents) t
      |WHERE length(token) > 0
      |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin

  /** Sequence packing: greedy fill of fixed token-budget context windows
    * per source stream in doc_id order — the step that turns a curated
    * corpus into dense training inputs. Same running-sum assignment as
    * the rollup batcher; windows never span sources, so the running sum
    * parallelizes across sources instead of one global sequential fold. */
  def pipelinePack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    val w = Window.partitionBy(col("source"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .withColumn("toks", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("running", sum(col("toks")).over(w))
      .withColumn("window_id", ((col("running") - col("toks")) / budget).cast("long"))
      .groupBy(col("source"), col("window_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .withColumn("fill_ratio", col("n_tokens").cast("double") / budget)
  }

  val pipelinePackSql: String =
    """WITH a AS (
      |  SELECT source, doc_id,
      |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
      |    SUM(CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
      |      OVER (PARTITION BY source ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING) AS running
      |  FROM documents)
      |SELECT source, CAST(FLOOR((running - toks) / 512.0) AS BIGINT) AS window_id,
      |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |  CAST(CAST(SUM(toks) AS BIGINT) AS DOUBLE) / 512 AS fill_ratio
      |FROM a GROUP BY 1, 2""".stripMargin

  /** Dense sequence packing with DOCUMENT SPANNING: the corpus is laid
    * out as one concatenated token stream per source (doc_id order) and
    * chopped into exact 512-token context windows — a document crossing
    * a boundary contributes a SEGMENT to each window it touches, so
    * every window except a source's last is exactly full (the layout an
    * LLM trainer actually consumes; `pipeline_pack` is the
    * whole-doc-per-window variant). Pure integer math: per-doc
    * [start, end) offsets from one running sum, then each doc explodes
    * to its covering window range — output rows = segments, grouped to
    * per-(source, window) segment/token counts. One window shuffle +
    * one agg shuffle; the explode multiplies rows only by
    * windows-touched (≈ n_tokens/512 extra rows total). */
  def pipelinePackSpans(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    val w = Window.partitionBy(col("source"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .withColumn("toks", size(split(trim(col("text")), "\\s+")).cast("long"))
      .filter(col("toks") > 0)
      .withColumn("end", sum(col("toks")).over(w))
      .withColumn("start", col("end") - col("toks"))
      .withColumn("window_id",
        explode(sequence(expr(s"start div $budget"), expr(s"(`end` - 1) div $budget"))))
      .withColumn("seg_len",
        least(col("end"), (col("window_id") + 1) * budget)
          - greatest(col("start"), col("window_id") * budget))
      .groupBy(col("source"), col("window_id"))
      .agg(count(lit(1)).as("n_segments"), sum(col("seg_len")).as("n_tokens"))
  }

  val pipelinePackSpansSql: String =
    """WITH a AS (
      |  SELECT source, doc_id,
      |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
      |    SUM(CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
      |      OVER (PARTITION BY source ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING) AS e
      |  FROM documents),
      |b AS (SELECT source, doc_id, toks, e, e - toks AS s FROM a WHERE toks > 0),
      |seg AS (
      |  SELECT source, t.win AS window_id,
      |    least(e, (t.win + 1) * 512) - greatest(s, t.win * 512) AS seg_len
      |  FROM b, unnest(generate_series(CAST(s // 512 AS BIGINT), CAST((e - 1) // 512 AS BIGINT))) AS t(win))
      |SELECT source, window_id, COUNT(*) AS n_segments,
      |  CAST(SUM(seg_len) AS BIGINT) AS n_tokens
      |FROM seg GROUP BY source, window_id""".stripMargin

  /** Benchmark decontamination: n-gram CONTAINMENT of the benchmark set
    * (doc_id < 20 plays the eval set) inside each training doc —
    * |∩| / |bench shingles|, the asymmetric overlap that catches a
    * benchmark embedded in a larger document, which symmetric jaccard
    * dilutes. Inverted-index join on 64-bit shingle hashes: only
    * (train, bench) pairs sharing content ever materialize — the same
    * 100 TB shape as the jaccard join. Threshold 0.05 suits the
    * fixture's word-soup 3-grams; real pipelines run ~0.8 on 8-grams. */
  def pipelineContamination(spark: SparkSession, dir: String): DataFrame =
    contaminationOf(Tables.documents(spark, dir))

  /** Contamination over any (doc_id, text, …) frame — lets `pipelineE2e`
    * feed the stage from its single persisted projection. */
  def contaminationOf(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"),
        shingle_hashes(split(trim(col("text")), "\\s+"), 3).as("ng"))
    val bench = d.filter(col("doc_id") < 20)
      .withColumn("bench_sz", size(col("ng")).cast("long"))
    val bx = bench.select(col("doc_id").as("bench_id"), col("bench_sz"),
      explode(col("ng")).as("sh"))
    val tx = d.filter(col("doc_id") >= 20)
      .select(col("doc_id").as("train_id"), explode(col("ng")).as("sh"))
    bx.join(tx, Seq("sh"))
      .groupBy(col("train_id"), col("bench_id"), col("bench_sz"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter").cast("double") / col("bench_sz"))
      .filter(col("containment") >= 0.05)
      .select(col("train_id"), col("bench_id"), col("inter"), col("containment"))
  }

  val pipelineContaminationSql: String =
    """WITH ng AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2])) AS g
      |  FROM documents),
      |b AS (SELECT doc_id AS bench_id, g AS bg, CAST(len(g) AS BIGINT) AS bench_sz FROM ng WHERE doc_id < 20),
      |t AS (SELECT doc_id AS train_id, g AS tg FROM ng WHERE doc_id >= 20)
      |SELECT train_id, bench_id,
      |  CAST(len(list_intersect(tg, bg)) AS BIGINT) AS inter,
      |  CAST(len(list_intersect(tg, bg)) AS DOUBLE) / bench_sz AS containment
      |FROM t JOIN b ON CAST(len(list_intersect(tg, bg)) AS DOUBLE) / bench_sz >= 0.05""".stripMargin

  /** Deterministic stratified sampling: an independent multiplicative
    * hash (xxhash32 prime, decorrelated from the split hash) keeps ~10%
    * of each source stratum — reproducible across runs/engines/
    * repartitioning, no RNG state. Emits the sampled rows themselves. */
  def pipelineSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id") * 2246822519L, lit(100L)) < 10)
      .select(col("doc_id"), col("source"), col("lang"))
  }

  val pipelineSampleSql: String =
    """SELECT doc_id, source, lang FROM documents
      |WHERE (doc_id * 2246822519) % 100 < 10""".stripMargin

  /** Deterministic WEIGHTED sampling: keep probability proportional to a
    * per-doc weight (here token count, capped — the token-budget
    * subsampling a mixture pipeline runs), decided by an independent
    * multiplicative hash (xxhash32 prime3, decorrelated from both the
    * split and the uniform-sample hashes). Keep iff
    * hash(doc_id) mod 100000 < min(toks, 500) × 200 — all-integer, so
    * reproducible across engines, runs, and repartitioning. */
  def pipelineSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(split(trim(col("text")), "\\s+")).cast("long")
    Tables.documents(spark, dir)
      .withColumn("toks", toks)
      .filter(pmod(col("doc_id") * 3266489917L, lit(100000L)) <
        least(col("toks"), lit(500L)) * 200L)
      .select(col("doc_id"), col("source"), col("toks"))
  }

  val pipelineSampleWeightedSql: String =
    """SELECT doc_id, source, toks FROM (
      |  SELECT doc_id, source,
      |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
      |  FROM documents) t
      |WHERE (doc_id * 3266489917) % 100000 < least(toks, 500) * 200""".stripMargin

  /** Domain mixing: rebalance the corpus so every source contributes the
    * same token budget (the smallest source's total — "uniform mixing";
    * a weighted target is the same plumbing with a weights table). Each
    * source gets an integer keep-threshold ∝ budget/total, and docs are
    * kept by the same decorrelated multiplicative hash as
    * pipeline_sample — deterministic, repartition-stable, no RNG. Two
    * narrow shuffles (per-source totals, final per-source fold); the
    * 5-row rate table broadcasts. All math is integer until nothing is
    * left to disagree on. */
  def pipelineMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
    val totals = d.groupBy(col("source"))
      .agg(sum(col("toks")).as("total_tokens"))
    val rates = totals
      .crossJoin(broadcast(totals.agg(min(col("total_tokens")).as("min_toks"))))
      .select(col("source"), col("total_tokens"),
        expr("(min_toks * 1048576) div total_tokens").as("threshold"))
    d.join(broadcast(rates), Seq("source"))
      .filter(pmod(col("doc_id") * 2654435761L, lit(1L << 20)) < col("threshold"))
      .groupBy(col("source"), col("total_tokens"), col("threshold"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("toks")).as("tokens_kept"))
  }

  val pipelineMixSql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
      |  FROM documents),
      |t AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS total_tokens FROM d GROUP BY 1),
      |m AS (SELECT MIN(total_tokens) AS min_toks FROM t),
      |r AS (SELECT source, total_tokens,
      |        CAST((min_toks * 1048576) // total_tokens AS BIGINT) AS threshold
      |      FROM t, m)
      |SELECT source, total_tokens, threshold,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
      |  CAST(SUM(toks) AS BIGINT) AS tokens_kept
      |FROM d JOIN r USING (source)
      |WHERE (doc_id * 2654435761) % 1048576 < threshold
      |GROUP BY source, total_tokens, threshold""".stripMargin

  /** Gopher-style composite quality gate: each document passes or fails a
    * fixed rule set, with the failing rules NAMED (curation pipelines
    * audit *why* documents drop, not just how many — the reasons column
    * is the audit trail). Rules are Gopher-ish thresholds re-expressed as
    * pure integer comparisons (5·maxfreq > n, not maxfreq/n > 0.2), so
    * no float boundary can flip a verdict between engines:
    *   too_short      n_tokens < 20
    *   word_len       mean token length outside [2, 12]
    *   repetitive     most frequent token > 20% of tokens
    *   low_diversity  distinct tokens < 30% of tokens
    * Shape: explode → (doc, token) count → per-doc rollup; two map-side-
    * combinable groupBys sharing the doc_id partitioning prefix. */
  def pipelineQualityGate(spark: SparkSession, dir: String): DataFrame =
    qualityGateOf(Tables.documents(spark, dir))

  /** Quality gate over any (doc_id, text, …) frame (see
    * [[contaminationOf]]). */
  def qualityGateOf(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val agg = tc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * length(col("tok"))).as("sl"),
        count(lit(1)).as("dt"),
        max(col("c")).as("mx"))
    val reasons = concat_ws(",",
      when(col("n") < 20, lit("too_short")),
      when(col("sl") < col("n") * 2 || col("sl") > col("n") * 12, lit("word_len")),
      when(col("mx") * 5 > col("n"), lit("repetitive")),
      when(col("dt") * 10 < col("n") * 3, lit("low_diversity")))
    agg.select(col("doc_id"),
      when(reasons === "", lit(1L)).otherwise(lit(0L)).as("keep"),
      reasons.as("reasons"))
  }

  val pipelineQualityGateSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok
      |       WHERE length(tok) > 0 GROUP BY doc_id, tok),
      |agg AS (SELECT doc_id, SUM(c) AS n, SUM(c * length(tok)) AS sl,
      |               COUNT(*) AS dt, MAX(c) AS mx
      |        FROM tc GROUP BY doc_id),
      |r AS (SELECT doc_id, concat_ws(',',
      |        CASE WHEN n < 20 THEN 'too_short' END,
      |        CASE WHEN sl < n * 2 OR sl > n * 12 THEN 'word_len' END,
      |        CASE WHEN mx * 5 > n THEN 'repetitive' END,
      |        CASE WHEN dt * 10 < n * 3 THEN 'low_diversity' END) AS reasons
      |      FROM agg)
      |SELECT doc_id,
      |  CASE WHEN reasons = '' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep,
      |  reasons
      |FROM r""".stripMargin

  /** Curriculum assignment: order each source's docs by a quality score
    * and cut them into 4 curriculum tiers (quantile buckets) — the
    * "train on cleanest data first / anneal on best tier last" ordering
    * step of a training-data pipeline. The score is exact integer math
    * (tokens·1000 + chars). Buckets are PER-SOURCE `ntile` windows: the
    * sort is partitioned by source, never a global total order — at
    * 100 TB each source sorts in parallel (and a degenerate giant source
    * would switch to threshold-bucketing off approx quantiles; the
    * per-tier contract is the same). Emits per-(source, tier) stats. */
  def pipelineCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val score = (size(split(trim(col("text")), "\\s+")).cast("long") * 1000L
      + length(col("text")).cast("long"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id").asc)
    d.select(col("doc_id"), col("source"), score.as("score"))
      .withColumn("tier", ntile(4).over(w).cast("long"))
      .groupBy(col("source"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score")).as("sum_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
  }

  val pipelineCurriculumSql: String =
    """WITH scored AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) * 1000
      |      + CAST(length(text) AS BIGINT) AS score
      |  FROM documents),
      |tiered AS (
      |  SELECT source, score,
      |    CAST(ntile(4) OVER (PARTITION BY source
      |                        ORDER BY score DESC, doc_id ASC) AS BIGINT) AS tier
      |  FROM scored)
      |SELECT source, tier, COUNT(*) AS n_docs,
      |  CAST(SUM(score) AS BIGINT) AS sum_score,
      |  MIN(score) AS min_score, MAX(score) AS max_score
      |FROM tiered GROUP BY source, tier""".stripMargin

  /** The sampling hash shared by the batch reservoir and the streaming
    * twin (`Streaming.reservoirSample`) — their batch≡stream equivalence
    * depends on this being ONE definition. Two multiply-mod rounds with
    * an xor-shift between them: a single multiplicative hash mod 2^20 is
    * LINEAR in the id (only the multiplier's low 20 bits matter), so
    * locally-contiguous ids walk a small-step Weyl sequence and cluster —
    * the xor-shift breaks the linearity. Constants stay < 2^32 so no
    * product overflows a long (DuckDB errors on BIGINT overflow rather
    * than wrapping). */
  def reservoirHash(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = 1L << 20
    val h1 = pmod(id * 2654435761L, lit(m))
    pmod(h1.bitwiseXOR(shiftright(h1, 7)) * 2246822519L, lit(m))
  }

  /** Deterministic FIXED-SIZE per-stratum sample ("reservoir" semantics
    * without RNG state): the k docs with the smallest decorrelated hash
    * per source, tie-broken by doc_id, via the exact mergeable
    * `bottom_k_sample` aggregate — each map partition ships at most k
    * 16-byte pairs per source into the one shuffle (partial aggregation),
    * no stratum is ever sorted, and unlike a prefilter-cutoff plan the
    * result is exact under ANY hash distribution. The sampled ids (a
    * k×sources set) broadcast back onto the corpus to recover payload
    * columns; rank comes from the sample's ascending (h, id) order. */
  def pipelineReservoir(spark: SparkSession, dir: String): DataFrame = {
    val k = 25
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        reservoirHash(col("doc_id")).as("h"))
    val sampled = d.groupBy(col("source"))
      .agg(graft.functions.GraftFunctions
        .bottom_k_sample(col("h"), col("doc_id"), k).as("sample"))
      .select(col("source"), posexplode(col("sample")).as(Seq("r0", "e")))
      .select(col("e.id").as("doc_id"), (col("r0") + 1).cast("long").as("rn"))
    d.join(broadcast(sampled), Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("lang"), col("h"), col("rn"))
  }

  val pipelineReservoirSql: String =
    """WITH d0 AS (
      |  SELECT doc_id, source, lang, (doc_id * 2654435761) % 1048576 AS h1
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, source, lang,
      |    (xor(h1, h1 >> 7) * 2246822519) % 1048576 AS h
      |  FROM d0),
      |r AS (SELECT source, doc_id, lang, h,
      |        CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rn
      |      FROM d)
      |SELECT source, doc_id, lang, h, rn FROM r WHERE rn <= 25""".stripMargin

  /** The chain's single-scan input: the narrow (doc_id, text, source)
    * projection, persisted once per corpus. */
  private def e2eBase(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.sources.Memo.persisted("curation.e2e_base", docs)(
      docs.select(col("doc_id"), col("text"), col("source")))
  }

  /** The END-TO-END curation chain, one declarative plan: exact dedup
    * (min doc_id per content hash) → Gopher-style quality gate →
    * benchmark decontamination (n-gram containment vs the doc_id < 20
    * eval set) → deterministic train/val/test split, reported as
    * per-(split, source) doc/token counts with an id-sum fingerprint.
    * Composes the already-verified stage operators via id-set semi/anti
    * joins — each stage ships only `doc_id`s (8 bytes/row) into the
    * joins, so at 100 TB the chain moves id sets, not text. Spark does
    * not share scan subtrees across the four stage branches, so the
    * chain persists the narrow (doc_id, text, source) projection ONCE
    * and feeds every branch from it: the executed plan reads the corpus
    * exactly once (pinned in CurationE2eSpec) and the three re-reads are
    * in-memory columnar scans of the 3-column projection — the
    * production single-pass shape at 100 TB. */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val d = e2eBase(spark, dir)
    val exactKeep = d
      .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val qualityKeep = qualityGateOf(d)
      .filter(col("keep") === 1L).select("doc_id")
    val contaminated = contaminationOf(d)
      .select(col("train_id").as("doc_id")).distinct()
    d.filter(col("doc_id") >= 20)
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(qualityKeep, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        splitOf(col("doc_id")).as("split"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("doc_id")).as("id_sum"))
  }

  val pipelineE2eSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok
      |       WHERE length(tok) > 0 GROUP BY doc_id, tok),
      |qagg AS (SELECT doc_id, SUM(c) AS n, SUM(c * length(tok)) AS sl,
      |                COUNT(*) AS dt, MAX(c) AS mx
      |         FROM tc GROUP BY doc_id),
      |qual AS (SELECT doc_id FROM qagg
      |         WHERE NOT (n < 20) AND NOT (sl < n * 2 OR sl > n * 12)
      |           AND NOT (mx * 5 > n) AND NOT (dt * 10 < n * 3)),
      |exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |ng AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2])) AS g
      |  FROM documents),
      |b AS (SELECT g AS bg, CAST(len(g) AS BIGINT) AS bench_sz FROM ng WHERE doc_id < 20),
      |contam AS (
      |  SELECT DISTINCT t.doc_id
      |  FROM ng t JOIN b ON CAST(len(list_intersect(t.g, b.bg)) AS DOUBLE) / b.bench_sz >= 0.05
      |  WHERE t.doc_id >= 20),
      |kept AS (
      |  SELECT doc_id, source,
      |    CASE WHEN (doc_id * 2654435761) % 100 < 90 THEN 'train'
      |         WHEN (doc_id * 2654435761) % 100 < 95 THEN 'val'
      |         ELSE 'test' END AS split,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
      |  FROM documents
      |  WHERE doc_id >= 20
      |    AND doc_id IN (SELECT doc_id FROM exact_keep)
      |    AND doc_id IN (SELECT doc_id FROM qual)
      |    AND doc_id NOT IN (SELECT doc_id FROM contam))
      |SELECT split, source, COUNT(*) AS n_docs,
      |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM kept GROUP BY split, source""".stripMargin

  /** The pipeline's LAST step: materialize a curated corpus as `shards`
    * deterministic training shards plus a verifiable manifest. Shard
    * assignment is the decorrelated multiplicative hash of the doc key —
    * reproducible across runs/engines and stable under repartitioning,
    * so a re-export from any physical layout produces byte-identical
    * shard membership. One shuffle (repartition on shard), docs sorted
    * by doc_id within each shard for run-length-friendly layout, one
    * file tree per shard via partitionBy. The manifest (per shard:
    * doc/token counts, id sum, xor of id hashes) is computed from the
    * same assignment expression and written beside the data (underscore
    * path — invisible to readers of the shard tree); a consumer can
    * audit any shard against it without trusting the writer. */
  def writeTrainingShards(docs: DataFrame, outDir: String, shards: Int): DataFrame = {
    require(shards > 0)
    val tagged = docs.withColumn("shard",
      pmod(col("doc_id") * 2246822519L, lit(shards.toLong)))
    tagged
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    val manifest = tagged.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"),
        sum(col("doc_id")).as("id_sum"),
        expr("bit_xor(xxhash64(doc_id))").as("id_xor"))
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$outDir/_manifest")
    manifest
  }

  /** DSIR-style IMPORTANCE SCORING (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every document by the mean
    * hashed-unigram log-likelihood ratio between a TARGET distribution
    * (here the `lang='en'` slice) and the RAW corpus distribution —
    * positive scores read "more target-like than average"; selection is
    * then any top-k / threshold over the score.
    *
    * The 100 TB shape: tokens bucket to B=256 hashed features, so BOTH
    * distributions come out of ONE map-side-combined aggregation over
    * the exploded tokens (the target count is a CASE inside the same
    * groupBy — no second corpus pass); the ≤B-row λ table broadcasts
    * back and the per-doc score is one more combinable aggregation.
    * Nothing driver-side ever exceeds B rows.
    *
    * Oracle-exact despite the logs: the bucket hash is the cross-engine
    * polynomial fingerprint (exact integer math), each λ_b is rounded to
    * 9 decimals and summed as DECIMAL(18,9) (exact, order-independent),
    * and only the final mean is an IEEE division — the same discipline
    * that keeps `text_unigram_lm` hash-identical to DuckDB. Add-1
    * smoothing keeps every bucket finite. */
  /** Number of hashed-unigram feature buckets for DSIR. */
  val DsirBuckets = 256

  /** The cross-engine token bucket: polynomial fingerprint mod B (exact
    * integer math in Spark `aggregate` and DuckDB `list_reduce` alike). */
  def dsirBucket(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(split(tok, ""), lit(0L),
      (acc, c) => (acc * 31 + ascii(c)) % 1000000007L) % DsirBuckets

  /** The trained DSIR model artifact: per-bucket log-likelihood ratio λ
    * (≤B rows) between the target slice and the raw corpus — the thing a
    * real deployment trains once batch-side and ships to scorers (see
    * `Streaming.dsirScoreStream` for the streaming consumer). */
  def dsirLambda(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", dsirBucket(col("tok")))
    val counts = toks.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    // totals via an unbounded window over the ≤B-row counts table (one
    // tiny single-partition exchange) so the token-bucket aggregation —
    // a full corpus pass — is evaluated ONCE, not re-run per consumer
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("r_tot", sum(col("cr")).over(wAll))
      .withColumn("t_tot", sum(col("ct")).over(wAll))
      .select(col("b"),
        round(log((col("ct") + 1).cast("double") / (col("t_tot") + B)) -
          log((col("cr") + 1).cast("double") / (col("r_tot") + B)), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("lam"))
  }

  def pipelineDsir(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets
    // ONE tokenize+bucket pass (r15): training the per-bucket λ and
    // scoring every doc both reduce over the same (doc, bucket) token
    // counts, and the per-char polynomial bucket hash is the dominant
    // CPU of this query — the previous shape ran it twice (once inside
    // dsirLambda, once for the scoring join). perDoc is ≤ |docs|·B rows
    // (tiny next to the token stream), so a lazy localCheckpoint makes
    // the single pass shared by both consumers; λ math is bit-identical
    // to dsirLambda's (same counts, same formula), and the per-doc score
    // sums lam·cnt in DECIMAL — exact, equal to the per-token sum.
    val perDoc = Cut(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b", dsirBucket(col("tok")))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("cnt")), "dsir.perDoc")
    val counts = perDoc.groupBy(col("b"))
      .agg(sum(col("cnt")).as("cr"),
        sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lam = counts
      .withColumn("r_tot", sum(col("cr")).over(wAll))
      .withColumn("t_tot", sum(col("ct")).over(wAll))
      .select(col("b"),
        round(log((col("ct") + 1).cast("double") / (col("t_tot") + B)) -
          log((col("cr") + 1).cast("double") / (col("r_tot") + B)), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("lam"))
    // cnt cast to DECIMAL(10,0): (18,9)·(10,0) stays inside decimal
    // precision 38, so the product — and therefore the sum — is exact
    // (a BIGINT operand would promote past 38 and round the scale)
    perDoc.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        round((sum(col("lam") *
            col("cnt").cast(org.apache.spark.sql.types.DecimalType(10, 0))))
          .cast("double") / sum(col("cnt")), 6).as("dsir_score"))
  }

  val pipelineDsirSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(tok) + 1), i -> CAST(ascii(tok[i]) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) % 256 AS b
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents)),
      |c AS (
      |  SELECT b, COUNT(*) AS cr,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      |  FROM t GROUP BY b),
      |tot AS (SELECT SUM(cr) AS r_tot, SUM(ct) AS t_tot FROM c),
      |lam AS (
      |  SELECT b,
      |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (t_tot + 256))
      |             - ln(CAST(cr + 1 AS DOUBLE) / (r_tot + 256)), 9) AS DECIMAL(18,9)) AS lam
      |  FROM c, tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  round(CAST(SUM(lam) AS DOUBLE) / COUNT(*), 6) AS dsir_score
      |FROM t JOIN lam USING (b) GROUP BY doc_id""".stripMargin

  /** Domain OVERSAMPLING — the upward twin of `pipeline_mix`: instead of
    * cutting every source down to the smallest budget, repeat documents
    * so every source reaches the LARGEST source's token budget (the
    * "epochs per domain" lever training mixtures actually turn — small
    * high-quality domains run multiple epochs while the web crawl runs
    * one). Each doc repeats `full_epochs = target div total` times, plus
    * one more iff a decorrelated multiplicative hash lands under the
    * fractional-epoch threshold — deterministic, repartition-stable, no
    * RNG, and the expansion is exact in expectation per source. Epochs
    * cap at 8 (the pinned guard against a pathologically tiny source
    * exploding the corpus; real mixtures cap around 4-5 epochs before
    * repetition hurts). Shape: per-source totals fold map-side, the
    * ≤|sources|-row rate table broadcasts back, and the repeat expansion
    * is a per-row `sequence` explode — output rows ≈ Σ copies, nothing
    * shuffles wider than the rate table. */
  def pipelineOversample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
    val totals = d.groupBy(col("source"))
      .agg(sum(col("toks")).as("total_tokens"))
    val rates = totals
      .crossJoin(broadcast(totals.agg(max(col("total_tokens")).as("target_toks"))))
      .select(col("source"),
        expr("target_toks div total_tokens").as("full_epochs"),
        expr("((target_toks % total_tokens) * 1048576) div total_tokens")
          .as("extra_threshold"))
    d.join(broadcast(rates), Seq("source"))
      .withColumn("copies", least(
        col("full_epochs") +
          when(pmod(col("doc_id") * 668265263L, lit(1L << 20)) <
            col("extra_threshold"), 1L).otherwise(0L),
        lit(8L)))
      .select(col("doc_id"), col("source"), col("toks"),
        explode(sequence(lit(1L), col("copies"))).as("epoch"))
  }

  val pipelineOversampleSql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
      |  FROM documents),
      |t AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS total_tokens FROM d GROUP BY 1),
      |m AS (SELECT MAX(total_tokens) AS target_toks FROM t),
      |r AS (SELECT source,
      |        CAST(target_toks // total_tokens AS BIGINT) AS full_epochs,
      |        CAST(((target_toks % total_tokens) * 1048576) // total_tokens AS BIGINT) AS extra_threshold
      |      FROM t, m),
      |c AS (SELECT doc_id, d.source AS source, toks,
      |        least(full_epochs + CASE WHEN (doc_id * 668265263) % 1048576 < extra_threshold
      |          THEN 1 ELSE 0 END, 8) AS copies
      |      FROM d JOIN r USING (source))
      |SELECT doc_id, source, toks,
      |  CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
      |FROM c""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("pipeline_oversample", pipelineOversample, Some(pipelineOversampleSql)),
    Declared("pipeline_dsir", pipelineDsir, Some(pipelineDsirSql)),
    Declared("pipeline_pack_spans", pipelinePackSpans, Some(pipelinePackSpansSql)),
    Declared("pipeline_reservoir", pipelineReservoir, Some(pipelineReservoirSql)),
    Declared("pipeline_e2e", pipelineE2e, Some(pipelineE2eSql)),
    Declared("pipeline_curriculum", pipelineCurriculum, Some(pipelineCurriculumSql)),
    Declared("pipeline_quality_gate", pipelineQualityGate, Some(pipelineQualityGateSql)),
    Declared("pipeline_mix", pipelineMix, Some(pipelineMixSql)),
    Declared("pipeline_sample_weighted", pipelineSampleWeighted, Some(pipelineSampleWeightedSql)),
    Declared("text_normalize", textNormalize, Some(textNormalizeSql)),
    Declared("pipeline_keep_list", pipelineKeepList, Some(pipelineKeepListSql)),
    Declared("pipeline_train_split", pipelineTrainSplit, Some(pipelineTrainSplitSql)),
    Declared("pipeline_pack", pipelinePack, Some(pipelinePackSql)),
    Declared("pipeline_contamination", pipelineContamination, Some(pipelineContaminationSql)),
    Declared("pipeline_sample", pipelineSample, Some(pipelineSampleSql)),
    Declared("text_vocab", textVocab, Some(textVocabSql)),
  )
}
