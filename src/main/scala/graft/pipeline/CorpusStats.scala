package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.sources.Tables

/** Corpus-level rollups for the training-data pipeline (SURVEY §2D/F):
  * per-(source, lang) document statistics and a day-bucketed range join.
  * Ratios are ratios-of-integer-sums (one IEEE division) — hash-exact.
  */
object CorpusStats {

  /** Per-slice corpus statistics: doc counts, volume, stopword density. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val padded = concat(lit(" "), col("text"), lit(" "))
    def occ(needle: String) =
      ((length(padded) - length(replace(padded, lit(needle), lit("")))) / needle.length)
        .cast("long")
    d.select(col("source"), col("lang"),
        length(col("text")).cast("long").as("chars"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
        (occ(" the ") + occ(" and ") + occ(" of ")).as("stops"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        sum(col("toks")).as("total_tokens"),
        (sum(col("stops")).cast("double") / sum(col("toks"))).as("stop_density"))
  }

  val corpusStatsSql: String = {
    def occ(n: String) =
      s"CAST((length(' '||text||' ') - length(replace(' '||text||' ', '$n', ''))) / ${n.length} AS BIGINT)"
    s"""SELECT source, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
       |  CAST(SUM(CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) AS BIGINT) AS total_tokens,
       |  CAST(SUM(${occ(" the ")} + ${occ(" and ")} + ${occ(" of ")}) AS DOUBLE)
       |    / SUM(CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) AS stop_density
       |FROM documents GROUP BY source, lang""".stripMargin
  }

  /** Range join: per purchase event, activity of the same user in the
    * following hour. Scalable shape: each anchor expands to its two
    * covering hour buckets, equi-join on (user, hour_bucket) — co-
    * partitioned, never a nested-loop range scan — then the exact
    * interval predicate filters inside buckets. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val follow = ev.select(col("user_id").as("f_user"), col("ts").as("f_ts"),
        date_trunc("hour", col("ts")).as("bucket"))
    val anchors = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("bucket", explode(array(
        date_trunc("hour", col("ts")),
        date_trunc("hour", col("ts") + expr("INTERVAL 1 HOUR")))))
    anchors.join(follow,
        anchors("user_id") === follow("f_user") && anchors("bucket") === follow("bucket"))
      .filter(col("f_ts") > col("ts") && col("f_ts") <= col("ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_follow"),
        min(col("f_ts")).as("first_follow_ts"))
  }

  val qRangeJoinSql: String =
    """SELECT a.event_id, COUNT(*) AS n_follow, MIN(f.ts) AS first_follow_ts
      |FROM events a JOIN events f
      |  ON a.user_id = f.user_id
      | AND f.ts > a.ts AND f.ts <= a.ts + INTERVAL 1 HOUR
      |WHERE a.event_type = 'purchase'
      |GROUP BY a.event_id""".stripMargin

  /** Exact interpolated percentiles per event type (both engines use
    * linear interpolation over the sorted values — order-independent). */
  def evtPercentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))
  }

  val evtPercentilesSql: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.9) AS p90,
      |  quantile_cont(value, 0.99) AS p99
      |FROM events GROUP BY event_type""".stripMargin

  /** Per-dimension embedding moments — the normalization pass every
    * embedding pipeline runs before clustering/ANN (mean-centering,
    * variance scaling, clipping bounds). posexplode fans each vector
    * into (dim, value) rows, but partial aggregation folds them map-side
    * to 64 rows per task BEFORE the exchange — the shuffle carries
    * O(dims × partitions), never O(n × dims). Determinism: values are
    * rounded to 6dp once and summed as DECIMAL (exact in any order);
    * mean/variance are then one fixed IEEE chain, rounded to 6dp. */
  def embDimStats(spark: SparkSession, dir: String): DataFrame = {
    val d6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val n = count(lit(1))
    val meanRaw = sum(col("rv")).cast("double") / n
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("dv"))
      .withColumn("rv", round(col("dv"), 6).cast(d6))
      .groupBy(col("dim"))
      .agg(n.as("n"),
        round(meanRaw, 6).as("mean"),
        round(sum(col("rv") * col("rv")).cast("double") / n - meanRaw * meanRaw, 6)
          .as("variance"),
        min(col("dv")).as("min_v"),
        max(col("dv")).as("max_v"))
  }

  val embDimStatsSql: String =
    """WITH x AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
      |         unnest(embedding) AS v
      |  FROM embeddings),
      |y AS (SELECT dim, CAST(v AS DOUBLE) AS dv,
      |        CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS rv FROM x)
      |SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(rv) AS DOUBLE) / count(*), 6) AS mean,
      |  round(CAST(sum(rv * rv) AS DOUBLE) / count(*)
      |    - (CAST(sum(rv) AS DOUBLE) / count(*)) * (CAST(sum(rv) AS DOUBLE) / count(*)), 6) AS variance,
      |  min(dv) AS min_v, max(dv) AS max_v
      |FROM y GROUP BY dim""".stripMargin

  /** INT8 scalar quantization of the embedding column — the storage
    * scale lever below PQ (4× over float32 with a trivial decoder, the
    * standard serving-index layout): per-dimension corpus [min, max]
    * maps each value to a 0..255 code, and the operator reports the
    * per-vector quantization quality (summed codes pin the exact integer
    * codebook output; MSE pins the reconstruction error). Two corpus
    * passes, the DSIR/bigram precedent: pass 1 folds per-dim min/max
    * map-side into a dim-cardinality table (64 rows) that broadcasts
    * back; pass 2 computes codes + error and folds per vector. Nothing
    * driver-side, nothing quadratic; the per-dim table is O(dim)
    * regardless of corpus size. Cross-engine exactness: codes are
    * round()s of identical IEEE chains (float→double widening is exact),
    * per-dim squared errors round once to 9dp and sum as DECIMAL(18,9).
    * Degenerate dims (min = max, e.g. an all-zero dimension) code to 0
    * and reconstruct to min exactly. */
  def embQuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val d9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val d = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), col("v").cast("double").as("xd"))
    val stats = d.groupBy(col("dim"))
      .agg(min(col("xd")).as("mn"), max(col("xd")).as("mx"))
    val coded = d.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("mx") > col("mn"),
          least(greatest(round((col("xd") - col("mn")) /
            (col("mx") - col("mn")) * 255, 0), lit(0.0)), lit(255.0)))
          .otherwise(lit(0.0)).cast("long"))
      .withColumn("recon",
        col("mn") + col("code").cast("double") * (col("mx") - col("mn")) / 255)
      .withColumn("sqerr",
        round((col("xd") - col("recon")) * (col("xd") - col("recon")), 9)
          .cast(d9))
    // no final round: sum(sqerr) is an exact decimal, its double cast is
    // correctly rounded in both engines, and ONE IEEE division by the
    // dim count is deterministic — a 9dp round here would sit exactly on
    // the .5 boundary whenever sum×10⁹ ≡ count/2 (mod count), where the
    // engines' round implementations disagree (seen at sf0.1: 5/2000)
    coded.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("code")).as("sum_code"),
        (sum(col("sqerr")).cast("double") / count(lit(1))).as("mse"))
  }

  val embQuantizeInt8Sql: String =
    """WITH d AS (
      |  SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS xd
      |  FROM embeddings),
      |s AS (SELECT dim, min(xd) AS mn, max(xd) AS mx FROM d GROUP BY dim),
      |c AS (
      |  SELECT vec_id, xd, mn, mx,
      |    CAST(CASE WHEN mx > mn
      |      THEN least(greatest(round((xd - mn) / (mx - mn) * 255, 0), 0.0), 255.0)
      |      ELSE 0.0 END AS BIGINT) AS code
      |  FROM d JOIN s USING (dim)),
      |r AS (
      |  SELECT vec_id, code,
      |    CAST(round((xd - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255))
      |      * (xd - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255)), 9)
      |      AS DECIMAL(18,9)) AS sqerr
      |  FROM c)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
      |  CAST(sum(code) AS BIGINT) AS sum_code,
      |  CAST(sum(sqerr) AS DOUBLE) / count(*) AS mse
      |FROM r GROUP BY vec_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("emb_dim_stats", embDimStats, Some(embDimStatsSql)),
    Declared("emb_quantize_int8", embQuantizeInt8, Some(embQuantizeInt8Sql)),
    Declared("corpus_stats", corpusStats, Some(corpusStatsSql)),
    Declared("q_range_join", qRangeJoin, Some(qRangeJoinSql)),
    Declared("evt_percentiles", evtPercentiles, Some(evtPercentilesSql)),
  )
}
