package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.sources.Tables

/** SURVEY.md §2 additions — operator-level queries: as-of join (oracle:
  * DuckDB's native ASOF JOIN), approximate sketch aggregates (rows-only:
  * HLL++/quantile-sketch internals differ per engine), and a running-
  * window pipeline.
  */
object OperatorQueries {

  /** The as-of right side: one order per (custkey, date). Primitive
    * max/max_by (not max_by over a struct) keeps the dedup a
    * HashAggregate. */
  private def ordDedup(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))

  /** Persisted variant for the bucketed as-of, which consumes the right
    * side TWICE (phase-1 union + phase-2 bucket summaries) — without the
    * persist each use re-derives the whole dedup lineage. The direct
    * form reads it once and takes the plain aggregation (a persist there
    * is pure materialization overhead). Input-materialization, the
    * e2eBase pattern (Curation.scala). */
  private def ordDedupShared(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    graft.sources.Memo.persisted("operators.ord_dedup", orders)(ordDedup(orders))
  }

  /** Each event joined to the user's latest order at or before the event
    * time. Right side deduped to one order per (custkey, date) so the
    * match is deterministic in both engines. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    // one order per (custkey, date) via max_by argmax (partial agg — a
    // hot customer collapses map-side) instead of a row_number window;
    // row_number desc rn=1 ⇔ max o_orderkey, and o_orderkey is unique
    val ord = ordDedup(Tables.orders(spark, dir))
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin.asOf(ev, ord,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightCols = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("o_orderkey"), col("o_totalprice"))
  }

  /** Skew-resilient twin of `asofJoin` on `AsOfJoin.asOfBucketed` —
    * registered with the SAME DuckDB ASOF oracle, so the two-phase carry
    * is hash-pinned on real data every round (the sessionize-buckets
    * pattern). Under the skew smoke (bench_skew.json) it runs 0.81×
    * where the direct form degrades to 1.43×; the direct form stays
    * cheaper on uniform keys (the twin's premium is its extra narrow
    * scans — bounded, see AsOfJoin.asOfBucketed). */
  def asofJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val ord = ordDedupShared(spark, dir)
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin.asOfBucketed(ev, ord,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightCols = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("o_orderkey"), col("o_totalprice"))
  }

  /** Dispatched twin: `SkewDispatch` probes events.user_id (one
    * HeavyHitters pass) and picks the direct or bucketed as-of
    * automatically — same oracle, the twins share the output contract.
    * On uniform corpora this is the direct plan plus the probe scan; on
    * the ScaleSmoke hot-user corpus it switches to the bucketed form. */
  def asofJoinAuto(spark: SparkSession, dir: String): DataFrame =
    if (graft.operators.SkewDispatch.decide(
        Tables.events(spark, dir), col("user_id")))
      asofJoinBucketed(spark, dir)
    else asofJoin(spark, dir)

  val asofJoinSql: String =
    """WITH o1 AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) t WHERE rn = 1)
      |SELECT event_id, user_id, value, o_orderkey, o_totalprice
      |FROM events ASOF JOIN o1 ON user_id = o_custkey AND ts >= o_orderdate""".stripMargin

  /** Sketch aggregates (HLL++ distinct, approximate quantiles) — the
    * approximate layer every tsdb serves dashboards from. Rows-only:
    * sketch internals are engine-specific; accuracy is spec-checked
    * against exact answers instead. */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_value"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99_value"))
  }

  /** Running revenue per customer over order history (frame-bounded
    * window agg). Decimal-exact running sums cast to double. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(18, 2)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("o_totalprice").cast(D)).over(w).cast("double").as("running_total"))
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
      |FROM orders""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("asof_join", asofJoin, Some(asofJoinSql)),
    // identical output contract
    Declared("asof_join_bucketed", asofJoinBucketed, Some(asofJoinSql)),
    // dispatches between the twins
    Declared("asof_join_auto", asofJoinAuto, Some(asofJoinSql)),
    Declared("approx_stats", approxStats),
    Declared("q_window_running", qWindowRunning, Some(qWindowRunningSql)),
  )
}
