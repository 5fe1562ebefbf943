package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Declared
import graft.sources.Tables

/** Analytics-parity block (SURVEY.md §2C): general relational pipelines on
  * the star schema, proving the engine handles the classic OLAP shapes the
  * reference's index node would hand to an analytical backend.
  *
  * Numeric discipline for oracle parity: money math is done in
  * `DECIMAL(18,2)` (exact, order-independent under Spark's decimal sum, so
  * hash-stable regardless of partitioning) and the *final* value is cast to
  * DOUBLE — both engines then emit the bit-identical IEEE double of the same
  * exact rational. Never sum raw doubles into a compared column: float
  * addition is not associative and partition order would change the hash.
  */
object Analytics {

  private val D = DecimalType(18, 2)

  /** TPC-H Q1-shaped pricing summary. Single shuffle on the two group keys;
    * partial aggregation (map-side combine) happens for free with groupBy. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1999-12-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity".cast(D)).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast(D)).cast("double").as("sum_base_price"),
        sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
          .cast("double").as("sum_disc_price"),
        sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D))
          * (lit(1).cast(D) + $"l_tax".cast(D))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  val q1PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Q3-shaped: selective dim filter → two joins → agg → deterministic top-10.
    * customer is tiny → broadcast; orders⋈lineitem shuffles on orderkey once. */
  def q3TopkJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    // group on the join key only (o_orderdate is functionally dependent on
    // it, folded in as max) so the aggregation reuses the join's
    // partitioning instead of re-shuffling on (key, date).
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey")
      .agg(max($"o_orderdate").as("o_orderdate"),
        sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
          .cast("double").as("revenue"))
      .select($"l_orderkey", $"o_orderdate", $"revenue")
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  val q3TopkJoinSql: String =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** Q5-shaped star join: all dims broadcast, fact shuffles only for the agg. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.region(spark, dir)
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .filter($"r_regionkey" < 2)
      .groupBy($"n_name")
      .agg(sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
        .cast("double").as("revenue"))
  }

  val q5MultiJoinSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_regionkey < 2
      |GROUP BY n_name""".stripMargin

  /** Q6-shaped: tight range filters (all pushed to parquet) + one scalar agg. */
  def q6FilterAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(sum($"l_extendedprice".cast(D) * $"l_discount".cast(D))
        .cast("double").as("revenue"))
  }

  val q6FilterAggSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Semi/anti joins: customers with vs without orders, per segment.
    * left_semi/left_anti never materialize the right side's columns. */
  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val orderCust = Tables.orders(spark, dir).select($"o_custkey")
    val withOrders = cust.join(orderCust, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .withColumn("bucket", lit("with_orders"))
    val withoutOrders = cust.join(orderCust, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .withColumn("bucket", lit("without_orders"))
    withOrders.unionByName(withoutOrders)
      .select($"bucket", $"c_mktsegment", $"n_customers")
  }

  val qSemiAntiSql: String =
    """SELECT 'with_orders' AS bucket, c_mktsegment, COUNT(*) AS n_customers
      |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 'without_orders' AS bucket, c_mktsegment, COUNT(*) AS n_customers
      |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment""".stripMargin

  /** DISTINCT + UNION ALL: distinct-count shapes over the fact table. */
  def qDistinctUnion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val parts = li.agg(countDistinct($"l_partkey").as("n")).withColumn("entity", lit("parts"))
    val supps = li.agg(countDistinct($"l_suppkey").as("n")).withColumn("entity", lit("suppliers"))
    val ords = li.agg(countDistinct($"l_orderkey").as("n")).withColumn("entity", lit("orders"))
    parts.unionByName(supps).unionByName(ords).select($"entity", $"n")
  }

  val qDistinctUnionSql: String =
    """SELECT 'parts' AS entity, COUNT(DISTINCT l_partkey) AS n FROM lineitem
      |UNION ALL SELECT 'suppliers', COUNT(DISTINCT l_suppkey) FROM lineitem
      |UNION ALL SELECT 'orders', COUNT(DISTINCT l_orderkey) FROM lineitem""".stripMargin

  /** CASE WHEN + HAVING over orders. */
  def qCaseHaving(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when($"o_totalprice" > 100000, 1L).otherwise(0L)).as("n_big"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("n_filled"))
      .filter($"n_orders" > 10)
  }

  val qCaseHavingSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
      |FROM orders GROUP BY o_orderpriority HAVING COUNT(*) > 10""".stripMargin

  /** Window functions: top-3 orders per customer by price (deterministic
    * tiebreak on orderkey), plus each order's rank. One shuffle on custkey. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
  }

  val qWindowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) t WHERE rn <= 3""".stripMargin

  /** ROLLUP grouping sets — subtotal + grand-total rows in one pass (the
    * OLAP cube surface). Spark expands the sets and still runs ONE
    * shuffle with partial aggregation; null grouping keys are rendered
    * as 'ALL' and disambiguated by grouping_id so the oracle hash has no
    * null-vs-'ALL' ambiguity. */
  def qRollupAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .rollup(col("source"), col("lang"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("gid"), col("n_docs"), col("sum_chars"))
  }

  // Pinned Spark semantics on EMPTY input: Expand-based grouping sets
  // emit zero rows (no ANSI grand-total row), so the oracle drops the
  // zero-count grand total that the standard would synthesize.
  val qRollupAggSql: String =
    """SELECT COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
      |  CAST(GROUPING(source, lang) AS BIGINT) AS gid,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY ROLLUP (source, lang)
      |HAVING NOT (GROUPING(source, lang) = 3 AND COUNT(*) = 0)""".stripMargin

  /** PIVOT — long-to-wide reshape: order revenue by priority, one column
    * per order status. The pivot values are pinned explicitly so Spark
    * skips the extra distinct-values scan and the plan stays ONE groupBy
    * shuffle with map-side combine (a pivot over K pinned values is just
    * K conditional aggregates). Money sums in DECIMAL(18,2), final cast
    * to DOUBLE. */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast(D)))
      .select(col("o_orderpriority"),
        col("F").cast("double").as("rev_f"),
        col("O").cast("double").as("rev_o"),
        col("P").cast("double").as("rev_p"))
  }

  val qPivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_f,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS rev_o,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS rev_p
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q17-shaped CORRELATED SCALAR SUBQUERY: revenue from lineitems
    * whose quantity is below 20% of their part's average. Decorrelated by
    * hand into the plan a 100 TB run wants: the brand predicate broadcast-
    * semi-filters lineitem FIRST (the correlated aggregate only needs
    * lineitems of surviving parts), then ONE window over `l_partkey`
    * carries (sum, count) to every row — no groupBy + self-join, one
    * shuffle total. The threshold compare is pure integer math
    * (5·qty·cnt < sum) — quantities are integral, so no float boundary
    * can flip a row between engines; only the final revenue touches
    * DECIMAL→DOUBLE. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
      .filter($"p_brand" === "Brand#23").select($"p_partkey")
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity".cast("long").as("qty"), $"l_extendedprice")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
    val w = Window.partitionBy($"l_partkey")
    li.withColumn("sum_qty", sum($"qty").over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter($"qty" * lit(5L) * $"cnt" < $"sum_qty")
      .agg((sum($"l_extendedprice".cast(D)).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  val q17SmallQtySql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem l JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#23'
      |  AND 5 * CAST(l_quantity AS BIGINT)
      |        * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |      < (SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  /** TPC-H Q18-shaped GROUP-HAVING SUBQUERY: customers who placed orders
    * totalling > 300 units. The having-filtered aggregate is a tiny
    * fraction of orders, so it (not the fact table) is broadcast into
    * both joins — lineitem and orders are each scanned once, shuffled
    * once (the quantity rollup), and no fact-fact shuffle join exists in
    * the plan. Quantity sums are integral longs. */
  def q18TopBuyers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity".cast("long")).as("sum_qty"))
      .filter($"sum_qty" > 300)
    Tables.orders(spark, dir)
      .join(broadcast(big), $"o_orderkey" === $"l_orderkey")
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_name")), $"c_custkey" === $"o_custkey")
      .select($"c_name", $"o_orderkey", $"o_totalprice", $"sum_qty")
  }

  val q18TopBuyersSql: String =
    """SELECT c_name, o_orderkey, o_totalprice, CAST(sum_qty AS BIGINT) AS sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING SUM(CAST(l_quantity AS BIGINT)) > 300) t
      |  ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey""".stripMargin

  /** TPC-H Q22-shaped SCALAR SUBQUERY + ANTI-JOIN: wealth parked with
    * customers above the positive-balance average who never placed an
    * urgent order, by market segment. The global average is ONE
    * broadcast scalar row (never a shuffle); the anti side ships only
    * distinct urgent custkeys, broadcast into a LeftAnti hash join. The
    * above-average compare is integer cents × count vs cent sum — exact
    * on both engines; only the reported balance total is money math
    * (DECIMAL→DOUBLE). */
  def q22IdleBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .withColumn("cents", round($"c_acctbal" * 100).cast("long"))
    val pos = cust.filter($"c_acctbal" > 0)
      .agg(count(lit(1)).as("cnt"), sum($"cents").as("sc"))
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey").distinct()
    cust.crossJoin(broadcast(pos))
      .filter($"cents" * $"cnt" > $"sc")
      .join(broadcast(urgent), $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum($"c_acctbal".cast(D)).cast("double").as("total_bal"))
  }

  val q22IdleBalanceSql: String =
    """WITH pos AS (
      |  SELECT COUNT(*) AS cnt, SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS sc
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer c, pos
      |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * cnt > sc
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment""".stripMargin

  /** TPC-H Q2-shaped CORRELATED MIN ("the supplier achieving the group
    * minimum"): cheapest line per part brand with its supplier. The
    * correlated subquery decorrelates to an ARGMIN AGGREGATE —
    * `min(struct(price, tiebreaks...))` — which is map-side combinable:
    * the fact table shuffles once on the 25-value brand key carrying one
    * struct per partition per brand, where the window-row_number
    * formulation would shuffle and sort EVERY fact row. Price compares
    * in integer cents (exact); brand/supplier dims broadcast. */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .withColumn("cents", round($"l_extendedprice" * 100).cast("long"))
    li.join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(min(struct($"cents", $"l_suppkey", $"l_partkey")).as("best"))
      .select($"p_brand", $"best.cents".as("cents"),
        $"best.l_suppkey".as("s_key"), $"best.l_partkey".as("best_part"))
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")),
        $"s_key" === $"s_suppkey")
      .select($"p_brand", $"s_name",
        ($"cents".cast("double") / 100).as("min_price"), $"best_part")
  }

  val q2MinCostSql: String =
    """SELECT p_brand, s_name, CAST(cents AS DOUBLE) / 100 AS min_price, best_part
      |FROM (
      |  SELECT p_brand, l_suppkey, l_partkey AS best_part, cents,
      |    row_number() OVER (PARTITION BY p_brand
      |                       ORDER BY cents, l_suppkey, l_partkey) AS rn
      |  FROM (SELECT p_brand, l_suppkey, l_partkey,
      |          CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |        FROM lineitem JOIN part ON l_partkey = p_partkey) s) t
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rn = 1""".stripMargin

  /** TPC-H Q7-shaped DUAL-ALIASED DIMENSION join: bilateral trade volume
    * between two nations by ship year. The same 25-row nation table joins
    * TWICE under different roles (supplier's nation, customer's nation) —
    * the aliasing shape that breaks naive planners. Every dim broadcasts
    * (nation twice, supplier, customer); the only shuffles are the
    * lineitem⋈orders key join and the final 4-group agg — at 100 TB the
    * fact table is scanned once and never shuffled by a dim key. The
    * nation-pair predicate lands AFTER both broadcasts as an OR of ANDs
    * on the two dim attributes. */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val suppNation = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val custNation = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(custNation), $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
        .cast("double").as("revenue"))
  }

  val q7NationVolumeSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS BIGINT) AS l_year, l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
      |     OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')) t
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8-shaped MARKET-SHARE RATIO: one nation's share of PROMO-part
    * revenue inside one region's market, by order year — the
    * ratio-of-conditional-sums shape (numerator = CASE'd sum over the
    * same rows as the denominator, so ONE aggregation computes both; no
    * second scan, no self-join). part is pre-filtered before its
    * broadcast, the customer-in-region filter rides the broadcast dim,
    * and the supplier-nation CASE input is a broadcast attribute. The
    * ratio divides two exact DECIMAL sums cast to DOUBLE — bit-identical
    * across engines since both divide the same two IEEE doubles. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val promoPart = Tables.part(spark, dir)
      .filter($"p_type" === "PROMO").select($"p_partkey")
    val regionCust = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), $"c_nationkey" === $"n_nationkey")
      .join(Tables.region(spark, dir), $"n_regionkey" === $"r_regionkey")
      .filter($"r_regionkey" === 0).select($"c_custkey")
    val suppNation = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val vol = $"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D))
    Tables.lineitem(spark, dir)
      .join(broadcast(promoPart), $"l_partkey" === $"p_partkey")
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(regionCust), $"o_custkey" === $"c_custkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg((sum(when($"supp_nation" === "NATION_5", vol).otherwise(lit(0).cast(D)))
        .cast("double") / sum(vol).cast("double")).as("mkt_share"))
  }

  val q8MarketShareSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CASE WHEN ns.n_name = 'NATION_5'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation nc ON c_nationkey = nc.n_nationkey
      |JOIN region ON nc.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ns ON s_nationkey = ns.n_nationkey
      |WHERE p_type = 'PROMO' AND r_regionkey = 0
      |GROUP BY year(o_orderdate)""".stripMargin

  /** TPC-H Q13-shaped LEFT-JOIN COUNT DISTRIBUTION: how many customers
    * placed exactly N (non-urgent) orders — INCLUDING the zero-order
    * customers an inner join would drop. Aggregate-then-join: orders
    * collapses to per-customer counts FIRST (one map-side-combined
    * shuffle), and that tiny aggregate broadcasts into customer as a
    * LEFT join with COALESCE(0) — the fact table never joins row-wise
    * against customers, so the shape survives a fact table 1000× the
    * customer dimension. */
  def q13OrderCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, dir)
      .filter($"o_orderpriority" =!= "1-URGENT")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
    Tables.customer(spark, dir).select($"c_custkey")
      .join(broadcast(perCust), $"c_custkey" === $"o_custkey", "left")
      .select(coalesce($"n", lit(0L)).as("c_count"))
      .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
  }

  val q13OrderCountsSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, CAST(COALESCE(n, 0) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN (
      |    SELECT o_custkey, COUNT(*) AS n FROM orders
      |    WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey) t
      |  ON c_custkey = o_custkey) d
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q14-shaped PROMO-SHARE: promo parts' percentage of one
    * month's revenue. The month predicate pushes to the lineitem parquet
    * scan (timestamp min/max row-group skipping); part broadcasts with
    * only (key, type); numerator and denominator come out of ONE
    * aggregation over the joined rows. */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vol = $"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D))
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .agg((lit(100.0) *
        sum(when($"p_type" === "PROMO", vol).otherwise(lit(0).cast(D))).cast("double") /
        sum(vol).cast("double")).as("promo_revenue"))
  }

  val q14PromoShareSql: String =
    """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** TPC-H Q19-shaped OR-OF-ANDS over mixed join-side attributes: three
    * (brand, size-range, quantity-range) disjuncts where each conjunct
    * references BOTH tables. Catalyst splits the disjunction per side —
    * the quantity envelope (qty ≤ 35) pushes into the lineitem scan and
    * the brand/size envelope into the (broadcast) part scan — before the
    * residual OR evaluates post-join; the pushdown-through-OR shape that
    * separates real optimizers from naive ones. */
  def q19DiscRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) && $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) && $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) && $"l_quantity".between(25, 35)))
      .agg(sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
        .cast("double").as("revenue"))
  }

  val q19DiscRevenueSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 25 AND 35)""".stripMargin

  /** Navigation + distribution window functions in ONE window frame:
    * each customer's order sequence with the previous/next order price
    * (lag/lead), spend quartile within the customer (ntile), and the
    * cumulative-distribution position. All four share one
    * (partition, order) pair, so Spark evaluates them in a single
    * Window operator after ONE shuffle+sort — the thing to check in the
    * plan; four separate windows would be four sorts. cume_dist is one
    * IEEE division of exact integers (rank/n) — engine-identical. */
  def qWindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    Tables.orders(spark, dir)
      .filter($"o_custkey" < 300)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("spend_quartile"),
        cume_dist().over(w).as("cd"))
  }

  val qWindowFuncsSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  CAST(ntile(4) OVER w AS BIGINT) AS spend_quartile,
      |  cume_dist() OVER w AS cd
      |FROM orders WHERE o_custkey < 300
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin

  /** CUBE grouping sets — all four (status × priority) marginals in one
    * pass: Spark expands the grouping sets and still runs ONE shuffle
    * with partial aggregation (same property as the ROLLUP twin;
    * grouping_id disambiguates the null-vs-'ALL' rendering). */
  def qCubeAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D)).cast("double").as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("gid"), col("n_orders"), col("revenue"))
  }

  val qCubeAggSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |HAVING NOT (GROUPING(o_orderstatus, o_orderpriority) = 3 AND COUNT(*) = 0)""".stripMargin

  /** INTERSECT / EXCEPT set semantics over key sets: parts ordered in
    * BOTH halves of the year vs only the first half. Spark plans
    * distinct set ops as aggregate + left-semi/anti — no full-width
    * distinct union materializes; output is key-only either way. */
  def qIntersectExcept(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val h1 = li.filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-07-01").cast("timestamp"))
      .select($"l_partkey")
    val h2 = li.filter($"l_shipdate" >= lit("1996-07-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      .select($"l_partkey")
    h1.intersect(h2).withColumn("bucket", lit("both_halves"))
      .unionByName(h1.except(h2).withColumn("bucket", lit("h1_only")))
      .select($"bucket", $"l_partkey")
  }

  val qIntersectExceptSql: String =
    """WITH h1 AS (SELECT l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'),
      |h2 AS (SELECT l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00')
      |SELECT 'both_halves' AS bucket, l_partkey FROM (SELECT l_partkey FROM h1 INTERSECT SELECT l_partkey FROM h2)
      |UNION ALL
      |SELECT 'h1_only' AS bucket, l_partkey FROM (SELECT l_partkey FROM h1 EXCEPT SELECT l_partkey FROM h2)""".stripMargin

  // -------------------------------------------------------------------
  // The remaining TPC-H planner shapes (Q4/Q9/Q10/Q11/Q12/Q15/Q16/Q20/
  // Q21), adapted to this star schema (no partsupp, no commit/receipt
  // dates, no shipmode) while keeping each query's DISTINCT optimizer
  // shape — that shape, not the literal predicate, is what must survive
  // a 100 TB deployment.
  // -------------------------------------------------------------------

  /** Q4 shape — EXISTS with a correlated NON-EQUI predicate, then agg:
    * orders placed in 1996-Q3 that had at least one line shipped after
    * the order date, counted per priority. The semi-join carries the
    * `l_shipdate > o_orderdate` condition INTO the join (no pre-agg of
    * lineitem, no distinct): Spark evaluates it as a LeftSemi with a
    * mixed equi + range condition, so lineitem rows short-circuit at
    * first match and nothing wider than (orderkey, shipdate) shuffles. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-07-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-10-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_shipdate")
    ord.join(li, $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > $"o_orderdate",
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin

  /** Q9 shape — multi-dim profit rollup with a LIKE-filtered part dim and
    * TWO fact tables: lineitem joins orders (the one legitimate fact-fact
    * shuffle, on the orderkey both sides already produce) for the order
    * year, while part (LIKE-pruned before the join) / supplier / nation
    * ride broadcasts. Profit aggregates per (supplier nation, year) in
    * exact decimal. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val boltParts = Tables.part(spark, dir)
      .filter($"p_name".contains("bolt")).select($"p_partkey")
    val supNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    Tables.lineitem(spark, dir)
      .join(broadcast(boltParts), $"l_partkey" === $"p_partkey")
      .join(broadcast(supNation), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name".as("nation"), year($"o_orderdate").cast("long").as("o_year"))
      .agg(sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
        .cast("double").as("profit"))
  }

  val q9ProductProfitSql: String =
    """SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY n_name, YEAR(o_orderdate)""".stripMargin

  /** Q10 shape — returned-item revenue top-20: the fact-fact join
    * (lineitem 'R' flag ⋈ quarter of orders) shuffles once on orderkey,
    * the per-customer rollup reuses nothing wider than the group keys,
    * and customer/nation resolve AFTER the aggregation on the ~20-row
    * side — at 100 TB the wide customer row never rides the fact
    * shuffle. Deterministic top-k via (revenue desc, custkey) →
    * TakeOrderedAndProject. */
  def q10ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-04-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey", ($"l_extendedprice".cast(D) *
        (lit(1).cast(D) - $"l_discount".cast(D))).as("disc_price"))
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"disc_price").cast("double").as("revenue"))
    rev.join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_name", $"c_nationkey")),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"revenue")
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(20)
  }

  val q10ReturnedRevenueSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** Q11 shape — group-agg HAVING against a GLOBAL scalar: per-part
    * shipped value, kept only when above the MEAN part value (Q11's
    * fixed fraction is not scale-free: at 10× the parts every share
    * halves and a constant cutoff empties the result). The scalar —
    * (total, part count) from the same aggregation pass — re-reads as a
    * one-row broadcast (cross-join, the q22 precedent), and the
    * threshold is exact cross-multiplication (`value * n_parts >
    * total`, decimal × bigint), so no engine-specific float rounding
    * can flip a boundary part. */
  def q11PartValueShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perPart = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(sum($"l_extendedprice".cast(D)).as("value"))
    val total = perPart.agg(sum($"value").as("total"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter($"value" * $"n_parts" > $"total")
      .select($"l_partkey", $"value".cast("double").as("part_value"))
  }

  val q11PartValueShareSql: String =
    """WITH per_part AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT l_partkey, CAST(value AS DOUBLE) AS part_value
      |FROM per_part
      |WHERE value * (SELECT COUNT(*) FROM per_part) > (SELECT SUM(value) FROM per_part)""".stripMargin

  /** Q12 shape — fact-fact join feeding CONDITIONAL counts by a derived
    * category: lines bucketed by shipping delay, counting critical
    * (1-URGENT/2-HIGH) vs other orders per bucket. Both counts come from
    * ONE aggregation (CASE inside sum), the join shuffles once on
    * orderkey, and the delay bucket is integer date arithmetic —
    * engine-exact. */
  def q12PriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delay = datediff($"l_shipdate", $"o_orderdate")
    Tables.lineitem(spark, dir).select($"l_orderkey", $"l_shipdate")
      .join(Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .select(
        when(delay <= 30, "0-30d").when(delay <= 90, "31-90d")
          .otherwise("90d+").as("delay_bucket"),
        $"o_orderpriority")
      .groupBy($"delay_bucket")
      .agg(
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))
  }

  val q12PriorityShippingSql: String =
    """SELECT CASE WHEN DATEDIFF('day', o_orderdate, l_shipdate) <= 30 THEN '0-30d'
      |            WHEN DATEDIFF('day', o_orderdate, l_shipdate) <= 90 THEN '31-90d'
      |            ELSE '90d+' END AS delay_bucket,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** Q15 shape — aggregate view compared against its own max, with the
    * max computed as ONE arg-max-with-ties aggregation (the custom
    * `ArgMaxTies` TypedImperativeAggregate) instead of a window, a
    * re-scan, or the two-step groupBy(value)+collect_list+max_by form:
    * per-supplier revenue aggregates once in exact decimal, then a
    * single global aggregate keeps (best value, every tied supplier) —
    * partial state is ONE candidate per partition, so no task ever
    * holds the whole supplier table and nothing shuffles on the
    * revenue value. One fact scan total (the crossJoin-broadcast-max
    * alternative re-scans lineitem: AQE does not reuse the aggregation
    * exchange across the two branches); the tiny winner set broadcasts
    * into the supplier scan for names. Tie semantics stay exact: the
    * aggregate compares decimals, so the full tied set survives. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum($"l_extendedprice".cast(D) * (lit(1).cast(D) - $"l_discount".cast(D)))
        .as("total_rev"))
    val winners = rev
      .agg(graft.functions.GraftFunctions
        .argmax_ties($"total_rev", $"l_suppkey").as("w"))
      .select(explode($"w.keys").as("l_suppkey"), $"w.value".as("total_rev"))
    Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")
      .join(broadcast(winners), $"s_suppkey" === $"l_suppkey")
      .select($"s_suppkey", $"s_name", $"total_rev".cast("double").as("total_revenue"))
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin

  /** Q16 shape — DISTINCT-count per attribute group with an excluded-set
    * anti-join: suppliers per (brand, type), excluding "complaint"
    * suppliers (negative balance stands in for the comment scan). The
    * exclusion list is tiny → broadcast LeftAnti BEFORE the aggregation,
    * so excluded rows never enter the distinct; the count-distinct is a
    * two-phase (partial distinct per partition) aggregate on narrow keys. */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val complained = Tables.supplier(spark, dir)
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    Tables.lineitem(spark, dir).select($"l_partkey", $"l_suppkey")
      .join(broadcast(complained), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
  }

  val q16SupplierCntSql: String =
    """SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type""".stripMargin

  /** Q20 shape — nested aggregated-threshold subquery: suppliers who
    * shipped MORE than 30% of a red part's 1997 volume. Two aggregations
    * at different granularity from the same filtered scan — per
    * (supplier, part) and per part — joined on partkey, with the share
    * test as exact decimal cross-multiplication (`qty_sp * 10 >
    * qty_total * 3`). The qualifying pair set then collapses to distinct
    * suppliers (the EXISTS of the original) and resolves names via
    * broadcast. Nothing wider than (suppkey, partkey, qty) ever
    * shuffles. */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val red = Tables.part(spark, dir)
      .filter($"p_name".startsWith("red")).select($"p_partkey")
    // one fact scan: the per-part total is a window SUM over the already
    // aggregated (part, supplier) table — partitioned by part, so it is
    // parallel and its partitions hold suppliers-per-part rows, never
    // fact rows. The two-aggregation + self-join form re-scans lineitem
    // (verified: two FileScans); decimal partial sums re-add exactly, so
    // the window total equals the direct per-part aggregation bit-for-bit.
    val perSupPart = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(red), $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"l_quantity".cast(D)).as("qty_sp"))
    perSupPart
      .withColumn("qty_total", sum($"qty_sp").over(Window.partitionBy($"l_partkey")))
      .filter($"qty_sp" * 10 > $"qty_total" * 3)
      .select($"l_suppkey").distinct()
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name")
  }

  val q20ExcessSuppliersSql: String =
    """WITH li97 AS (
      |  SELECT l_partkey, l_suppkey, l_quantity
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'red%'
      |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'),
      |per_sp AS (SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sp
      |  FROM li97 GROUP BY l_partkey, l_suppkey),
      |per_p AS (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_total
      |  FROM li97 GROUP BY l_partkey)
      |SELECT DISTINCT s_suppkey, s_name
      |FROM per_sp JOIN per_p USING (l_partkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE qty_sp * 10 > qty_total * 3""".stripMargin

  /** Q21 shape — the classic double EXISTS / NOT EXISTS over the same
    * fact, decorrelated to ONE aggregation: for each finished ('F')
    * order, a single groupBy(orderkey) computes the distinct supplier
    * count, the distinct LATE supplier count (shipped after the order
    * date), and — via max over a CASE — the identity of the late
    * supplier when it is unique. "Kept the order waiting" = multi-
    * supplier order with exactly one late supplier. The correlated
    * EXISTS pair that would be two extra fact joins is one shuffle on
    * the key the join already produces; top-10 with (numwait desc,
    * s_name) determinism. */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val late = $"l_shipdate" > $"o_orderdate"
    // two-level aggregation instead of countDistinct pairs: a distinct
    // aggregate would Expand the joined fact 3× before the shuffle; the
    // (order, supplier) pre-fold gets distinctness for free, and BOTH
    // aggregations reuse the join's orderkey partitioning (orderkey is a
    // subset of each grouping key) — so after the fact-fact join there
    // are ZERO additional exchanges
    val perOrderSupp = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
      .join(Tables.orders(spark, dir)
        .filter($"o_orderstatus" === "F")
        .select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max(when(late, 1L).otherwise(0L)).as("is_late"))
    val perOrder = perOrderSupp
      .groupBy($"l_orderkey")
      .agg(
        count(lit(1)).as("n_supp"),
        sum($"is_late").as("n_late"),
        max(when($"is_late" === 1L, $"l_suppkey")).as("late_supp"))
    perOrder.filter($"n_supp" > 1 && $"n_late" === 1)
      .groupBy($"late_supp")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")),
        $"late_supp" === $"s_suppkey")
      .select($"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name".asc)
      .limit(10)
  }

  val q21WaitingSupplierSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    COUNT(DISTINCT l_suppkey) AS n_supp,
      |    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate THEN l_suppkey END) AS n_late,
      |    MAX(CASE WHEN l_shipdate > o_orderdate THEN l_suppkey END) AS late_supp
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY l_orderkey)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM per_order JOIN supplier ON late_supp = s_suppkey
      |WHERE n_supp > 1 AND n_late = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC LIMIT 10""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q1_pricing", q1Pricing, Some(q1PricingSql)),
    Declared("q3_topk_join", q3TopkJoin, Some(q3TopkJoinSql)),
    Declared("q5_multijoin", q5MultiJoin, Some(q5MultiJoinSql)),
    Declared("q6_filter_agg", q6FilterAgg, Some(q6FilterAggSql)),
    Declared("q_semi_anti", qSemiAnti, Some(qSemiAntiSql)),
    Declared("q_distinct_union", qDistinctUnion, Some(qDistinctUnionSql)),
    Declared("q_case_having", qCaseHaving, Some(qCaseHavingSql)),
    Declared("q_window_rank", qWindowRank, Some(qWindowRankSql)),
    Declared("q_rollup_agg", qRollupAgg, Some(qRollupAggSql)),
    Declared("q_pivot", qPivot, Some(qPivotSql)),
    Declared("q17_small_qty", q17SmallQty, Some(q17SmallQtySql)),
    Declared("q18_top_buyers", q18TopBuyers, Some(q18TopBuyersSql)),
    Declared("q22_idle_balance", q22IdleBalance, Some(q22IdleBalanceSql)),
    Declared("q2_min_cost", q2MinCost, Some(q2MinCostSql)),
    Declared("q7_nation_volume", q7NationVolume, Some(q7NationVolumeSql)),
    Declared("q8_market_share", q8MarketShare, Some(q8MarketShareSql)),
    Declared("q13_order_counts", q13OrderCounts, Some(q13OrderCountsSql)),
    Declared("q14_promo_share", q14PromoShare, Some(q14PromoShareSql)),
    Declared("q19_disc_revenue", q19DiscRevenue, Some(q19DiscRevenueSql)),
    Declared("q_window_funcs", qWindowFuncs, Some(qWindowFuncsSql)),
    Declared("q_cube_agg", qCubeAgg, Some(qCubeAggSql)),
    Declared("q_intersect_except", qIntersectExcept, Some(qIntersectExceptSql)),
    Declared("q4_order_priority", q4OrderPriority, Some(q4OrderPrioritySql)),
    Declared("q9_product_profit", q9ProductProfit, Some(q9ProductProfitSql)),
    Declared("q10_returned_revenue", q10ReturnedRevenue, Some(q10ReturnedRevenueSql)),
    Declared("q11_part_value_share", q11PartValueShare, Some(q11PartValueShareSql)),
    Declared("q12_priority_shipping", q12PriorityShipping, Some(q12PriorityShippingSql)),
    Declared("q15_top_supplier", q15TopSupplier, Some(q15TopSupplierSql)),
    Declared("q16_supplier_cnt", q16SupplierCnt, Some(q16SupplierCntSql)),
    Declared("q20_excess_suppliers", q20ExcessSuppliers, Some(q20ExcessSuppliersSql)),
    Declared("q21_waiting_supplier", q21WaitingSupplier, Some(q21WaitingSupplierSql)),
  )
}
