package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The hand-decorrelated analytics shapes paired with their LITERAL
  * correlated-subquery SQL — shared by DecorrelationSpec (fixture
  * corpus) and DecorrFuzzSpec (randomized corpora). Running the literal
  * form through Spark's own parser/optimizer exercises a completely
  * different plan path (RewriteCorrelatedScalarSubquery /
  * RewritePredicateSubquery), so row equality pins the DECORRELATION
  * itself: ties, null handling, empty groups.
  */
object DecorrCases {

  final case class Case(name: String,
      build: (SparkSession, String) => DataFrame,
      sql: String,
      // Spark 4.1 upstream bug: a SELECT-position correlated aggregate
      // goes through count-bug handling whose Union constraint rewrite
      // throws — the literal form needs constraint propagation off
      disableConstraintPropagation: Boolean = false)

  /** Row-for-row equality of the DataFrame implementation vs the literal
    * SQL (runs against whatever temp views are registered). */
  def assertSame(spark: SparkSession, c: Case, dir: String): Unit = {
    val confs =
      if (c.disableConstraintPropagation) Seq("spark.sql.constraintPropagation.enabled" -> "false")
      else Nil
    graft.SparkSpec.withConf(confs: _*) {
      val df = c.build(spark, dir)
      val lit = spark.sql(c.sql)
      assert(df.columns.sorted.sameElements(lit.columns.sorted),
        s"${c.name}: column mismatch: ${df.columns.mkString(",")} vs ${lit.columns.mkString(",")}")
      val a = df.select(df.columns.sorted.map(col): _*)
      val b = lit.select(lit.columns.sorted.map(col): _*)
      val onlyImpl = a.exceptAll(b).count()
      val onlySql = b.exceptAll(a).count()
      assert(onlyImpl == 0 && onlySql == 0,
        s"${c.name}: rows differ: impl-only=$onlyImpl, sql-only=$onlySql")
    }
  }

  val all: Seq[Case] = Seq(
    Case("q4", Analytics.q4OrderPriority _,
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin),

    Case("q17", Analytics.q17SmallQty _,
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem l JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND 5 * CAST(l_quantity AS BIGINT)
        |        * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |      < (SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin),

    Case("q21", Analytics.q21WaitingSupplier _,
      // the literal form works per l1 ROW; collapsing to DISTINCT
      // (supplier, order) pairs before counting gives the per-order
      // semantic the two-level aggregation computes
      """WITH waiting AS (
        |  SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
        |  FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |  WHERE o.o_orderstatus = 'F' AND l1.l_shipdate > o.o_orderdate
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate > o.o_orderdate))
        |SELECT s_name, COUNT(*) AS numwait
        |FROM waiting JOIN supplier ON s_suppkey = l_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC LIMIT 10""".stripMargin),

    Case("q2", Analytics.q2MinCost _,
      """SELECT p_brand, s_name, CAST(cents AS DOUBLE) / 100 AS min_price,
        |       l_partkey AS best_part
        |FROM (SELECT p_brand, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
        |             l_suppkey, l_partkey,
        |             ROW_NUMBER() OVER (PARTITION BY p_brand
        |               ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT), l_suppkey, l_partkey) AS rn
        |      FROM lineitem JOIN part ON l_partkey = p_partkey) t
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1""".stripMargin),

    Case("q11", Analytics.q11PartValueShare _,
      """WITH per_part AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS part_value
        |FROM per_part
        |WHERE value * (SELECT COUNT(*) FROM per_part) > (SELECT SUM(value) FROM per_part)""".stripMargin),

    Case("q15", Analytics.q15TopSupplier _,
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin),

    Case("q18", Analytics.q18TopBuyers _,
      """SELECT c_name, o_orderkey, o_totalprice, sum_qty
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
        |        (SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem
        |         WHERE l_orderkey = o_orderkey) AS sum_qty
        |      FROM orders) o
        |JOIN customer ON c_custkey = o_custkey
        |WHERE sum_qty > 300""".stripMargin,
      disableConstraintPropagation = true),

    Case("q20", Analytics.q20ExcessSuppliers _,
      """SELECT DISTINCT s_suppkey, s_name
        |FROM supplier JOIN (
        |  SELECT l.l_partkey, l.l_suppkey
        |  FROM lineitem l JOIN part ON l.l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l.l_partkey, l.l_suppkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) * 10 >
        |    (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
        |     FROM lineitem l2 JOIN part p2 ON l2.l_partkey = p2.p_partkey
        |     WHERE p2.p_name LIKE 'red%'
        |       AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |       AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |       AND l2.l_partkey = l.l_partkey) * 3
        |) q ON l_suppkey = s_suppkey""".stripMargin),

    Case("q22", Analytics.q22IdleBalance _,
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c
        |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT)
        |        * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
        |      > (SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin))
}
