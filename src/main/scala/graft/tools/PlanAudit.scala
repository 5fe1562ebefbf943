package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Executed-plan summaries (exchange/broadcast/sort/codegen counts and
  * scan pushdown) per SparkEntry query — the iteration loop for keeping
  * plans honest. Plans come from the measurement session, so they are
  * the plans Bench runs.
  *
  * Run: sbt "runMain graft.tools.PlanAudit <sfDir> [query]"
  *   one line per query; with a query, also its full query execution.
  * Run: sbt "runMain graft.tools.PlanAudit <sfDir> --out <dir> <suffix> <q1,q2,...>"
  *   writes `<dir>/<query>_<suffix>.txt` (`explain("formatted")`) per query.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    val queries = graft.SparkEntry.queries
    if (args.lift(1).contains("--out")) {
      val out = Paths.get(args(2))
      Files.createDirectories(out)
      args(4).split(",").foreach { q =>
        val plan = queries(q)(spark, dir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.write(out.resolve(s"${q}_${args(3)}.txt"), plan.getBytes("UTF-8"))
        println(s"[plan-audit] wrote ${q}_${args(3)}.txt")
      }
    } else {
      val only = args.lift(1)
      queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_ == n) }
        .foreach { case (name, fn) =>
          try {
            val plan = fn(spark, dir).queryExecution.executedPlan.toString
            def n(s: String) = Harness.occurrences(plan, s)
            println(f"$name%-22s exchanges=${n("Exchange")}%2d " +
              f"broadcasts=${n("BroadcastExchange")}%2d sorts=${n("Sort ")}%2d " +
              f"wscg=${n("*(")}%2d pushed=${if (plan.contains("PushedFilters: [")) "y" else "-"}")
            if (only.isDefined) println(fn(spark, dir).queryExecution.toString)
          } catch { case e: Throwable => println(s"$name FAILED: ${e.getMessage}") }
        }
    }
    spark.stop()
  }
}
