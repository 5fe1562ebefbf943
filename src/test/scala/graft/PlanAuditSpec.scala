package graft

import org.apache.spark.sql.catalyst.plans.logical._

/** Global plan audit: no query may plan an UNPARTITIONED Window over
  * unbounded input. `Window.partitionBy()` funnels every row into ONE
  * task — the single-executor bottleneck class that kills a plan at
  * 100 TB regardless of how green its oracle is. A window with empty
  * partitioning is acceptable only when its input is provably bounded:
  * below a Limit, or fed by an aggregation whose grouping keys have
  * fixed small cardinality (exempt-listed here with the bound).
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose empty-partition window reads provably bounded input
    * that the structural Limit check can't see. Each entry documents the
    * bound; adding a name here requires one. */
  private val boundedByConstruction: Map[String, String] = Map(
    "pipeline_dsir" ->
      "window input is groupBy(bucket) over a 16-bit hash → ≤65536 rows"
  )

  /** True when every path below `p` passes through a row-bounding node
    * (Limit / GlobalLimit / LocalLimit) before reaching a leaf. */
  private def boundedInput(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => true
    case l: LeafNode => false
    case other => other.children.nonEmpty && other.children.forall(boundedInput)
  }

  private def emptyPartitionWindows(plan: LogicalPlan): Seq[Window] =
    plan.collect { case w: Window if w.partitionSpec.isEmpty => w }

  test("no query plans an unpartitioned Window over unbounded input") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      emptyPartitionWindows(plan).flatMap { w =>
        if (boundedInput(w.child)) None
        else if (boundedByConstruction.contains(name)) None
        else Some(s"$name: unpartitioned Window over unbounded input:\n$w")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n\n"))
  }

  test("API paths never construct an unpartitioned Window (source audit)") {
    // GraftDB & friends build plans inside methods the query sweep can't
    // enumerate, so audit at the source level: every `Window.orderBy(...)`
    // (no partitionBy) or `Window.partitionBy()` call site in src/main
    // must be on the allow-list below, each with a boundedness argument.
    val allowed = Map(
      "pipeline/TextOps.scala" ->
        "textSearchRank ranks AFTER .limit(20) — 20-row window input",
      "pipeline/Ann.scala" ->
        ("annHybridRrf ranks its two Limit-20 retrieval arms and their " +
          "full-outer fusion — ≤40-row window inputs, Limit-bounded on " +
          "every path (the structural sweep also verifies this)")
    )
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val rel = root.relativize(p).toString
        new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.zipWithIndex.collect {
          case (l, i)
            if (l.contains("Window.orderBy(") || l.contains("Window.partitionBy()")) &&
              !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
              !allowed.keys.exists(k => rel.endsWith(k)) =>
            s"$rel:${i + 1}: ${l.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "unpartitioned Window constructor outside the allow-list:\n" +
        offenders.mkString("\n"))
  }

  test("driver materialization stays bounded: collect() budget per library file") {
    // a `.collect()` that grows with the data is the anti-pattern the
    // brief names ("if you're iterating over .collect() results, the
    // operator isn't distributed"). Budget the library's collect sites
    // per file, each with its boundedness argument; adding one fails
    // here until it is reviewed and budgeted. Tools / Bench / Verify
    // (driver-side diagnostics by design) are out of scope, as are
    // .head()/.head(1) (one-row by construction).
    val budget = Map(
      "pipeline/Ann.scala" -> (1,
        "quantizer training sample, capped at max(16384, 256*c) vectors"),
      "pipeline/Bpe.scala" -> (1,
        "BPE vocab candidates, capped by .limit(65536) upstream"),
      "pipeline/Dedup.scala" -> (1,
        "connected-components driver fast path: guarded by the signature " +
          "count <= DriverCcFloor (2^20 distinct edges, ~16 MB) and a " +
          ".limit(2*floor+2) on the collect itself; above the floor the " +
          "distributed star-contraction loop runs instead"),
      "api/GraftDB.scala" -> (3,
        "the rollup's one stats pass, (tail file, block) → (rows, bytes) " +
          "(rows = tail files being drained), the index probe capped " +
          "at MaxPushedIds+1, and getBlock's one block (one commit's " +
          "mutations, which its writer held as a driver Seq); manifests " +
          "are decoded on the driver without a DataFrame collect")
    )
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val pat = java.util.regex.Pattern.compile(
      "\\.collect\\(\\)|\\.collectAsList\\(|\\.toLocalIterator")
    val counts = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.toString.contains("/tools/") ||
        p.toString.endsWith("Bench.scala") || p.toString.endsWith("Verify.scala"))
      .flatMap { p =>
        val rel = root.relativize(p).toString
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val n = src.linesIterator.filterNot(_.trim.startsWith("//"))
          .map(l => { val m = pat.matcher(l); var c = 0; while (m.find()) c += 1; c })
          .sum
        if (n > 0) Some(rel -> n) else None
      }.toMap
    val over = counts.filter { case (f, n) =>
      n > budget.get(f).map(_._1).getOrElse(0)
    }
    assert(over.isEmpty,
      s"unreviewed driver materialization (update the budget with a " +
        s"boundedness argument): $over")
    budget.foreach { case (f, (n, _)) =>
      assert(counts.getOrElse(f, 0) <= n)
      assert(counts.contains(f), s"stale collect budget for $f — remove it")
    }
  }

  test("exempt list stays minimal: every exempted query still has the window") {
    // an entry whose window disappeared is stale — remove it so the
    // audit's surface stays honest
    boundedByConstruction.keys.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      assert(emptyPartitionWindows(plan).nonEmpty,
        s"stale exemption: $name no longer plans an unpartitioned window")
    }
  }
}
