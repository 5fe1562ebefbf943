package graft.tools

/** Same-box A/B bench arbiter (r16): previous-round build vs current
  * build, alternating single-pass child JVMs, per-query PAIRED ratios.
  *
  * WHY: cross-record bench comparisons on this box are dominated by
  * co-tenant drift (two same-code full-bench runs differ by 11-27%;
  * r15's three same-code gate headlines read 0.957/1.124/1.219). The
  * only instrument that produced a trustworthy directional number was
  * the same-JVM alternating A/B (`DispatchBench`). This generalizes it
  * suite-wide: each pair runs arm A then arm B back-to-back in matched
  * fresh JVMs (order swapped every pair to cancel order effects), so
  * box drift hits both arms of a pair nearly equally and the per-pair
  * ratio is drift-free to first order.
  *
  * Child = `graft.tools.TimeQueries <sfDir> <csv> 1` resolved against
  * the ARM's classes — TimeQueries exists unchanged in both rounds and
  * times exactly what Bench times (query construction + count(), result
  * caches cleared). Deps come from /opt/spark/jars (unmanagedBase), so
  * an arm's classpath is just `<armClasses>:/opt/spark/jars/\*`.
  *
  * Run (scripts/ab_bench.sh builds the prev jar and invokes this):
  *   java -cp <nowClasses>:/opt/spark/jars/'*' graft.tools.AbBench \
  *     <prevClasses> <nowClasses> <sfDir> <pairs> [queryCsv|all]
  *
  * Output: per-query median paired ratio (now/prev), the geomean
  * headline, and an odd/even-pair split as the agreement check the
  * verdict asked for (two independent estimates from the same run must
  * agree within ~5% for the headline to be quotable). JSON record to
  * ab_bench.json in the CWD.
  */
object AbBench {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** One child pass: fresh JVM on the arm's classpath, one pass over
    * all queries, parsed `pass 1 <name> <secs> s` lines. */
  private def runArm(armCp: String, sfDir: String, csv: String,
      cpus: String): Map[String, Double] = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cmd = (Seq(java) ++ addOpens ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", s"$armCp:/opt/spark/jars/*",
      "graft.tools.TimeQueries", sfDir, csv, "1")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    val rc = proc.waitFor()
    if (rc != 0) {
      out.takeRight(25).foreach(l => System.err.println(s"[ab child] $l"))
      sys.error(s"arm $armCp exited $rc")
    }
    val Line = """pass 1 (\S+)\s+([0-9.]+) s""".r
    out.collect { case Line(n, s) => n -> s.toDouble }.toMap
  }

  import Harness.{geomean, median}

  def main(args: Array[String]): Unit = {
    val prevCp = args(0)
    val nowCp = args(1)
    val sfDir = args(2)
    val pairs = args(3).toInt
    val cpus = Harness.cpus.toString
    val csv = args.drop(4).headOption.filter(_ != "all")
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted.mkString(","))
    // pairRatios(q) = one now/prev ratio per pair, both arms timed
    // back-to-back inside the pair
    val pairRatios = collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (i <- 1 to pairs) {
      // swap launch order every pair: a monotone box trend (warming,
      // co-tenant ramp) then biases alternate pairs in opposite
      // directions instead of always against the same arm
      val prevFirst = i % 2 == 1
      val (first, second) =
        if (prevFirst) (prevCp, nowCp) else (nowCp, prevCp)
      val t0 = System.nanoTime()
      val a = runArm(first, sfDir, csv, cpus)
      val b = runArm(second, sfDir, csv, cpus)
      val (prev, now) = if (prevFirst) (a, b) else (b, a)
      val common = prev.keySet intersect now.keySet
      common.foreach { q =>
        if (prev(q) > 0 && now(q) > 0)
          pairRatios(q) = pairRatios(q) :+ (now(q) / prev(q))
      }
      println(f"[ab] pair $i/$pairs done (${(System.nanoTime() - t0) / 1e9}%.0f s, " +
        f"${common.size} common queries, geomean this pair " +
        f"${geomean(common.toSeq.map(q => now(q) / prev(q)).filter(_ > 0))}%.3f)")
    }
    val med: Map[String, Double] =
      pairRatios.map { case (q, rs) => q -> median(rs) }.toMap
    val headline = geomean(med.values.toSeq)
    // agreement: the same statistic from disjoint pair subsets — if the
    // two disagree past ~5%, the box was too noisy and the headline is
    // not quotable (rerun with more pairs)
    val odd = geomean(pairRatios.map { case (_, rs) =>
      median(rs.zipWithIndex.collect { case (r, j) if j % 2 == 0 => r })
    }.toSeq.filterNot(_.isNaN))
    val even = geomean(pairRatios.map { case (_, rs) =>
      median(rs.zipWithIndex.collect { case (r, j) if j % 2 == 1 => r })
    }.toSeq.filterNot(_.isNaN))
    println("---- per-query median paired ratio (now/prev), worst first ----")
    med.toSeq.sortBy(-_._2).foreach { case (q, r) =>
      println(f"$q%-28s $r%6.3f")
    }
    println(f"[ab] HEADLINE geomean(now/prev) = $headline%.4f over ${med.size} queries, " +
      f"$pairs pairs; split-half agreement odd=$odd%.4f even=$even%.4f " +
      f"(|log diff| ${math.abs(math.log(odd / even))}%.3f)")
    def r4(d: Double): String = Harness.num(d, 4)
    val json = "{" +
      s""""geomean":${r4(headline)},"pairs":$pairs,""" +
      s""""n_queries":${med.size},"odd":${r4(odd)},""" +
      s""""even":${r4(even)},"cpus":$cpus,"sf":${Harness.str(sfDir)},""" +
      s""""per_query":""" +
      Harness.obj(med.toSeq.sortBy(_._1).map { case (q, r) => q -> r4(r) }) + "}"
    java.nio.file.Files.write(java.nio.file.Paths.get("ab_bench.json"),
      json.getBytes("UTF-8"))
    println("[ab] wrote ab_bench.json")
  }
}
