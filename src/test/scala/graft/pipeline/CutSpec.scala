package graft.pipeline

import graft.{SparkEntry, SparkSpec}

/** The cut-strategy durability knob (r15 verdict #3): `localCheckpoint`
  * is executor-local, non-replicated state — fine locally, a failure
  * hazard on a real cluster — so `Cut` makes the strategy a conf. This
  * spec proves the two modes are RESULT-identical on every query that
  * cuts (dsir's per-doc table, the merge path's candidate/touched sets,
  * the CC round frames), so flipping the conf for a cluster deployment
  * can never change what a query computes. */
class CutSpec extends SparkSpec {

  private val cutters = Seq("pipeline_dsir", "dedup_clusters_incremental")

  private def rows(name: String): Set[String] = {
    // memoized artifacts would serve mode A's result to mode B's run
    graft.sources.Memo.clear()
    SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).toSet
  }

  test("reliable-checkpoint cut mode is result-identical to local mode") {
    val local = cutters.map(n => n -> rows(n)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-cut").toString
    SparkSpec.withConf("graft.cut.mode" -> "reliable", "graft.cut.dir" -> dir) {
      cutters.foreach { n =>
        val rel = rows(n)
        assert(rel === local(n), s"$n differs between cut modes")
        assert(rel.nonEmpty, s"$n returned no rows")
      }
      // the knob actually engaged: reliable cuts wrote checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode wrote no checkpoint files")
    }
  }
}
