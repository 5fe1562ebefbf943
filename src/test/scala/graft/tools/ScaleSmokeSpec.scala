package graft.tools

import java.nio.file.Files

import graft.SparkSpec

/** The scale lanes' verdicts on hand-made timings and plan strings, and
  * the 10× pruning proof on a real mutation log. */
class ScaleSmokeSpec extends SparkSpec {
  import ScaleSmoke.{probeVerdict, skewVerdict, uniformVerdict}

  private val twoExchanges = "Exchange hashpartitioning\n+- Exchange SinglePartition"

  test("uniform: the first-pass ratio is held to twice the copy count, and no exchange is added") {
    // passes: first (cold) pass, then the rest
    val base = Seq(1.0, 0.5, 0.5)
    assert(uniformVerdict(10, "s", Seq(base, Seq(19.9, 5.0, 5.0)),
      Seq(twoExchanges, twoExchanges)).ok)
    assert(!uniformVerdict(10, "s", Seq(base, Seq(20.1, 5.0, 5.0)),
      Seq(twoExchanges, twoExchanges)).ok)
    // only the first pass counts: slow later passes do not fail a shape
    assert(uniformVerdict(2, "s", Seq(base, Seq(2.0, 9.0, 9.0)),
      Seq(twoExchanges, twoExchanges)).ok)
    val grown = uniformVerdict(10, "s", Seq(base, Seq(2.0, 1.0, 1.0)),
      Seq(twoExchanges, twoExchanges + "\n+- Exchange hashpartitioning"))
    assert(!grown.ok)
    assert(grown.row.contains(" 2-> 3") && grown.row.endsWith("FAIL"))
    // fewer exchanges at scale is fine
    assert(uniformVerdict(10, "s", Seq(base, Seq(2.0, 1.0, 1.0)),
      Seq(twoExchanges, "Exchange hashpartitioning")).ok)
  }

  test("probe: a join that degenerates only at scale fails; one present at both scales passes") {
    val times = Seq(Seq(1.2, 1.0), Seq(50.0, 60.0)) // minima 1.0 -> 50.0 at 100x
    val smj = "SortMergeJoin [k]"
    val nlj = "BroadcastNestedLoopJoin BuildRight"
    assert(probeVerdict(100, "s", times, Seq(smj, smj)).ok)
    val degen = probeVerdict(100, "s", times, Seq(smj, nlj))
    assert(!degen.ok && degen.row.endsWith("FAIL(degenerate join)"))
    assert(probeVerdict(100, "s", times, Seq(nlj, nlj)).ok)
    assert(!probeVerdict(100, "s", times, Seq(smj, "CartesianProduct")).ok)
    // the ratio bound: 2·copies on the minima
    assert(!probeVerdict(100, "s", Seq(Seq(1.0), Seq(200.1)), Seq(smj, smj)).ok)
  }

  test("probe: a fact-lane shape that loses a dimension broadcast at scale fails") {
    val times = Seq(Seq(1.0, 1.0), Seq(10.0, 10.0))
    val twoBhj = "BroadcastHashJoin a\n+- BroadcastHashJoin b"
    val oneBhj = "BroadcastHashJoin a\n+- SortMergeJoin b"
    val lost = probeVerdict(10, "q5_multijoin", times, Seq(twoBhj, oneBhj))
    assert(!lost.ok && lost.row.endsWith("FAIL(dim broadcast lost: 2->1)"))
    val kept = probeVerdict(10, "q5_multijoin", times, Seq(twoBhj, twoBhj))
    assert(kept.ok && kept.row.endsWith("ok (bhj 2->2)"))
    // a shape off the fact lane may flip a broadcast of its grown side
    assert(probeVerdict(10, "pipeline_e2e", times, Seq(twoBhj, oneBhj)).ok)
  }

  test("skew: an auto shape is held to 1.2x its better twin plus the probe cost on each corpus") {
    val twins = Map("asof_join" -> (1.0, 9.0), "asof_join_bucketed" -> (2.0, 2.0))
    val probe = (0.5, 0.5)
    // better twin: 1.0 uniform, 2.0 skewed -> bounds 1.7 and 2.9
    assert(skewVerdict("asof_join_auto", 1.7, 2.9, twins, probe).ok)
    assert(!skewVerdict("asof_join_auto", 1.8, 2.9, twins, probe).ok)
    assert(!skewVerdict("asof_join_auto", 1.7, 3.0, twins, probe).ok)
    // the probe cost is budgeted: without it the same timings fail
    assert(!skewVerdict("asof_join_auto", 1.7, 2.9, twins, (0.0, 0.0)).ok)
  }

  test("skew: a direct twin's straggler is informational; any other shape above 2x fails") {
    val straggler = skewVerdict("asof_join", 1.0, 9.0, Map.empty, (0.0, 0.0))
    assert(straggler.ok && straggler.row.endsWith("ok (straggler; dispatcher covers)"))
    assert(skewVerdict("asof_join_bucketed", 1.0, 2.0, Map.empty, (0.0, 0.0)).ok)
    assert(!skewVerdict("asof_join_bucketed", 1.0, 2.1, Map.empty, (0.0, 0.0)).ok)
    val plain = skewVerdict("dedup_exact", 1.0, 2.5, Map.empty, (0.0, 0.0))
    assert(!plain.ok && plain.row.endsWith("FAIL"))
    assert(skewVerdict("dedup_exact", 1.0, 1.9, Map.empty, (0.0, 0.0)).row.endsWith("ok"))
  }

  test("the 10x point lookup's pushed id filter prunes the Spark fold's log scan") {
    val root = Files.createTempDirectory("graft_scale_prune")
    try assert(ScaleSmoke.pruningHoldsAt10x(spark, root.toString))
    finally ScaleSmoke.rm(spark, root.toString)
    // the check leaves the session's broadcast threshold as it found it
    assert(spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold").forall(_ != "-1"))
  }
}
