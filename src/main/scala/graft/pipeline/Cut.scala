package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Lineage cut points for multi-consumer intermediates.
  *
  * r15 introduced lazy `localCheckpoint` cuts (the dsir per-doc count
  * table, the merge path's candidate/touched sets) so a shared
  * intermediate materializes once instead of re-executing per consumer.
  * Two costs came with the bare call (r15 verdict):
  *
  *   1. executed plans downstream of a cut read `Scan ExistingRDD`, so
  *      structural plan pins and plan-hash drift detection silently lose
  *      coverage of everything UPSTREAM of the cut — the next regression
  *      could hide behind a checkpoint; and
  *   2. `localCheckpoint` is executor-local, non-replicated block state:
  *      on a real cluster an executor loss after materialization fails
  *      the job (lineage is truncated — no recompute). Right for local
  *      mode and small intermediates, a deployment hazard at 100 TB.
  *
  * This helper fixes both. Every cut reports its PRE-cut DataFrame to a
  * test-only probe, so `PlanPinsSpec` pins the upstream lineage (scan
  * count, join shape) that the executed plan no longer shows. And the
  * cut strategy is one SQL conf:
  *
  *   `graft.cut.mode` = "local" (default) — `localCheckpoint(lazy)`,
  *       the local-mode shape the bench measures;
  *   `graft.cut.mode` = "reliable" — `checkpoint(lazy)` to the context's
  *       checkpoint dir (the `graft.cut.dir` conf when set, else the dir
  *       set via `SparkContext.setCheckpointDir`), which survives
  *       executor loss — the cluster deployment setting.
  *
  * Both forms are LAZY: the first action on the cut frame materializes
  * the blocks inside its own job (the `connectedComponents` sig-job
  * discipline — an eager cut would pay a separate materialization job
  * per cut point).
  */
object Cut {
  /** Test-only observer of (tag, pre-cut DataFrame) at every cut point.
    * `PlanPinsSpec` installs a collector; production leaves it null —
    * one volatile read per cut, nothing else. */
  @volatile private[graft] var probe: (String, DataFrame) => Unit = null

  def apply(df: DataFrame, tag: String): DataFrame = {
    val p = probe
    if (p != null) p(tag, df)
    df.sparkSession.conf.get("graft.cut.mode", "local") match {
      case "reliable" =>
        val sc = df.sparkSession.sparkContext
        // the conf wins over a dir an earlier caller left on the shared
        // context; setCheckpointDir puts a fresh subdir under its argument
        df.sparkSession.conf.getOption("graft.cut.dir").foreach { d =>
          val dir = new Path(d)
          val qualified = dir.getFileSystem(sc.hadoopConfiguration).makeQualified(dir)
          if (!sc.getCheckpointDir.exists(c => new Path(c).getParent == qualified))
            sc.setCheckpointDir(d)
        }
        df.checkpoint(eager = false)
      case _ =>
        df.localCheckpoint(eager = false)
    }
  }
}
