package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared publish/commit discipline for persisted index artifacts
  * (AnnIndex, ClusterIndex): a manifest file is the commit point, a
  * two-rename publish guarantees a committed artifact survives every
  * crash window, and a `.new` manifest swap commits incremental
  * generations. One copy of the subtle code — the crash specs of each
  * artifact pin the same helpers. */
private[pipeline] object ArtifactIo {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Await a group of concurrent staging jobs, DRAINING every future
    * before propagating the first failure. Awaiting them one by one and
    * rethrowing early leaves sibling jobs still writing into the staging
    * dir — a same-JVM retry (e.g. a restarted streaming query) then
    * deletes the staging dir and can interleave with the orphaned
    * writer, renaming in a dir that mixes stale part files from the
    * failed attempt with the retry's. */
  def awaitAll(futures: Seq[scala.concurrent.Future[_]]): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val outcomes = futures.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    outcomes.collectFirst { case scala.util.Failure(e) => throw e }
  }

  private def writeText(fs: FileSystem, p: Path, txt: String): Unit = {
    val out = fs.create(p, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  /** Restore an artifact a crashed build left retired at `.old` (crash
    * between the publish renames). Called by every loader AND by build
    * itself before it touches `.old`. */
  private def healRetired(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    val oldP = new Path(p.getParent, p.getName + ".old")
    if (!fs.exists(p) && fs.exists(oldP)) {
      if (!fs.rename(oldP, p))
        throw new java.io.IOException(s"artifact: cannot restore $oldP")
    }
  }

  /** Two-rename publish of a fully-staged `tmp` (manifest already inside):
    * retire live to `.old`, rename tmp in, drop `.old`. A crash never
    * leaves ZERO committed artifacts — between the renames the old copy
    * lives at `.old` (restored by [[healRetired]]); delete-then-rename
    * would have a window where the only complete artifact is the
    * unpublished tmp the next build's first act deletes. */
  private def publish(spark: SparkSession, dir: String, tmp: Path): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    val oldP = new Path(p.getParent, p.getName + ".old")
    fs.delete(oldP, true)
    if (fs.exists(p) && !fs.rename(p, oldP))
      throw new java.io.IOException(s"artifact: cannot retire $p")
    if (!fs.rename(tmp, p)) {
      fs.rename(oldP, p) // roll back — previous artifact untouched
      throw new java.io.IOException(s"artifact: cannot publish $tmp -> $p")
    }
    fs.delete(oldP, true)
  }

  /** The build protocol: restore a retired copy first (so this build's
    * publish never deletes the only committed artifact), clear a stale
    * `<dir>.build.tmp`, run `stage` into it, write `manifest` (file
    * `name`) LAST inside it, and [[publish]]. */
  def commitBuild(spark: SparkSession, dir: String, name: String, manifest: String)
      (stage: String => Unit): Unit = {
    healRetired(spark, dir)
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    val tmp = new Path(p.getParent, p.getName + ".build.tmp")
    fs.delete(tmp, true)
    stage(tmp.toString)
    writeText(fs, new Path(tmp, name), manifest)
    publish(spark, dir, tmp)
  }

  /** The append protocol for generation `gen`: clear a stale
    * `gen<N>.tmp` and any orphan `gen<N>` a crashed append left, run
    * `stage` into the tmp dir, rename it to `gen<N>` (still invisible:
    * the manifest does not cover it) and commit by [[swapManifest]]. */
  def commitGen(spark: SparkSession, dir: String, gen: Int, name: String, manifest: String)
      (stage: String => Unit): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    val genP = new Path(p, s"gen$gen")
    val genTmp = new Path(p, s"gen$gen.tmp")
    fs.delete(genTmp, true)
    fs.delete(genP, true)
    stage(genTmp.toString)
    if (!fs.rename(genTmp, genP))
      throw new java.io.IOException(s"artifact: cannot stage $genP")
    swapManifest(fs, p, name, manifest)
  }

  /** Commit point of an append: write `.new`, drop the old manifest,
    * rename in. Both crash windows are safe — old+`.new` heals to the
    * OLD manifest (the staged gen is redone by the next append); `.new`
    * alone heals forward to the new one (its gen dir landed first). */
  private def swapManifest(fs: FileSystem, dir: Path, name: String, txt: String): Unit = {
    val mp = new Path(dir, name)
    val np = new Path(dir, name + ".new")
    writeText(fs, np, txt)
    fs.delete(mp, false)
    if (!fs.rename(np, mp))
      throw new java.io.IOException(s"artifact: cannot commit manifest at $mp")
  }

  private def healManifest(spark: SparkSession, dir: String, name: String): Unit = {
    val mp = new Path(dir, name)
    val np = new Path(dir, name + ".new")
    val fs = fsOf(spark, mp)
    if (fs.exists(np)) {
      if (fs.exists(mp)) fs.delete(np, false) // swap never started: old wins
      else if (!fs.rename(np, mp)) // swap half-done: finish forward
        throw new java.io.IOException(s"artifact: cannot heal manifest at $mp")
    }
  }

  /** Heal, require, and parse a committed manifest into a flat
    * string map (values: ints, hex digests, or decimals). */
  def readManifest(spark: SparkSession, dir: String, name: String,
      what: String): Map[String, String] = {
    healRetired(spark, dir)
    healManifest(spark, dir, name)
    val mp = new Path(dir, name)
    val fs = fsOf(spark, mp)
    require(fs.exists(mp),
      s"$dir has no $name — not a committed $what (crashed build?)")
    val in = fs.open(mp)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    "\"([a-z_]+)\":\"?([0-9a-f.]+)\"?".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}
