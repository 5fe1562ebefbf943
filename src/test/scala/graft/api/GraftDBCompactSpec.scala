package graft.api

import graft.SparkSpec
import java.nio.file.Files

/** The OPTIMIZE tick's contract: compacting manifest-listed batch dirs
  * preserves the fold EXACTLY (same rows, same ids, same state), the
  * compact record is the commit point (neither crash window can lose or
  * duplicate rows), self-heal sweeps both kinds of crash litter, and the
  * live dir count lands at the bin-packed target. */
class GraftDBCompactSpec extends SparkSpec {

  private class Boom extends RuntimeException("injected crash")

  private def freshDb(): (GraftDB, String) = {
    val dir = Files.createTempDirectory("graftcompact").toString
    (new GraftDB(spark, dir), dir)
  }

  private def fold(db: GraftDB): Map[Long, String] =
    db.collection("d", "c").df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def liveBatchDirs(db: GraftDB, root: String): Seq[String] = {
    val base = new java.io.File(s"$root/d/c/rollups")
    if (!base.isDirectory) Seq.empty
    else base.listFiles().flatMap { d =>
      if (d.getName.startsWith("compact_")) Seq(d.getPath)
      else if (d.isDirectory) // run_*/batch=N
        d.listFiles().filter(_.isDirectory).map(_.getPath).toSeq
      else Seq.empty
    }.filter(p => new java.io.File(p).listFiles().exists(_.getName.endsWith(".parquet"))).toSeq
  }

  /** Many tiny rollup runs → many sub-target batch dirs (batches are
    * whole blocks, so two appends per run at a 400-byte bound yield two
    * batch dirs per run). */
  private def fragment(db: GraftDB, runs: Int): Unit =
    (1 to runs).foreach { r =>
      db.addDocuments("d", "c", (1 to 20).map(i => s"""{"r":$r,"i":$i}"""))
      db.addDocuments("d", "c", (21 to 40).map(i => s"""{"r":$r,"i":$i}"""))
      db.rollup("d", "c", maxBatchBytes = 400L)
    }

  test("a live batch dir deleted under a read fails it closed, never with fewer rows") {
    val (db, _) = freshDb(); db.createCollection("d", "c")
    fragment(db, 2)
    assert(fold(db).size === 80)
    // what a reader whose manifest read came before two compactions
    // meets: a dir the manifests it read list live, retired by the first
    // compaction and deleted by the second
    val victim = db.scanRollupRecords("d", "c").collect().head.getAs[String]("path")
    val walk = Files.walk(java.nio.file.Paths.get(victim))
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally walk.close()
    intercept[java.io.FileNotFoundException](db.collection("d", "c").df)
    intercept[java.io.FileNotFoundException](onSpark(db.collection("d", "c").df))
    intercept[java.io.FileNotFoundException](db.mutationLog("d", "c"))
  }

  test("compactRollups preserves the fold and bin-packs the batch dirs") {
    val (db, root) = freshDb(); db.createCollection("d", "c")
    fragment(db, 4)
    val before = fold(db)
    val dirsBefore = liveBatchDirs(db, root)
    assert(dirsBefore.length >= 8, s"fixture too coarse: ${dirsBefore.length}")
    val rollupRecsBefore = db.scanRollupRecords("d", "c").count()

    val planned = db.collection("d", "c").df // lazy plan BEFORE the tick
    val bins = db.compactRollups("d", "c", targetBytes = 1L << 20)
    assert(bins >= 1)
    assert(fold(db) === before)
    // GRACE PERIOD: retired dirs linger on disk for one tick so a plan
    // built before the record still executes (the r12 FileNotFound
    // hazard — readers don't hold the collection lock)
    val retired = db.scanCompactRecords("d", "c")
      .select("replaced").collect().flatMap(_.getSeq[String](0)).toSeq
    assert(retired.forall(p => new java.io.File(p).exists()),
      "retired dirs must survive until the next tick")
    assert(planned.count() === before.size.toLong,
      "a pre-tick plan must drain cleanly through the grace period")
    // rollup history is untouched (audit view), compact history appended
    assert(db.scanRollupRecords("d", "c").count() === rollupRecsBefore)
    assert(db.scanCompactRecords("d", "c").count() === bins.toLong)
    // idempotent next tick: nothing left to bin, and it sweeps the litter
    assert(db.compactRollups("d", "c", targetBytes = 1L << 20) === 0)
    assert(retired.forall(p => !new java.io.File(p).exists()),
      "the next tick's self-heal must sweep the retired dirs")
    val dirsAfter = liveBatchDirs(db, root)
    // everything fits one 1 MiB bin → a single live compacted dir
    assert(dirsAfter.length === 1, s"got ${dirsAfter.mkString(", ")}")
    assert(dirsAfter.head.contains("compact_"))
    assert(fold(db) === before)
    // the log still replays block-exact after compaction + more writes
    db.addDocuments("d", "c", Seq("""{"post":1}"""))
    db.updateDocuments("d", "c", Seq(0L), Seq("""{"r":99}"""), Seq(Nil))
    assert(db.recover("d", "c").df.count() === before.size + 1)
  }

  test("crash before the compact record: orphan dir invisible, swept, retry converges") {
    val (db, root) = freshDb(); db.createCollection("d", "c")
    fragment(db, 3)
    val before = fold(db)
    val dirsBefore = liveBatchDirs(db, root).toSet
    db.failpoint = l => if (l == "compact:afterData") throw new Boom
    intercept[Boom] { db.compactRollups("d", "c", targetBytes = 1L << 20) }
    db.failpoint = _ => ()
    // pre-crash state intact: reads unchanged, orphan not manifested
    assert(fold(db) === before)
    assert(db.scanCompactRecords("d", "c").count() === 0L)
    val orphan = new java.io.File(s"$root/d/c/rollups").listFiles()
      .filter(_.getName.startsWith("compact_"))
    assert(orphan.nonEmpty, "crash window should leave the orphan dir")
    // retry sweeps the orphan and completes; the tick after that sweeps
    // the grace-period litter
    assert(db.compactRollups("d", "c", targetBytes = 1L << 20) >= 1)
    assert(fold(db) === before)
    db.compactRollups("d", "c", targetBytes = 1L << 20)
    val after = liveBatchDirs(db, root)
    assert(after.length === 1 && !dirsBefore.contains(after.head))
  }

  test("crash after the compact record: retired dirs linger but never double-read; swept") {
    val (db, root) = freshDb(); db.createCollection("d", "c")
    fragment(db, 3)
    val before = fold(db)
    db.failpoint = l => if (l == "compact:afterRecord") throw new Boom
    intercept[Boom] { db.compactRollups("d", "c", targetBytes = 1L << 20) }
    db.failpoint = _ => ()
    // the record landed: reads use ONLY the compacted dir even though
    // every retired dir still exists — no duplicated rows
    assert(db.scanCompactRecords("d", "c").count() === 1L)
    val retired = db.scanCompactRecords("d", "c")
      .select("replaced").head().getSeq[String](0)
    assert(retired.forall(p => new java.io.File(p).exists()),
      "crash window should leave the retired dirs")
    assert(fold(db) === before)
    // no double-counted mutations: 3 runs x 40 adds
    assert(db.mutationLog("d", "c").count() === 120L)
    // next call sweeps the lingering dirs; nothing new to compact
    db.compactRollups("d", "c", targetBytes = 1L << 20)
    assert(retired.forall(p => !new java.io.File(p).exists()))
    assert(fold(db) === before)
  }

  test("rollupIfDue runs the optimize tick after a drain") {
    val (db, root) = freshDb(); db.createCollection("d", "c")
    // fragment WITHOUT the tick (manual small rollups)
    fragment(db, 3)
    assert(liveBatchDirs(db, root).length >= 6)
    // a due rollup drains the new tail AND compacts the accumulated
    // small dirs toward the configured target in the same tick
    db.addDocuments("d", "c", (1 to 20).map(i => s"""{"x":$i}"""))
    assert(db.rollupIfDue("d", "c").isEmpty) // default 64 MiB floor
    // lower the floor via the signed admin path so the tick fires; the
    // SAME tick then compacts toward the configured target (which also
    // serves as the bin size — large enough to bin every fragment)
    val cfg = """{"minRollupSizeBytes":1}"""
    val hex = graft.functions.crypto.Keccak256.hexLower(cfg.getBytes("UTF-8"))
    val td = s"""{"types":{"EIP712Domain":[],"Message":[{"name":"payload","type":"bytes"},{"name":"nonce","type":"string"}]},"domain":{},"primaryType":"Message","message":{"payload":"0x$hex","nonce":"1"}}"""
    val sig = graft.functions.crypto.Eip712.signOrNull(td, 1L)
    db.setup(td, sig.toString)
    val before = fold(db)
    assert(db.rollupIfDue("d", "c").nonEmpty)
    assert(fold(db) === before)
    // minRollupSizeBytes=1 is also the compact target, so the tick's
    // compaction is a structural no-op (every dir alone exceeds it) —
    // the explicit API with a real target finishes the collapse (twice:
    // the second tick sweeps the first's grace-period litter)
    db.compactRollups("d", "c", targetBytes = 1L << 20)
    db.compactRollups("d", "c", targetBytes = 1L << 20)
    assert(liveBatchDirs(db, root).length === 1)
    assert(fold(db) === before)
  }
}
