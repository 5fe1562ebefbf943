package graft.api

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multi-writer crash-retry chaos — the composition of
  * GraftDBConcurrencySpec (races without crashes) and GraftDBChaosSpec
  * (crashes without races): TWO GraftDB instances, one per thread, each
  * driving its own random op stream (add / masked update / delete /
  * snapshot / rollup / compact) where any op may crash at a randomly chosen armed
  * failpoint mid-critical-section and then retry. This is the corner
  * the reference's single-sequencer contract (mutation_store.rs:444)
  * leaves to the store: a writer that dies between its data append and
  * its state commit RELEASES the collection lock with uncommitted rows
  * at block N on disk, and the next writer to stamp N must not let that
  * orphan ride its commit (same (block, order), different content —
  * per-attempt blk_ dirs + the under-lock orphan sweep close it).
  *
  * Reference model: each writer records the ids RETURNED by its
  * successful (retried) ops and mutates ONLY its own docs, so the final
  * value of every doc is a pure function of that writer's sequential
  * stream — interleavings move id assignment around but never the
  * folded content. Invariants at the end of every seed: fold == merged
  * models (ids AND canonical docs), one batch per block with dense
  * blocks, rollup manifest ranges disjoint with every dir present, and
  * a fresh-instance reread (recovery) agreeing. */
class GraftDBMultiWriterChaosSpec extends SparkSpec {

  private class Boom extends RuntimeException("injected crash")

  private def canon(doc: String): String = {
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JsonMethods.parse(doc)))
  }

  test("cross-PROCESS crash mid-critical-section: orphan invisible, swept, block reused") {
    // The in-process chaos below simulates crashes with exceptions; a
    // REAL dead writer also releases its FileChannel lock via the OS.
    // Spawn a separate JVM that Runtime.halt()s between its data append
    // and state commit, then prove the parent sees no orphan rows,
    // sweeps the orphan dir when it reuses the block, and the fold
    // never mixes contents.
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_mwcrash").toString
    val db = new GraftDB(spark, s"$root/db")
    db.createCollection("d", "c")
    db.addDocuments("d", "c", Seq("""{"seed":0}""", """{"seed":1}""")) // block 0
    db.addDocuments("d", "c", Seq("""{"seed":2}""")) // block 1

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = {
      val b = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < in.length) {
        if (in(i) == "--add-opens" && i + 1 < in.length) {
          b += in(i); b += in(i + 1); i += 2
        } else if (in(i).startsWith("--add-opens=")) { b += in(i); i += 1 }
        else i += 1
      }
      b.toList
    }
    val p = new ProcessBuilder((Seq(javaBin) ++ opens ++ Seq("-Xmx1500m",
      "-cp", cp, "graft.api.RaceWriter", root, "cw", "1", "crash")).asJava)
      .redirectOutput(new java.io.File(root, "out_cw.log"))
      .redirectErrorStream(true)
      .start()
    assert(p.waitFor(120, TimeUnit.SECONDS), "crashing writer timed out")
    assert(p.exitValue() === 42, {
      val f = new java.io.File(root, "out_cw.log")
      "halt failpoint did not fire:\n" +
        (if (f.exists()) scala.io.Source.fromFile(f).mkString.takeRight(2000) else "")
    })

    // the dead writer's data is on disk but UNCOMMITTED: invisible
    val mutDir = new java.io.File(s"$root/db/d/c/mutations")
    def blk2Dirs = mutDir.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("blk_2_"))
    assert(blk2Dirs.nonEmpty, "crashed append left no blk_2 dir")
    assert(db.nextBlockId("d", "c") === 2L, "state must not have advanced")
    assert(onBothExecutors(db.collection("d", "c").df.count()) === 3L, "orphan rows visible")

    // the parent reuses block 2: the orphan is swept, never adopted
    val ids = db.addDocuments("d", "c", Seq("""{"w":"parent"}"""))
    assert(blk2Dirs.length === 1, "orphan blk_2 dir must be swept on reuse")
    val docs = db.collection("d", "c").df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs.size === 4)
    assert(docs(ids.head).contains("parent"))
    assert(!docs.values.exists(_.contains("crashed")),
      "dead writer's uncommitted rows rode a later commit")
    val dup = db.mutationLog("d", "c").groupBy(col("block"), col("order"))
      .count().filter(col("count") > 1).count()
    assert(dup === 0L, "duplicate (block, order) stamps")

    // rollup + fresh-instance reread stay exact
    db.rollup("d", "c", maxBatchBytes = 512)
    val again = new GraftDB(spark, s"$root/db").collection("d", "c").df.count()
    assert(again === 4L)
  }

  test("appendDocumentsAt committing past a crashed block sweeps the gap orphan") {
    // the max-merge bump can advance lastBlock OVER a crashed locked
    // writer's block without that block ever being reused — the orphan
    // must be swept at the bump, or its uncommitted rows become visible
    // under the new bound
    import spark.implicits._
    val root = Files.createTempDirectory("graft_gap").toString
    val db = new GraftDB(spark, root)
    db.createCollection("d1", "c")
    db.addDocuments("d1", "c", Seq("""{"seed":0}""")) // block 0
    db.failpoint = l =>
      if (l == "addDocuments:afterAppend") throw new Boom
    intercept[Boom](
      db.addDocuments("d1", "c", Seq("""{"crashed":true}"""))) // orphan at 1
    db.failpoint = _ => ()
    // caller-exclusive append at block 2: gaps over the orphan block
    db.appendDocumentsAt("d1", "c", 2L, Seq("""{"late":1}""").toDF("doc"))
    assert(db.nextBlockId("d1", "c") === 3L)
    val docs = db.collection("d1", "c").df.collect().map(_.getString(1))
    assert(docs.length === 2, s"got ${docs.mkString("|")}")
    assert(!docs.exists(_.contains("crashed")),
      "gap orphan's uncommitted rows became visible under the merged bound")
  }

  // default 4 seeds in-suite; SPARK_GRAFT_CHAOS_SEEDS raises it for soaks
  private val Seeds =
    sys.env.getOrElse("SPARK_GRAFT_CHAOS_SEEDS", "4").toInt.max(1)

  test(s"two crashing writers converge to the merged per-writer models ($Seeds seeds)") {
    for (seed <- 1 to Seeds) {
      val root = Files.createTempDirectory("graft_mwchaos").toString
      val setupDb = new GraftDB(spark, root)
      setupDb.createCollection("d1", "c")
      val crashes = new java.util.concurrent.atomic.AtomicInteger(0)
      val models = Array.fill(2)(scala.collection.mutable.Map.empty[Long, String])

      def writer(w: Int): Unit = {
        val db = new GraftDB(spark, root) // own instance, own failpoint
        val r = new Random(52000 + seed * 10 + w)
        val ref = models(w)
        var mine = Vector.empty[Long]

        /** Run `op` with ~40% probability of first running it once with
          * a random window armed. A crashed attempt must contribute
          * nothing beyond its retry; an armed run that never reaches
          * the failpoint (rollup's no-op early return) IS the result. */
        def chaotic[T](windows: Seq[String])(op: => T): T = {
          if (r.nextInt(10) < 4) {
            val wnd = windows(r.nextInt(windows.length))
            db.failpoint = l => if (l == wnd) throw new Boom
            val armed =
              try Right(op)
              catch { case _: Boom => Left(()) }
            db.failpoint = _ => ()
            armed match {
              case Right(result) => return result
              case Left(_)       => crashes.incrementAndGet()
            }
          }
          op
        }

        val steps = 12 + r.nextInt(6)
        for (_ <- 1 to steps) {
          r.nextInt(10) match {
            case 0 | 1 | 2 | 3 => // add 1-2 docs
              val docs = (0 until 1 + r.nextInt(2))
                .map(i => s"""{"w":$w,"v":${r.nextInt(100)},"i":$i}""")
              val ids = chaotic(Seq("addDocuments:afterAppend")) {
                db.addDocuments("d1", "c", docs)
              }
              ref.synchronized { ref ++= ids.zip(docs) }
              mine ++= ids
            case 4 | 5 if mine.nonEmpty => // masked or whole update of OWN doc
              val id = mine(r.nextInt(mine.length))
              val doc = s"""{"v":${r.nextInt(100)},"u":$w}"""
              val mask = if (r.nextInt(3) == 0) Seq.empty[String] else Seq("v")
              chaotic(Seq("updateDocuments:afterAppend")) {
                db.updateDocuments("d1", "c", Seq(id), Seq(doc), Seq(mask))
              }
              ref.synchronized {
                ref.get(id).foreach { base =>
                  ref(id) = GraftDB.mergeMasked(base, doc,
                    if (mask.isEmpty) None else Some(mask.mkString(",")))
                }
              }
            case 6 if mine.nonEmpty => // delete OWN doc
              val id = mine(r.nextInt(mine.length))
              chaotic(Seq("deleteDocuments:afterAppend")) {
                db.deleteDocuments("d1", "c", Seq(id))
              }
              ref.synchronized { ref -= id }
            case 7 => // snapshot: later folds seed from it
              chaotic(Seq("snapshot:afterData")) { db.snapshot("d1", "c") }
            case 8 => // OPTIMIZE tick: bin-pack rolled batches mid-churn
              chaotic(Seq("compact:afterData", "compact:afterRecord")) {
                db.compactRollups("d1", "c", targetBytes = 4096)
              }
            case _ =>
              chaotic(Seq("rollup:afterData", "rollup:afterManifest",
                "rollup:afterGc")) {
                db.rollup("d1", "c", maxBatchBytes = 512)
              }
          }
        }
      }

      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (0 until 2).foreach { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try writer(w) catch { case t: Throwable => fails.add(t) }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(240, TimeUnit.SECONDS),
        s"seed=$seed writers timed out")
      if (!fails.isEmpty) throw fails.peek()
      assert(crashes.get() > 0,
        s"seed=$seed never crashed — chaos rate too low to test anything")

      val want = (models(0) ++ models(1)).toMap
      val got = onBothExecutors(setupDb.collection("d1", "c").df.collect()
        .map(row => row.getLong(0) -> row.getString(1)).toMap)
      assert(got.keySet === want.keySet,
        s"seed=$seed crashes=${crashes.get()}: got=${got.keySet.toSeq.sorted} " +
          s"want=${want.keySet.toSeq.sorted}")
      got.foreach { case (id, doc) =>
        assert(canon(doc) === canon(want(id)), s"seed=$seed id=$id")
      }

      // block-protocol invariants: committed blocks dense 0..lastBlock,
      // exactly one batch's stamps per block (no torn/mixed blocks)
      val log = setupDb.mutationLog("d1", "c")
        .filter(col("block") <= setupDb.nextBlockId("d1", "c") - 1)
      val blocks = log.select("block").distinct()
        .as[Long](spark.implicits.newLongEncoder).collect().sorted
      assert(blocks.toSeq === (0L to blocks.max),
        s"seed=$seed blocks not dense: ${blocks.mkString(",")}")
      val dupStamps = log.groupBy(col("block"), col("order"))
        .count().filter(col("count") > 1).count()
      assert(dupStamps === 0L, s"seed=$seed duplicate (block, order) stamps")

      // manifest invariants + recovery reread on a FRESH instance
      val recs = setupDb.scanRollupRecords("d1", "c")
        .select("start_block", "end_block", "path").collect()
        .map(rw => (rw.getLong(0), rw.getLong(1), rw.getString(2)))
        .sortBy(_._1)
      recs.sliding(2).foreach {
        case Array((_, hi, _), (lo2, _, _)) =>
          assert(hi < lo2, s"seed=$seed overlapping rollup ranges")
        case _ =>
      }
      // a rollup batch dir must exist unless a compact record retired
      // it; every live (un-retired) compact dir must exist
      val compactRows = setupDb.scanCompactRecords("d1", "c").collect()
      val retiredPaths = compactRows.flatMap(_.getSeq[String](5)).toSet
      recs.foreach { case (_, _, p) =>
        assert(retiredPaths.contains(p) || new java.io.File(p).isDirectory,
          s"seed=$seed missing unretired $p")
      }
      compactRows.map(_.getAs[String]("path"))
        .filterNot(retiredPaths).foreach { p =>
          assert(new java.io.File(p).isDirectory,
            s"seed=$seed missing compact dir $p")
        }
      setupDb.rollup("d1", "c", maxBatchBytes = 512)
      val db2 = new GraftDB(spark, root)
      val after = onBothExecutors(db2.collection("d1", "c").df.collect()
        .map(row => row.getLong(0) -> row.getString(1)).toMap)
      assert(after.keySet === want.keySet, s"seed=$seed post-rollup reread")
      after.foreach { case (id, doc) =>
        assert(canon(doc) === canon(want(id)), s"seed=$seed post-rollup id=$id")
      }
    }
  }
}
