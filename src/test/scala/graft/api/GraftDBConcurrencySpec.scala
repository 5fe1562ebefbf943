package graft.api

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.Try

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multi-writer race proofs for the manifest/state protocol — the other
  * half of the table-format contract after GraftDBCrashSpec's
  * single-writer crash windows. TWO GraftDB instances (same filesystem,
  * separate objects — the lock path is JVM-monitor + FileChannel, so the
  * same serialization holds across processes) race addDocuments /
  * updateDocuments / rollup / appendDocumentsAt on ONE collection.
  * Reference semantics being pinned: block assignment is serialized
  * through the store (mutation_store.rs:444
  * increase_block_return_last_state) and nonces are monotone per sender
  * (state_store.rs) — no duplicate blocks, no skipped blocks, no lost
  * writes, readers never see a torn state.
  */
class GraftDBConcurrencySpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-conc").toString

  /** Run `n` tasks concurrently (all released by one latch), propagate
    * the first failure. */
  private def race(n: Int)(task: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try task(i) catch { case t: Throwable => fails.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "race timed out")
    if (!fails.isEmpty) throw fails.peek()
  }

  test("racing addDocuments from two instances: blocks contiguous, ids unique, nothing lost") {
    val root = freshRoot()
    val dbA = new GraftDB(spark, root)
    val dbB = new GraftDB(spark, root)
    dbA.createCollection("d", "c")
    val writers = 6
    val batches = 5
    race(writers) { i =>
      val db = if (i % 2 == 0) dbA else dbB
      for (b <- 0 until batches)
        db.addDocuments("d", "c", Seq(s"""{"w":$i,"b":$b,"x":1}""", s"""{"w":$i,"b":$b,"x":2}"""))
    }
    val log = dbA.mutationLog("d", "c")
    val total = writers * batches
    // serialized block assignment: exactly one batch per block, blocks
    // 0..total-1 with no duplicates and no gaps
    val blocks = log.select("block").distinct().as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    assert(blocks.toSeq === (0L until total.toLong), s"blocks: ${blocks.mkString(",")}")
    val perBlock = log.groupBy("block").count().select("count").distinct().collect()
    assert(perBlock.map(_.getLong(0)).toSeq === Seq(2L), "every block holds exactly its batch")
    // ids dense and unique (2 docs per batch)
    val ids = log.select("id").as[Long](spark.implicits.newLongEncoder).collect().sorted
    assert(ids.toSeq === (0L until 2L * total), "doc ids must be dense and unique")
    // the state cell converged to the last block / next id
    assert(dbB.nextBlockId("d", "c") === total.toLong)
    assert(dbA.collection("d", "c").df.count() === 2L * total)
  }

  test("racing updates on one doc: every update lands in its own block, latest wins deterministically") {
    val root = freshRoot()
    val dbA = new GraftDB(spark, root)
    val dbB = new GraftDB(spark, root)
    dbA.createCollection("d", "c")
    val Seq(id) = dbA.addDocuments("d", "c", Seq("""{"v":0}"""))
    val writers = 8
    race(writers) { i =>
      val db = if (i % 2 == 0) dbA else dbB
      db.updateDocuments("d", "c", Seq(id), Seq(s"""{"v":${i + 1}}"""), Seq(Seq.empty))
    }
    val log = dbA.mutationLog("d", "c")
    assert(log.count() === (writers + 1).toLong)
    assert(log.select("block").distinct().count() === (writers + 1).toLong,
      "each racing update must be serialized into its own block")
    // the fold resolves to the update in the HIGHEST block (latest-wins)
    val lastV = log.orderBy(col("block").desc).limit(1)
      .select(get_json_object(col("doc"), "$.v")).head().getString(0)
    val folded = dbB.collection("d", "c").df
      .select(get_json_object(col("doc"), "$.v")).head().getString(0)
    assert(folded === lastV)
  }

  test("rollup racing a writer: the GC never eats a concurrent append") {
    val root = freshRoot()
    val dbA = new GraftDB(spark, root)
    val dbB = new GraftDB(spark, root)
    dbA.createCollection("d", "c")
    for (i <- 0 until 6)
      dbA.addDocuments("d", "c", Seq(s"""{"seed":$i,"pad":"xxxxxxxxxxxxxxxx"}"""))
    val appended = new java.util.concurrent.atomic.AtomicInteger(0)
    race(4) {
      case 0 => dbA.rollup("d", "c", maxBatchBytes = 64L)
      case 1 => dbB.rollup("d", "c", maxBatchBytes = 64L)
      case i =>
        for (b <- 0 until 4) {
          val db = if (i % 2 == 0) dbA else dbB
          db.addDocuments("d", "c", Seq(s"""{"late":$i,"b":$b}"""))
          appended.incrementAndGet()
        }
    }
    val log = dbB.mutationLog("d", "c")
    // nothing lost: all seeds and all late writes are present exactly once
    assert(log.count() === (6 + appended.get()).toLong)
    assert(log.select("id").distinct().count() === (6 + appended.get()).toLong)
    // no block manifested twice (two racing drains must not both roll a
    // block) and ranges never overlap
    val recs = dbA.scanRollupRecords("d", "c")
      .select("start_block", "end_block").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    recs.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi >= $lo2")
      case _ =>
    }
    // a follow-up rollup drains the survivors; the full log still folds
    dbA.rollup("d", "c", maxBatchBytes = 64L)
    assert(dbB.mutationLog("d", "c").count() === (6 + appended.get()).toLong)
    assert(dbB.collection("d", "c").df.count() === (6 + appended.get()).toLong)
  }

  test("racing appendDocumentsAt state bumps: max-merge never loses a block") {
    import spark.implicits._
    val root = freshRoot()
    val dbA = new GraftDB(spark, root)
    val dbB = new GraftDB(spark, root)
    dbA.createCollection("d", "c")
    val blocks = 6
    race(blocks) { i =>
      val db = if (i % 2 == 0) dbA else dbB
      db.appendDocumentsAt("d", "c", i.toLong,
        Seq(s"""{"blk":$i}""").toDF("doc"))
    }
    // the state cell reflects the HIGHEST block even though bumps raced
    assert(dbA.nextBlockId("d", "c") === blocks.toLong)
    assert(dbB.collection("d", "c").df.count() === blocks.toLong)
    // and a sequenced writer continues after them without colliding
    dbA.addDocuments("d", "c", Seq("""{"after":true}"""))
    val log = dbA.mutationLog("d", "c")
    assert(log.select("block").distinct().count() === (blocks + 1).toLong)
  }

  test("racing snapshots + writer: manifest rows all valid, reads stay consistent") {
    val root = freshRoot()
    val dbA = new GraftDB(spark, root)
    val dbB = new GraftDB(spark, root)
    dbA.createCollection("d", "c")
    for (i <- 0 until 5) dbA.addDocuments("d", "c", Seq(s"""{"i":$i}"""))
    race(4) {
      case 0 => dbA.snapshot("d", "c")
      case 1 => dbB.snapshot("d", "c")
      case i =>
        for (b <- 0 until 3) {
          val db = if (i % 2 == 0) dbA else dbB
          db.addDocuments("d", "c", Seq(s"""{"late":$i,"b":$b}"""))
        }
    }
    // every manifested snapshot is materialized and counts a valid prefix
    val snaps = dbA.scanSnapshots("d", "c").collect()
    assert(snaps.nonEmpty)
    snaps.foreach { s =>
      assert(new java.io.File(s.getAs[String]("path")).isDirectory)
      val at = s.getAs[Long]("block")
      assert(dbB.collectionAt("d", "c", at).df.count() === s.getAs[Long]("n_docs"))
    }
    // the final fold (snapshot-seeded) equals the raw count
    assert(dbA.collection("d", "c").df.count() === 11L)
  }

  test("cross-PROCESS writers: the FileChannel lock serializes block assignment") {
    // same-JVM races above are serialized by the monitor half of the
    // lock; this one proves the FileChannel half: two SEPARATE JVMs
    // (own SparkSessions) race addDocuments against this JVM's instance
    // on one collection root. A ready/go file barrier aligns the write
    // loops despite Spark-startup skew.
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val db = new GraftDB(spark, s"$root/db")
    db.createCollection("d", "c")
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
    val batches = 4
    val procs = Seq("p1", "p2").map { tag =>
      val cmd = (Seq(javaBin) ++ opens ++ Seq("-Xmx1500m", "-cp", cp,
        "graft.api.RaceWriter", root, tag, batches.toString)).asJava
      new ProcessBuilder(cmd)
        .redirectOutput(new java.io.File(root, s"out_$tag.log"))
        .redirectErrorStream(true)
        .start()
    }
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!Seq("p1", "p2").forall(t =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(root, s"ready_$t")))) {
        assert(System.nanoTime() < deadline, {
          val logs = Seq("p1", "p2").map { t =>
            val f = new java.io.File(root, s"out_$t.log")
            s"--- $t ---\n" + (if (f.exists()) scala.io.Source.fromFile(f).mkString.takeRight(2000) else "(no log)")
          }
          "subprocess never became ready:\n" + logs.mkString("\n")
        })
        Thread.sleep(50)
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "go"),
        Array.emptyByteArray)
      // this JVM races its own batches while the subprocesses write
      for (b <- 0 until batches)
        db.addDocuments("d", "c", Seq(s"""{"w":"parent","b":$b}"""))
      procs.foreach { p =>
        assert(p.waitFor(120, TimeUnit.SECONDS), "subprocess timed out")
        assert(p.exitValue() === 0, "subprocess failed — see out_*.log")
      }
    } finally procs.foreach(p => if (p.isAlive) p.destroyForcibly())
    val total = 3 * batches
    val log = db.mutationLog("d", "c")
    val blocks = log.select("block").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted
    // one batch per block, blocks contiguous, nothing lost across JVMs
    assert(blocks.toSeq === (0L until total.toLong),
      s"cross-process blocks: ${blocks.mkString(",")}")
    val ids = log.select("id").as[Long](spark.implicits.newLongEncoder).collect().sorted
    assert(ids.toSeq === (0L until total.toLong))
    assert(db.collection("d", "c").df.count() === total.toLong)
  }

  test("tail sizing and log reads race a rollup's GC without an exception") {
    val root = freshRoot()
    val writer = new GraftDB(spark, root)
    val reader = new GraftDB(spark, root)
    writer.createCollection("d", "c")
    @volatile var done = false
    val polls = new java.util.concurrent.atomic.AtomicInteger(0)
    val readerFail = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val poller = new Thread(() => {
      try {
        while (!done) {
          reader.tailBytes("d", "c")
          reader.mutationLog("d", "c")
          onSpark(reader.collection("d", "c").df)
          reader.getMutationHeader("d", "c", 0L, 0)
          reader.getMutationBody("d", "c", 0L, 0)
          reader.scanMutationHeaders("d", "c", 0, 10)
          reader.getBlock("d", "c", 0L)
          reader.mutationState("d", "c")
          reader.syncStatus()
          onSpark(reader.collectionState("d", "c"))
          polls.incrementAndGet()
        }
      } catch { case t: Throwable => readerFail.set(t) }
    })
    poller.start()
    try {
      // every rollup's GC deletes the tail files and prunes the emptied
      // block dirs while the reader lists them, unlocked
      for (i <- 0 until 30) {
        writer.addDocuments("d", "c", Seq(s"""{"i":$i}"""))
        writer.rollup("d", "c")
      }
    } finally {
      done = true
      poller.join(60000)
    }
    if (readerFail.get() != null) throw readerFail.get()
    assert(polls.get() > 0)
    assert(reader.tailBytes("d", "c") === 0L)
    assert(reader.mutationLog("d", "c").count() === 30L)
  }

  test("a frame built before a rollup's GC fails its job, never returns fewer rows") {
    val db = new GraftDB(spark, freshRoot())
    db.createCollection("d", "c")
    (0 until 3).foreach(i => db.addDocuments("d", "c", Seq(s"""{"i":$i}""", s"""{"i":${i + 10}}""")))
    val folded = onSpark(db.collection("d", "c").df)
    val log = db.mutationLog("d", "c")
    db.rollup("d", "c") // its GC deletes every tail file both frames read
    for (df <- Seq(folded, log)) {
      val e = intercept[Exception](df.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.FileNotFoundException]), e)
    }
    // built again, both read every row from the rolled-up batch
    assert(onSpark(db.collection("d", "c").df.count()) === 6L)
    assert(db.mutationLog("d", "c").count() === 6L)
  }

  test("mid-race readers: counts only grow, ids never duplicate") {
    val root = freshRoot()
    val dbA = new GraftDB(spark, root)
    val dbB = new GraftDB(spark, root)
    dbA.createCollection("d", "c")
    dbA.addDocuments("d", "c", Seq("""{"seed":0}"""))
    @volatile var writersDone = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val readerFail = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      try {
        while (!writersDone) {
          val df = dbB.collection("d", "c").df
          val ids = df.select("_id").as[Long](spark.implicits.newLongEncoder).collect()
          assert(ids.length === ids.distinct.length, "duplicate ids visible mid-race")
          seen.add(ids.length.toLong)
        }
      } catch { case t: Throwable => readerFail.set(t) }
    })
    reader.start()
    race(4) { i =>
      for (b <- 0 until 4)
        (if (i % 2 == 0) dbA else dbB).addDocuments("d", "c", Seq(s"""{"w":$i,"b":$b}"""))
    }
    writersDone = true
    reader.join(60000)
    if (readerFail.get() != null) throw readerFail.get()
    // monotone visibility: each observed count ≥ the previous one
    val counts = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    counts.sliding(2).foreach {
      case Array(a, b) => assert(b >= a, s"count regressed mid-race: $a -> $b")
      case _ =>
    }
    assert(dbA.collection("d", "c").df.count() === 17L)
  }
}
