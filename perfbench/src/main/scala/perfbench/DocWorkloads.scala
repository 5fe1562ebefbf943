package perfbench

import graft.api.GraftDB
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** The two docdb workloads. Each sets its collection up, then runs a
  * fixed number of identical operation cycles in a closed loop with one
  * client, so every seed does the same operations, commits, rollups and
  * snapshots. The cycle count follows `--seconds` through the cycle's
  * nominal length on a 4-core x86-64 VM. */
object DocWorkloads {
  val ClientOps = Seq("point_read", "query", "indexed_query", "commit", "signed_commit")

  /** Cycles that fill about `seconds` at `cycleS` seconds a cycle. */
  def cyclesFor(seconds: Double, cycleS: Double): Int = math.max(1, math.round(seconds / cycleS).toInt)

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Runs every step of `n` cycles; returns the window length in seconds. */
  private def loop(n: Int)(cycle: Int => Seq[() => Unit]): Double =
    timed((0 until n).foreach(i => cycle(i).foreach(_())))._1

  // ---- docdb_serve ----------------------------------------------------

  val ServeDocs = 20000
  val ServeBlocks = 4

  /** ~20k nested documents bulk-loaded in 4 blocks, masked updates and
    * deletes, a snapshot, a short tail of 4 blocks after it, then an
    * index on the final state. */
  private def serveSetup(spark: SparkSession, root: String, seed: Long): DocOps = {
    val ops = new DocOps(spark, root, new Tracer(spark, false), new Recorder)
    val gen = new DocGen(seed)
    ops.create()
    val per = ServeDocs / ServeBlocks
    for (b <- 1 to ServeBlocks)
      ops.bulkLoad(b.toLong, IndexedSeq.fill(per)(gen.doc()), spark.sparkContext.defaultParallelism)
    val ids = ops.model.docs.keys.toIndexedSeq
    for (_ <- 0 until 2) {
      val pick = gen.rnd.shuffle(ids).take(ServeDocs / 20)
      ops.update(pick, pick.map(_ => gen.patch()))
    }
    ops.delete(gen.rnd.shuffle(ids).take(ServeDocs / 50))
    ops.snapshot()
    ops.add(Seq.fill(20)(gen.doc()))
    val live = ops.model.docs.keys.toIndexedSeq
    val pick = gen.rnd.shuffle(live).take(20)
    ops.update(pick, pick.map(_ => gen.patch()))
    ops.delete(gen.rnd.shuffle(live).take(10))
    ops.add(Seq.fill(20)(gen.doc()))
    ops.db.addIndex(DocOps.Db, DocOps.Coll, "rate", "Int64Key")
    ops
  }

  /** Nominal length of one serve cycle (11 reads). */
  val ServeCycleS = 8.0

  def serve(spark: SparkSession, work: String, seed: Long, seconds: Double, trace: Boolean): WorkloadResult = {
    // one set-up: a 20k-doc load is most of a run's set-up time
    val (setupS, run) = timed(serveSetup(spark, s"$work/serve", seed))
    val rnd = new Random(seed * 31 + 7)
    val all = run.model.docs.keys.toIndexedSeq
    val gone = run.model.deleted.toIndexedSeq.sorted
    val absent = Seq.fill(8)(rnd.nextLong(1L << 40) + (1L << 40))
    def live() = all(rnd.nextInt(all.length))
    // one cycle: 7 point reads (live, deleted, absent) and 4 queries
    def cycle(i: Int): Seq[() => Unit] = Seq(
      () => run.pointRead(live()),
      () => run.query(DocQuery.queryStr(i, rnd, ServeDocs)),
      () => run.pointRead(live()),
      () => run.pointRead(if (gone.nonEmpty) gone(rnd.nextInt(gone.length)) else live()),
      () => run.query(DocQuery.structured(i, rnd)),
      () => run.pointRead(live()),
      () => run.pointRead(absent(rnd.nextInt(absent.length))),
      () => run.query(DocQuery.indexed(i, rnd)),
      () => run.pointRead(live()),
      () => run.query(DocQuery.queryStr(i + 2, rnd, ServeDocs)),
      () => run.pointRead(live()))
    cycle(0).foreach(_()) // warm-up, not timed; its results are still checked
    val warmFailures = run.rec.notes.toSeq.map("warm-up " + _)
    run.rec = new Recorder
    run.tailAtRead.clear()
    run.tr = new Tracer(spark, trace)
    val windowS = loop(cyclesFor(seconds, ServeCycleS))(i => cycle(i + 1))
    run.tr.finish()
    run.tr.writeSpans(java.nio.file.Paths.get(work, "spans.jsonl"))
    WorkloadResult.docdb("docdb_serve", setupS, "one set-up", windowS, run, warmFailures)
  }

  // ---- docdb_ingest ---------------------------------------------------

  val AdminKey = 1001L
  val WriterKey = 2002L
  val Setups = 3
  /** Nominal length of one ingest cycle, maintenance included. */
  val IngestCycleS = 10.0
  /** The set-up leaves about 11.4 KiB of log in the tail and each commit
    * adds 1.7–2.9 KiB whatever its size (four small files): 2.9 KiB for
    * a cycle's first commit, 11.2 KiB for the other five. So on every
    * seed the tail reaches 13 KiB at each cycle's first commit, which
    * rolls it up: one rollup per cycle. */
  val MinRollupBytes = 13L * 1024
  /** The read-only collection that the indexed queries read. */
  val ArchiveDocs = 2000

  /** The archive: 2,000 docs indexed on their final state, loaded once
    * before the timed set-ups. Each read of the cycle then runs once on
    * it, untimed but checked, so the JVM has run every read path before
    * the window. */
  private def archiveSetup(spark: SparkSession, root: String, seed: Long): DocOps = {
    val gen = new DocGen(seed + 1)
    val archive = new DocOps(spark, root, new Tracer(spark, false), new Recorder)
    archive.create()
    archive.bulkLoad(1, IndexedSeq.fill(ArchiveDocs)(gen.doc()), spark.sparkContext.defaultParallelism)
    archive.db.addIndex(DocOps.Db, DocOps.Coll, "rate", "Int64Key")
    val rnd = new Random(seed)
    archive.pointRead(archive.model.docs.lastKey)
    Seq(0, 2).foreach(t => archive.query(DocQuery.queryStr(t, rnd, 0)))
    (0 until 2).foreach(i => archive.query(DocQuery.structured(i, rnd)))
    archive.query(DocQuery.indexed(0, rnd))
    archive
  }

  /** One set-up of the written collection, with the pre-signed requests
    * and the generator that made them. */
  private final case class IngestSetup(ops: DocOps, reqs: IndexedSeq[SignedRequest], gen: DocGen)

  /** Signed `setup` with a small rollup threshold, 200 docs, `addIndex`,
    * and the requests the client signs before the timed region. */
  private def ingestSetup(spark: SparkSession, root: String, seed: Long, signedWrites: Int): IngestSetup = {
    val gen = new DocGen(seed)
    val ops = new DocOps(spark, root, new Tracer(spark, false), new Recorder)
    val (td, sig) = GraftDB.signedMutationRequest(
      Seq(s"""{"minRollupSizeBytes":$MinRollupBytes}"""), 1L, AdminKey)
    ops.db.setup(td, sig)
    ops.create()
    ops.add(Seq.fill(200)(gen.doc()))
    ops.db.addIndex(DocOps.Db, DocOps.Coll, "rate", "Int64Key")
    val reqs = (1 to signedWrites).map { n =>
      val docs = Seq.fill(3)(gen.doc())
      val (t, s) = GraftDB.signedMutationRequest(docs, n.toLong, WriterKey)
      SignedRequest(docs, n.toLong, t, s)
    }
    IngestSetup(ops, reqs, gen)
  }

  /** The closed-loop client. One cycle: 6 commits, each followed by the
    * rollup tick, a snapshot after the 5th, and 4 reads: getDoc of the
    * newest document, a query string, a structured query, and an
    * indexed query on the archive. Batch sizes are fixed, so every seed
    * rolls up and snapshots on the same schedule; the seed varies
    * documents, patches, touched ids and query parameters. */
  private final class IngestClient(st: IngestSetup, archive: DocOps, rnd: Random) {
    import st.{gen, ops}
    private var signedNext = 0
    private def ids = ops.model.docs.keys.toIndexedSeq

    private def commit(body: => Unit): Unit = { body; ops.rollupTick() }

    def cycle(i: Int): Seq[() => Unit] = Seq(
      () => commit(ops.add(Seq.fill(20)(gen.doc()))),
      () => commit {
        val pick = rnd.shuffle(ids).take(10)
        ops.update(pick, pick.map(_ => gen.patch()))
      },
      () => ops.pointRead(ids.last),
      () => commit { ops.signed(st.reqs(signedNext)); signedNext += 1 },
      () => ops.query(DocQuery.queryStr(if (i % 2 == 0) 0 else 2, rnd, 0)),
      () => commit(ops.add(Seq.fill(20)(gen.doc()))),
      () => commit(ops.delete(rnd.shuffle(ids).take(5))),
      () => ops.snapshot(),
      () => ops.query(DocQuery.structured(i, rnd)),
      () => commit { ops.signed(st.reqs(signedNext)); signedNext += 1 },
      () => archive.query(DocQuery.indexed(i, rnd)))
  }

  def ingest(spark: SparkSession, work: String, seed: Long, seconds: Double, trace: Boolean): WorkloadResult = {
    val n = cyclesFor(seconds, IngestCycleS)
    val archive = archiveSetup(spark, s"$work/archive", seed)
    val setups = (0 until Setups).map(i => timed(ingestSetup(spark, s"$work/ingest_$i", seed, 2 * n)))
    val setupS = Stats.median(setups.map(_._1))
    val st = setups.last._2
    val ops = st.ops
    val client = new IngestClient(st, archive, new Random(seed * 17 + 3))
    val warmFailures = archive.rec.notes.toSeq.map("warm-up " + _)
    ops.rec = new Recorder
    ops.tr = new Tracer(spark, trace)
    archive.rec = ops.rec
    archive.tr = ops.tr
    val windowS = loop(n)(client.cycle)
    ops.tr.finish()
    ops.tr.writeSpans(java.nio.file.Paths.get(work, "spans.jsonl"))
    // Known defect: addIndex is never maintained on later writes, so an
    // indexed query over a written-to collection reads a stale index.
    // Probed after the window, outside the measured operations.
    // The probes ask for the rate (and city) of the two newest documents
    // that have both, which the index, built before they were added,
    // cannot hold.
    val probe = new DocOps(spark, ops.root, new Tracer(spark, false), new Recorder)
    probe.model.docs ++= ops.model.docs
    val newest = ops.model.docs.toSeq.reverseIterator.flatMap { case (_, d) =>
      for (r <- ops.model.long(d, "rate"); c <- ops.model.text(d, "city")) yield (r, c)
    }.take(2).toSeq
    val stale = newest.zipWithIndex.count { case ((r, c), i) => !probe.query(DocQuery.indexedFor(i, r, c)) }
    val restart = ops.restartCheck()
    WorkloadResult.docdb("docdb_ingest", setupS, s"median of $Setups set-ups", windowS, ops,
      warmFailures ++ restart.map("restart check: " + _), staleIndex = Some((stale, newest.size)))
  }
}
