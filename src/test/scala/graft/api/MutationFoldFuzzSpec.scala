package graft.api

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec

/** State-machine fuzz of the mutation fold, on both of its executors:
  * random add / masked-update / whole-replace / delete streams are
  * applied through the GraftDB log and through a driver-side reference
  * map that applies the documented semantics directly (update on an
  * absent or tombstoned id is a no-op; mask fields replace,
  * mask-listed-but-absent fields delete, empty mask = whole replace;
  * delete tombstones). Interleaved at random: snapshots at random blocks
  * (`snapshot(db, coll, block)`, including blocks past the committed
  * one), rollups and compactions, lifecycle rows, and crash-duplicated
  * stamps (a committed tail file's rows landed twice, as a retried task
  * commit leaves them). Each stream asserts, at its final state and at a
  * random earlier block (`collectionAt` time travel), that the driver
  * fold, the Spark fold and the reference agree doc for doc. The Spark
  * fold runs on each stream's final state only, which keeps 500 streams
  * inside about a minute. Masked merges in the reference reuse
  * `GraftDB.mergeMasked` itself — the fuzz target is the fold (stamp
  * order, duplicate stamps, snapshot seeding, rollup compaction, the
  * driver plan's pruning), not the JSON merge arithmetic, which has its
  * own direct specs. `QueryFuzzSpec`/`GraftDBFuzzSpec` pin the query
  * paths against each other; this pins the fold they all read through.
  */
class MutationFoldFuzzSpec extends SparkSpec {

  private val Streams = 500
  private val FieldPool = Vector("a", "b", "c", "d")

  private def randomDoc(r: Random): String = {
    val n = 1 + r.nextInt(FieldPool.length)
    val fields = r.shuffle(FieldPool).take(n).sorted.map { f =>
      if (r.nextBoolean()) s""""$f":${r.nextInt(100)}"""
      else s""""$f":"s${r.nextInt(10)}""""
    }
    fields.mkString("{", ",", "}")
  }

  private def canon(doc: String): String = {
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JsonMethods.parse(doc)))
  }

  private def canonState(m: Iterable[(Long, String)]): Map[Long, String] =
    m.map { case (id, d) => id -> canon(d) }.toMap

  /** Copies one committed tail file beside itself: the same stamps twice. */
  private def duplicateTailFile(root: String, r: Random): Boolean = {
    val tail = Paths.get(root, "d1", "c", "mutations")
    val files = if (!Files.isDirectory(tail)) Seq.empty else
      Files.walk(tail).iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.toVector.sortBy(_.toString)
    if (files.isEmpty) false
    else {
      val f = files(r.nextInt(files.length))
      Files.copy(f, f.resolveSibling("part-dup-" + f.getFileName.toString.drop(5)),
        StandardCopyOption.REPLACE_EXISTING)
      true
    }
  }

  /** A stream's collection, its reference state and the failures of its
    * driver-side checks. */
  private final case class Stream(seed: Int, db: GraftDB, want: Map[Long, String], failures: Seq[String])

  /** One seeded stream, checked on the driver fold. */
  private def runStream(seed: Int): Stream = {
    val r = new Random(9200L + seed)
    val root = Files.createTempDirectory("graft_fold_fuzz").toString
    val db = new GraftDB(spark, root)
    db.createCollection("d1", "c")
    var ref = Map.empty[Long, String]
    var refAt = Map.empty[Long, Map[Long, String]] // state after each committed block
    var block = -1L
    var knownIds = Vector.empty[Long] // includes tombstoned ids
    def commit(): Unit = { block += 1; refAt += block -> ref }
    for (_ <- 1 to 3 + r.nextInt(3)) {
      r.nextInt(20) match {
        case 0 | 1 | 2 | 3 | 4 => // add 1-4 docs
          val docs = (0 until 1 + r.nextInt(4)).map(_ => randomDoc(r))
          val ids = db.addDocuments("d1", "c", docs)
          ref ++= ids.zip(docs)
          knownIds ++= ids
          commit()
        case 5 | 6 | 7 | 8 => // masked or whole update; ids may repeat, be dead or absent
          val ids = (0 until 1 + r.nextInt(4)).map { _ =>
            if (knownIds.isEmpty || r.nextInt(6) == 0) 1000L + r.nextInt(5)
            else knownIds(r.nextInt(knownIds.length))
          }
          val docs = ids.map(_ => randomDoc(r))
          val masks = ids.map { _ =>
            if (r.nextInt(3) == 0) Seq.empty[String] // whole replace
            else r.shuffle(FieldPool).take(1 + r.nextInt(3))
          }
          db.updateDocuments("d1", "c", ids, docs, masks)
          ids.indices.foreach { i =>
            ref.get(ids(i)).foreach { base => // absent/tombstoned: no-op
              ref += ids(i) -> GraftDB.mergeMasked(base, docs(i),
                if (masks(i).isEmpty) None else Some(masks(i).mkString(",")))
            }
          }
          commit()
        case 9 | 10 if knownIds.nonEmpty => // delete (possibly already dead)
          val ids = (0 until 1 + r.nextInt(2))
            .map(_ => knownIds(r.nextInt(knownIds.length))).distinct
          db.deleteDocuments("d1", "c", ids)
          ref --= ids
          commit()
        case 11 => // snapshot at a random block, past the committed one too
          db.snapshot("d1", "c", r.nextLong(block + 3) - 1)
        case 12 | 13 => // rollup (every other stream), sometimes compacted after
          if (seed % 2 == 0) {
            db.rollup("d1", "c", maxBatchBytes = 64 + r.nextInt(512))
            if (r.nextInt(3) == 0) db.compactRollups("d1", "c", targetBytes = 1L << 20)
          }
        case 14 => // a lifecycle row: rides the log, never touches docs
          db.createEventDb("d1", "c")
          commit()
        case 15 | 16 | 17 => // a crash-duplicated stamp set
          duplicateTailFile(root, r)
        case _ => // a whole-doc replace of one live id
          if (ref.nonEmpty) {
            val id = ref.keys.toVector.sorted.apply(r.nextInt(ref.size))
            val doc = randomDoc(r)
            db.updateDocuments("d1", "c", Seq(id), Seq(doc), Seq(Nil))
            ref += id -> doc
            commit()
          }
      }
    }
    val failures = Seq.newBuilder[String]
    def check(what: String, got: Map[Long, String], want: Map[Long, String]): Unit =
      if (got != want) failures += s"seed=$seed $what: got=$got want=$want"
    val want = canonState(ref)
    val driver = db.driverFold("d1", "c", Long.MaxValue, None)
    if (driver.isEmpty) failures += s"seed=$seed: the driver fold declined a tiny log"
    driver.foreach(d => check("driver fold", canonState(d.rows), want))
    if (block >= 0) { // time travel, through the public read
      val at = r.nextLong(block + 1)
      check(s"collectionAt($at)", canonState(db.collectionAt("d1", "c", at).df.collect()
        .map(row => row.getLong(0) -> row.getString(1))), canonState(refAt(at)))
    }
    // a point read of a live, a tombstoned and a never-assigned id
    val probeIds = (ref.keys.headOption.toSeq ++ knownIds.filterNot(ref.contains).headOption :+ 1003L)
    probeIds.foreach { id =>
      val got = db.getDoc("d1", "c", id).map(canon)
      if (got != want.get(id)) failures += s"seed=$seed getDoc($id): got=$got want=${want.get(id)}"
    }
    Stream(seed, db, want, failures.result())
  }

  /** The Spark fold of each stream's final state, a batch of streams per
    * collect (a union of their folds): its failures. */
  private def sparkCheck(batch: Seq[Stream]): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    val rows = batch.map(s => s.db.sparkFold("d1", "c", Long.MaxValue, None).withColumn("seed", lit(s.seed)))
      .reduce(_ unionByName _).collect()
    val got = rows.groupBy(_.getInt(2)).map { case (seed, rs) =>
      seed -> canonState(rs.map(row => row.getLong(0) -> row.getString(1)))
    }
    batch.flatMap { s =>
      val g = got.getOrElse(s.seed, Map.empty[Long, String])
      if (g == s.want) None else Some(s"seed=${s.seed} Spark fold: got=$g want=${s.want}")
    }
  }

  test("replay applies each stamp once, in stamp order, whatever the input order") {
    // Pure, no Spark: random mutation lists for one id against an
    // in-order reference. Shuffling the input must not matter (the Spark
    // fold's group order is arbitrary), and a second row at a taken
    // stamp, as a retried write lands it, must change nothing even when
    // its content differs.
    val r = new Random(9100)
    def row(b: Long, o: Int): GraftDB.MutationRow = r.nextInt(4) match {
      case 0 | 1 => GraftDB.MutationRow(b, o, GraftDB.ActionUpdate, 7L, randomDoc(r),
        if (r.nextBoolean()) null else r.shuffle(FieldPool).take(1 + r.nextInt(3)).mkString(","))
      case 2 => GraftDB.MutationRow(b, o, GraftDB.ActionAdd, 7L, randomDoc(r), null)
      case _ => GraftDB.MutationRow(b, o, GraftDB.ActionDelete, 7L, null, null)
    }
    for (_ <- 1 to 5000) {
      val stamps = r.shuffle((0L until 4L).flatMap(b => (0 until 3).map(o => (b, o))))
        .take(1 + r.nextInt(8)).sorted
      val muts = stamps.map { case (b, o) => row(b, o) }
      val want = muts.foldLeft(Option.empty[String]) { (doc, m) =>
        m.action match {
          case GraftDB.ActionAdd => Some(m.doc)
          case GraftDB.ActionDelete => None
          case _ => doc.map(GraftDB.mergeMasked(_, m.doc, Option(m.mask)))
        }
      }
      assert(GraftDB.replay(r.shuffle(muts)) === want)
      val retried = muts.filter(_ => r.nextBoolean()).map { case GraftDB.MutationRow(b, o, _, _, _, _) => row(b, o) }
      assert(GraftDB.replay(muts ++ retried) === want)
    }
  }

  test(s"driver fold == Spark fold == reference on $Streams mutation streams") {
    val pool = Executors.newFixedThreadPool(6)
    try {
      def async[T](body: => T) = pool.submit(new Callable[T] { def call(): T = body })
      val streams = (1 to Streams).map(seed => async(runStream(seed)))
        .map(_.get(10, TimeUnit.MINUTES))
      val sparkFailures = streams.grouped(25).toSeq.map(b => async(sparkCheck(b)))
        .flatMap(_.get(10, TimeUnit.MINUTES))
      val failures = streams.flatMap(_.failures) ++ sparkFailures
      assert(failures.isEmpty, failures.take(5).mkString("\n"))
    } finally pool.shutdownNow()
  }
}
