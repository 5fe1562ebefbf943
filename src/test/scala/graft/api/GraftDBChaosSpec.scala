package graft.api

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Chaos fuzz of the manifest protocol: GraftDBCrashSpec proves each
  * crash window in isolation on a hand-written schedule; this drives a
  * RANDOM op stream (add / masked update / delete / appendAt / snapshot
  * / rollup) where any op may crash at a randomly chosen armed
  * failpoint and is then retried — the at-least-once-data /
  * exactly-once-commit contract under arbitrary interleavings of crash,
  * retry, compaction and snapshot seeding. A driver-side reference
  * model applies the documented semantics once per op (a crashed
  * attempt must contribute NOTHING beyond its retry); the fold must
  * equal the model at every checkpoint, and the manifests must end
  * consistent (non-overlapping rollup ranges, every manifested dir
  * present).
  */
class GraftDBChaosSpec extends SparkSpec {
  import spark.implicits._

  private class Boom extends RuntimeException("injected crash")

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

  // default 4 seeds in-suite; SPARK_GRAFT_CHAOS_SEEDS raises it for soaks
  private val Seeds =
    sys.env.getOrElse("SPARK_GRAFT_CHAOS_SEEDS", "4").toInt.max(1)

  test(s"random crash-retry schedules converge to the reference model ($Seeds seeds)") {
    for (seed <- 1 to Seeds) {
      val r = new Random(31000 + seed)
      val root = Files.createTempDirectory("graft_chaos").toString
      val db = new GraftDB(spark, root)
      db.createCollection("d1", "c")
      var ref = Map.empty[Long, String]
      var known = Vector.empty[Long]
      var crashes = 0

      /** Run `op`; with ~40% probability first run it once with a
        * randomly chosen window armed. If the armed run reaches the
        * failpoint it crashes and is retried clean — the crashed
        * attempt must contribute nothing the retry doesn't. An armed
        * window is NOT guaranteed reachable (rollup legitimately
        * no-ops on an empty or already-rolled tail before any
        * failpoint fires): a clean completion of the armed run IS the
        * result — re-running a non-idempotent op would double-apply. */
      def chaotic[T](windows: Seq[String])(op: => T): T = {
        if (windows.nonEmpty && r.nextInt(10) < 4) {
          val w = windows(r.nextInt(windows.length))
          db.failpoint = l => if (l == w) throw new Boom
          val armed =
            try Right(op)
            catch { case _: Boom => Left(()) }
          db.failpoint = _ => ()
          armed match {
            case Right(result) => return result // failpoint never reached
            case Left(_)       => crashes += 1
          }
        }
        op
      }

      val steps = 16 + r.nextInt(8)
      for (step <- 1 to steps) {
        r.nextInt(12) match {
          case 0 | 1 | 2 => // add 1-3 docs
            val docs = (0 until 1 + r.nextInt(3)).map(_ => randomDoc(r))
            val ids = chaotic(Seq("addDocuments:afterAppend")) {
              db.addDocuments("d1", "c", docs)
            }
            ref ++= ids.zip(docs)
            known ++= ids
          case 3 | 4 if known.nonEmpty => // masked or whole update
            val id = known(r.nextInt(known.length))
            val doc = randomDoc(r)
            val mask =
              if (r.nextInt(3) == 0) Seq.empty[String]
              else r.shuffle(FieldPool).take(1 + r.nextInt(3)).toSeq
            chaotic(Seq("updateDocuments:afterAppend")) {
              db.updateDocuments("d1", "c", Seq(id), Seq(doc), Seq(mask))
            }
            ref.get(id).foreach { base =>
              ref += id -> GraftDB.mergeMasked(base, doc,
                if (mask.isEmpty) None else Some(mask.mkString(",")))
            }
          case 5 if known.nonEmpty => // delete
            val id = known(r.nextInt(known.length))
            chaotic(Seq("deleteDocuments:afterAppend")) {
              db.deleteDocuments("d1", "c", Seq(id))
            }
            ref -= id
          case 6 => // partition-parallel append of one explicit block
            val block = db.nextBlockId("d1", "c") + r.nextInt(2) // maybe a gap
            val doc = randomDoc(r)
            chaotic(Seq("appendAt:afterData")) {
              db.appendDocumentsAt("d1", "c", block,
                Seq(doc).toDF("doc").coalesce(1))
            }
            val id = block * GraftDB.IdStride
            ref += id -> doc
            known :+= id
          case 7 | 8 => // snapshot: later folds seed from it
            chaotic(Seq("snapshot:afterData")) { db.snapshot("d1", "c") }
          case _ => // rollup: three distinct crash windows
            chaotic(Seq("rollup:afterData", "rollup:afterManifest",
              "rollup:afterGc")) {
              db.rollup("d1", "c", maxBatchBytes = 512)
            }
        }
        if (step % 5 == 0 || step == steps) {
          val got = onBothExecutors(db.collection("d1", "c").df.collect()
            .map(row => row.getLong(0) -> row.getString(1)).toMap)
          assert(got.keySet === ref.keySet,
            s"seed=$seed step=$step crashes=$crashes: " +
              s"got=${got.keySet.toSeq.sorted} want=${ref.keySet.toSeq.sorted}")
          got.foreach { case (id, doc) =>
            assert(canon(doc) === canon(ref(id)),
              s"seed=$seed step=$step id=$id")
          }
        }
      }
      assert(crashes > 0, s"seed=$seed never crashed — chaos rate too low")

      // manifest invariants after the dust settles: rollup ranges are
      // disjoint and ordered, every manifested dir exists on disk
      val recs = db.scanRollupRecords("d1", "c")
        .select("start_block", "end_block", "path").collect()
        .map(rw => (rw.getLong(0), rw.getLong(1), rw.getString(2)))
        .sortBy(_._1)
      recs.sliding(2).foreach {
        case Array((_, hi, _), (lo2, _, _)) =>
          assert(hi < lo2, s"seed=$seed overlapping rollup ranges")
        case _ =>
      }
      recs.foreach { case (_, _, p) =>
        assert(new java.io.File(p).isDirectory, s"seed=$seed missing $p")
      }
      // and one more rollup + a fresh-instance read both still agree
      db.rollup("d1", "c", maxBatchBytes = 512)
      val db2 = new GraftDB(spark, root)
      val after = onBothExecutors(db2.collection("d1", "c").df.collect()
        .map(row => row.getLong(0) -> row.getString(1)).toMap)
      assert(after.keySet === ref.keySet, s"seed=$seed post-rollup reread")
      after.foreach { case (id, doc) =>
        assert(canon(doc) === canon(ref(id)), s"seed=$seed post-rollup id=$id")
      }
    }
  }
}
