package perfbench

import scala.util.Random

class ModelSpec extends SparkSuite {
  private def tinyCollection(): DocOps = {
    val ops = new DocOps(spark, tempDir(), new Tracer(spark, false), new Recorder)
    val gen = new DocGen(7)
    ops.create()
    ops.bulkLoad(1, IndexedSeq.fill(60)(gen.doc()), 3)
    val ids = ops.model.docs.keys.toIndexedSeq
    ops.update(ids.take(20), Seq.fill(20)(gen.patch()))
    ops.delete(ids.slice(20, 25))
    ops.snapshot()
    ops.add(Seq.fill(5)(gen.doc()))
    ops.update(ids.slice(30, 35), Seq.fill(5)(gen.patch()))
    ops
  }

  test("the model matches GraftDB on a tiny seed") {
    val ops = tinyCollection()
    val rnd = new Random(3)
    ops.model.docs.keys.foreach(ops.pointRead)
    ops.model.deleted.foreach(ops.pointRead)
    ops.pointRead(1L << 50)
    (0 until 5).foreach(i => ops.query(DocQuery.queryStr(i, rnd, 60)))
    (0 until 2).foreach(i => ops.query(DocQuery.structured(i, rnd)))
    assert(ops.rec.failures.isEmpty, ops.rec.notes.mkString("\n"))
    assert(ops.restartCheck().isEmpty)
    // an index built on the final state answers correctly
    ops.db.addIndex(DocOps.Db, DocOps.Coll, "rate", "Int64Key")
    (0 until 4).foreach(i => ops.query(DocQuery.indexed(i, rnd)))
    assert(ops.rec.failures.isEmpty, ops.rec.notes.mkString("\n"))
  }

  test("a planted wrong result is flagged as a failed operation") {
    val ops = tinyCollection()
    val id = ops.model.docs.keys.head
    ops.model.update(id, """{"rate":12345}""", Seq("rate")) // the model now disagrees
    ops.pointRead(id)
    assert(ops.rec.failures("point_read") == 1)
    val q = DocQuery.queryStr(0, new Random(1), 60)
    ops.query(q.copy(expect = m => q.expect(m) :+ "0|{}"))
    assert(ops.rec.failures("query") == 1)
    assert(ops.restartCheck().nonEmpty)
  }

  test("DocumentMask: a masked field missing from the patch is deleted") {
    val m = new DocModel
    m.add(1, """{"a":1,"b":2,"c":3}""")
    m.update(1, """{"a":9}""", Seq("a", "b"))
    assert(m.get(1).contains("""{"a":9,"c":3}"""))
    m.update(1, """{"z":1}""", Nil)
    assert(m.get(1).contains("""{"z":1}"""))
  }
}
