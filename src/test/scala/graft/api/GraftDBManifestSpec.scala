package graft.api

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** The driver-side manifest reader returns what Spark's parquet reader
  * returns for the same dir: the same rows and the same schema, with
  * commit litter ignored and a column a part file lacks read as null. */
class GraftDBManifestSpec extends SparkSpec {

  private val kinds: Seq[(String, StructType, (GraftDB, String, String) => DataFrame)] = Seq(
    ("rollup", GraftDB.rollupManifestSchema, _.scanRollupRecords(_, _)),
    ("gc", GraftDB.gcManifestSchema, _.scanGcRecords(_, _)),
    ("compact", GraftDB.compactManifestSchema, _.scanCompactRecords(_, _)),
    ("snapshot", GraftDB.snapshotManifestSchema, _.scanSnapshots(_, _)))

  /** Order-free, Seq-implementation-free row keys. */
  private def keys(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case s: Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def assertParity(db: GraftDB, root: String): Unit =
    kinds.foreach { case (kind, schema, scan) =>
      val read = spark.read.schema(schema).parquet(s"$root/d/c/manifest/$kind")
      val driver = scan(db, "d", "c")
      assert(driver.schema === read.schema, kind)
      assert(keys(driver.collect().toSeq) === keys(read.collect().toSeq), kind)
    }

  /** Three rollup runs and a snapshot after each (several appends to
    * every manifest), then compaction with its `replaced` arrays. */
  private def populated(): (GraftDB, String) = {
    val root = Files.createTempDirectory("graftmanifest").toString
    val db = new GraftDB(spark, root)
    db.createCollection("d", "c")
    (1 to 3).foreach { r =>
      (1 to 3).foreach(b => db.addDocuments("d", "c", (1 to 4).map(i => s"""{"r":$r,"b":$b,"i":$i}""")))
      db.rollup("d", "c", maxBatchBytes = 300)
      db.snapshot("d", "c")
    }
    assert(db.compactRollups("d", "c", targetBytes = 1L << 20) >= 1)
    db.addDocuments("d", "c", Seq("""{"tail":1}"""))
    (db, root)
  }

  test("driver rows equal Spark's read for every manifest kind") {
    val (db, root) = populated()
    kinds.foreach { case (kind, _, scan) =>
      val parts = new java.io.File(s"$root/d/c/manifest/$kind").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(parts >= 1, kind)
      assert(scan(db, "d", "c").count() >= 1, kind)
    }
    assert(db.scanCompactRecords("d", "c").collect()
      .forall(_.getAs[Seq[String]]("replaced").length >= 2))
    assertParity(db, root)
  }

  test("commit litter is skipped: _SUCCESS, .crc siblings, a crashed append's _temporary") {
    val (db, root) = populated()
    val before = kinds.map { case (_, _, scan) => keys(scan(db, "d", "c").collect().toSeq) }
    kinds.foreach { case (kind, _, _) =>
      val dir = new java.io.File(s"$root/d/c/manifest/$kind")
      val names = dir.listFiles().map(_.getName)
      assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), kind)
      // a crashed append leaves a whole part file under _temporary/
      val part = names.find(_.startsWith("part-")).get
      val tmp = dir.toPath.resolve("_temporary/0/_temporary/attempt_0")
      Files.createDirectories(tmp)
      Files.copy(dir.toPath.resolve(part), tmp.resolve(part))
    }
    assert(kinds.map { case (_, _, scan) => keys(scan(db, "d", "c").collect().toSeq) } === before)
    assertParity(db, root)
  }

  test("a part file lacking a schema column reads that column as null") {
    val (db, root) = populated()
    kinds.foreach { case (kind, schema, _) =>
      // drop the last column: path, mutation_count, replaced, path
      val short = StructType(schema.fields.init)
      val row = Row.fromSeq(short.fields.toSeq.map(f =>
        if (f.dataType == org.apache.spark.sql.types.StringType) "x" else 7L))
      spark.createDataFrame(java.util.List.of(row), short).coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$root/d/c/manifest/$kind")
    }
    assertParity(db, root)
    kinds.foreach { case (kind, schema, scan) =>
      val last = schema.fields.last.name
      assert(scan(db, "d", "c").collect().count(_.isNullAt(schema.fieldIndex(last))) === 1, kind)
    }
  }
}
