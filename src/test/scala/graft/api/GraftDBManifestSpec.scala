package graft.api

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path}

/** Manifests are JSON records, one file per append, read on the driver:
  * every `scan*` returns exactly the appended records with its nullable
  * schema, a temp or `_`/`.`-prefixed name is skipped, a key a record
  * lacks reads as null, and a dir still holding parquet part files from
  * before the records were JSON fails the read instead of hiding them. */
class GraftDBManifestSpec extends SparkSpec {

  private val kinds: Seq[(String, StructType, (GraftDB, String, String) => DataFrame)] = Seq(
    ("rollup", GraftDB.rollupManifestSchema, _.scanRollupRecords(_, _)),
    ("gc", GraftDB.gcManifestSchema, _.scanGcRecords(_, _)),
    ("compact", GraftDB.compactManifestSchema, _.scanCompactRecords(_, _)),
    ("snapshot", GraftDB.snapshotManifestSchema, _.scanSnapshots(_, _)))

  /** Order-free, Seq-implementation-free row keys. */
  private def keys(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def scanKeys(db: GraftDB): Seq[Seq[String]] =
    kinds.map { case (_, _, scan) => keys(scan(db, "d", "c").collect().toSeq) }

  private def fresh(): (GraftDB, String) = {
    val root = Files.createTempDirectory("graftmanifest").toString
    val db = new GraftDB(spark, root)
    db.createCollection("d", "c")
    (db, root)
  }

  /** Three rollup runs and a snapshot after each (several appends to
    * every manifest), then compaction with its `replaced` lists. */
  private def populated(): (GraftDB, String, Seq[GraftDB.RollupRecord]) = {
    val (db, root) = fresh()
    val rolled = (1 to 3).flatMap { r =>
      (1 to 3).foreach(b => db.addDocuments("d", "c", (1 to 4).map(i => s"""{"r":$r,"b":$b,"i":$i}""")))
      val recs = db.rollup("d", "c", maxBatchBytes = 300)
      db.snapshot("d", "c")
      recs
    }
    assert(db.compactRollups("d", "c", targetBytes = 1L << 20) >= 1)
    db.addDocuments("d", "c", Seq("""{"tail":1}"""))
    (db, root, rolled)
  }

  private def manifestDir(root: String, kind: String): Path =
    java.nio.file.Paths.get(s"$root/d/c/manifest/$kind")

  test("every scan returns exactly the appended records with its schema") {
    val (db, _) = fresh()
    // two appends per kind, one of them of two records; longs past 2^53
    // and a list of paths round-trip
    val appended = Map(
      "rollup" -> Seq(Seq(Row(0L, 4L, 9L, 100L, 200L, "r/a"), Row(5L, 6L, 2L, 10L, 20L, "r/b")),
        Seq(Row(7L, Long.MaxValue, 1L, 1L, 1L, "r/c"))),
      "gc" -> Seq(Seq(Row(0L, 6L, 11L)), Seq(Row(7L, 7L, 1L), Row(8L, 9L, (1L << 53) + 1))),
      "compact" -> Seq(Seq(Row(0L, 6L, 11L, 50L, "c/x", Seq("r/a", "r/b"))),
        Seq(Row(7L, 9L, 2L, 5L, "c/y", Seq.empty[String]))),
      "snapshot" -> Seq(Seq(Row(3L, 12L, "s/3")), Seq(Row(9L, 0L, "s/9"))))
    kinds.foreach { case (kind, schema, scan) =>
      appended(kind).foreach(db.appendManifest("d", "c", kind, _, schema))
      val df = scan(db, "d", "c")
      assert(df.schema === StructType(schema.map(_.copy(nullable = true))), kind)
      assert(keys(df.collect().toSeq) === keys(appended(kind).flatten), kind)
    }
    // records written by the operations themselves: the rollup manifest
    // holds what the rollups returned, every append is one JSON file
    val (real, root, rolled) = populated()
    assert(keys(real.scanRollupRecords("d", "c").collect().toSeq) ===
      keys(rolled.map(Row.fromTuple)))
    assert(real.scanCompactRecords("d", "c").collect()
      .forall(_.getAs[Seq[String]]("replaced").length >= 2))
    kinds.foreach { case (kind, _, scan) =>
      val names = manifestDir(root, kind).toFile.list().toSeq
      assert(names.nonEmpty && names.forall(_.endsWith(".json")), s"$kind: $names")
      assert(scan(real, "d", "c").count() >= names.length, kind)
    }
  }

  test("a crashed append temp file and every _ or . name are skipped") {
    val (db, root, _) = populated()
    val before = scanKeys(db)
    kinds.foreach { case (kind, _, _) =>
      val dir = manifestDir(root, kind)
      val rec = dir.toFile.list().sorted.head
      // a crash between the temp write and its move leaves the temp file
      Files.copy(dir.resolve(rec), dir.resolve(".99999999999999999999.json.tmp"))
      Files.copy(dir.resolve(rec), dir.resolve(s"_$rec"))
      Files.createDirectories(dir.resolve("_temporary/0"))
      Files.copy(dir.resolve(rec), dir.resolve(s"_temporary/0/$rec"))
      Files.writeString(dir.resolve(s".$rec.crc"), "junk")
    }
    assert(scanKeys(db) === before)
    // the next append gets a name of its own; nothing is overwritten
    db.rollup("d", "c", maxBatchBytes = 300)
    db.snapshot("d", "c")
    assert(db.scanSnapshots("d", "c").count() === before(3).length + 1)
    assert(db.scanRollupRecords("d", "c").count() === before.head.length + 1)
  }

  test("a record lacking a key reads that column as null") {
    val (db, root) = fresh()
    kinds.foreach { case (kind, schema, scan) =>
      // every column but the last: path, mutation_count, replaced, path
      val rec = schema.fields.init.map(f =>
        s""""${f.name}":${if (f.dataType == org.apache.spark.sql.types.StringType) "\"x\"" else "7"}""")
      Files.createDirectories(manifestDir(root, kind))
      Files.writeString(manifestDir(root, kind).resolve("00000000000000000000.json"),
        rec.mkString("[{", ",", "}]"))
      val Array(row) = scan(db, "d", "c").collect()
      assert(row.isNullAt(schema.length - 1), kind)
      assert((0 until schema.length - 1).forall(!row.isNullAt(_)), kind)
    }
  }

  test("a manifest dir holding a parquet part file fails the read, naming the dir") {
    val (db, root, _) = populated()
    val docs = db.collection("d", "c").df.count()
    // the layout manifests had before their records were JSON
    val dir = manifestDir(root, "rollup")
    spark.createDataFrame(java.util.List.of(Row(100L, 101L, 1L, 1L, 1L, "old")),
        GraftDB.rollupManifestSchema).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir.toString)
    val scan = intercept[IllegalArgumentException](db.scanRollupRecords("d", "c"))
    assert(scan.getMessage.contains(dir.toString))
    // reads list the rollup manifest too: they fail rather than drop the
    // batches the part files list
    val read = intercept[IllegalArgumentException](db.collection("d", "c").df.count())
    assert(read.getMessage.contains(dir.toString))
    assert(docs === 37L)
  }
}
