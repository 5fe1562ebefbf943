package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** The persisted-index contract: search over a LOADED index equals the
  * in-session index exactly, with zero training work on the read path,
  * and the loaders refuse uncommitted or mismatched artifacts. */
class AnnIndexSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("persisted IVF/PQ/LSH search == in-session search; zero training on read") {
    val idx = Files.createTempDirectory("graft-annindex").toString + "/idx"
    // in-session results first (trains + memoizes the quantizers)
    val ivf = rows(Ann.annIvf(spark, sf))
    val pq = rows(Ann.annPq(spark, sf))
    val lsh = rows(Ann.annLsh(spark, sf))
    AnnIndex.build(spark, sf, idx)

    // the read path must not retrain: clear the memo and assert it
    // STAYS empty through all three searches
    graft.sources.Memo.clear()
    assert(rows(AnnIndex.searchIvf(spark, sf, idx)) === ivf)
    assert(rows(AnnIndex.searchPq(spark, sf, idx)) === pq)
    assert(rows(AnnIndex.searchLsh(spark, sf, idx)) === lsh)
    assert(graft.sources.Memo.size === 0,
      "a persisted-index search retrained a quantizer")

    // the inverted file is the serving layout: cid is a PARTITION dir
    val cells = new java.io.File(s"$idx/gen0/ivf_cells").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(cells.nonEmpty && cells.forall(_.startsWith("cid=")))
  }

  test("loaders refuse an uncommitted index and a corpus mismatch") {
    val root = Files.createTempDirectory("graft-annindex-bad").toString
    // uncommitted: data dirs but no manifest (a crashed build's shape)
    val uncommitted = s"$root/partial"
    spark.range(3).write.parquet(s"$uncommitted/ivf_centroids")
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.searchIvf(spark, sf, uncommitted)
    }
    assert(e1.getMessage.contains("not a committed index"))

    // corpus mismatch: an index built from sf0.001 must refuse to serve
    // a different corpus (ids would silently misresolve)
    val idx = s"$root/idx"
    AnnIndex.build(spark, sf, idx)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.searchIvf(spark, "/root/testdata/sf0.01", idx)
    }
    assert(e2.getMessage.contains("different corpus"))

    // param mismatch: expected params come from the CALLER, so an index
    // built with a different quantizer geometry is refused, not silently
    // served with different semantics than the in-session twin
    val e3 = intercept[IllegalArgumentException] {
      AnnIndex.searchIvf(spark, sf, idx, c = 32)
    }
    assert(e3.getMessage.contains("search expects 32"))
    val e4 = intercept[IllegalArgumentException] {
      AnnIndex.searchPq(spark, sf, idx, m = 8)
    }
    assert(e4.getMessage.contains("search expects 8"))
  }

  test("publish is two-rename: a crash window leaves a restorable index, never zero") {
    val root = Files.createTempDirectory("graft-annindex-pub").toString
    val idx = s"$root/idx"
    AnnIndex.build(spark, sf, idx)
    val want = rows(AnnIndex.searchLsh(spark, sf, idx))
    // simulate the crash between the two publish renames of a REBUILD:
    // the live index retired to .old, the replacement never renamed in
    assert(new java.io.File(idx).renameTo(new java.io.File(s"$root/idx.old")))
    // loaders self-heal the retired copy instead of erroring
    assert(rows(AnnIndex.searchLsh(spark, sf, idx)) === want)
    assert(new java.io.File(idx).isDirectory)
    assert(!new java.io.File(s"$root/idx.old").exists())
  }

  test("append == one-shot build with the same quantizers; commit is the manifest swap") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-annappend").toString
    val e = graft.sources.Tables.embeddings(spark, sf)
    val cut = e.agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0) / 2
    val halfDir = s"$root/half"; val fullDir = s"$root/full"
    e.filter(col("vec_id") <= cut).coalesce(2).write.parquet(s"$halfDir/embeddings.parquet")
    e.coalesce(2).write.parquet(s"$fullDir/embeddings.parquet")

    val idxC = s"$root/idxC"; val idxB = s"$root/idxB"
    AnnIndex.build(spark, halfDir, idxC)
    val halfRows = rows(AnnIndex.searchLsh(spark, halfDir, idxC))
    // the equivalence anchor: a ONE-SHOT full index with idxC's
    // (half-trained) quantizers — exactly what build+append must equal
    AnnIndex.build(spark, fullDir, idxB, pretrainedFrom = Some(idxC))

    val manPath = java.nio.file.Paths.get(s"$idxC/_INDEX_MANIFEST.json")
    val preManifest = java.nio.file.Files.readAllBytes(manPath)
    AnnIndex.append(spark, fullDir, idxC)
    val fullIvf = rows(AnnIndex.searchIvf(spark, fullDir, idxC))
    val fullPq = rows(AnnIndex.searchPq(spark, fullDir, idxC))
    val fullLsh = rows(AnnIndex.searchLsh(spark, fullDir, idxC))
    assert(fullIvf === rows(AnnIndex.searchIvf(spark, fullDir, idxB)))
    assert(fullPq === rows(AnnIndex.searchPq(spark, fullDir, idxB)))
    assert(fullLsh === rows(AnnIndex.searchLsh(spark, fullDir, idxB)))
    assert(fullLsh !== halfRows, "the appended generation must actually serve")

    // no-op append: nothing uncovered → no new generation
    AnnIndex.append(spark, fullDir, idxC)
    assert(!new java.io.File(s"$idxC/gen2").exists())
    assert(rows(AnnIndex.searchLsh(spark, fullDir, idxC)) === fullLsh)

    // crashed append (before the manifest swap): roll the manifest back,
    // leaving gen1 as an uncommitted orphan — it must be INVISIBLE
    // (drop the ChecksumFileSystem sidecar too — the rollback is a raw
    // byte restore, not a filesystem write)
    java.nio.file.Files.write(manPath, preManifest)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$idxC/._INDEX_MANIFEST.json.crc"))
    assert(rows(AnnIndex.searchLsh(spark, halfDir, idxC)) === halfRows,
      "an orphan generation leaked into the committed view")
    intercept[IllegalArgumentException] { // stale fp refuses the grown corpus
      AnnIndex.searchLsh(spark, fullDir, idxC)
    }
    // the next append deletes the orphan and recommits
    AnnIndex.append(spark, fullDir, idxC)
    assert(rows(AnnIndex.searchLsh(spark, fullDir, idxC)) === fullLsh)
  }

  test("a half-committed manifest swap self-heals in both windows") {
    val root = Files.createTempDirectory("graft-annman").toString
    val idx = s"$root/idx"
    AnnIndex.build(spark, sf, idx)
    val want = rows(AnnIndex.searchLsh(spark, sf, idx))
    val mp = java.nio.file.Paths.get(s"$idx/_INDEX_MANIFEST.json")
    val np = java.nio.file.Paths.get(s"$idx/_INDEX_MANIFEST.json.new")
    // window 2: old manifest deleted, .new not yet renamed → heal forward
    java.nio.file.Files.move(mp, np)
    assert(rows(AnnIndex.searchLsh(spark, sf, idx)) === want)
    assert(java.nio.file.Files.exists(mp) && !java.nio.file.Files.exists(np))
    // window 1: .new written, old still present → old wins, .new dropped
    java.nio.file.Files.write(np, Array[Byte](123))
    assert(rows(AnnIndex.searchLsh(spark, sf, idx)) === want)
    assert(!java.nio.file.Files.exists(np))
  }

  test("an in-place corpus rewrite under the same file names is refused") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-annfp").toString
    val cDir = s"$root/c"
    graft.sources.Tables.embeddings(spark, sf)
      .coalesce(1).write.parquet(s"$cDir/embeddings.parquet")
    val idx = s"$root/idx"
    AnnIndex.build(spark, cDir, idx)
    assert(rows(AnnIndex.searchLsh(spark, cDir, idx)).nonEmpty)
    // same names, new mtime — the r12 fingerprint (names only) passed
    // this and silently served wrong vec_ids
    val part = new java.io.File(s"$cDir/embeddings.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part.setLastModified(part.lastModified() + 5000))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.searchLsh(spark, cDir, idx)
    }
    assert(e.getMessage.contains("different corpus"))
  }

  test("compactIfDue folds gens at the policy threshold; searches identical") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-anncompact").toString
    val e = graft.sources.Tables.embeddings(spark, sf)
    val cut = e.agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0) / 2
    val halfDir = s"$root/half"; val fullDir = s"$root/full"
    e.filter(col("vec_id") <= cut).coalesce(2).write.parquet(s"$halfDir/embeddings.parquet")
    e.coalesce(2).write.parquet(s"$fullDir/embeddings.parquet")
    val idx = s"$root/idx"
    AnnIndex.build(spark, halfDir, idx)
    AnnIndex.append(spark, fullDir, idx) // gens = 2
    val ivf = rows(AnnIndex.searchIvf(spark, fullDir, idx))
    val pq = rows(AnnIndex.searchPq(spark, fullDir, idx))
    val lsh = rows(AnnIndex.searchLsh(spark, fullDir, idx))

    // below the policy threshold: a no-op (gen1 still there)
    AnnIndex.compactIfDue(spark, idx, maxGens = 3)
    assert(new java.io.File(s"$idx/gen1").isDirectory)
    // at the threshold: folds to a single gen0, all three families
    // serve identically (quantizers + fingerprint untouched)
    AnnIndex.compactIfDue(spark, idx, maxGens = 2)
    assert(!new java.io.File(s"$idx/gen1").exists())
    assert(new java.io.File(s"$idx/gen0").isDirectory)
    assert(rows(AnnIndex.searchIvf(spark, fullDir, idx)) === ivf)
    assert(rows(AnnIndex.searchPq(spark, fullDir, idx)) === pq)
    assert(rows(AnnIndex.searchLsh(spark, fullDir, idx)) === lsh)
    // nprobe partition pruning survives the fold: cid= dirs under gen0
    assert(new java.io.File(s"$idx/gen0/ivf_cells").listFiles()
      .exists(_.getName.startsWith("cid=")))
    // and a further append against the compacted artifact still works
    AnnIndex.append(spark, fullDir, idx) // covered: no-op
    assert(rows(AnnIndex.searchLsh(spark, fullDir, idx)) === lsh)
  }

  test("a leftover build.tmp never shadows the published index; rebuild replaces") {
    val root = Files.createTempDirectory("graft-annindex-tmp").toString
    val idx = s"$root/idx"
    AnnIndex.build(spark, sf, idx)
    val first = rows(AnnIndex.searchLsh(spark, sf, idx))
    // simulate a crashed later build: stale tmp beside the live index
    val staleTmp = new java.io.File(s"$root/idx.build.tmp")
    assert(staleTmp.mkdirs())
    Files.write(staleTmp.toPath.resolve("junk"), Array[Byte](1, 2, 3))
    // reads ignore the tmp entirely
    assert(rows(AnnIndex.searchLsh(spark, sf, idx)) === first)
    // a rebuild clears the stale tmp and republishes atomically
    AnnIndex.build(spark, sf, idx)
    assert(!staleTmp.exists())
    assert(rows(AnnIndex.searchLsh(spark, sf, idx)) === first)
  }
}
