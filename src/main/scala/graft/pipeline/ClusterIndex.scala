package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Persisted NEAR-DUP CLUSTER artifact — the cluster-maintenance twin of
  * AnnIndex: clustering a 100 TB corpus is a train-once job whose output
  * is TABLES, and corpus growth must cost O(delta + touched clusters),
  * never a full re-pair + re-CC. Built over the exact n-gram-jaccard
  * pair graph (threshold 0.5 — `dedup_ngram_jaccard`'s semantics; the
  * merge algebra is `Dedup.mergeDelta`, oracle-pinned in the
  * `dedup_clusters_incremental` CORRECTNESS row).
  *
  * Layout under `indexDir` (all parquet):
  *   gen<N>/members/   (doc_id, cluster) — gen0: the full membership;
  *                     later gens: rows whose label CHANGED plus docs
  *                     entering membership (latest gen wins per doc)
  *   gen<N>/covered/   (doc_id)          — every doc that gen indexed
  *                     (including pairless singletons — the append
  *                     anti-join's ledger)
  *   gen<N>/shingles/  (lang, sh, rid, sz) — the gen's rep inverted
  *                     index; the union across gens is the corpus side
  *                     of the next delta's candidate join (same-content
  *                     reps across gens reconnect at jaccard 1.0, so
  *                     per-gen rep collapse loses nothing)
  *   _CLUSTER_MANIFEST.json — commit point ({version, threshold, gens})
  *
  * Publish discipline = ArtifactIo's: build and compact stage under
  * `.build.tmp` with the manifest last and publish by two renames
  * (`commitBuild`); append stages `gen<N>.tmp`, renames it in (still
  * invisible), and commits by the manifest swap (`commitGen`). Crashed appends leave an orphan gen the next append
  * deletes and rebuilds; every loader self-heals both windows.
  *
  * Contract: doc_ids are immutable content ids — the corpus GROWS, it is
  * never rewritten in place under the same ids (the append anti-join
  * keys on doc_id; a mutated text behind a covered id would go unseen.
  * GraftDB's append-only block log is exactly this discipline). */
object ClusterIndex {

  private val ManifestName = "_CLUSTER_MANIFEST.json"
  private val Version = 1
  /** The pair threshold is baked into `Dedup.jaccardPairsOf` (0.5);
    * recorded in the manifest so a future threshold change can refuse
    * stale artifacts instead of silently mixing semantics. */
  private val Threshold = 0.5

  private def manifestJson(gens: Int): String =
    s"""{"version":$Version,"threshold":$Threshold,"gens":$gens}"""

  private def docsOf(spark: SparkSession, corpusDir: String): DataFrame =
    Tables.documents(spark, corpusDir)
      .select(col("doc_id"), col("lang"), trim(col("text")).as("t"))

  private def readManifest(spark: SparkSession, indexDir: String): Map[String, String] = {
    val m = ArtifactIo.readManifest(spark, indexDir, ManifestName, "cluster index")
    // numeric compare: the serialized literal ("0.5") need not equal
    // Double.toString for every representable threshold
    require(m.get("threshold").exists(_.toDouble == Threshold),
      s"cluster index $indexDir was built at threshold " +
        s"${m.getOrElse("threshold", "?")}, this build is $Threshold")
    m
  }

  /** ONE reader call over every committed generation (vs one
    * read-per-gen: each `spark.read.parquet` is a listing + schema job —
    * at 20 gens that alone dominated the append's fixed cost). */
  private def readGens(spark: SparkSession, indexDir: String, gens: Int,
      sub: String): DataFrame =
    spark.read.parquet((0 until gens).map(i => s"$indexDir/gen$i/$sub"): _*)

  /** Full clustering of the corpus, persisted as gen0. */
  def build(spark: SparkSession, corpusDir: String, indexDir: String): Unit =
    ArtifactIo.commitBuild(spark, indexDir, ManifestName, manifestJson(1)) { tmp =>
      val docs = docsOf(spark, corpusDir)
      val members = Dedup.connectedComponents(
        Dedup.jaccardPairsOf(docs).select(col("a_id"), col("b_id")))
      // independent writes → concurrent jobs (the append pattern below)
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      ArtifactIo.awaitAll(Seq(
        Future(members.write.parquet(s"$tmp/gen0/members")),
        Future(docs.select(col("doc_id")).write.parquet(s"$tmp/gen0/covered")),
        Future(Dedup.repIndexOf(docs).write.parquet(s"$tmp/gen0/shingles"))))
    }

  /** Merge the corpus's docs no committed generation covers — one
    * `Dedup.mergeDelta` against the persisted artifacts, committed as
    * the next generation by the manifest swap. Only the touched
    * clusters' rows are rewritten; the untouched corpus is never read
    * past the membership join. */
  def append(spark: SparkSession, corpusDir: String, indexDir: String): Unit =
    appendDocs(spark, docsOf(spark, corpusDir), indexDir)

  /** [[append]] over an in-memory doc set (doc_id, lang, text|t) — the
    * streaming maintenance lane hands each micro-batch here. The
    * covered-ledger anti-join still applies, which is what makes a
    * crash-REPLAYED micro-batch a no-op (its docs are already covered
    * by the generation its first run committed) — the lane needs no
    * idempotence machinery of its own. Appends must be serial (one
    * writer), the contract a single stream's foreachBatch gives for
    * free. */
  def appendDocs(spark: SparkSession, docs: DataFrame, indexDir: String): Unit = {
    val n = readManifest(spark, indexDir)("gens").toInt
    val covered = readGens(spark, indexDir, n, "covered")
    val prepped =
      if (docs.columns.contains("t")) docs.select(col("doc_id"), col("lang"), col("t"))
      else docs.select(col("doc_id"), col("lang"), trim(col("text")).as("t"))
    val delta = prepped
      .join(covered, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // FIRST real job: the no-op probe. Materializing any slice of a
      // persisted frame builds the full cached batches, so the probe IS
      // the one corpus-scan cache warm every job below reads from (and
      // an empty delta returns before anything is staged).
      val deltaRows = delta.count()
      if (deltaRows == 0L) return // nothing new: no-op
      ArtifactIo.commitGen(spark, indexDir, n, ManifestName, manifestJson(n + 1)) { genTmp =>
        // the covered-ledger write only needs the (now cached) delta —
        // run it CONCURRENTLY with the merge's candidate join + CC jobs
        // below instead of as its own barrier in front of them (r15
        // barrier fusion: count → [covered ∥ merge] → [members ∥
        // shingles], 4 sequential job waves vs the previous 6)
        import scala.concurrent.Future
        import scala.concurrent.ExecutionContext.Implicits.global
        val coveredF = Future(
          delta.select(col("doc_id")).write.parquet(s"$genTmp/covered"))
        // drain coveredF even when the MERGE below throws — a merge
        // failure must not propagate past an in-flight staging write (the
        // ArtifactIo.awaitAll hazard: a same-JVM retry deletes genTmp
        // while the orphaned writer is still renaming parts into it)
        def drained[T](body: => T): T =
          try body catch {
            case t: Throwable =>
              scala.util.Try(scala.concurrent.Await.result(
                coveredF, scala.concurrent.duration.Duration.Inf))
              throw t
          }
        drained {
          val old = members(spark, indexDir)
          // latest-gen-wins read model: persist only the rows this merge
          // MOVED (label changed) or CREATED (doc entered membership). The
          // merge's outputs (relabel map + fresh rows) are bounded by the
          // contracted graph, so moved rows come from ONE broadcastable
          // inner join against the membership — the corpus is scanned, never
          // shuffled, and never joined against a second full membership.
          // deltaBounded: the probe's count is in hand — a ≤2^16-doc delta
          // (every streaming micro-batch; any sane append batch) broadcasts
          // its derived shingle index, so the corpus-side artifacts
          // (inverted index, membership) are SCANNED, never shuffled, inside
          // the merge. A bulk backfill above the bound keeps planner choice.
          val (relabel, fresh, bounded) = Dedup.mergeDeltaParts(old,
            readGens(spark, indexDir, n, "shingles"), delta,
            deltaBounded = deltaRows <= (1L << 16))
          // relabel is bounded by the contracted graph — broadcast it so the
          // membership is SCANNED, never shuffled (at 100 TB a sort-merge
          // here would move the whole membership for a handful of labels).
          // Forced only when the merge CC resolved on the driver fast path
          // (relabel is then a ≤2^20-row LocalRelation); a bulk backfill
          // whose contracted graph ran the distributed loop lets the
          // planner pick, instead of failing the append on the 8 GB
          // broadcast cap (ADVICE r14).
          val relabelMoved = relabel.filter(col("old_lab") =!= col("new_lab"))
          val moved = old.join(
              if (bounded) broadcast(relabelMoved) else relabelMoved,
              old("cluster") === col("old_lab"))
            .select(old("doc_id"), col("new_lab").as("cluster"))
          // the remaining gen writes are independent (delta is persisted, the
          // merge outputs sit on checkpointed CC blocks / driver arrays) —
          // run them as concurrent jobs: at append scale each write is
          // fixed-overhead-dominated, and serializing them was most of the
          // append-vs-build fixed-cost gap the maint lane flags. The
          // covered-ledger future joins the same drain point, so a merge
          // failure above still propagates only after awaitAll has drained
          // it (no orphaned writer racing a same-JVM retry).
          ArtifactIo.awaitAll(Seq(coveredF,
            Future(moved.unionByName(fresh).write.parquet(s"$genTmp/members")),
            Future(Dedup.repIndexOf(delta).write.parquet(s"$genTmp/shingles"))))
        }
      }
    } finally delta.unpersist()
  }

  /** Current membership (doc_id, cluster): ONE reader over the committed
    * gens (gen recovered from the file path — the layout is ours), latest
    * gen wins per doc as an ARGMAX AGGREGATION: `max_by(cluster, __gen)`
    * gets partial aggregation, so a doc key rewritten by many gens — the
    * streaming-maintenance steady state — collapses map-side instead of
    * sorting its whole history in one window task (the doc_state_latest
    * rewrite). At 100 TB `compact` folds the gens back to one so reads
    * stay O(1) dirs. */
  def members(spark: SparkSession, indexDir: String): DataFrame = {
    val n = readManifest(spark, indexDir)("gens").toInt
    if (n == 1) // build-fresh / compacted: no overlap possible, no shuffle
      return spark.read.parquet(s"$indexDir/gen0/members")
        .select(col("doc_id"), col("cluster"))
    readGens(spark, indexDir, n, "members")
      .select(col("doc_id"), col("cluster"),
        // anchored to the FILE NAME: an indexDir whose own path contains
        // a /genN/members/ segment must not capture that outer segment
        // for every row (ADVICE r14 — it would collapse __gen to one
        // value and degrade latest-wins to an arbitrary tie-break)
        regexp_extract(col("_metadata.file_path"),
            "/gen([0-9]+)/members/[^/]*$", 1)
          .cast("int").as("__gen"))
      .groupBy(col("doc_id"))
      .agg(max_by(col("cluster"), col("__gen")).as("cluster"))
  }

  /** Auto-compaction policy for the maintenance tick (the
    * `GraftDB.rollupIfDue`/compactRollups pattern): fold when the gen
    * count reaches `maxGens`. Called by the streaming lane's foreachBatch
    * after each append, so a week-long stream holds O(maxGens) gen dirs
    * instead of one per micro-batch; a crash mid-compact is harmless
    * (compact publishes via the same two-rename discipline — the
    * multi-gen artifact keeps serving until the swap). */
  def compactIfDue(spark: SparkSession, indexDir: String, maxGens: Int = 8): Unit =
    if (readManifest(spark, indexDir)("gens").toInt >= maxGens)
      compact(spark, indexDir)

  /** Fold every committed generation back into a single gen0 — the
    * rollup-compaction story for this artifact: reads after many appends
    * pay a per-gen listing + a latest-wins shuffle; compaction restores
    * the build-fresh shape. Staged as a full `.build.tmp` (resolved
    * membership + unioned ledgers) and published by the same two-rename
    * discipline as build, so a crash anywhere leaves the multi-gen
    * artifact intact and serving. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val n = readManifest(spark, indexDir)("gens").toInt
    if (n <= 1) return
    ArtifactIo.commitBuild(spark, indexDir, ManifestName, manifestJson(1)) { tmp =>
      members(spark, indexDir).write.parquet(s"$tmp/gen0/members")
      readGens(spark, indexDir, n, "covered").write.parquet(s"$tmp/gen0/covered")
      readGens(spark, indexDir, n, "shingles").write.parquet(s"$tmp/gen0/shingles")
    }
  }
}
