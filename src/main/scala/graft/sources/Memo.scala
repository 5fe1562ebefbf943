package graft.sources

import java.lang.ref.WeakReference

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.storage.StorageLevel

/** The one memo layer for derived artifacts: persisted corpus projections
  * (DocStore collections, the BM25 term frequencies, the jaccard pair
  * table, the as-of right side, the curation input), driver-trained
  * models (IVF/PQ quantizers, PCA, BPE merges) and the skew probe's
  * key histogram.
  *
  * Key: the operation tag and its parameters, the owning session by
  * identity (its identityHashCode, checked against a weak reference, so
  * the memo never keeps a session alive), the root paths of the input's
  * file scans, and the input fingerprint: the sorted (path, size, mtime)
  * of every file those scans read. The fingerprint comes from the file
  * statuses Spark listed when the input DataFrame was created, so it
  * costs no job and no extra listing, and a rewrite of the data under a
  * directory is seen by the next read of it. An entry whose fingerprint
  * no longer matches is replaced, not kept beside the new one: Spark's
  * CacheManager matches file scans by root path, so a stale persisted
  * plan left registered would be served to the recompute. An input with
  * any leaf that is not a listed file scan (an in-memory corpus, an RDD)
  * has no fingerprint and is computed without memoizing.
  *
  * Bound: at most [[MaxEntries]] entries, least recently used evicted
  * first. Sweep: every lookup first drops entries whose session is gone
  * or whose SparkContext has stopped. Every way out of the memo (evict,
  * sweep, replace, [[clear]]) unpersists a DataFrame value. One key is
  * computed once: concurrent callers of a key wait for the first. */
private[graft] object Memo {

  val MaxEntries = 64

  private final case class Key(tag: String, params: Seq[Any], session: Int,
      roots: Seq[String])

  private final class Entry(val owner: WeakReference[SparkSession],
      val files: Seq[(String, Long, Long)], compute: () => Any) {
    @volatile private var value: Option[Any] = None
    @volatile private var released = false

    def get: Any = synchronized {
      if (value.isEmpty) {
        value = Some(compute())
        if (released) unpersist()
      }
      value.get
    }

    def release(): Unit = { released = true; unpersist() }

    private def unpersist(): Unit = value.foreach {
      case df: Dataset[_] => scala.util.Try(df.unpersist())
      case _ =>
    }
  }

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      this.size > MaxEntries && { e.getValue.release(); true }
  }

  /** `compute`'s value for (`tag`, `params`) over `input`, memoized. */
  def apply[V](tag: String, input: DataFrame, params: Any*)(compute: => V): V =
    lookup(tag, input, params)(compute).getOrElse(compute)

  /** `df` persisted (memory and disk) once per key, like [[apply]]. */
  def persisted(tag: String, input: DataFrame, params: Any*)(df: => DataFrame): DataFrame =
    lookup(tag, input, params)(df.persist(StorageLevel.MEMORY_AND_DISK)).getOrElse(df)

  private def lookup[V](tag: String, input: DataFrame, params: Seq[Any])(
      compute: => V): Option[V] = fingerprint(input).map { case (roots, files) =>
    val spark = input.sparkSession
    val key = Key(tag, params, System.identityHashCode(spark), roots)
    val entry = synchronized {
      sweep()
      val old = entries.get(key)
      if (old != null && (old.owner.get eq spark) && old.files == files) old
      else {
        if (old != null) old.release()
        val e = new Entry(new WeakReference(spark), files, () => compute)
        entries.put(key, e)
        e
      }
    }
    try entry.get.asInstanceOf[V]
    catch { case t: Throwable => synchronized(entries.remove(key, entry)); throw t }
  }

  /** Drop the entries of sessions that are gone or `stopped`. */
  private[graft] def sweep(
      stopped: SparkSession => Boolean = _.sparkContext.isStopped): Unit = synchronized {
    entries.values.removeIf { e =>
      val s = e.owner.get
      (s == null || stopped(s)) && { e.release(); true }
    }
  }

  def clear(): Unit = synchronized {
    entries.values.forEach(_.release())
    entries.clear()
  }

  def size: Int = synchronized(entries.size)

  /** (root paths, sorted (path, size, mtime)) of `df`'s file scans, or
    * None when some leaf is not a listed file scan. */
  private def fingerprint(df: DataFrame): Option[(Seq[String], Seq[(String, Long, Long)])] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val ix = leaves.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case i: PartitioningAwareFileIndex => i }
    def stat(f: FileStatus) = (f.getPath.toString, f.getLen, f.getModificationTime)
    if (ix.isEmpty || ix.size < leaves.size) None
    else Some((ix.flatMap(_.rootPaths.map(_.toString)).distinct.sorted,
      ix.flatMap(_.allFiles().map(stat)).distinct.sorted))
  }
}
