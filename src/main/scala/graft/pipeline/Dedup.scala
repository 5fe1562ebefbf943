package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.sources.Tables
import graft.functions.GraftFunctions._

/** SURVEY.md §2D — deduplication operators over `documents` /
  * `embeddings`. Scale shape: every near-dup variant is
  * candidate-generation-by-bucketing (shuffle on a band/bucket key,
  * candidates verified pairwise inside buckets) — never a global O(n²)
  * cross join. The brute-force paths exist only as small-side baselines.
  */
object Dedup {

  /** Word-3-gram shingle set of `text` (deduped) — shared candidate basis. */
  private[pipeline] def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(trim(text), "\\s+")
    array_distinct(filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => when(i + n <= size(toks), concat_ws(" ", slice(toks, i + 1, lit(n))))),
      c => c.isNotNull))
  }

  /** Exact dedup: group by content hash, keep the first doc id per group.
    * One shuffle on md5; at 100 TB this is the standard hash-partitioned
    * exact dedup (the hash is the shuffle key, groups never co-load). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
  }

  val dedupExactSql: String =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc_id
      |FROM documents GROUP BY 1""".stripMargin

  /** Exact n-gram Jaccard similarity join: candidate pairs blocked by
    * language (the blocking key stands in for an LSH prefilter at scale),
    * verified with exact set intersection/union. Deterministic double
    * division of exact integers. */
  // A real curation pipeline materializes the near-dup pair table ONCE
  // per corpus and every DOWNSTREAM stage (keep-list, clustering, audits)
  // reads the artifact — recomputing the inverted-index join per consumer
  // is a harness artifact, the same way DocStore.eventsCollection notes
  // for the events→docs mapping. The pair set is tiny (pairs above the
  // 0.5 threshold), so the persist holds results, not intermediates.
  // IMPORTANT: the driver-visible `dedup_ngram_jaccard` query runs the
  // UNCACHED plan (below) so the benchmark times the join itself — a
  // result cache must never masquerade as query speed; only downstream
  // consumers (Curation.keepList) read the memoized artifact.
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.sources.Memo.persisted("dedup.jaccard", docs)(jaccardPairsOfDocs(docs))
  }

  private[pipeline] def dedupNgramJaccardPlan(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsOfDocs(Tables.documents(spark, dir))

  private def jaccardPairsOfDocs(docs: DataFrame): DataFrame =
    jaccardPairsOf(docs.select(col("doc_id"), col("lang"), trim(col("text")).as("t")))

  /** The jaccard pair join over an arbitrary doc set `docs`
    * (doc_id, lang, t) — extracted so the incremental clustering path
    * can run the IDENTICAL pair semantics over a sub-slice (the
    * equivalence the merge algebra rests on). */
  private[pipeline] def jaccardPairsOf(docs0: DataFrame): DataFrame =
    jaccardPairsOfIdx(docs0, repIndexFullOf(docs0))

  /** The exploded distinct-content shingle index WITH its content key —
    * (lang, tk, rid, sz, sh). [[jaccardPairsOf]] probes it for the pair
    * join (tk re-attaches cluster members); dropping tk yields exactly
    * [[repIndexOf]], the merge path's corpus artifact — so the
    * incremental clustering path can compute the index ONCE and share it
    * between the base pair join and the merge (r15 left it computed
    * twice: once inside jaccardPairsOf, once by repIndexOf). */
  private[pipeline] def repIndexFullOf(docs0: DataFrame): DataFrame =
    // min(t), not first(t): every t in a (lang, md5(t)) group is the same
    // string, and min keeps the aggregate hash-based (first() is
    // order-sensitive and forces a sort-based aggregate)
    docs0.withColumn("tk", md5(col("t")))
      .groupBy(col("lang"), col("tk"))
      .agg(min(col("doc_id")).as("rid"), min(col("t")).as("t"))
      .withColumn("ng", shingle_hashes(split(col("t"), "\\s+"), 3))
      .withColumn("sz", size(col("ng")).cast("long"))
      .select(col("lang"), col("tk"), col("rid"), col("sz"),
        explode(col("ng")).as("sh"))

  private[pipeline] def jaccardPairsOfIdx(docs0: DataFrame,
      ex: DataFrame): DataFrame = {
    // Exact set-similarity join via inverted index, over UNIQUE content:
    // explode distinct shingles, join on (lang, shingle) so only pairs
    // sharing content ever materialize, |∩| = co-occurrence count,
    // |∪| = |a|+|b|-|∩|. Same exact result as the naive pairwise form but
    // O(co-occurrences) instead of O(n² · set-size).
    //
    // Duplicate-heavy corpora are the 100 TB hazard this plan must
    // survive: a k-duplicate cluster (mirrored pages, boilerplate) would
    // put k copies of every shingle into the same inverted-index bucket —
    // k² join rows PER SHINGLE. So identical texts collapse to one
    // representative per (lang, md5(text)) BEFORE the index: the shingle
    // join runs over distinct contents only, and cluster members
    // re-attach afterward by content key. The quadratic part of the
    // answer that duplicate clusters genuinely imply (all-pairs within a
    // cluster, jaccard exactly 1.0) is emitted by one membership×
    // membership equi-join — a single skewed key AQE splits — never
    // through the shingle index. Output is row-identical to the direct
    // form.
    //
    // join key = distinct 64-bit shingle hashes straight off the token
    // array (no shingle strings ever materialize; collision odds ~1e-10
    // at 1e6 distinct shingles — below the noise floor).
    val docs = docs0.withColumn("tk", md5(col("t")))
    val members = docs.select(col("lang"), col("tk"), col("doc_id"))
    val x = ex.select(col("lang"), col("sh"), col("tk").as("a_tk"),
      col("rid").as("a_rid"), col("sz").as("a_sz"))
    val y = ex.select(col("lang"), col("sh"), col("tk").as("b_tk"),
      col("rid").as("b_rid"), col("sz").as("b_sz"))
    // similar pairs between DISTINCT contents (each unordered pair once)
    val repPairs = x.join(y, Seq("lang", "sh"))
      .filter(col("a_rid") < col("b_rid"))
      .groupBy(col("lang"), col("a_tk"), col("b_tk"), col("a_sz"), col("b_sz"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("a_sz") + col("b_sz") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= 0.5)
    // expand cross-content pairs to member ids (ids of the two clusters
    // interleave, so re-normalize the orientation per member pair)
    val ma = members.select(col("lang"), col("tk").as("a_tk"), col("doc_id").as("aid"))
    val mb = members.select(col("lang"), col("tk").as("b_tk"), col("doc_id").as("bid"))
    val cross = repPairs
      .join(ma, Seq("lang", "a_tk"))
      .join(mb, Seq("lang", "b_tk"))
      .select(least(col("aid"), col("bid")).as("a_id"),
        greatest(col("aid"), col("bid")).as("b_id"),
        col("inter"), col("uni"), col("jaccard"))
    // all-pairs within each duplicate cluster: identical shingle sets,
    // jaccard exactly 1.0 (empty shingle sets pair with nothing — the
    // direct form never indexes them). Structured as a PLAIN self-join
    // of two scan-fed shuffles — the only SMJ shape AQE's
    // OptimizeSkewedJoin can split (an aggregate or join between shuffle
    // and join disqualifies the stage) — so the one genuinely hot key a
    // duplicate cluster creates is runtime-split, not serialized. The
    // shingle COUNT rides each member row (recomputed per doc, exactly
    // what the pre-collapse form paid per doc anyway) instead of being
    // attached by a third join on the quadratic output.
    val wmem = docs
      .withColumn("sz",
        size(shingle_hashes(split(col("t"), "\\s+"), 3)).cast("long"))
      .filter(col("sz") > 0)
    val wa = wmem.select(col("lang"), col("tk"), col("doc_id").as("aid"),
      col("sz"))
    val wb = wmem.select(col("lang"), col("tk"), col("doc_id").as("bid"))
    val within = wa.join(wb, Seq("lang", "tk"))
      .filter(col("aid") < col("bid"))
      .select(col("aid").as("a_id"), col("bid").as("b_id"),
        col("sz").as("inter"), col("sz").as("uni"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  val dedupNgramJaccardSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2])) AS ng
      |  FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(list_intersect(a.ng, b.ng)) AS BIGINT) AS inter,
      |  CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS BIGINT) AS uni,
      |  CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) / len(list_distinct(list_concat(a.ng, b.ng))) AS jaccard
      |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.5""".stripMargin

  /** MinHash + LSH banded near-dup candidates (rows-only check: the
    * signature permutations aren't SQL-expressible in the oracle).
    * 64-perm signature → 16 bands × 4 rows; pairs sharing ≥1 band bucket
    * become candidates; est_jaccard = matching signature fraction.
    * The band bucket is the shuffle key — O(n) with small buckets, the
    * 100 TB path. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val bands = 16
    val rows = 4
    // Identical texts collapse to one representative per md5(text)
    // BEFORE banding: identical text ⇒ identical signature ⇒ the same
    // bucket in EVERY band, so a k-duplicate cluster would emit k²
    // candidate rows per band (the jaccard-index hazard; same fix).
    // Cluster members re-attach afterward: cross-content pairs by
    // content key, within-cluster pairs (est exactly 1.0 — 64/64
    // matching rows, what the direct form computes for equal sigs) from
    // a member self-join. Unlike exact jaccard, empty/short texts still
    // carry a (constant) signature and pair with each other in the
    // direct form, so the within expansion has no size guard.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), trim(col("text")).as("t"))
      .withColumn("tk", md5(col("t")))
    val members = docs.select(col("tk"), col("doc_id"))
    val reps = docs.groupBy(col("tk"))
      .agg(min(col("doc_id")).as("rid"), min(col("t")).as("t"))
      .select(col("tk"), col("rid"),
        shingle_minhash(split(col("t"), "\\s+"), 3, bands * rows).as("sig"))
    // candidate generation ships (band, bucket, content-key) only — the
    // 512-byte signatures never ride the ×bands bucket shuffle; they
    // re-attach to the deduped candidate pairs below
    val banded = reps.select(col("tk"), col("rid"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .select(col("tk"), col("rid"), col("pos").as("band"), col("col").as("bucket"))
    val l = banded.select(col("band"), col("bucket"), col("tk").as("a_tk"),
      col("rid").as("a_rid"))
    val r = banded.select(col("band"), col("bucket"), col("tk").as("b_tk"),
      col("rid").as("b_rid"))
    val repPairs = l.join(r, Seq("band", "bucket"))
      .filter(col("a_rid") < col("b_rid"))
      .select(col("a_tk"), col("b_tk"))
      .distinct()
      .join(reps.select(col("tk").as("a_tk"), col("sig").as("a_sig")), Seq("a_tk"))
      .join(reps.select(col("tk").as("b_tk"), col("sig").as("b_sig")), Seq("b_tk"))
      .select(col("a_tk"), col("b_tk"),
        (aggregate(zip_with(col("a_sig"), col("b_sig"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, m) => acc + m)
          .cast("double") / (bands * rows)).as("est_jaccard"))
    val ma = members.select(col("tk").as("a_tk"), col("doc_id").as("aid"))
    val mb = members.select(col("tk").as("b_tk"), col("doc_id").as("bid"))
    val cross = repPairs
      .join(ma, Seq("a_tk")).join(mb, Seq("b_tk"))
      .select(least(col("aid"), col("bid")).as("a_id"),
        greatest(col("aid"), col("bid")).as("b_id"), col("est_jaccard"))
    val within = members.select(col("tk"), col("doc_id").as("aid"))
      .join(members.select(col("tk"), col("doc_id").as("bid")), Seq("tk"))
      .filter(col("aid") < col("bid"))
      .select(col("aid").as("a_id"), col("bid").as("b_id"),
        lit(1.0).as("est_jaccard"))
    cross.unionByName(within)
  }

  /** Oracle-exact pin for the minhash CANDIDATE machinery. The banding
    * hashes aren't SQL-expressible — and not even the est=1.0 output
    * slice is deterministic structure (measured on the sf0.01 fixture:
    * near-dup pairs at jaccard ≈ 0.98 collide in all 64 permutations
    * with probability j^64 ≈ 0.3, so est-1.0 pairs are hash luck, not
    * set equality). What IS deterministic is the banding's recall
    * guarantee on equal inputs: two docs with equal distinct-3-shingle
    * SETS have equal signatures, land in the same bucket in EVERY band,
    * and MUST surface as candidates. This row runs the full candidate
    * machinery and keeps exactly the equal-set pairs — if rep-collapse,
    * the signature kernel, the band-bucket join, or either pair
    * expansion dropped such a pair, the row would lose it — while
    * DuckDB recomputes shingle-set equality classes directly. The
    * probabilistic sub-slice (unequal sets, any estimate) stays
    * rows-only by necessity; SURVEY §6 documents the impossibility. */
  def dedupMinhashBandExact(spark: SparkSession, dir: String): DataFrame = {
    // Set identity via the SAME 64-bit shingle-hash basis the
    // oracle-exact dedup_ngram_jaccard row rides (shingle_hashes: a
    // codegen'd kernel, no shingle strings ever materialize; collision
    // odds ~1e-10 documented there): fingerprint = structural xxhash64
    // of the SORTED distinct hash set. A first cut built sorted-distinct
    // shingle STRING arrays per doc — string array_distinct/array_sort
    // are quadratic-ish per doc and cost ~8 s at sf0.1; this form is one
    // codegen pass.
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"),
        xxhash64(array_sort(shingle_hashes(split(trim(col("text")), "\\s+"), 3)))
          .as("sfp"))
    equalPairsFound(sets, dedupMinhash(spark, dir))
  }

  /** The body of the three `_exact` pins: the (a_id < b_id) pairs of ids
    * with equal fingerprints in `sets` (id, fingerprint) — one grouped
    * pass, clusters are tiny — kept where the `candidates` machinery
    * (a_id, b_id) surfaced them. A pair the machinery failed to surface
    * is dropped here, and the oracle (which has it) flags the loss. */
  private def equalPairsFound(sets: DataFrame, candidates: DataFrame): DataFrame = {
    val Array(id, fp) = sets.columns
    sets.groupBy(col(fp))
      .agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .join(candidates.select(col("a_id"), col("b_id")),
        Seq("a_id", "b_id"), "left_semi")
  }


  val dedupMinhashBandExactSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2]))) AS sng
      |  FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |FROM d a JOIN d b ON a.sng = b.sng AND a.doc_id < b.doc_id""".stripMargin

  /** SimHash near-dup: 64-bit fingerprint, banded into 4×16-bit chunks
    * (pigeonhole: hamming ≤ 3 ⇒ at least one identical chunk), candidates
    * verified by exact hamming distance. Rows-only check. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // same rep-collapse as dedupMinhash: identical text ⇒ identical
    // 64-bit fingerprint ⇒ all four chunks collide, k² rows per band
    // for a k-duplicate cluster. Within-cluster pairs have hamming
    // exactly 0 (equal fingerprints), what the direct form computes.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), trim(col("text")).as("t"))
      .withColumn("tk", md5(col("t")))
    val members = docs.select(col("tk"), col("doc_id"))
    val reps = docs.groupBy(col("tk"))
      .agg(min(col("doc_id")).as("rid"), min(col("t")).as("t"))
      .select(col("tk"), col("rid"), simhash64(split(col("t"), "\\s+")).as("sh"))
    val banded = reps.select(col("tk"), col("rid"), col("sh"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .select(col("tk"), col("rid"), col("sh"), col("pos").as("band"), col("col").as("chunk"))
    val l = banded.select(col("band"), col("chunk"), col("tk").as("a_tk"),
      col("rid").as("a_rid"), col("sh").as("a_sh"))
    val r = banded.select(col("band"), col("chunk"), col("tk").as("b_tk"),
      col("rid").as("b_rid"), col("sh").as("b_sh"))
    val repPairs = l.join(r, Seq("band", "chunk"))
      .filter(col("a_rid") < col("b_rid"))
      .select(col("a_tk"), col("b_tk"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    val ma = members.select(col("tk").as("a_tk"), col("doc_id").as("aid"))
    val mb = members.select(col("tk").as("b_tk"), col("doc_id").as("bid"))
    val cross = repPairs
      .join(ma, Seq("a_tk")).join(mb, Seq("b_tk"))
      .select(least(col("aid"), col("bid")).as("a_id"),
        greatest(col("aid"), col("bid")).as("b_id"), col("hamming"))
    val within = members.select(col("tk"), col("doc_id").as("aid"))
      .join(members.select(col("tk"), col("doc_id").as("bid")), Seq("tk"))
      .filter(col("aid") < col("bid"))
      .select(col("aid").as("a_id"), col("bid").as("b_id"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** Embedding near-dup: cosine ≥ threshold pairs behind an IVF-cell
    * blocker (the SemDeDup shape): every vector is assigned to its
    * `nprobe` nearest coarse-quantizer cells, candidate pairs share a
    * cell, and only candidates get the exact codegen'd CosineSim rescore.
    * Compare volume is O(Σ cell²·nprobe²) — cells are n/C, and C grows
    * with the corpus, so nothing global-quadratic ever materializes
    * (the previous label blocking was an all-pairs join in disguise:
    * n²/10 compares). Multi-probe (nprobe=2) covers pairs straddling a
    * cell boundary; the spec pins pairs ⊇ the label-blocked ground truth
    * on the fixture. Rows-only check (float kernel not reproduced in the
    * oracle). Threshold 0.4 captures the synthetic near-orthogonal
    * fixture's closest-pair tail; real corpora would use ~0.95. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cells = Ann.ivfCells(e, c = 16, nprobe = 2)
      .select(col("cid").as("cell"), col("vec_id"))
    val a = cells.select(col("cell"), col("vec_id").as("a_id"))
    val b = cells.select(col("cell"), col("vec_id").as("b_id"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_v"),
        col("label").as("a_label")), Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_v")), Seq("b_id"))
      .withColumn("cos", cosine_sim(col("a_v"), col("b_v")))
      .filter(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id"), col("a_label").as("label"), col("cos"))
  }

  /** Oracle-exact pin for the IVF-blocked SemDeDup machinery
    * (dedup_embedding's deterministic slice): two IDENTICAL nonzero
    * embeddings are assigned the same nearest cells (the argmax
    * assignment is a pure function of the vector), share a block, and
    * exactly rescore to cosine 1.0 ≥ τ — so they MUST pair. Zero-norm
    * vectors are excluded on BOTH sides (cosine with a zero vector is
    * defined as 0 here, below any τ, while naive list equality would
    * still pair them). DuckDB recomputes identical-embedding classes by
    * direct list equality on the same float32 bits both engines read;
    * the near-dup (cos < 1) remainder stays rows-only. */
  def dedupEmbeddingExact(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val nz = e.filter(
      aggregate(col("embedding"), lit(0.0d), (a, x) => a + abs(x)) > 0.0)
    equalPairsFound(nz.select(col("vec_id"), xxhash64(col("embedding")).as("efp")),
      dedupEmbedding(spark, dir))
  }

  val dedupEmbeddingExactSql: String =
    """WITH d AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE list_sum(list_transform(embedding, x -> abs(x))) <> 0)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |FROM d a JOIN d b ON a.embedding = b.embedding AND a.vec_id < b.vec_id""".stripMargin

  /** Oracle-exact pin for the simhash CANDIDATE machinery — the
    * dedup_minhash_band_exact pattern on this family's deterministic
    * slice: two docs with EQUAL TOKEN LISTS have equal 64-bit
    * fingerprints, hamming 0 ≤ 3, and collide in every 16-bit chunk, so
    * they MUST surface as candidates (via rep-collapse when the raw
    * texts are identical, via the chunk join otherwise). DuckDB
    * recomputes token-list equality classes directly; the sub-3-hamming
    * probabilistic remainder stays rows-only. */
  def dedupSimhashBandExact(spark: SparkSession, dir: String): DataFrame = {
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"),
        xxhash64(split(trim(col("text")), "\\s+")).as("tfp"))
    equalPairsFound(sets, dedupSimhash(spark, dir))
  }

  val dedupSimhashBandExactSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS tl FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |FROM d a JOIN d b ON a.tl = b.tl AND a.doc_id < b.doc_id""".stripMargin

  /** Near-dup clustering: connected components over the MinHash candidate
    * pair graph. Rows-only; structure spec-checked (including a
    * diameter-8 path graph collapsing to one component). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhash(spark, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"))
    connectedComponents(pairs)
  }

  /** One large-star step (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): every node connects its strictly-LARGER
    * neighbors to the minimum of its neighborhood (incl. itself). One
    * partition-min window over the bidirected edges — no join. */
  private def largeStarRound(e: DataFrame): DataFrame = {
    val bi = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    bi.withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")) // m <= u < v: never a self-loop
  }

  /** One small-star step: edges oriented large→small; every node batches
    * its smaller-or-equal neighbors onto its minimum neighbor. The
    * round-terminal distinct also dedups large-star's output. */
  private def smallStarRound(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v")).filter(col("u") =!= col("v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val m = or.withColumn("m", min(col("v")).over(w))
    m.select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction run to fixpoint (Kiveris et al.): each round hooks
    * whole neighborhoods onto their minimum, so components collapse in
    * O(log n) rounds — min-label propagation (the pre-r8 implementation)
    * needs O(component diameter) rounds, and on a 100 TB corpus with
    * long near-dup chains that is the difference between ~4 and ~30
    * shuffle rounds. Fixpoint = the edge set is unchanged (then it IS
    * the star set node→component-min); `maxRounds` stays as a runaway
    * guard that throws rather than mislabeling.
    *
    * Each round's frame is cut by `Cut` to truncate the lineage (else
    * round N replans rounds 1..N-1): an executor-local checkpoint, or a
    * reliable one under `graft.cut.mode=reliable` (survives executor
    * loss on a cluster). Output: (doc_id, cluster = component-min id)
    * for every node of the pair graph. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxRounds)._1

  /** Edge floor for the driver union-find fast path: ≤ 2^20 edges is
    * ~16 MB of ids — a bounded collect in the same class as the ANN
    * centroid sample or the BPE merge table. A dup-heavy 100 TB corpus
    * blows past it and runs the distributed loop; a curated one whose
    * above-threshold pair graph is small (the common case — pairs are
    * the EXCEPTION in a deduped corpus) skips 3–4 shuffle rounds whose
    * cost is pure per-job overhead at that size. */
  private[pipeline] val DriverCcFloor: Int = 1 << 20

  /** As `connectedComponents`, also returning the number of contraction
    * rounds run (the O(log n) bound is spec-pinned on a path graph;
    * the driver fast path reports 0). `driverFloor` exists for specs
    * that pin the distributed machinery (0 forces the fixpoint loop). */
  def connectedComponentsWithRounds(pairs: DataFrame,
      maxRounds: Int = 50,
      driverFloor: Int = DriverCcFloor): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // LAZY checkpoints: the round's `sig` aggregate below is the first
    // action on each cut frame, so ONE job both materializes the
    // checkpoint blocks and computes the convergence signature — the
    // eager form paid a separate materialization job per round (r12
    // plan-audit finding; ~20% of the fixpoint loop's wall time)
    def cut(df: DataFrame): DataFrame = Cut(df, "cc.round")
    // materialize the pair source ONCE: nodes and edges both derive from
    // it, and cutting each separately would execute the (often expensive —
    // a minhash-band or jaccard join) upstream plan twice
    val p0 = cut(pairs.select(col("a_id"), col("b_id")))
    val nodes = p0.select(col("a_id").as("id"))
      .unionByName(p0.select(col("b_id").as("id"))).distinct()
    var edges = cut(p0.select(col("a_id").as("u"), col("b_id").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // set-equality probe as one aggregate, not an `except` anti-join (a
    // full extra shuffle per round — it doubled the round cost at sf0.1):
    // both sides are DISTINCT sets, so equal counts + equal id sums
    // (decimal — full-range longs overflow ANSI sum) + equal xor of
    // 64-bit edge hashes ⟺ unchanged up to a hash-xor collision
    // (~2^-64 per round; the maxRounds guard still backs it, and a
    // collision merely ends one round early on an already-contracted
    // edge set)
    def sig(df: DataFrame): org.apache.spark.sql.Row =
      df.agg(count(lit(1)),
        sum(col("u").cast("decimal(38,0)")), sum(col("v").cast("decimal(38,0)")),
        expr("bit_xor(xxhash64(u, v))")).head()
    // SMALL-GRAPH FAST PATH, collect-first (r15): when the distinct edge
    // set fits the driver floor, a union-find finishes on the driver
    // instead of 3–4 fixpoint rounds of window+distinct shuffles
    // (per-round overhead dominates at this size — measured ~0.8 s of
    // the 2.4 s dedup_clusters_exact median at sf0.1). The bounded
    // collect runs FIRST and doubles as the size probe (rows.length <
    // bound ⟺ the old sig-count criterion), so the fast path costs ONE
    // action, not a sig job followed by a collect — at merge/append
    // scale every action is ~0.2-0.4 s of fixed overhead (r15 stage
    // profile). The same collect materializes the lazy p0/edges
    // checkpoints, exactly as the sig job used to. A big graph pays one
    // ≤~32 MB discarded collect (bound-limited) before the distributed
    // loop — noise against the rounds it then runs; specs that force the
    // loop pass driverFloor = 0, which skips the collect entirely.
    // Proper edges plus self-loop rows ride one collect (self-loop-only
    // nodes must be labeled too); the limit bounds runaway self-loop
    // duplication (then: fall through to the distributed loop).
    if (driverFloor > 0) {
      val bound = 2 * driverFloor + 2
      val rows = edges.select(col("u"), col("v"))
        .unionByName(p0.filter(col("a_id") === col("b_id"))
          .select(col("a_id").as("u"), col("b_id").as("v")))
        .limit(bound).collect()
      if (rows.length < bound &&
          rows.count(e => e.getLong(0) != e.getLong(1)) <= driverFloor) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var c = x
          while (parent.getOrDefault(c, c) != c) {
            val nx = parent.get(c); parent.put(c, r); c = nx
          }
          r
        }
        val nodeIds = new java.util.TreeSet[java.lang.Long]()
        rows.foreach { e =>
          val (a, b) = (e.getLong(0), e.getLong(1))
          nodeIds.add(a); nodeIds.add(b)
          val (ra, rb) = (find(a), find(b))
          // larger root onto smaller → every root is its component's min
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodeIds.size)
        nodeIds.forEach(id => labels += ((id.longValue, find(id.longValue))))
        import spark.implicits._
        return (labels.toSeq.toDF("doc_id", "cluster"), 0)
      }
    }
    var edgesSig = sig(edges)
    var converged = edgesSig.getLong(0) == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      val next = cut(smallStarRound(largeStarRound(edges)))
      val nextSig = sig(next)
      converged = nextSig == edgesSig
      edgesSig = nextSig
      edges = next
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
    // at fixpoint every non-root points to its component min exactly once;
    // roots (and isolated nodes) label themselves
    val labels = nodes
      .join(edges.select(col("u").as("id"), col("v").as("cluster")), Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("cluster"), col("id"))).as("cluster"))
    (labels.select(col("id").as("doc_id"), col("cluster")), round)
  }

  /** Repeated-substring exposure per document: the fraction of a doc's
    * k-token windows that also occur verbatim in ANOTHER doc — the
    * signal behind substring-level train-set dedup (drop or trim docs
    * dominated by boilerplate spans). Shape: positional k-grams explode
    * (n·k token copies), cross-doc grams found by one groupBy on the
    * gram, joined back per occurrence — an inverted-index join, nothing
    * quadratic. The gram key is the 8-byte xxhash64 of the window — the
    * string gram exists only transiently inside the pre-shuffle
    * projection, so every groupBy/join shuffles 8-byte longs instead of
    * ~50-byte strings (~6× narrower shuffle at 100 TB; a 64-bit
    * collision merging two real grams is ~1e-6 at billions of distinct
    * windows). */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
    val grams = toks.select(col("doc_id"),
      explode(expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
        s"i -> xxhash64(concat_ws(' ', slice(toks, i, $k))))")).as("gram"))
    val shared = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gram"))
    val perDoc = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val dup = grams.join(shared, Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_grams"))
    perDoc.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_fraction",
        round(col("dup_grams").cast("double") / col("n_grams"), 6))
  }

  val dedupSubstringSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
      |g0 AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS i, toks FROM f),
      |g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram FROM g0),
      |shared AS (SELECT gram FROM g GROUP BY gram HAVING count(distinct doc_id) >= 2),
      |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
      |dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_grams
      |        FROM g JOIN shared USING (gram) GROUP BY 1)
      |SELECT p.doc_id, n_grams,
      |  CAST(COALESCE(dup_grams, 0) AS BIGINT) AS dup_grams,
      |  round(CAST(COALESCE(dup_grams, 0) AS DOUBLE) / n_grams, 6) AS dup_fraction
      |FROM per p LEFT JOIN dup USING (doc_id)""".stripMargin

  /** Cross-document duplicate-LINE removal — the CCNet/Dolma line-dedup
    * pass: lines repeated across many documents are boilerplate
    * (headers, nav, footers) and get dropped; each doc is rebuilt from
    * its surviving lines in original order.
    *
    * `documents.text` carries no newlines, so the query derives a
    * deterministic multiline view (per-source header, the unique body,
    * a ~2-doc "pair" line, a ~25-doc footer) — the planted-instance
    * oracle pattern `text_pii_scrub` uses: both engines build the same
    * fixture, so the drop set is real, not vacuous.
    *
    * Scale shape: the duplication-degree aggregate shuffles the 8-byte
    * `xxhash64` of the line, never the line text (same trade as
    * `dedupSubstring`'s gram key: a 64-bit collision merging two real
    * lines is ~1e-6 at billions of distinct lines, and only ever drops
    * a line early); the doc rebuild is one shuffle on `doc_id` with
    * order restored by the carried line position — no window sort. */
  def dedupLines(spark: SparkSession, dir: String): DataFrame = {
    val keepThreshold = 2 // keep lines seen in <= 2 distinct docs
    val d = Tables.documents(spark, dir)
    val aug = concat(
      lit("hdr:"), col("source"), lit("\n"),
      col("text"), lit("\n"),
      lit("pair:"), (col("doc_id") % 250).cast("string"), lit("\n"),
      lit("foot:"), (col("doc_id") % 20).cast("string"))
    val lines = d.select(col("doc_id"),
      posexplode(split(aug, "\n", -1)).as(Seq("pos", "line")))
    val dup = lines
      .select(xxhash64(col("line")).as("lh"), col("doc_id"))
      .groupBy("lh").agg(countDistinct(col("doc_id")).as("ndocs"))
    val keep = col("ndocs") <= keepThreshold
    lines.withColumn("lh", xxhash64(col("line")))
      .join(dup, "lh")
      .groupBy("doc_id")
      .agg(
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(!keep, 1L).otherwise(0L)).as("n_dropped"),
        md5(to_binary(array_join(
          transform(
            array_sort(collect_list(when(keep, struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n"), lit("utf-8"))).as("cleaned_md5"))
      .where(col("n_kept") > 0)
  }

  val dedupLinesSql: String =
    """WITH lines AS (
      |  SELECT doc_id, unnest(list_transform(string_split(
      |    'hdr:' || source || chr(10) || text || chr(10) ||
      |    'pair:' || CAST(doc_id % 250 AS VARCHAR) || chr(10) ||
      |    'foot:' || CAST(doc_id % 20 AS VARCHAR),
      |    chr(10)), (x, i) -> {'line': x, 'pos': i}), recursive := true)
      |  FROM documents
      |), dupness AS (
      |  SELECT line, count(DISTINCT doc_id) AS ndocs FROM lines GROUP BY line
      |)
      |SELECT l.doc_id,
      |  CAST(count(*) FILTER (WHERE d.ndocs <= 2) AS BIGINT) AS n_kept,
      |  CAST(count(*) FILTER (WHERE d.ndocs > 2) AS BIGINT) AS n_dropped,
      |  md5(string_agg(l.line, chr(10) ORDER BY l.pos)
      |      FILTER (WHERE d.ndocs <= 2)) AS cleaned_md5
      |FROM lines l JOIN dupness d USING (line)
      |GROUP BY l.doc_id
      |HAVING count(*) FILTER (WHERE d.ndocs <= 2) > 0""".stripMargin

  /** Near-dup clustering over the EXACT jaccard pair graph — the same
    * star-contraction connected components as `dedup_clusters`, but fed
    * by the oracle-expressible pair source, which makes this the
    * clustering path's DuckDB-exact twin: the oracle recomputes the
    * components as a recursive-CTE transitive closure and labels every
    * node with its component minimum. (`dedup_clusters` itself stays
    * rows-only because minhash signatures aren't SQL-expressible; the CC
    * machinery both queries share is verified HERE.) */
  def dedupClustersExact(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      dedupNgramJaccardPlan(spark, dir).select(col("a_id"), col("b_id")))

  val dedupClustersExactSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2])) AS ng
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.5),
      |e AS (SELECT a_id AS u, b_id AS v FROM pairs
      |      UNION SELECT b_id, a_id FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM e
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v <> r.u)
      |SELECT u AS doc_id, least(u, MIN(v)) AS cluster
      |FROM reach GROUP BY u""".stripMargin

  /** NEAR-DUP COLLAPSE keeping the BEST representative — what a curation
    * pass actually does with a near-dup cluster: keep ONE member chosen
    * by a QUALITY key (here: longest text wins, min doc_id breaks ties —
    * the "keep the longest version" heuristic), rather than the min-id
    * convention of the raw membership view. One grouped ARGMAX over the
    * membership ⋈ doc-stats join: `max_by` gets partial aggregation so a
    * cluster's members collapse map-side (no window, no per-cluster
    * sort), and the membership side is bounded by the above-threshold
    * pair graph — tiny next to the corpus, so the stats join broadcasts
    * at any scale where clustering itself is feasible. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClustersExact(spark, dir) // (doc_id, cluster)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    clusters.join(docs, Seq("doc_id"))
      .groupBy(col("cluster"))
      .agg(
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("n_chars")).as("max_chars"))
      .select(col("cluster"), col("keep_id"), col("n_members"), col("max_chars"))
  }

  val dedupKeepBestSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2])) AS ng
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.ng, b.ng))) >= 0.5),
      |e AS (SELECT a_id AS u, b_id AS v FROM pairs
      |      UNION SELECT b_id, a_id FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM e
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v <> r.u),
      |comp AS (
      |  SELECT u AS doc_id, least(u, MIN(v)) AS cluster FROM reach GROUP BY u)
      |SELECT comp.cluster,
      |  (array_agg(m.doc_id ORDER BY m.n_chars DESC, m.doc_id ASC))[1] AS keep_id,
      |  COUNT(*) AS n_members,
      |  MAX(m.n_chars) AS max_chars
      |FROM comp JOIN documents m USING (doc_id)
      |GROUP BY comp.cluster""".stripMargin

  /** Representative inverted index of a doc set: one row per
    * (lang, shingle-hash) of each DISTINCT content's representative —
    * (lang, sh, rid, sz). The rep collapse is the same duplicate-cluster
    * armor as the pair join's; `sz == 0` contents (texts under 3 tokens)
    * index nothing, exactly as the pair join never pairs them. This is
    * the corpus-side artifact the incremental clustering path joins
    * against — at 100 TB it is written ONCE per corpus version
    * (ClusterIndex persists it), never recomputed per arriving batch. */
  private[pipeline] def repIndexOf(docs: DataFrame): DataFrame =
    // the explode already drops sz == 0 contents (empty shingle arrays
    // produce no rows), so this is exactly the old filter(sz > 0) shape
    repIndexFullOf(docs)
      .select(col("lang"), col("rid"), col("sz"), col("sh"))

  /** INCREMENTAL CLUSTER MAINTENANCE — merge a delta batch into an
    * existing clustering without recomputing the corpus's components.
    * `members` is the current clustering (doc_id, cluster = component
    * min over the corpus pair graph); `corpusIdx` the corpus's rep
    * inverted index ([[repIndexOf]]); `delta` the arriving docs
    * (doc_id, lang, t). Output: the FULL new membership, row-identical
    * to one-shot clustering of corpus ∪ delta (spec + oracle pinned).
    *
    * The algebra works on a CONTRACTED graph — each existing cluster is
    * one node (its label), each distinct delta content one rep — so the
    * merge costs O(delta + its shared content), never O(corpus):
    *   E1  delta member → its content rep (same-content docs pair at
    *       jaccard 1.0 whenever they shingle at all)
    *   E4  delta rep × delta rep with jaccard ≥ 0.5 (inverted join)
    *   E3  delta rep × corpus rep with jaccard ≥ 0.5, the corpus id
    *       CONTRACTED to its cluster label (or itself when unclustered)
    * Connected components over E1 ∪ E4 ∪ E3 then yield, per contracted
    * component, its min id — which IS the global min of the merged
    * underlying component: every contracted node (old label, delta id,
    * corpus singleton id) is the minimum of what it stands for. Old
    * members relabel through one (old label → new label) map join —
    * only clusters the delta actually touched move; fresh nodes (delta
    * docs, corpus docs paired for the first time) append. */
  private[pipeline] def mergeDelta(members: DataFrame, corpusIdx: DataFrame,
      delta: DataFrame, threshold: Double = 0.5): DataFrame = {
    val (relabel0, fresh, bounded) = mergeDeltaParts(members, corpusIdx, delta, threshold)
    // one broadcastable label-map join relabels exactly the touched
    // clusters — the membership is SCANNED once, never shuffled. The
    // broadcast is HINTED only when the merge CC took the driver
    // fast path (≤2^20-edge contracted graph → the label map is a
    // bounded LocalRelation); a bulk backfill whose contracted graph
    // ran the distributed loop falls back to the planner's choice
    // instead of forcing an over-limit broadcast (ADVICE r14).
    val relabel = if (bounded) broadcast(relabel0) else relabel0
    val updated = members.join(relabel,
        members("cluster") === relabel("old_lab"), "left")
      .select(members("doc_id"),
        coalesce(col("new_lab"), members("cluster")).as("cluster"))
    updated.unionByName(fresh)
  }

  /** The merge's two SMALL outputs, for callers that must stay
    * O(delta + touched clusters) end-to-end ([[ClusterIndex.append]]
    * persists only moved/created rows — joining the full merged
    * membership back against the old one to find them would cost two
    * O(corpus) shuffles):
    *   relabel  (old_lab, new_lab) — every contracted-graph node with
    *            its component min; joining `members.cluster ===
    *            old_lab` relabels the touched clusters (non-label
    *            nodes match nothing)
    *   fresh    (doc_id, cluster) — nodes entering membership: delta
    *            docs + corpus docs paired for the first time
    * Both are bounded by the contracted graph, never the corpus. The
    * third element reports whether the merge CC resolved on the DRIVER
    * fast path (contracted graph ≤ the 2^20-edge floor) — then relabel
    * is a bounded LocalRelation callers may safely force-broadcast;
    * when false (a bulk backfill touching >2^20 contracted edges) a
    * forced broadcast could exceed the 8 GB broadcast cap and callers
    * must let the planner choose.
    *
    * `deltaBounded` (r15): the caller asserts the DELTA is small enough
    * that its derived shingle index fits a broadcast (ClusterIndex
    * .appendDocs passes `delta.count() <= 2^16` — it has the count in
    * hand from its no-op probe; a streaming micro-batch always
    * qualifies). Then every delta-derived join side is broadcast-HINTED,
    * and in particular E3 becomes corpus-index ⋈ broadcast(delta
    * shingles): the corpus inverted index is SCANNED, never shuffled —
    * without the hint a stats-blind planner can sort-merge that join
    * and move the whole O(corpus) index for a micro-batch of arrivals
    * (guide §3.1: broadcast the side you know is small; estimates
    * cannot know it after checkpoints/caches). Default false = the
    * planner's own estimates decide (the in-session oracle-query path,
    * whose inputs carry parquet statistics). */
  private[pipeline] def mergeDeltaParts(members: DataFrame, corpusIdx: DataFrame,
      delta: DataFrame, threshold: Double = 0.5,
      deltaBounded: Boolean = false): (DataFrame, DataFrame, Boolean) = {
    def hinted(df: DataFrame): DataFrame = if (deltaBounded) broadcast(df) else df
    val d = delta.withColumn("tk", md5(col("t")))
    // member ids ride the rep aggregate (r16): the delta rep collapse
    // already groups every member by content, so collecting the group's
    // ids there makes E1 a projection of `reps` instead of a d ⋈ reps
    // join — one whole join chain (2 stages) off the merge's critical
    // path, which the stage profile shows is ~20 SEQUENTIAL mostly
    // 1-task stages (wall ≈ Σ stage latency, not data volume). List
    // order is plan-nondeterministic but E1 is consumed as an edge SET
    // by connectedComponents — order-independent. Bounded: mids holds
    // one delta batch's ids per distinct content.
    // The cut materializes reps ONCE for its three consumers (e1, the
    // candidate stream side, the candidate build side) — uncut, each
    // re-ran the delta scan + md5 + rep aggregate.
    val reps = Cut(d.groupBy(col("lang"), col("tk"))
      .agg(min(col("doc_id")).as("rid"), min(col("t")).as("t"),
        collect_list(col("doc_id")).as("mids"))
      .withColumn("ng", shingle_hashes(split(col("t"), "\\s+"), 3))
      .withColumn("sz", size(col("ng")).cast("long"))
      .drop("t"), "merge.reps")
    // E1: same-content delta members hook onto their rep (sz>0 only —
    // sub-3-token contents never pair, in the full plan or here)
    val e1 = reps.filter(col("sz") > 0)
      .select(col("rid"), explode(col("mids")).as("u"))
      .filter(col("u") =!= col("rid"))
      .select(col("u"), col("rid").as("v"))
    val dx = reps.filter(col("sz") > 0)
      .select(col("lang"), col("rid"), col("sz"), explode(col("ng")).as("sh"))
    // E4 (delta×delta) and E3 (corpus×delta) FUSED into one join + one
    // aggregation (r15): both probe the same delta shingle index, so the
    // stream side is (corpus ∪ delta) with a side tag and the build side
    // is ONE broadcast of the delta index — at append scale the merge's
    // cost is per-stage fixed overhead (stage profile: ~20 stages of
    // 0.05-0.4 s, no stage dominating), and this halves the candidate
    // plan's join+agg chains; at 100 TB it is also one fewer pass over
    // the corpus inverted index. The unordered-once constraint applies
    // only to the delta-delta side (a_rid < b_rid); corpus-delta pairs
    // keep every (c_rid, b_rid) exactly as the unfused E3 did (corpus
    // and delta rep ids are disjoint — doc ids are immutable and the
    // covered-ledger anti-join keeps re-arrivals out).
    val cx = corpusIdx.select(col("lang"), col("sh"), col("rid").as("c_rid"),
      col("sz").as("c_sz"))
    val stream = cx.select(col("lang"), col("sh"), col("c_rid").as("a_rid"),
        col("c_sz").as("a_sz"), lit(false).as("isd"))
      .unionByName(dx.select(col("lang"), col("sh"), col("rid").as("a_rid"),
        col("sz").as("a_sz"), lit(true).as("isd")))
    // LAZY local checkpoint (the connectedComponents `cut` discipline):
    // the candidate set feeds the CC pair graph (via e4/e3c), `touched`
    // and `fresh` — without the cut the join executed three times.
    // Lazy, so the blocks materialize inside the CC's own sig job (no
    // extra job barrier); every later reference reads the blocks.
    val cand = Cut(stream.join(hinted(dx.select(col("lang"), col("sh"),
        col("rid").as("b_rid"), col("sz").as("b_sz"))), Seq("lang", "sh"))
      .filter(!col("isd") || col("a_rid") < col("b_rid"))
      .groupBy(col("a_rid"), col("b_rid"), col("a_sz"), col("b_sz"), col("isd"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("a_sz") + col("b_sz") - col("inter")) >= threshold)
      .select(col("a_rid"), col("b_rid"), col("isd")), "merge.cand")
    val e4 = cand.filter(col("isd"))
      .select(col("a_rid").as("u"), col("b_rid").as("v"))
    val e3 = cand.filter(!col("isd"))
      .select(col("a_rid").as("c_rid"), col("b_rid"))
    // contract the corpus side to cluster labels (unclustered corpus
    // docs — first-time pairers — stand as themselves). Joined in the
    // STREAM-the-big-side direction: members ⋈ broadcast(e3's touched
    // rep ids) scans the membership once with no shuffle (a left join
    // FROM small e3 INTO big members would shuffle the membership —
    // outer sides can't broadcast)
    val lab = members.select(col("doc_id").as("c_rid"), col("cluster").as("clab"))
    // same cut for `touched`: it scans the MEMBERSHIP (O(corpus) when the
    // caller's members is the persisted multi-gen artifact) and is
    // referenced both inside the CC pair graph (e3c) and by `fresh`'s
    // anti-join below — one materialization, in the CC's sig job
    // under deltaBounded the touched-rep id set broadcasts too (ids
    // only, bounded by the delta's candidate pairs) — the membership is
    // then scanned with NO shuffle; a checkpointed e3 has no stats, so
    // without the hint this join sort-merges and shuffles the whole
    // membership for a micro-batch of arrivals
    val touched = Cut(lab.join(hinted(e3.select(col("c_rid")).distinct()),
      Seq("c_rid")), "merge.touched")
    val e3c = e3.join(touched, Seq("c_rid"), "left")
      .select(col("b_rid").as("u"), coalesce(col("clab"), col("c_rid")).as("v"))
    val (cc, rounds) = connectedComponentsWithRounds(
      e1.unionByName(e4).unionByName(e3c)
        .select(col("u").as("a_id"), col("v").as("b_id")))
    val relabel = cc.select(col("doc_id").as("old_lab"),
      col("cluster").as("new_lab"))
    // fresh = cc nodes NOT already in membership. The only cc nodes in
    // membership are old labels adopted through e3c's contraction
    // (non-label member ids never become nodes — their edges carry the
    // label; delta ids and first-pairer corpus ids are new by
    // construction), so the anti-join runs against `touched`'s SMALL
    // label set, not the corpus membership.
    // rounds == 0 ⟺ the CC resolved on the driver fast path ⟺ cc,
    // relabel AND touched are bounded by the 2^20-edge floor — then the
    // anti side broadcasts (a checkpointed `touched` has no stats, so
    // without the hint this join degrades to a sort-merge that shuffles
    // both sides — observed in the r15 plan diff)
    val touchedLabs = touched.select(col("clab").as("doc_id")).distinct()
    val fresh = cc.join(
      if (rounds == 0) broadcast(touchedLabs) else touchedLabs,
      Seq("doc_id"), "left_anti")
    (relabel, fresh, rounds == 0)
  }

  /** Oracle row for the incremental clustering path: cluster the ~80%
    * corpus slice one-shot, then MERGE the arriving ~20% slice (the same
    * deterministic hash split as `dedup_incremental`) through
    * [[mergeDelta]] — the result must equal one-shot clustering of the
    * WHOLE table, which is exactly `dedup_clusters_exact`'s recursive-CTE
    * oracle. This is the 100 TB cluster-maintenance story: corpus growth
    * costs O(delta + touched clusters), not a full re-pair + re-CC;
    * ClusterIndex persists the artifacts this query derives in-session. */
  def dedupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = pmod(col("doc_id") * 2246822519L, lit(100L)) >= 80
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), trim(col("text")).as("t"))
    val corpus = docs.filter(!isBatch)
    val delta = docs.filter(isBatch)
    // ONE corpus rep index, two consumers (r16): the base pair join and
    // the merge both derive the (lang, rep, sz, shingle-hash) inverted
    // index from the same rep collapse — r15 computed the md5 + rep
    // aggregate + shingle explode chain twice (once inside
    // jaccardPairsOf, once in repIndexOf). The cut materializes it in
    // the base CC's own collect job; the merge's candidate join then
    // reads the blocks. Dropping tk from the full index IS repIndexOf's
    // output (merge ≡ rebuild spec + oracle hash pin the equivalence).
    // MEASURED AND REVERTED (r16): cutting repIdx (one shared
    // materialization for the pair join and the merge, VERDICT #3's ask)
    // was tried and measured: wall-neutral at sf0.1 but +8.5 MB shuffle
    // (3.8 -> 12.5 MB on this query), because the checkpoint fence hides
    // the index's stats — the optimizer loses the broadcast it otherwise
    // picks for the pair self-join and the downstream aggregates stop
    // collapsing. At 100 TB the sharing is NOT this query's job anyway:
    // ClusterIndex PERSISTS the corpus index once per corpus version and
    // the production merge path reads that artifact — only this
    // by-construction oracle query recomputes it, and recomputing (two
    // stats-visible subplans) is byte- and time-cheaper than one
    // stats-blind cut.
    val repIdx = repIndexFullOf(corpus)
    val base = connectedComponents(
      jaccardPairsOfIdx(corpus, repIdx).select(col("a_id"), col("b_id")))
    mergeDelta(base,
      repIdx.select(col("lang"), col("rid"), col("sz"), col("sh")), delta)
  }

  /** Same oracle as `dedup_clusters_exact`: the merged result IS the
    * full clustering. */
  val dedupClustersIncrementalSql: String = dedupClustersExactSql

  /** INCREMENTAL dedup — the continuous-ingestion surface: a new batch
    * (a deterministic ~20% hash slice plays the arriving shard) is
    * deduped against the EXISTING corpus without ever re-deduping the
    * corpus itself. Per batch doc, three independent audit flags:
    *   exact_corpus   content hash already present in the corpus
    *   exact_batch    a smaller-id twin exists within the batch itself
    *   neardup_corpus n-gram jaccard ≥ 0.5 against any corpus doc
    * and kept = none of the above. Scale shape: the corpus contributes
    * only its distinct hash set (16 B/doc) to the exact check and its
    * (lang, shingle-hash, id, sz) inverted index to the near-dup join —
    * pairs materialize only on shared content, exactly like
    * `dedup_ngram_jaccard`; nothing rescans or re-pairs corpus×corpus. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = pmod(col("doc_id") * 2246822519L, lit(100L)) >= 80
    val d = incrementalPrep(Tables.documents(spark, dir))
    val (hashes, shingles) = incrementalCorpusSide(d.filter(!isBatch))
    incrementalFlags(d.filter(isBatch), hashes, shingles, seen = None)
  }

  /** Incremental dedup's doc prep: (doc_id, lang, h = content md5,
    * ng = hashed 3-gram shingle set, sz = |ng|). */
  private[graft] def incrementalPrep(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        md5(to_binary(col("text"), lit("utf-8"))).as("h"),
        shingle_hashes(split(trim(col("text")), "\\s+"), 3).as("ng"))
      .withColumn("sz", size(col("ng")).cast("long"))

  /** The corpus side of incremental dedup over prepped corpus docs: its
    * distinct content hashes (h) and its (lang, c_id, c_sz, sh) shingle
    * inverted index. */
  private[graft] def incrementalCorpusSide(corpus: DataFrame): (DataFrame, DataFrame) =
    (corpus.select(col("h")).distinct(),
      corpus.select(col("lang"), col("doc_id").as("c_id"),
        col("sz").as("c_sz"), explode(col("ng")).as("sh")))

  /** The audit flags of prepped `batch` docs against a corpus side
    * (`hashes`, `shingles`). A batch doc is `exact_batch` when a
    * smaller-id twin is in the batch, or when its hash is in `seen`
    * (hashes of batches ingested before this one). */
  private[graft] def incrementalFlags(batch: DataFrame, hashes: DataFrame,
      shingles: DataFrame, seen: Option[DataFrame]): DataFrame = {
    val exactCorpus = batch
      .join(hashes, Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("exact_corpus", lit(1L))
    // batch-internal losers: everyone above the min doc_id of their
    // content group. An aggregation + self-join instead of a row_number
    // window: partial agg collapses a duplicate cluster map-side and the
    // h-keyed join is the AQE-splittable shape (same skew rationale as
    // the jaccard rep-collapse; rn > 1 ⇔ doc_id > min(doc_id), ids
    // unique)
    val minIds = batch.groupBy(col("h")).agg(min(col("doc_id")).as("min_id"))
    val withinBatch = batch.select(col("h"), col("doc_id"))
      .join(minIds, Seq("h"))
      .filter(col("doc_id") > col("min_id"))
      .select(col("doc_id"))
    val exactBatch = seen.fold(withinBatch) { s =>
      withinBatch.unionByName(
        batch.join(s, Seq("h"), "left_semi").select(col("doc_id"))).distinct()
    }.withColumn("exact_batch", lit(1L))
    val bx = batch.select(col("lang"), col("doc_id").as("b_id"),
      col("sz").as("b_sz"), explode(col("ng")).as("sh"))
    val nearDup = shingles.join(bx, Seq("lang", "sh"))
      .groupBy(col("b_id"), col("c_id"), col("c_sz"), col("b_sz"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("c_sz") + col("b_sz") - col("inter")) >= 0.5)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("neardup_corpus", lit(1L))
    batch.select(col("doc_id"))
      .join(exactCorpus, Seq("doc_id"), "left")
      .join(exactBatch, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .na.fill(0L, Seq("exact_corpus", "exact_batch", "neardup_corpus"))
      .withColumn("kept",
        when(col("exact_corpus") + col("exact_batch") + col("neardup_corpus") === 0, 1L)
          .otherwise(0L))
  }

  val dedupIncrementalSql: String =
    """WITH doc AS (
      |  SELECT doc_id, lang, md5(text) AS h,
      |    (doc_id * 2246822519) % 100 >= 80 AS is_batch,
      |    list_distinct(list_transform(range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
      |      i -> string_split(trim(text), ' ')[i] || ' ' || string_split(trim(text), ' ')[i+1] || ' ' || string_split(trim(text), ' ')[i+2])) AS ng
      |  FROM documents),
      |corpus AS (SELECT * FROM doc WHERE NOT is_batch),
      |batch AS (SELECT * FROM doc WHERE is_batch),
      |ec AS (SELECT DISTINCT doc_id FROM batch WHERE h IN (SELECT h FROM corpus)),
      |eb AS (SELECT doc_id FROM (
      |         SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      |         FROM batch) t WHERE rn > 1),
      |nd AS (SELECT DISTINCT b.doc_id
      |       FROM batch b JOIN corpus c ON b.lang = c.lang
      |       WHERE CAST(len(list_intersect(b.ng, c.ng)) AS DOUBLE)
      |             / len(list_distinct(list_concat(b.ng, c.ng))) >= 0.5)
      |SELECT doc_id,
      |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM ec) THEN 1 ELSE 0 END AS BIGINT) AS exact_corpus,
      |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM eb) THEN 1 ELSE 0 END AS BIGINT) AS exact_batch,
      |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM nd) THEN 1 ELSE 0 END AS BIGINT) AS neardup_corpus,
      |  CAST(CASE WHEN doc_id NOT IN (SELECT doc_id FROM ec)
      |             AND doc_id NOT IN (SELECT doc_id FROM eb)
      |             AND doc_id NOT IN (SELECT doc_id FROM nd)
      |            THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM batch""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("dedup_clusters_exact", dedupClustersExact, Some(dedupClustersExactSql)),
    Declared("dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    Declared("dedup_clusters_incremental", dedupClustersIncremental, Some(dedupClustersIncrementalSql)),
    Declared("dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    Declared("dedup_lines", dedupLines, Some(dedupLinesSql)),
    Declared("dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    Declared("dedup_clusters", dedupClusters),
    Declared("dedup_exact", dedupExact, Some(dedupExactSql)),
    // the uncached plan: Verify gets the same rows, Bench times the join
    Declared("dedup_ngram_jaccard", dedupNgramJaccardPlan, Some(dedupNgramJaccardSql)),
    Declared("dedup_minhash", dedupMinhash),
    Declared("dedup_minhash_band_exact", dedupMinhashBandExact, Some(dedupMinhashBandExactSql)),
    Declared("dedup_simhash", dedupSimhash),
    Declared("dedup_simhash_band_exact", dedupSimhashBandExact, Some(dedupSimhashBandExactSql)),
    Declared("dedup_embedding_exact", dedupEmbeddingExact, Some(dedupEmbeddingExactSql)),
    Declared("dedup_embedding", dedupEmbedding),
  )
}
