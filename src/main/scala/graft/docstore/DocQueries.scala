package graft.docstore

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Declared
import graft.sources.Tables

/** SURVEY.md §2A — the document-store operator block. Each query drives the
  * StructuredQuery compiler over the `events` collection (rows as JSON
  * docs) and has a relational DuckDB oracle over the same parquet, so the
  * JSON-path/filter semantics are checked against ground truth.
  */
object DocQueries {

  import FieldValue._

  private def coll(spark: SparkSession, dir: String): DocCollection =
    DocStore.eventsCollection(spark, dir)

  /** FieldFilter EQUAL (proto FieldFilter.Operator.EQUAL). */
  def docFilterEq(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("event_type", Op.Eq, Str("purchase"))),
      select = Seq("event_type"))
    DocStore.queryFused(coll(spark, dir), q)
  }

  val docFilterEqSql: String =
    "SELECT event_id AS _id, event_type FROM events WHERE event_type = 'purchase'"

  /** Range ops over an Int64 doc field. */
  def docFilterRange(spark: SparkSession, dir: String): DataFrame = {
    val c = coll(spark, dir)
    val q = StructuredQuery(where = Some(AndFilter(Seq(
      FieldFilter("k", Op.Gt, I64(50)), FieldFilter("k", Op.Le, I64(90))))))
    DocStore.queryFused(c, q)
      .select(col("_id"), get_json_object(col("doc"), "$.k").cast("long").as("k"))
  }

  val docFilterRangeSql: String =
    """SELECT event_id AS _id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) <= 90""".stripMargin

  /** CompositeFilter AND of mixed-type field filters. */
  def docFilterAnd(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(where = Some(AndFilter(Seq(
      FieldFilter("event_type", Op.Eq, Str("purchase")),
      FieldFilter("value", Op.Ge, Dbl(100.0)),
      FieldFilter("k", Op.Lt, I64(50))))))
    DocStore.queryFused(coll(spark, dir), q).select("_id")
  }

  val docFilterAndSql: String =
    """SELECT event_id AS _id FROM events
      |WHERE event_type = 'purchase' AND value >= 100.0
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) < 50""".stripMargin

  /** OR composite (proto's declared-next `OR = 2`,
    * db3_database_v2.proto:143-145), mixing field types and nesting an
    * AND underneath. */
  def docFilterOr(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(OrFilter(Seq(
        FieldFilter("event_type", Op.Eq, Str("error")),
        AndFilter(Seq(
          FieldFilter("k", Op.Gt, I64(90)),
          FieldFilter("value", Op.Lt, Dbl(50.0))))))),
      select = Seq("event_type"))
    DocStore.queryFused(coll(spark, dir), q)
  }

  val docFilterOrSql: String =
    """SELECT event_id AS _id, event_type FROM events
      |WHERE event_type = 'error'
      |   OR (CAST(json_extract_string(props, '$.k') AS BIGINT) > 90 AND value < 50.0)""".stripMargin

  /** IN over an ArrayValue operand (proto's declared-next `IN = 8`,
    * db3_database_v2.proto:260-264). */
  def docFilterIn(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("event_type", Op.In,
        Arr(Seq(Str("signup"), Str("error"))))),
      select = Seq("event_type"))
    DocStore.queryFused(coll(spark, dir), q)
  }

  val docFilterInSql: String =
    """SELECT event_id AS _id, event_type FROM events
      |WHERE event_type IN ('signup', 'error')""".stripMargin

  /** NOT_IN (proto's declared-next `NOT_IN = 10`, proto:278-287) over an
    * Int64 ArrayValue. */
  def docFilterNotIn(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("k", Op.NotIn,
        Arr((0L until 50L by 10L).map(I64.apply)))))
    DocStore.queryFused(coll(spark, dir), q).select("_id")
  }

  val docFilterNotInSql: String =
    """SELECT event_id AS _id FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) NOT IN (0, 10, 20, 30, 40)""".stripMargin

  /** NOT_EQUAL (proto op 6 — declared but unimplemented in the reference's
    * JSON filter parser, bson_util.rs:88; implemented here). */
  def docFilterNeq(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("event_type", Op.Neq, Str("error"))),
      select = Seq("event_type"))
    DocStore.queryFused(coll(spark, dir), q)
  }

  val docFilterNeqSql: String =
    "SELECT event_id AS _id, event_type FROM events WHERE event_type <> 'error'"

  /** Projection{fields} — subset of doc fields, string-typed like the
    * reference returns raw JSON values. */
  def docProjection(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("k", Op.Eq, I64(7))),
      select = Seq("user_id", "event_type"))
    DocStore.queryFused(coll(spark, dir), q)
  }

  val docProjectionSql: String =
    """SELECT event_id AS _id, CAST(user_id AS VARCHAR) AS user_id, event_type
      |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) = 7""".stripMargin

  /** Limit after filter, deterministic by `_id` (proto appends __name__). */
  def docLimit(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("value", Op.Gt, Dbl(150.0))),
      select = Seq("value"), limit = Some(20))
    DocStore.queryFused(coll(spark, dir), q)
  }

  val docLimitSql: String =
    """SELECT event_id AS _id, CAST(value AS VARCHAR) AS value FROM events
      |WHERE value > 150.0 ORDER BY event_id LIMIT 20""".stripMargin

  /** Point lookup by doc id (doc_store.rs:240 get_doc). */
  def docGetById(spark: SparkSession, dir: String): DataFrame = {
    val c = coll(spark, dir)
    c.df.filter(col("_id") === 1234L)
      .select(col("_id"),
        get_json_object(col("doc"), "$.user_id").cast("long").as("user_id"),
        get_json_object(col("doc"), "$.value").cast("double").as("value"))
  }

  val docGetByIdSql: String =
    "SELECT event_id AS _id, user_id, value FROM events WHERE event_id = 1234"

  /** CollectionState.total_doc_count per collection (event_type plays the
    * collection name, as in the event DB's one-table-per-event-type). */
  def docCountState(spark: SparkSession, dir: String): DataFrame = {
    coll(spark, dir).df
      .groupBy(get_json_object(col("doc"), "$.event_type").as("collection"))
      .agg(count(lit(1)).as("total_doc_count"))
  }

  val docCountStateSql: String =
    "SELECT event_type AS collection, COUNT(*) AS total_doc_count FROM events GROUP BY event_type"

  /** Latest-wins fold of the mutation log (db_store_v2.rs:1149
    * apply_mutation): events = AddDocument/UpdateDocument mutations keyed
    * by user_id, ordered by (ts, event_id) ≈ (block_id, order_id). One
    * shuffle on the doc key; row_number (not groupBy-max + rejoin). */
  def docStateLatest(spark: SparkSession, dir: String): DataFrame = {
    // latest-per-key as an ARGMAX AGGREGATION, not a window: max_by gets
    // partial aggregation, so a hot key (one user emitting half the
    // corpus — the skew ScaleSmoke profile) reduces to one row per map
    // partition BEFORE the shuffle. A row_number window would sort the
    // hot key's entire history in a single task. (ts, event_id) is the
    // total order ((event_id unique ⇒ deterministic under ts ties).
    val ev = Tables.events(spark, dir)
    ev.groupBy(col("user_id"))
      .agg(max_by(struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_type").as("last_type"),
        col("m.value").as("last_value"))
  }

  val docStateLatestSql: String =
    """SELECT user_id, event_type AS last_type, value AS last_value FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t WHERE rn = 1""".stripMargin

  /** DeleteDocument tombstones: docs whose latest mutation is a delete
    * ('error' plays the tombstone action) drop out of live state. */
  def docStateTombstone(spark: SparkSession, dir: String): DataFrame =
    docStateLatest(spark, dir).filter(col("last_type") =!= "error")

  val docStateTombstoneSql: String =
    """SELECT user_id, event_type AS last_type, value AS last_value FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  /** DocumentMask field-merge (db3_mutation_v2.proto DocumentMask): per
    * doc key, each masked field takes its value from the latest mutation
    * that carried that field — fields not in a mutation's mask are left
    * unchanged. Modeled as per-field latest-wins: `value` is masked only
    * by 'purchase' mutations, `k` only by 'click' mutations. */
  def docPatchMask(spark: SparkSession, dir: String): DataFrame = {
    // Single-shuffle form: one groupBy(user_id) with per-field max_by over
    // the (ts, event_id) ordering key, null-gated by the masking mutation
    // type (max_by skips null ordering keys). The two-window+join form
    // would shuffle three times; this shuffles once — the shape that
    // matters when the doc-key cardinality is 10^9.
    // A mutation only masks a field it actually CARRIES (DocumentMask
    // lists present paths) — a 'click' without `k` (or with JSON null)
    // leaves the previous masked_k standing, so the gate requires the
    // field non-null alongside the type match.
    // parse props ONLY on the rows whose type can mask `k` (r16): the
    // aggregate's gate already nulls non-click rows, so hoisting the
    // type test into the `when` skips the JSON parse — the dominant
    // per-row CPU of this query — on every non-click event. Identical
    // output: non-click rows contributed null either way.
    val ev = Tables.events(spark, dir)
      .withColumn("k", when(col("event_type") === "click",
        get_json_object(col("props"), "$.k")).cast("long"))
    def latestOf(tpe: String, field: String) =
      max_by(when(col("event_type") === tpe && col(field).isNotNull, col(field)),
        when(col("event_type") === tpe && col(field).isNotNull,
          struct(col("ts"), col("event_id"))))
    ev.groupBy(col("user_id"))
      .agg(latestOf("purchase", "value").as("masked_value"),
        latestOf("click", "k").as("masked_k"))
      .filter(col("masked_value").isNotNull && col("masked_k").isNotNull)
  }

  val docPatchMaskSql: String =
    """WITH p AS (
      |  SELECT user_id, value AS masked_value FROM (
      |    SELECT user_id, value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_type = 'purchase' AND value IS NOT NULL) t WHERE rn = 1),
      |c AS (
      |  SELECT user_id, k AS masked_k FROM (
      |    SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE event_type = 'click'
      |      AND json_extract_string(props, '$.k') IS NOT NULL) t WHERE rn = 1)
      |SELECT p.user_id, masked_value, masked_k FROM p JOIN c ON p.user_id = c.user_id""".stripMargin

  /** Doc-ownership join (db_store_v2.rs:819 verify_docs_ownership): docs
    * grouped to their owner dimension; owner dim is broadcast. */
  def docOwnerJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cust = Tables.customer(spark, dir)
    ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("user_id")).as("n_owners"))
  }

  val docOwnerJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_docs, COUNT(DISTINCT user_id) AS n_owners
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Typed index-key extraction per Index{path,type} (AddIndexMutation):
    * the index build is a sorted projection (key, _id) — on a cluster this
    * is the bucketed/sorted layout that replaces the reference's B-tree. */
  def docIndexExtract(spark: SparkSession, dir: String): DataFrame = {
    val c = coll(spark, dir)
    c.df.select(
        DocStore.fieldCol(col("doc"), "k", FieldValue.I64(0)).as("idx_key"),
        col("_id"))
      .filter(col("idx_key").isNotNull)
  }

  val docIndexExtractSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS idx_key, event_id AS _id
      |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL""".stripMargin

  /** ARRAY_CONTAINS (proto op 7) against a JSON array field: documents
    * viewed as docs with a `tags` array (their first 5 tokens); the
    * oracle recomputes membership relationally. */
  def docArrayContains(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val docs = d.select(d("doc_id").as("_id"),
      to_json(struct(slice(split(trim(d("text")), "\\s+"), 1, 5).as("tags"))).as("doc"))
    val q = StructuredQuery(
      where = Some(FieldFilter("tags", Op.ArrayContains, Str("data"))))
    DocStore.query(DocCollection("documents", docs), q).select("_id")
  }

  val docArrayContainsSql: String =
    """SELECT doc_id AS _id FROM documents
      |WHERE list_contains(regexp_split_to_array(trim(text), '\s+')[1:5], 'data')""".stripMargin

  /** The SDK's query-string language end-to-end (QueryStr → compiler):
    * filter + parameter binding + projection + limit in one string. */
  def docQstr(spark: SparkSession, dir: String): DataFrame = {
    val parsed = QueryStr.parse("/[event_type = purchase] and /[k > :kmin] | /{value} | limit 25",
      Map("kmin" -> I64(40)))
    DocStore.queryFused(coll(spark, dir), parsed.sq)
  }

  val docQstrSql: String =
    """SELECT event_id AS _id, CAST(value AS VARCHAR) AS value FROM events
      |WHERE event_type = 'purchase'
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 40
      |ORDER BY event_id LIMIT 25""".stripMargin

  /** Order-by over a typed doc field (the proto's declared-next
    * `repeated Order order_by`, db3_database_v2.proto:340-363): k DESC
    * with the appended `_id` DESC tiebreak per the Firestore appending
    * rule, then limit. Sort+limit fuses to TakeOrderedAndProject —
    * per-partition top-N, no global sort materialized. */
  def docOrderby(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("value", Op.Gt, Dbl(150.0))),
      select = Seq("k"),
      orderBy = Seq(Order("k", desc = true, keyType = I64(0))),
      limit = Some(50))
    DocStore.queryFused(coll(spark, dir), q)
  }

  val docOrderbySql: String =
    """SELECT event_id AS _id,
      |  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR) AS k
      |FROM events WHERE value > 150.0
      |ORDER BY CAST(json_extract_string(props, '$.k') AS BIGINT) DESC, event_id DESC
      |LIMIT 50""".stripMargin

  /** Offset paging (proto's declared-next `int32 offset`,
    * db3_database_v2.proto:327-338): applies after where/order, before
    * limit. */
  def docOffset(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("event_type", Op.Eq, Str("view"))),
      select = Seq("value"),
      orderBy = Seq(Order("value", keyType = Dbl(0))),
      offset = Some(100), limit = Some(40))
    DocStore.queryFused(coll(spark, dir), q)
  }

  // NULLS FIRST: the engine follows the BSON type order (null sorts
  // before numbers → ascending = nulls first, Spark's asc default);
  // DuckDB's default null order is absolute nulls-last, so the oracle
  // must say so explicitly on ASC sorts over nullable fields.
  val docOffsetSql: String =
    """SELECT event_id AS _id, CAST(value AS VARCHAR) AS value FROM events
      |WHERE event_type = 'view'
      |ORDER BY events.value ASC NULLS FIRST, event_id ASC LIMIT 40 OFFSET 100""".stripMargin

  /** The count apply (match-all pipe count, as in the SDK tests). */
  def docQstrCount(spark: SparkSession, dir: String): DataFrame = {
    val parsed = QueryStr.parse("/[value >= 100.0] | count")
    val res = DocStore.queryFused(coll(spark, dir), parsed.sq)
    if (parsed.count) res.agg(count(lit(1)).as("count")) else res
  }

  val docQstrCountSql: String =
    "SELECT COUNT(*) AS count FROM events WHERE value >= 100.0"

  /** Firestore-style aggregation query: filter + group-by-doc-field +
    * COUNT/SUM/AVG, computed on the fields the structured query projects
    * (one `from_json` parse via the fused compiler, then a plain
    * grouped aggregate — the doc surface and the analytic engine are the
    * same engine). Money math in decimal; avg is the ratio of the exact
    * sum over the exact count. */
  def docGroupAgg(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(FieldFilter("value", Op.Ge, Dbl(50.0))),
      select = Seq("event_type", "value"))
    val D = org.apache.spark.sql.types.DecimalType(18, 2)
    DocStore.queryFused(coll(spark, dir), q)
      .select(col("event_type"), col("value").cast(D).as("dv"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dv")).cast("double").as("sum_value"),
        (sum(col("dv")).cast("double") / count(lit(1))).as("avg_value"))
  }

  val docGroupAggSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM events WHERE value >= 50.0
      |GROUP BY event_type""".stripMargin

  /** Nested dotted field paths through the FUSED compiler — the reference
    * allows arbitrary dotted paths into nested docs (bson_util.rs:62
    * field_filter_from_json_value; db3_database_v2.proto:92 Index.path).
    * Events re-shaped as nested docs `{"meta":{"k":…,"uid":…},"t":…}`;
    * the dotted filters and dotted projections run through queryFused's
    * nested derived schema — one from_json parse, no per-field scans. */
  def docFilterNested(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      where = Some(AndFilter(Seq(
        FieldFilter("meta.k", Op.Ge, I64(40)),
        FieldFilter("meta.k", Op.Lt, I64(60)),
        FieldFilter("t", Op.Eq, Str("click"))))),
      select = Seq("meta.k", "meta.uid"))
    DocStore.queryFused(DocStore.eventsNestedCollection(spark, dir), q)
      .select(col("_id"),
        col("`meta.k`").as("meta_k"), col("`meta.uid`").as("meta_uid"))
  }

  val docFilterNestedSql: String =
    """SELECT event_id AS _id,
      |  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR) AS meta_k,
      |  CAST(user_id AS VARCHAR) AS meta_uid
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 40
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) < 60
      |  AND event_type = 'click'""".stripMargin

  /** Per-document VERSION HISTORY — the audit view of the mutation log
    * the fold consumes (the reference replays the whole signed log on
    * recovery, `recover.rs`; the shell's show-doc reads one point of it
    * — this is the full chain): for each doc key, every mutation in
    * (block, order) sequence with its version number, the value it
    * replaced (lag), and whether it is the live head (lead IS NULL).
    * ONE (key)-partitioned window frame serves row_number + lag + lead
    * — one shuffle, one sort. A hot doc key serializes its own chain by
    * definition (versions are sequential); the sessionize-style bucket
    * split applies if a corpus ever needs it. */
  def docHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id").as("mutation_id"),
        col("event_type").as("action"), col("value"),
        row_number().over(w).cast("long").as("version"),
        lag(col("value"), 1).over(w).as("prev_value"),
        when(lead(col("event_id"), 1).over(w).isNull, 1L).otherwise(0L)
          .as("is_live"))
  }

  val docHistorySql: String =
    """SELECT user_id, event_id AS mutation_id, event_type AS action, value,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      |  LAG(value) OVER w AS prev_value,
      |  CAST(CASE WHEN LEAD(event_id) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_live
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin

  /** Keyset-cursor page (the proto's declared-next `start_at`/`end_at`,
    * db3_database_v2.proto:380-407): ORDER BY k with the `_id` tiebreak,
    * resume strictly after the boundary row (k=40, _id=1000), stop at
    * k=80 inclusive. The cursor compiles to one tuple-compare filter at
    * the scan — page N costs a scan + top-N, never an OFFSET rescan of
    * the skipped prefix (the O(page) paging shape that replaces
    * `doc_offset` at 100 TB). Zero-dup/zero-gap over full corpora is
    * fuzz-proven in CursorPageSpec. */
  def docCursorPage(spark: SparkSession, dir: String): DataFrame = {
    val q = StructuredQuery(
      orderBy = Seq(Order("k", keyType = I64(0))),
      startAt = Some(Cursor(Seq(Some(I64(40))), id = Some(1000L), inclusive = false)),
      endAt = Some(Cursor(Seq(Some(I64(80))))),
      limit = Some(60))
    DocStore.queryFused(coll(spark, dir), q)
      .select(col("_id"), get_json_object(col("doc"), "$.k").cast("long").as("k"))
  }

  val docCursorPageSql: String =
    """SELECT event_id AS _id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE (CAST(json_extract_string(props, '$.k') AS BIGINT) > 40
      |       OR (CAST(json_extract_string(props, '$.k') AS BIGINT) = 40 AND event_id > 1000))
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) <= 80
      |ORDER BY CAST(json_extract_string(props, '$.k') AS BIGINT) ASC, event_id ASC
      |LIMIT 60""".stripMargin

  /** ARRAY_CONTAINS_ANY (proto op 9, db3_database_v2.proto:277): the doc
    * array shares ≥1 element with the operand — `exists(arr, e ∈ set)`,
    * a codegen'd HOF over the parsed array, no join/explode. */
  def docArrayContainsAny(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val docs = d.select(d("doc_id").as("_id"),
      to_json(struct(slice(split(trim(d("text")), "\\s+"), 1, 5).as("tags"))).as("doc"))
    val q = StructuredQuery(
      where = Some(FieldFilter("tags", Op.ArrayContainsAny,
        Arr(Seq(Str("data"), Str("the"), Str("model"))))))
    DocStore.query(DocCollection("documents", docs), q).select("_id")
  }

  val docArrayContainsAnySql: String =
    """SELECT doc_id AS _id FROM documents
      |WHERE list_contains(regexp_split_to_array(trim(text), '\s+')[1:5], 'data')
      |   OR list_contains(regexp_split_to_array(trim(text), '\s+')[1:5], 'the')
      |   OR list_contains(regexp_split_to_array(trim(text), '\s+')[1:5], 'model')""".stripMargin

  /** `~` regexp through the query-string language (EJDB2/JQL operator the
    * reference's SDK surface exposes) — RE2-safe pattern, partial match,
    * raw-text probe in both compilers. */
  def docQstrRegex(spark: SparkSession, dir: String): DataFrame = {
    val parsed = QueryStr.parse("/[event_type ~ ^(sign|err)] | /{event_type} | limit 30")
    DocStore.queryFused(coll(spark, dir), parsed.sq)
  }

  val docQstrRegexSql: String =
    """SELECT event_id AS _id, event_type FROM events
      |WHERE regexp_matches(event_type, '^(sign|err)')
      |ORDER BY event_id LIMIT 30""".stripMargin

  /** UnaryFilter — the proto's LAST declared-next query-surface item
    * (db3_database_v2.proto:127-129, `UnaryFilter unary_filter = 3`):
    * IS_NULL / IS_NAN / IS_NOT_NULL / IS_NOT_NAN over the unary fixture
    * collection, whose docs exercise all three null-ish states (missing
    * field, explicit JSON null, NaN-serialized double — see
    * [[DocStore.eventsUnaryCollection]]). One OR of two AND arms uses all
    * four ops, so the hash only matches if each op's semantics — including
    * Firestore's "missing fields match no filter" rule — is exact. */
  def docFilterUnary(spark: SparkSession, dir: String): DataFrame = {
    import UnaryOp._
    val q = StructuredQuery(where = Some(OrFilter(Seq(
      AndFilter(Seq(UnaryFilter("k", IsNull), UnaryFilter("q", IsNotNan))),
      AndFilter(Seq(UnaryFilter("q", IsNan), UnaryFilter("k", IsNotNull)))))))
    DocStore.queryFused(DocStore.eventsUnaryCollection(spark, dir), q)
      .select("_id")
  }

  // the oracle recomputes the fixture's field states relationally from
  // the raw events columns (the docArrayContains precedent): with
  // km = pmod(coalesce(k, 13), 105) — total over null/missing/quoted k —
  // k present ⇔ km % 3 <> 1, null ⇔ km % 5 = 0, q NaN ⇔ km % 7 = 0
  val docFilterUnarySql: String =
    """SELECT event_id AS _id FROM (
      |  SELECT event_id,
      |    ((COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 13) % 105) + 105) % 105 AS km
      |  FROM events) t
      |WHERE (km % 3 <> 1 AND km % 5 = 0 AND km % 7 <> 0)
      |   OR (km % 7 = 0 AND km % 3 <> 1 AND km % 5 <> 0)""".stripMargin

  /** JQL membership spellings through the query-string language —
    * EJDB2's `in` and the `not in` negation prefix over array-literal
    * operands, mapped onto Op.In/Op.NotIn (`ni` is the spelled
    * equivalent of `not in` and QueryStrFuzzSpec pins all three). */
  def docQstrIn(spark: SparkSession, dir: String): DataFrame = {
    val parsed = QueryStr.parse(
      "/[event_type in ['signup', 'view']] and /[k not in [0, 1, 2, 3]]" +
        " | /{event_type} | limit 35")
    DocStore.queryFused(coll(spark, dir), parsed.sq)
  }

  val docQstrInSql: String =
    """SELECT event_id AS _id, event_type FROM events
      |WHERE event_type IN ('signup', 'view')
      |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) NOT IN (0, 1, 2, 3)
      |ORDER BY event_id LIMIT 35""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("doc_filter_unary", docFilterUnary, Some(docFilterUnarySql)),
    Declared("doc_qstr_in", docQstrIn, Some(docQstrInSql)),
    Declared("doc_cursor_page", docCursorPage, Some(docCursorPageSql)),
    Declared("doc_array_contains_any", docArrayContainsAny, Some(docArrayContainsAnySql)),
    Declared("doc_qstr_regex", docQstrRegex, Some(docQstrRegexSql)),
    Declared("doc_history", docHistory, Some(docHistorySql)),
    Declared("doc_filter_nested", docFilterNested, Some(docFilterNestedSql)),
    Declared("doc_group_agg", docGroupAgg, Some(docGroupAggSql)),
    Declared("doc_array_contains", docArrayContains, Some(docArrayContainsSql)),
    Declared("doc_qstr", docQstr, Some(docQstrSql)),
    Declared("doc_qstr_count", docQstrCount, Some(docQstrCountSql)),
    Declared("doc_filter_eq", docFilterEq, Some(docFilterEqSql)),
    Declared("doc_filter_range", docFilterRange, Some(docFilterRangeSql)),
    Declared("doc_filter_and", docFilterAnd, Some(docFilterAndSql)),
    Declared("doc_filter_or", docFilterOr, Some(docFilterOrSql)),
    Declared("doc_filter_in", docFilterIn, Some(docFilterInSql)),
    Declared("doc_filter_not_in", docFilterNotIn, Some(docFilterNotInSql)),
    Declared("doc_filter_neq", docFilterNeq, Some(docFilterNeqSql)),
    Declared("doc_projection", docProjection, Some(docProjectionSql)),
    Declared("doc_limit", docLimit, Some(docLimitSql)),
    Declared("doc_orderby", docOrderby, Some(docOrderbySql)),
    Declared("doc_offset", docOffset, Some(docOffsetSql)),
    Declared("doc_get_by_id", docGetById, Some(docGetByIdSql)),
    Declared("doc_count_state", docCountState, Some(docCountStateSql)),
    Declared("doc_state_latest", docStateLatest, Some(docStateLatestSql)),
    Declared("doc_state_tombstone", docStateTombstone, Some(docStateTombstoneSql)),
    Declared("doc_patch_mask", docPatchMask, Some(docPatchMaskSql)),
    Declared("doc_owner_join", docOwnerJoin, Some(docOwnerJoinSql)),
    Declared("doc_index_extract", docIndexExtract, Some(docIndexExtractSql)),
  )
}
