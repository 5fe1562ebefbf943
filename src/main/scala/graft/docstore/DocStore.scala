package graft.docstore

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** A document collection: `_id: Long` + `doc: String` (JSON), mirroring the
  * reference's `Document{id, doc}` (db3_database_v2.proto:96-99).
  *
  * Scale posture: the reference point-reads through EJDB2 indexes; the
  * Spark-native equivalent is columnar pruning — the collection is stored
  * as parquet sorted/partitioned by `_id` (point lookups prune row groups)
  * and filter predicates compile to codegen'd JSON-path expressions that
  * run inside whole-stage codegen, so a filter over 100 TB of docs is one
  * scan with no driver-side iteration.
  */
final case class DocCollection(name: String, df: DataFrame)

object DocStore {

  /** Extract a typed field from the JSON doc column — the analog of the
    * reference's typed index keys (db3_database_v2.proto IndexType:
    * UniqueKey|StringKey|Int64Key|DoubleKey).
    *
    * Docs are SCHEMALESS: a field whose value doesn't coerce to the
    * filter's type must evaluate to null (the doc simply doesn't match),
    * never throw — so the numeric casts are `try_cast`, not `cast`
    * (under Spark 4's default ANSI mode a plain cast aborts the whole
    * scan on the first mismatched doc). Booleans are matched strictly
    * (`true`/`false` literals only): string→boolean cast coercions like
    * "1"/"yes" would accept values the typed `from_json` path — and the
    * reference's typed BSON comparison — reject. */
  def fieldCol(doc: Column, field: String, value: FieldValue): Column = {
    val raw = get_json_object(doc, "$." + field)
    value match {
      case FieldValue.I64(_) => raw.try_cast("long")
      case FieldValue.Dbl(_) => raw.try_cast("double")
      case FieldValue.Bool(_) =>
        when(raw === "true", lit(true)).when(raw === "false", lit(false))
      case FieldValue.Str(_) => raw
      case FieldValue.Arr(vs) =>
        // empty In/NotIn operands short-circuit in the filter compilers and
        // never reach here; any other empty array has no type witness
        if (vs.isEmpty) throw new IllegalArgumentException(
          s"empty array operand for field '$field': no element type to derive")
        else fieldCol(doc, field, vs.head)
    }
  }

  private def lit_(v: FieldValue): Column = v match {
    case FieldValue.I64(x) => lit(x)
    case FieldValue.Dbl(x) => lit(x)
    case FieldValue.Bool(x) => lit(x)
    case FieldValue.Str(x) => lit(x)
    case FieldValue.Arr(_) =>
      throw new IllegalArgumentException("ArrayValue is only valid with in/not-in")
  }

  private def inList(v: FieldValue): Seq[Column] = v match {
    case FieldValue.Arr(vs) => vs.map(lit_)
    case other => Seq(lit_(other)) // single-element membership degenerates
  }

  /** Compile one comparison once the typed field column is in hand —
    * shared by the per-field and fused compilers. */
  private def compileOp(c: Column, op: Op, v: FieldValue): Column = op match {
    case Op.Eq => c === lit_(v)
    case Op.Neq => c =!= lit_(v)
    case Op.Lt => c < lit_(v)
    case Op.Le => c <= lit_(v)
    case Op.Gt => c > lit_(v)
    case Op.Ge => c >= lit_(v)
    case Op.In => c.isin(inList(v): _*)
    case Op.NotIn => !c.isin(inList(v): _*)
    case Op.ArrayContains => array_contains(c,
      v match { case FieldValue.Str(s) => s; case other => other.toString })
    // ARRAY_CONTAINS_ANY (proto op 9): the doc array and the operand
    // share ≥1 element. exists(arr, e ∈ operand) is a codegen'd HOF over
    // the already-parsed array — no join, no explode.
    case Op.ArrayContainsAny => exists(c, e => e.isin(inList(v): _*))
    // `~` regexp (JQL): partial match like DuckDB regexp_matches; the
    // pattern was validated RE2-safe at parse/construction time.
    case Op.Regex => c.rlike(
      v match {
        case FieldValue.Str(p) => Op.validateRegex(p)
        case other => throw new IllegalArgumentException(
          s"~ operand must be a string pattern, got $other")
      })
  }

  /** Compile a [[UnaryFilter]] against the RAW doc text — both compilers
    * share this probe, exactly like `Op.Regex`: `get_json_object` returns
    * SQL NULL for BOTH a JSON-null value and a missing field, so null-ness
    * alone cannot honor Firestore's "missing fields match no filter" rule.
    * IsNull therefore additionally requires the field key to be PRESENT in
    * its parent object (`json_object_keys` — a streaming probe over the
    * same text, no parse fence needed). IsNotNull needs no presence probe:
    * a non-null extraction already implies presence. NaN-ness views the
    * raw text as a double (`try_cast`: a non-numeric value is simply not
    * NaN, never a scan abort — see fieldCol). All probes are codegen'd
    * expressions that fuse into the scan's Filter like every other op. */
  private def compileUnary(doc: Column, field: String, op: UnaryOp): Column = {
    val raw = get_json_object(doc, "$." + field)
    op match {
      // present-with-JSON-null is the one state get_json_object cannot
      // see (SQL NULL for both null and missing) — the codegen'd
      // one-pass [[graft.functions.JsonFieldStateEval]] walker
      // classifies it in a single early-exit stream (the
      // json_object_keys(parent)+raw form streamed the doc twice and
      // allocated a keys array per row)
      case UnaryOp.IsNull =>
        graft.functions.GraftFunctions.json_field_state(doc, field) === 1
      case UnaryOp.IsNotNull => raw.isNotNull
      case UnaryOp.IsNan => isnan(raw.try_cast("double"))
      case UnaryOp.IsNotNan =>
        raw.isNotNull && !coalesce(isnan(raw.try_cast("double")), lit(false))
    }
  }

  /** Empty In = membership in the empty set (always false); empty NotIn
    * excludes nothing (always true); empty ArrayContainsAny shares no
    * element with anything (always false). Guarded explicitly so an
    * `Arr(Nil)` operand is a defined result, not a
    * NoSuchElementException at plan time from the element-type
    * derivation. */
  private def emptyArrShortCircuit(f: FieldFilter): Option[Column] = f match {
    case FieldFilter(_, Op.In, FieldValue.Arr(Nil)) => Some(lit(false))
    case FieldFilter(_, Op.NotIn, FieldValue.Arr(Nil)) => Some(lit(true))
    case FieldFilter(_, Op.ArrayContainsAny, FieldValue.Arr(Nil)) => Some(lit(false))
    case _ => None
  }

  /** Compile a Filter tree to one Spark predicate Column. */
  def compileFilter(doc: Column, f: Filter): Column = f match {
    case AndFilter(fs) => fs.map(compileFilter(doc, _)).reduce(_ && _)
    case OrFilter(fs) => fs.map(compileFilter(doc, _)).reduce(_ || _)
    case UnaryFilter(field, op) => compileUnary(doc, field, op)
    case ff: FieldFilter if emptyArrShortCircuit(ff).isDefined =>
      emptyArrShortCircuit(ff).get
    case FieldFilter(field, op @ (Op.ArrayContains | Op.ArrayContainsAny), v) =>
      // JSON array field: parse as array<string> and probe membership.
      compileOp(
        from_json(get_json_object(doc, "$." + field),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        op, v)
    case FieldFilter(field, Op.Regex, v) =>
      // regexp over the raw string view of the field
      compileOp(get_json_object(doc, "$." + field), Op.Regex, v)
    case FieldFilter(field, op, v) =>
      compileOp(fieldCol(doc, field, v), op, v)
  }

  /** Compile a keyset cursor ([[Cursor]]) to ONE tuple-compare predicate
    * over the query's sort key — the lexicographic "row is strictly
    * after (start) / strictly before (end) the cursor position, or equal
    * when inclusive" unrolled as
    * `gt(k1) OR (eq(k1) AND (gt(k2) OR (eq(k2) AND … tail)))`.
    * Null ordering follows the engine's sort order exactly (null is the
    * SMALLEST key value: asc = nulls first, desc = nulls last), so a
    * page boundary that lands on a null key resumes without dup or gap.
    * The predicate is a plain boolean Column: it fuses into the same
    * codegen'd Filter as the `where`, evaluates O(1) per row, and —
    * unlike OFFSET — never materializes the skipped prefix. */
  private def cursorPredicate(q: StructuredQuery, cur: Cursor, isStart: Boolean,
      keyFor: Order => Column, idCol: Column): Column = {
    require(cur.id.isEmpty || cur.values.size == q.orderBy.size,
      "cursor with _id must bind every orderBy term")
    // strictly-after (start) / strictly-before (end) on one key, in the
    // engine's total order where null < every value
    def strict(c: Column, desc: Boolean, v: Option[FieldValue]): Column = {
      val fwd = isStart ^ desc // need c above v in VALUE order?
      (v, fwd) match {
        case (Some(x), true) => c > lit_(x) // null c → false: below every value
        case (Some(x), false) => c < lit_(x) || c.isNull
        case (None, true) => c.isNotNull
        case (None, false) => lit(false) // nothing is below null
      }
    }
    def eq(c: Column, v: Option[FieldValue]): Column = v match {
      case Some(x) => c <=> lit_(x) // null-safe: null key ≠ non-null cursor
      case None => c.isNull
    }
    // the appended _id takes the LAST explicit order's direction (the
    // Firestore appending rule — see sortCols)
    val idDesc = q.orderBy.lastOption.exists(_.desc)
    val tail: Column = cur.id match {
      case Some(i) =>
        val fwd = isStart ^ idDesc
        (fwd, cur.inclusive) match {
          case (true, true) => idCol >= lit(i)
          case (true, false) => idCol > lit(i)
          case (false, true) => idCol <= lit(i)
          case (false, false) => idCol < lit(i)
        }
      case None => lit(cur.inclusive) // boundary rows in/out as a block
    }
    q.orderBy.zip(cur.values).foldRight(tail) { case ((ord, v), rest) =>
      val c = keyFor(ord)
      strict(c, ord.desc, v) || (eq(c, v) && rest)
    }
  }

  /** Full sort-key list for a query: explicit orders (typed via their
    * keyType witness) then the appended `_id`, which takes the direction
    * of the last explicit order — exactly the proto's Firestore appending
    * rule (`ORDER BY a DESC` → `ORDER BY a DESC, __name__ DESC`,
    * db3_database_v2.proto:345-360). */
  private def sortCols(q: StructuredQuery, keyFor: Order => Column,
      idCol: Column): Seq[Column] = {
    val explicit = q.orderBy.map(o =>
      if (o.desc) keyFor(o).desc else keyFor(o).asc)
    val idSorted =
      if (q.orderBy.lastOption.exists(_.desc)) idCol.desc else idCol.asc
    explicit :+ idSorted
  }

  /** Whether the plan needs a global sort: explicit ordering, or an
    * offset/limit that must be deterministic. Sort+limit fuses to
    * TakeOrderedAndProject (per-partition top-N, no full shuffle). */
  private def needsSort(q: StructuredQuery): Boolean =
    q.orderBy.nonEmpty || q.limit.isDefined || q.offset.isDefined ||
      q.startAt.isDefined || q.endAt.isDefined

  /** Execute a StructuredQuery against a collection. Projection returns
    * `_id` plus one (string-typed) column per selected field; empty select
    * returns `_id, doc` whole. Limit without an explicit order is made
    * deterministic by `_id` (the proto appends `__name__` ordering the
    * same way — db3_database_v2.proto:342-360). */
  def query(col: DocCollection, q: StructuredQuery): DataFrame = {
    var df = col.df
    q.where.foreach(f => df = df.filter(compileFilter(df("doc"), f)))
    def keyFor(o: Order): Column = fieldCol(df("doc"), o.field, o.keyType)
    q.startAt.foreach(c =>
      df = df.filter(cursorPredicate(q, c, isStart = true, keyFor, df("_id"))))
    q.endAt.foreach(c =>
      df = df.filter(cursorPredicate(q, c, isStart = false, keyFor, df("_id"))))
    if (needsSort(q))
      df = df.orderBy(sortCols(q,
        o => fieldCol(df("doc"), o.field, o.keyType), df("_id")): _*)
    if (q.select.nonEmpty) {
      val cols = df("_id") +: q.select.map(f =>
        get_json_object(df("doc"), "$." + f).as(f))
      df = df.select(cols: _*)
    }
    q.offset.foreach(o => df = df.offset(o))
    q.limit.foreach(n => df = df.limit(n))
    df
  }

  /** How many JSON-path extractions the PER-FIELD compiler would run for
    * this query: one per filter leaf (empty-In/NotIn leaves compile to
    * literals, zero extractions), plus one per selected/ordered field. */
  private def perFieldExtractions(q: StructuredQuery): Int = {
    def leaves(f: Filter): Int = f match {
      case AndFilter(fs) => fs.map(leaves).sum
      case OrFilter(fs) => fs.map(leaves).sum
      // unary probes run raw in both compilers — one stream each (IsNull
      // is the single-pass json_field_state kernel; IsNotNan's two raw
      // references CSE within the filter)
      case UnaryFilter(_, _) => 1
      case ff: FieldFilter => if (emptyArrShortCircuit(ff).isDefined) 0 else 1
    }
    q.where.map(leaves).getOrElse(0) + q.select.size + q.orderBy.size +
      // each cursor re-probes its bound order keys once more
      q.startAt.map(_.values.size).getOrElse(0) +
      q.endAt.map(_.values.size).getOrElse(0)
  }

  /** Whether a SORT-stage field is also probed by the FILTER stage
    * (where leaves or cursor predicates) — the one overlap where the
    * fused parse fence measurably pays. Codegen CSE merges repeated
    * probes WITHIN one operator, but not across Filter → Sort → Project;
    * still, not every cross-stage repeat costs a full extra text stream
    * PER ROW:
    *   - filter↔projection overlap: the projection probe runs only on
    *     filter SURVIVORS (and post-limit rows when a limit exists) —
    *     cheap, while the fence's Generate + from_json costs every row;
    *   - sort↔projection overlap: the projection again runs post-top-N
    *     (TakeOrderedAndProject), so the sort key is streamed once per
    *     row, not twice;
    *   - sort↔filter overlap (the keyset-cursor shape): the cursor
    *     predicates probe the order key for EVERY row and the sort
    *     streams it again for every survivor — 2-3 full text scans per
    *     row, the fence's winning case.
    * The r14 rule (ANY cross-stage repeat → fused) was calibrated on the
    * cursor shape and cost the most common shapes 1.2-1.7× vs r13
    * (committed records: doc_filter_eq 0.34→0.45 s, doc_filter_in
    * 0.35→0.43 s at sf0.1). Re-measured per shape this round with a
    * same-JVM alternating A/B (DispatchBench, sf0.1, local[32], two
    * independent 9-pass runs): per-field wins filter↔proj (eq 1.17-1.20×,
    * in 1.21-1.41×, neq 1.13-1.14×, limit 1.19-1.23×) AND sort↔proj
    * (orderby 1.14-1.22×); fused wins sort↔filter (cursor paging
    * 2.3-2.4×). The one loss: the offset shape (sort↔proj + offset)
    * prefers fused by a noise-level 4-7% — accepted for the sharper
    * rule; see OPTIMIZATION_r15.md. Raw probes (Regex/unary) are
    * identical in both compilers and don't count. */
  private def repeatedFieldAcrossStages(q: StructuredQuery): Boolean = {
    def leafFields(f: Filter): Seq[String] = f match {
      case AndFilter(fs) => fs.flatMap(leafFields)
      case OrFilter(fs) => fs.flatMap(leafFields)
      case ff: FieldFilter if emptyArrShortCircuit(ff).isDefined => Seq.empty
      case FieldFilter(_, Op.Regex, _) => Seq.empty
      case UnaryFilter(_, _) => Seq.empty
      case FieldFilter(field, _, _) => Seq(field)
    }
    // cursors evaluate in the filter stage alongside the where
    val filterStage = (q.where.toSeq.flatMap(leafFields) ++
      q.orderBy.take(math.max(
        q.startAt.map(_.values.size).getOrElse(0),
        q.endAt.map(_.values.size).getOrElse(0))).map(_.field)).distinct
    val sortStage = q.orderBy.map(_.field).distinct
    sortStage.exists(filterStage.contains)
  }

  /** Single-parse variant of `query` with a NARROW-QUERY fast path: a
    * query whose per-field compilation would run at most 3 JSON-path
    * extractions — and probes no field from more than one operator stage
    * (see [[repeatedFieldAcrossStages]]) — executes per-field
    * (independent `get_json_object`s — each a streaming path probe, no
    * struct materialization and no parse fence), because the fence's
    * Generate overhead buys nothing when there is no multi-field parse
    * to fuse and nothing is re-probed across stages. Wider queries derive the
    * narrow struct schema of every referenced field and run ONE
    * `from_json` per row behind the fence — the winning shape when
    * filters touch several fields of multi-KB docs (the 100 TB hot
    * path — JSON parsing dominates such scans; ParseBench: 3.4× on
    * 24-field docs). Both paths have identical semantics (asserted
    * row-for-row by the QueryFuzzSpec property tests). */
  def queryFused(coll: DocCollection, q: StructuredQuery): DataFrame =
    if (perFieldExtractions(q) <= 3 && !repeatedFieldAcrossStages(q))
      query(coll, q)
    else queryFusedAlways(coll, q)

  /** The fused compiler proper — no fast-path dispatch (exposed within
    * the package so equivalence tests can force this path). */
  private[docstore] def queryFusedAlways(coll: DocCollection, q: StructuredQuery): DataFrame = {
    import org.apache.spark.sql.types._
    def scalarType(v: FieldValue): DataType = v match {
      case FieldValue.I64(_) => LongType
      case FieldValue.Dbl(_) => DoubleType
      case FieldValue.Bool(_) => BooleanType
      case FieldValue.Str(_) => StringType
      case FieldValue.Arr(vs) =>
        if (vs.isEmpty) throw new IllegalArgumentException(
          "empty array operand: no element type to derive")
        else scalarType(vs.head)
    }
    def filterFields(f: Filter): Seq[(String, DataType)] = f match {
      case AndFilter(fs) => fs.flatMap(filterFields)
      case OrFilter(fs) => fs.flatMap(filterFields)
      // empty In/NotIn compile to literal predicates — no field reference
      case ff: FieldFilter if emptyArrShortCircuit(ff).isDefined => Seq.empty
      case FieldFilter(field, Op.ArrayContains | Op.ArrayContainsAny, _) =>
        Seq(field -> ArrayType(StringType))
      // regexp matches the RAW text probe in both compilers (below) — a
      // fused slot would stringify typed values ("1.50" ≠ 1.5.toString)
      // and collide with a typed filter slot on the same field
      case FieldFilter(_, Op.Regex, _) => Seq.empty
      // unary filters probe the raw text too: the fused struct cannot
      // distinguish JSON-null from missing, which is exactly the
      // distinction IsNull needs
      case UnaryFilter(_, _) => Seq.empty
      case FieldFilter(field, _, v) => Seq(field -> scalarType(v))
    }
    def keyTypeOf(v: FieldValue): DataType = v match {
      case FieldValue.I64(_) => LongType
      case FieldValue.Dbl(_) => DoubleType
      case FieldValue.Bool(_) => BooleanType
      case FieldValue.Str(_) => StringType
      case FieldValue.Arr(vs) => // sort key can't be an array; element type witness
        if (vs.isEmpty) throw new IllegalArgumentException(
          "empty array sort-key witness: no element type to derive")
        else keyTypeOf(vs.head)
    }
    // order fields first: their typed parse must win the dedup so numeric
    // sort keys aren't compared lexicographically (the string projection
    // of the same field is a cast away; the reverse is not)
    val wanted: Seq[(String, DataType)] =
      (q.orderBy.map(o => o.field -> keyTypeOf(o.keyType)) ++
        q.where.toSeq.flatMap(filterFields) ++ q.select.map(_ -> StringType))
        .foldLeft(Vector.empty[(String, DataType)]) { (acc, fd) =>
          if (acc.exists(_._1 == fd._1)) acc else acc :+ fd
        }
    if (wanted.isEmpty) return query(coll, q)
    // Dotted paths ("a.b") descend into nested JSON objects — arbitrary
    // field paths exactly as the reference allows (bson_util.rs:62
    // field_filter_from_json_value; db3_database_v2.proto:92 Index.path).
    // The derived schema nests accordingly so a single from_json still
    // parses every referenced field in one pass. A path that is BOTH a
    // scalar leaf and the prefix of a deeper path ("a" selected while
    // "a.b" is filtered) keeps the struct in the fused schema; its scalar
    // uses fall back to the per-field extractor below.
    val allPaths = wanted.map(_._1)
    val branchy: Set[String] =
      allPaths.filter(p => allPaths.exists(_.startsWith(p + "."))).toSet
    def nest(paths: Seq[(List[String], DataType)]): StructType = {
      val heads = paths.map(_._1.head).distinct
      StructType(heads.map { h =>
        val subs = paths.filter(_._1.head == h)
        val branches = subs.collect {
          case (_ :: tail, t) if tail.nonEmpty => (tail, t)
        }
        if (branches.isEmpty) StructField(h, subs.head._2)
        else StructField(h, nest(branches))
      })
    }
    val schema = nest(wanted.collect {
      case (p, t) if !branchy(p) => (p.split('.').toList, t)
    })
    // When the query FILTERS, the parse rides inside a single-element
    // explode: filters cannot push below a Generate's output attribute,
    // so the predicate evaluates the ALREADY-PARSED __p instead of
    // PushDownPredicates alias-inlining the from_json into the Filter
    // and parsing every row twice (once to test, once to project).
    // Plain explode (not explode_outer, which disables GenerateExec
    // codegen): the child is a literal CreateArray, so
    // InferFiltersFromGenerate's size/isnull inference constant-folds
    // away instead of re-adding a parse. Net: exactly one JSON parse
    // per row — the property this compiler exists to provide on
    // multi-KB docs. Filterless queries (sort/project/page only) have
    // no inlining hazard and skip the Generate entirely.
    val parsed = from_json(col("doc"), schema)
    // cursors are filters too — they need the fence for the same
    // parse-once property as the where
    val filters = q.where.nonEmpty || q.startAt.isDefined || q.endAt.isDefined
    var df = coll.df.withColumn("__p",
      if (filters) explode(array(parsed)) else parsed)
    def ref(path: String, asType: DataType): Column =
      if (branchy(path)) {
        // a struct occupies this slot in the fused schema; recover the
        // scalar/array view of the same path per-field (try_cast: a
        // mismatched doc is a non-match, not a scan abort — see fieldCol)
        val raw = get_json_object(col("doc"), "$." + path)
        asType match {
          case StringType => raw
          case a: ArrayType => from_json(raw, a)
          case BooleanType =>
            when(raw === "true", lit(true)).when(raw === "false", lit(false))
          case t => raw.try_cast(t)
        }
      } else
        path.split('.').foldLeft(col("__p"): Column)(_.getField(_))
    def compile(f: Filter): Column = f match {
      case AndFilter(fs) => fs.map(compile).reduce(_ && _)
      case OrFilter(fs) => fs.map(compile).reduce(_ || _)
      case ff: FieldFilter if emptyArrShortCircuit(ff).isDefined =>
        emptyArrShortCircuit(ff).get
      case FieldFilter(field, op @ (Op.ArrayContains | Op.ArrayContainsAny), v) =>
        compileOp(ref(field, ArrayType(StringType)), op, v)
      case FieldFilter(field, Op.Regex, v) =>
        // raw-text probe in both compilers (see filterFields)
        compileOp(get_json_object(col("doc"), "$." + field), Op.Regex, v)
      case UnaryFilter(field, uop) =>
        // raw-text probe in both compilers (see filterFields)
        compileUnary(col("doc"), field, uop)
      case FieldFilter(field, op, v) =>
        compileOp(ref(field, scalarType(v)), op, v)
    }
    q.where.foreach(f => df = df.filter(compile(f)))
    def keyFor(o: Order): Column = ref(o.field, keyTypeOf(o.keyType))
    q.startAt.foreach(c =>
      df = df.filter(cursorPredicate(q, c, isStart = true, keyFor, col("_id"))))
    q.endAt.foreach(c =>
      df = df.filter(cursorPredicate(q, c, isStart = false, keyFor, col("_id"))))
    if (needsSort(q))
      df = df.orderBy(sortCols(q,
        o => ref(o.field, keyTypeOf(o.keyType)), col("_id")): _*)
    // Projection is string-typed (the RAW JSON text, like the reference
    // returns raw values). The parsed struct can serve it ONLY where the
    // fused slot is itself a string: a slot typed for a filter/order key
    // NULLS mismatched values and stringifies arrays in Scala format —
    // re-casting it would silently rewrite the projected value (found by
    // QueryFuzzSpec), so every other slot re-probes the raw text.
    val fusedTypeOf = wanted.toMap
    df = if (q.select.nonEmpty)
      df.select(col("_id") +: q.select.map { f =>
        val c =
          if (!branchy(f) && fusedTypeOf.get(f).contains(StringType))
            ref(f, StringType)
          else get_json_object(col("doc"), "$." + f)
        c.cast("string").as(f)
      }: _*)
    else df.select("_id", "doc")
    q.offset.foreach(o => df = df.offset(o))
    q.limit.foreach(n => df = df.limit(n))
    df
  }

  /** The `events` table viewed as a document collection: each event row
    * becomes a JSON doc (the reference's event indexer writes decoded
    * EVM events as documents the same way — node/src/indexer_impl.rs). */
  def eventsCollection(spark: SparkSession, dir: String): DocCollection =
    eventDocs(spark, dir, "events") { ev =>
      to_json(struct(
        ev("user_id"),
        ev("event_type"),
        ev("value"),
        unix_micros(ev("ts")).as("ts_us"),
        get_json_object(ev("props"), "$.k").cast("long").as("k")))
    }

  /** `events` as the collection `name`, one doc per event built by
    * `doc`. The reference's index node MATERIALIZES documents from the
    * mutation stream once and serves every query from that state
    * (node/src/indexer_impl.rs); mirror it: the events→docs mapping is
    * persisted once per corpus (memory-and-disk, spills at scale). Real
    * deployments read a stored GraftDB collection and never pay this
    * mapping at query time. */
  private def eventDocs(spark: SparkSession, dir: String, name: String)(
      doc: DataFrame => Column): DocCollection = {
    val ev = Tables.events(spark, dir)
    DocCollection(name, graft.sources.Memo.persisted("docstore." + name, ev)(
      ev.select(ev("event_id").as("_id"), doc(ev).as("doc"))))
  }

  /** Events re-shaped as the UNARY-FILTER fixture: docs that exercise all
    * three null-ish field states the schemaless model distinguishes —
    * MISSING (`k` omitted when km≡1 mod 3), EXPLICIT NULL (`"k":null`
    * when km≡0 mod 5, via ignoreNullFields=false), and NaN (`q` is the
    * string "NaN" when km≡0 mod 7, the serialization JSON forces on NaN
    * doubles). The rule basis km = pmod(coalesce(k, 13), 105) is TOTAL
    * over the adversarial corpora (null/missing/quoted k, null value —
    * GenCorpus emits all of them): 105 = 3·5·7 keeps the CRT residues,
    * pmod guards sign, the coalesces pin every null a three-valued SQL
    * mirror would diverge on. Deterministic in the raw events columns so
    * DuckDB can recompute the same predicate relationally. Materialized
    * once per corpus like `eventsCollection`. */
  def eventsUnaryCollection(spark: SparkSession, dir: String): DocCollection =
    eventDocs(spark, dir, "events_unary") { ev =>
      val k0 = get_json_object(ev("props"), "$.k").try_cast("long")
      val km = pmod(coalesce(k0, lit(13L)), lit(105L))
      val kn = when(km % 5 === 0, lit(null).cast("long")).otherwise(km)
      val q = when(km % 7 === 0, lit("NaN"))
        .otherwise(coalesce(ev("value"), lit(0.0)).cast("string"))
      val withK = to_json(
        struct(kn.as("k"), q.as("q"), ev("event_type").as("t")),
        Map("ignoreNullFields" -> "false"))
      val noK = to_json(struct(q.as("q"), ev("event_type").as("t")))
      when(km % 3 === 1, noK).otherwise(withK)
    }

  /** Events re-shaped as NESTED docs `{"meta":{"k":…,"uid":…},"t":…}` —
    * the dotted-path fixture, materialized once per corpus
    * exactly like `eventsCollection` above. */
  def eventsNestedCollection(spark: SparkSession, dir: String): DocCollection =
    eventDocs(spark, dir, "events_nested") { ev =>
      to_json(struct(
        struct(
          get_json_object(ev("props"), "$.k").cast("long").as("k"),
          ev("user_id").as("uid")).as("meta"),
        ev("event_type").as("t")))
    }
}
