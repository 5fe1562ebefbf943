package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive checksum of a whole query result.
  *
  * Every column is rendered to a canonical string (columns in name
  * order, doubles to 10 significant digits so float summation order
  * does not show, decimals as doubles, nulls as a marker), each row is
  * hashed, and the row hashes are summed. Row order never matters and
  * duplicate rows count. Computing it reads every output column, so the
  * timed action cannot be pruned the way `count()` is. */
object Checksum {
  private val NullMark = lit("\u0000null")

  /** Canonical text of one value of type `dt`. */
  def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType | _: DecimalType =>
      val d = c.cast(DoubleType) + lit(0.0) // -0.0 + 0.0 == +0.0
      when(isnan(d), lit("NaN")).otherwise(format_string("%.9e", d))
    case ArrayType(et, _) =>
      array_join(transform(c, x => coalesce(canon(x, et), NullMark)), "\u0001")
    case st: StructType =>
      concat_ws("\u0002", st.fields.sortBy(_.name).toIndexedSeq.map(f =>
        coalesce(canon(c.getField(f.name), f.dataType), NullMark)): _*)
    case _: MapType => to_json(c)
    case _ => c.cast(StringType)
  }

  /** Canonical per-row hash column over every column of `df`. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq.map(f =>
      coalesce(canon(col(s"`${f.name}`"), f.dataType), NullMark))
    xxhash64(lit(df.schema.fields.map(_.name).sorted.mkString(",")) +: cols: _*)
  }

  /** Reads the full result of `df` and returns "rows:hash". */
  def of(df: DataFrame): String = {
    val r = df.select(rowHash(df).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger)
    f"$n:${(s & ((BigInt(1) << 64) - 1)).toLong}%016x"
  }
}
