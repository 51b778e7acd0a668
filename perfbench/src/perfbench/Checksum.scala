package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Forced-output checksum: the timed action of every catalog query.
  *
  * `count()` lets Catalyst prune every output column (a q30-style plan
  * collapses to `count <- Project [] <- scan`), so the projections and
  * sorts that produce the columns never run. Here every output column
  * feeds one 64-bit hash per row, and a single aggregate folds the rows:
  *
  *   - `count(1)`, `bit_xor(h)` and `sum(h >> 32)`: order-insensitive
  *     and overflow-safe under ANSI (`sum(h)` itself overflows, and
  *     `bit_xor` alone cancels duplicate rows, which the count and the
  *     high-word sum still see);
  *   - `first(h)`: its value is unused; it is an order-relevant
  *     aggregate, so the optimizer keeps an output sort below the
  *     aggregate instead of eliminating it.
  *
  * Floating-point values are rounded to 9 significant digits (and -0.0
  * folded into 0.0) before hashing, so a checksum does not move with
  * the summation order of a double aggregate. Maps hash as their sorted
  * entries. Columns are renamed positionally first, so outputs with
  * duplicate or dotted names hash like any other.
  */
object Checksum {

  final case class Sum(rows: Long, xor: Long, hi: Long) {
    override def toString: String = f"rows=$rows%d xor=$xor%016x hi=$hi%d"
  }

  private def needsNormalizing(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needsNormalizing(e)
    case s: StructType => s.fields.exists(f => needsNormalizing(f.dataType))
    case _ => false
  }

  def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(e, _) if needsNormalizing(e) => transform(c, x => normalize(x, e))
    case s: StructType if needsNormalizing(s) =>
      when(c.isNotNull, struct(s.fields.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, v, _) =>
      array_sort(map_entries(transform_values(c, (_, x) => normalize(x, v))))
    case _ => c
  }

  /** Materializes every row and column of `df` in ONE Spark action. */
  def force(df: DataFrame): Sum = {
    val named = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val parts = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val r = named.select(h.as("__h"))
      .agg(count(lit(1)), bit_xor(col("__h")), sum(shiftright(col("__h"), 32)),
        first(col("__h")))
      .collect()(0)
    Sum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
