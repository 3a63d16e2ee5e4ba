package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a result: its row count plus two sums of
  * 32-bit halves of a per-row `xxhash64` over every column. Summing halves
  * keeps the aggregate exact (no long overflow under ANSI mode) and makes it
  * independent of row order and partitioning.
  *
  * Floating-point values are hashed through a 12-significant-digit decimal
  * rendering, so a last-bit difference from a different summation order does
  * not read as a wrong answer while any real change still does.
  */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null)).otherwise(format_string("%.11e", c.cast(DoubleType)))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): String = {
    // positional names: a result may carry two columns with one name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def half(i: Int): String = if (r.isNullAt(i)) "0" else r.getLong(i).toHexString
    s"${r.getLong(0)}:${half(1)}:${half(2)}"
  }
}
