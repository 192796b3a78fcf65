package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest: the row count plus the sum of a
  * per-row hash. Row order and partitioning do not change it; any
  * changed, added or dropped row does. Floating-point values are hashed
  * at float precision so a last-bit difference in a double sum, which
  * depends on task completion order, does not read as a wrong result.
  */
object Digest {

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(DoubleType | FloatType, _) => transform(c, _.cast(FloatType))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** The final action: one aggregate job over the full result. Columns
    * are hashed by position, so duplicate or dotted names are fine.
    */
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toIndexedSeq.map(f => normalized(col(f.name), f.dataType)): _*)
    val r = named.agg(count(lit(1)), coalesce(sum(h.cast(DecimalType(20, 0))), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }
}
