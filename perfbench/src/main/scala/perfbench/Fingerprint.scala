package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent fingerprint of a result.
  *
  * Columns are taken in name order (as `tools/check.py` compares them).
  * Each row is rendered to canonical JSON and hashed; the hashes are
  * combined with sums and an xor, so neither row order nor partitioning
  * changes the value. Floating-point values are rendered with 9
  * significant digits, which absorbs summation-order noise while staying
  * far inside what the exact oracle comparison already enforces.
  */
object Fingerprint {

  final case class Result(rows: Long, fp: String)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // `+ 0.0` folds -0.0 into 0.0.
      when(c.isNull, lit(null)).otherwise(format_string("%.9g", c.cast(DoubleType) + lit(0.0)))
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => canon(x, et))
    case BinaryType => base64(c)
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): Result = {
    val fields = df.schema.fields.sortBy(_.name)
    val row = to_json(struct(fields.map(f => canon(col(s"`${f.name}`"), f.dataType).as(f.name)).toIndexedSeq: _*))
    val h = xxhash64(row)
    val r = df.select(h.as("h"))
      .agg(
        count(lit(1)),
        sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)),
        bit_xor(col("h")),
      )
      .head()
    val n = r.getLong(0)
    if (n == 0) Result(0, "empty")
    else Result(n, f"${r.getLong(1)}%x-${r.getLong(2)}%x-${r.getLong(3)}%016x")
  }
}
