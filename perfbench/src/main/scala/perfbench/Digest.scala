package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result over every output column.
  * Computing it is the timed action: hashing each row forces every
  * column to be produced, so Catalyst cannot prune work a real
  * consumer would pay for. Floating values are narrowed to FLOAT (and
  * -0.0 folded into 0.0) before hashing so last-ulp differences from
  * reduction order do not change the digest. */
object Digest {

  final case class Value(rows: Long, lo: Long, hi: Long) {
    override def toString: String = f"$rows:$lo%x:$hi%x"
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val f = c.cast(FloatType)
      when(f === lit(0.0f), lit(0.0f)).otherwise(f)
    case _: DecimalType => c.cast(DoubleType).cast(FloatType)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) => struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** One job: row count plus the sums of the low and high 32-bit
    * halves of each row's 64-bit hash (no overflow below 2^31 rows). */
  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64(lit(0) +: cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Value(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
