package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full-result consumption: wraps a query in one aggregate that reads
  * every output column — the row count plus two order-independent
  * 64-bit hashes over all columns — so Catalyst cannot prune any output
  * column the way a bare `count()` lets it.
  *
  * Floating-point values are rounded to 4 decimals before hashing (the
  * precision the oracle compare uses), so a last-ulp difference from a
  * different partial-aggregation order does not read as a wrong answer.
  * Maps are hashed as their entry arrays (Spark refuses to hash maps). */
object Digest {
  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needsNorm(e)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case _ if !needsNorm(t) => c
    case DoubleType | FloatType => round(c.cast(DoubleType), 4)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      norm(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
  }

  /** The one-row digest frame of `df`: (rows, hsum, hxor). */
  def frame(df: DataFrame): DataFrame = {
    // positional names: a query's output may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      norm(col(s"c$i"), f.dataType) }
    val h = xxhash64((if (cols.isEmpty) Seq(lit(0)) else cols): _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      // 40-bit addends: the sum stays exact up to 2^23 rows
      sum(shiftrightunsigned(col("h"), 24)).as("hsum"),
      bit_xor(col("h")).as("hxor"))
  }

  /** Stable text form of a collected digest row: rows:hsum:hxor. */
  def render(r: org.apache.spark.sql.Row): String = {
    val hsum = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hxor = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$hsum%016x:$hxor%016x"
  }
}
