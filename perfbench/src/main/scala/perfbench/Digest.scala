package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-free digest of a query output: row count, a sum and a xor of
  * per-row hashes over the columns in name order, and the typed schema.
  *
  * The digest is the action that forces an operation. A plain count()
  * lets the optimizer prune output columns, so it would time less than
  * the operation returns; the digest needs every column, and it checks
  * the result in the same job.
  */
object Digest {

  final case class Result(rows: Long, digest: String, schema: String)

  /** Floats are hashed as text to six significant digits: the engine's
    * float sums depend on partition order, and the oracle compare they
    * were checked against is relative too. Maps are hashed as sorted
    * entry arrays, since map order is not part of the value. */
  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => needsNorm(e)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _: MapType => true
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit("0")).otherwise(format_string("%.6g", d))
    case ArrayType(e, _) if needsNorm(e) => transform(c, x => norm(x, e))
    case StructType(fs) if needsNorm(t) =>
      when(c.isNotNull, struct(fs.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), k).as("k"), norm(e.getField("value"), v).as("v"))))
    case _ => c
  }

  def schemaOf(df: DataFrame): String =
    df.schema.fields.sortBy(_.name).map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")

  def of(df: DataFrame): Result = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = df.select(xxhash64(cols: _*).as("h"))
    val r = h.agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))),
      bit_xor(col("h"))).head()
    val rows = r.getLong(0)
    val digest = if (rows == 0) "0:0" else s"${r.getDecimal(1).toBigInteger}:${r.getLong(2)}"
    Result(rows, digest, schemaOf(df))
  }
}
