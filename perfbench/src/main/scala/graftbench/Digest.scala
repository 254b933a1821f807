package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: the row count plus the
  * exact sum of one 64-bit hash per row. Each row is hashed through its
  * JSON form after doubles are narrowed to floats, so a last-ulp change
  * in a floating-point aggregate (merge order) does not read as a wrong
  * answer, while any changed, missing or extra row does. Map entries are
  * sorted first, since map order is not part of a result. */
object Digest {

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), k).as("k"), canon(e.getField("value"), v).as("v"))))
    case _ => c
  }

  /** (rows, digest) in one aggregation job. */
  def of(df: DataFrame): (Long, String) = {
    // positional names: registry outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val rowJson = to_json(struct(named.schema.fields.toSeq.map(f =>
      canon(col(f.name), f.dataType).as(f.name)): _*))
    val r = named.agg(count(lit(1)), sum(xxhash64(rowJson).cast(DecimalType(20, 0)))).head()
    val n = r.getLong(0)
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (n, s"$n:$h")
  }
}
