package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Order-independent fingerprint of a query result: its row count and
  * the exact sum of every row's xxhash64 over all columns. Columns are
  * renamed by position first, so duplicate output names still hash;
  * maps, which Spark cannot hash, go in as their JSON text. */
object Fingerprint {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def apply(df: DataFrame): (Long, String) = {
    val names = df.columns.indices.map(i => s"_c$i")
    val cols = df.schema.fields.toSeq.zip(names).map { case (f, n) =>
      if (hasMap(f.dataType)) to_json(col(n)) else col(n)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.toDF(names: _*).select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
