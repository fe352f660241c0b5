package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent fingerprint of a DataFrame's full result.
  *
  * Every row is hashed over ALL of its columns with `xxhash64`, so the
  * plan must compute every output column (a `.count()` lets Catalyst prune
  * them away). The row hashes are folded as a multiset: the row count plus
  * two sums over the unsigned high and low 32-bit halves of each hash. A
  * plain `sum` of the 64-bit hashes overflows under ANSI mode; the halves
  * stay below 2^63 for any result under 2^31 rows. The result schema
  * (names and types) is part of the fingerprint.
  *
  * A changed cell changes its row's hash; a dropped or duplicated row
  * changes the count and both sums.
  */
object Fingerprint {

  def of(df: DataFrame): String = {
    val fields = df.schema.fields
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    // maps are not hashable; their sorted entry array is, and is canonical
    val cols = fields.indices.map { i =>
      fields(i).dataType match {
        case _: MapType => array_sort(map_entries(col(s"c$i")))
        case _ => col(s"c$i")
      }
    }
    val row = if (cols.isEmpty) {
      renamed.agg(count(lit(1))).head()
    } else {
      val h = xxhash64(cols: _*)
      renamed.select(h.as("h")).agg(
        count(lit(1)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))
      ).head()
    }
    val sums = if (cols.isEmpty) "0:0" else s"${row.getLong(1)}:${row.getLong(2)}"
    val schema = java.lang.Integer.toHexString(df.schema.catalogString.hashCode)
    s"${row.getLong(0)}:$sums:$schema"
  }
}
