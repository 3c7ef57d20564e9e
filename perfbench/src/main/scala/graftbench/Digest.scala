package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent digest of a full result: the row count plus the exact
  * sum of one `xxhash64` per row over every output column. Hashing every
  * column keeps Catalyst from pruning any of them, and the sum makes the
  * digest independent of row order and partitioning.
  */
final case class Digest(rows: Long, hashSum: BigInt) {
  override def toString: String = s"$rows/$hashSum"
}

object Digest {
  def of(df: DataFrame): Digest = {
    // positional names: results may carry duplicate or dotted column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        // xxhash64 rejects maps; their sorted entries carry the same content
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val s = if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger)
    Digest(r.getLong(0), s)
  }
}
