package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** A result's row count and an order-independent fingerprint: the exact
  * decimal sum of xxhash64 over every row. Columns are renamed by position,
  * so duplicate names are fine; maps hash as their sorted entries, because a
  * map's entry order is not part of its value. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h =
      if (cols.isEmpty) lit(null).cast("decimal(38,0)")
      else sum(xxhash64(cols: _*).cast("decimal(38,0)"))
    val r = named.agg(count(lit(1)), h).head()
    Fingerprint(r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"))
  }

  /** Why `got` does not match `expected`, if it does not. A key whose
    * fingerprint is not reproducible at the seed commit is checked by row
    * count alone (`rowsOnly`). */
  def mismatch(expected: Fingerprint, got: Fingerprint, rowsOnly: Boolean): Option[String] =
    if (got.rows != expected.rows) Some(s"rows ${got.rows} != expected ${expected.rows}")
    else if (!rowsOnly && got.hash != expected.hash)
      Some(s"fingerprint ${got.hash} != expected ${expected.hash}")
    else None
}
