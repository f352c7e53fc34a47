package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent content hash: the sum, modulo
  * 2^64 (or in decimal for Spark-side sums), of one hash per row. Equal
  * multisets of rows give equal fingerprints whatever the row order.
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString = s"$rows rows, hash $hash"
}

object Fingerprint {

  /** Over a DataFrame. Columns are matched by name (sorted) and compared
    * as strings, so a catalog table, a JDBC table and a CSV file holding
    * the same values fingerprint alike.
    */
  def of(df: DataFrame): Fingerprint = {
    val cols = df.columns.sorted.map(c => col(s"`$c`").cast("string"))
    val r = df.select(xxhash64(cols.toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def lineHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Over text lines, in a plain JVM. */
  def ofLines(lines: Iterator[String]): Fingerprint = {
    var n = 0L
    var h = 0L
    lines.foreach { l => n += 1; h += lineHash(l) }
    Fingerprint(n, java.lang.Long.toHexString(h))
  }

  /** An expected result must have rows to compare: an empty or one-row
    * expectation cannot tell a broken item from a working one.
    */
  def requireRows(item: String, fp: Fingerprint): Fingerprint = {
    if (fp.rows <= 1)
      throw new IllegalStateException(
        s"benchmark error: the expected output of item $item has ${fp.rows} rows")
    fp
  }
}
