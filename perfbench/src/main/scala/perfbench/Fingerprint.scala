package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The consuming action of every op and the value its output check compares.
  *
  * One aggregate over the whole output: the row count plus the sum of a
  * per-row xxhash64 over all columns. The sum is order-insensitive, so it is
  * a multiset hash, like the sorted-rows rule of the repository's DuckDB
  * comparison. Columns are taken in name order, as that rule does. Hashing
  * every column keeps column pruning from shrinking the timed work, which a
  * bare `count()` would allow. */
object Fingerprint {

  final case class Fp(rows: Long, hashSum: BigDecimal) {
    override def toString: String = s"$rows:$hashSum"
  }

  object Fp {
    /** Parses the `rows:hashSum` form that [[Fp.toString]] writes. */
    def parse(s: String): Fp = s.trim.split(":") match {
      case Array(r, h) => Fp(r.toLong, BigDecimal(h))
      case _ => throw new IllegalArgumentException(s"not a fingerprint: '$s'")
    }
  }

  /** The fingerprint aggregate as a lazy frame, so callers can time the
    * action and read its query execution afterwards. */
  def frame(df: DataFrame): DataFrame = {
    // positional renames: join outputs may repeat a column name
    val order = df.columns.zipWithIndex.sortBy { case (n, i) => (n, i) }
    val cols = order.map { case (_, i) =>
      val c = col(s"`__fp$i`")
      df.schema.fields(i).dataType match {
        case _: MapType => c.cast("string") // maps are not hashable
        case _ => c
      }
    }
    val renamed = df.toDF(df.columns.indices.map(i => s"__fp$i"): _*)
    val rowHash =
      if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    renamed.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("hash_sum"))
  }

  def read(fp: DataFrame): Fp = {
    val r = fp.collect().head
    Fp(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def of(df: DataFrame): Fp = read(frame(df))

  /** The output check: an exact match of row count and hash sum. */
  def matches(actual: Fp, expected: Fp): Boolean = actual == expected
}
