package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Output fingerprint of a query result: row count plus an order-insensitive
  * 64-bit hash over every column of every row.
  *
  * The rows come from `foreachPartition`, whose plan is the query's own plan
  * under a deserializer: the final ORDER BY and every projected column stay in
  * it (a `count()` lets the optimizer drop both). One action therefore both
  * times the whole plan and yields the fingerprint.
  *
  * Doubles keep their top 32 mantissa bits (about 9 significant digits) and
  * floats their top 20, so a last-bit difference from a different summation
  * order does not change the fingerprint. Maps hash order-insensitively;
  * arrays and structs in order.
  */
object Fingerprint {

  final case class Print(rows: Long, hash: String)

  def of(df: DataFrame): Print = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("perfbench.rows")
    val sum = sc.longAccumulator("perfbench.hash")
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += value(r) }
      rows.add(n)
      sum.add(h)
    }
    Print(rows.value, f"${sum.value}%016x")
  }

  /** splitmix64 finalizer. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def str(s: String): Long =
    (MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (MurmurHash3.stringHash(s, 91).toLong & 0xFFFFFFFFL)

  private def dbl(d: Double, keepBits: Int): Long =
    if (d.isNaN) 0x7FF8000000000000L
    else if (d == 0.0) 0L
    else java.lang.Double.doubleToLongBits(d) & ~((1L << (52 - keepBits)) - 1)

  private def ordered(tag: Long, xs: Iterator[Any]): Long =
    xs.foldLeft(tag)((h, x) => mix(h * 31 + value(x)))

  def value(v: Any): Long = v match {
    case null => 0x5BD1E995L
    case b: Boolean => if (b) 1L else 2L
    case x: Byte => mix(x.toLong)
    case x: Short => mix(x.toLong)
    case x: Int => mix(x.toLong)
    case x: Long => mix(x)
    case x: Double => mix(dbl(x, 32))
    case x: Float => mix(dbl(x.toDouble, 20))
    case x: String => str(x)
    case x: java.math.BigDecimal => str(x.stripTrailingZeros.toPlainString)
    case x: java.sql.Timestamp =>
      mix(x.toInstant.getEpochSecond * 1000000000L + x.getNanos)
    case x: java.sql.Date => mix(x.toLocalDate.toEpochDay)
    case x: java.time.Instant => mix(x.getEpochSecond * 1000000000L + x.getNano)
    case x: java.time.LocalDate => mix(x.toEpochDay)
    case x: java.time.LocalDateTime =>
      mix(x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + x.getNano)
    case x: Array[Byte] => mix(java.util.Arrays.hashCode(x).toLong)
    case x: Row => ordered(3L, x.toSeq.iterator)
    case x: scala.collection.Map[_, _] =>
      x.iterator.map { case (k, w) => mix(value(k) * 31 + value(w)) }.sum
    case x: Iterable[_] => ordered(7L, x.iterator)
    case x => str(x.toString)
  }
}
