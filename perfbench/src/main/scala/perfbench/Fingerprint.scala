package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A multiset fingerprint of a result: its row count plus the sum, modulo
  * 2^64, of one 64-bit hash per row. Independent of row order and of
  * partitioning; a duplicated row adds its hash twice, so unlike an XOR
  * checksum, duplicates never cancel. Computing it consumes every output
  * column of every row. */
final case class Fingerprint(rows: Long, hashSum: Long) {
  def render: String = s"$rows:${java.lang.Long.toHexString(hashSum)}"
}

object Fingerprint {
  private val Seed = 42L

  def parse(s: String): Fingerprint = {
    val Array(r, h) = s.split(":", 2)
    Fingerprint(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Hash input for one column: maps are hashed through their JSON form
    * (Spark's hash refuses map types), everything else as is. */
  private def hashable(f: StructField): Column = f.dataType match {
    case _: MapType => to_json(col(s"`${f.name}`"))
    case _ => col(s"`${f.name}`")
  }

  /** Columns sorted by name, so the fingerprint does not depend on the
    * order a query emits its columns in. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name).map(hashable).toSeq
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** The single-row aggregate the fingerprint is read from. */
  def aggregate(df: DataFrame): DataFrame =
    df.select(rowHash(df).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))

  /** Runs the aggregate. `collect` executes the Dataset's own query
    * execution, so a plan forced beforehand is the plan that runs. */
  def read(agg: DataFrame): Fingerprint = {
    val r = agg.collect().head
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1)
    Fingerprint(n, s.toBigInteger.longValue())
  }

  def of(df: DataFrame): Fingerprint = read(aggregate(df))

  /** Driver-side row hashes with the same chaining as Spark's multi-column
    * `xxhash64` for long and string columns, so in-memory models can be
    * fingerprinted without a Spark job. */
  def hashLong(v: Long, seed: Long): Long = XXH64.hashLong(v, seed)

  def hashString(s: String, seed: Long): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }

  /** Hash of one row given as values in column-name order. */
  def hashValues(vs: Seq[Any]): Long = vs.foldLeft(Seed) {
    case (h, null) => h
    case (h, v: Long) => hashLong(v, h)
    case (h, v: Int) => XXH64.hashInt(v, h)
    case (h, v: String) => hashString(v, h)
    case (_, v) => throw new IllegalArgumentException(s"unhashable value $v")
  }

  def ofHashes(hs: Iterable[Long]): Fingerprint =
    Fingerprint(hs.size.toLong, hs.foldLeft(0L)(_ + _))
}
