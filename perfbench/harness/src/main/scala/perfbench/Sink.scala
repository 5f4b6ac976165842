package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** (rows, schema, hash) of a query's full result. */
final case class Digest(rows: Long, schema: String, hash: String)

/** The full-output sink: every query result is consumed by one
  * order-independent hash aggregate over every output column, so no
  * column can be pruned away the way `count()` lets Catalyst prune it.
  *
  * Each row hashes to xxhash64 and murmur3 over all its columns; the
  * aggregate sums the 32-bit halves of those hashes into longs, which
  * cannot overflow below 2^31 rows, so equal multisets of rows give equal
  * digests whatever the row order or partitioning.
  */
object Sink {

  /** Spark refuses to hash map values; a map (at any depth) is hashed
    * through its JSON spelling instead.
    */
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def low(c: Column): Column = c.bitwiseAND(lit(0xFFFFFFFFL))

  /** The one-row aggregate (rows, xx_lo, xx_hi, mm) over `df`. Columns
    * are renamed by position first, so duplicate or odd names cannot
    * make a reference ambiguous.
    */
  def of(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val hashed =
      if (cols.isEmpty) named.select(lit(0L).as("xx"), lit(0L).as("mm"))
      else named.select(xxhash64(cols: _*).as("xx"), hash(cols: _*).cast("long").as("mm"))
    hashed.agg(
      count(lit(1)),
      coalesce(sum(low(col("xx"))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("xx"), 32)), lit(0L)),
      coalesce(sum(low(col("mm"))), lit(0L)))
  }

  /** Reads the collected aggregate row of [[of]] as a digest of `df`. */
  def digest(df: DataFrame, sink: DataFrame): Digest = {
    val r = sink.collect().head
    Digest(r.getLong(0), df.schema.catalogString,
      f"${r.getLong(1)}%016x${r.getLong(2)}%016x${r.getLong(3)}%016x")
  }

  def digest(df: DataFrame): Digest = digest(df, of(df))
}
