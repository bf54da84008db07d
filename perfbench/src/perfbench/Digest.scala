package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The action every timed operation ends with, and its correctness check.
  *
  * A result is reduced to its row count plus the wrapping sum of
  * `xxhash64` over all of its columns. The hash reads every output
  * column, so no column is pruned away, and the sum is taken in a
  * `mapPartitions` the optimizer cannot see through, so a final `Sort`
  * stays in the plan. A `count()` would let Catalyst drop both: the
  * reason `graft.Bench` warm numbers under-measure sorted keys.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val n = df.columns.length
    // positional names: joins can leave duplicate or dotted column names
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    val hashed =
      if (n == 0) lit(0L)
      else xxhash64(named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType)): _*)
    val parts = named.select(hashed.as("h")).mapPartitions { it =>
      var rows = 0L
      var sum = 0L
      while (it.hasNext) { sum += it.next().getLong(0); rows += 1 }
      Iterator((rows, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Result(parts.map(_._1).sum, java.lang.Long.toHexString(parts.map(_._2).sum))
  }

  /** `xxhash64` refuses maps; hash them as their key-sorted entries. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case s: StructType if containsMap(s) => to_json(c)
    case a: ArrayType if containsMap(a) => to_json(c)
    case _ => c
  }

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }
}
