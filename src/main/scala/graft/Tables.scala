package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}

/** Canonical table access over the driver-generated parquet testdata.
  * Mirrors kiara's "onboarding" idea (values come from a store, not ad-hoc
  * paths): every operator takes (spark, sfDir) and resolves tables here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Schema memo (r16): every t() call paid a driver-side footer read +
  // schema inference (~10–30 ms), ×2–4 tables ×351 queries ×2 bench
  // legs. The schema of an immutable testdata file is metadata — cache
  // it per (path, nanos-conf) and hand it to the reader explicitly.
  // Keyed on the session's nanosAsLong conf because inference of
  // TIMESTAMP(NANOS) columns depends on it (LongType vs error) and
  // spec sessions differ from harness sessions. NOT result caching:
  // every scan still reads the parquet data in full.
  private val schemaCache =
    scala.collection.concurrent.TrieMap[(String, String), org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanosConf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = schemaCache.getOrElseUpdate((path, nanosConf),
      spark.read.parquet(path).schema)
    normalizeInts(normalizeTs(spark.read.schema(schema).parquet(path)))
  }

  /** The ts-encoding precedent generalized to integer widths: if a
    * regenerated testdata round ships key columns as INT32, every
    * Spark output would shrink to int where the DuckDB oracle emits
    * BIGINT and the driver's hash would fail on width alone. Widen
    * top-level int32 columns to long at load — a no-op on the current
    * data, a round-saver on a regeneration. */
  private def normalizeInts(df: DataFrame): DataFrame = {
    val narrow = df.schema.fields.filter(_.dataType == IntegerType).map(_.name)
    narrow.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(LongType)))
  }

  /** The driver has generated events.parquet with two encodings across
    * rounds; accept both so every operator sees plain TimestampType:
    *  - TIMESTAMP(NANOS), which Spark only reads with
    *    spark.sql.legacy.parquet.nanosAsLong=true (as raw nanos) —
    *    convert with integer DIV (no double round-trip, which would lose
    *    precision at 1.7e18 ns). DuckDB's CAST(ts AS TIMESTAMP)
    *    truncates ns→µs identically.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    *    TIMESTAMP_NTZ — cast to TimestampType under the UTC session
    *    timezone (same micros value, so identical instants to DuckDB's
    *    direct read). */
  def normalizeTs(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    else if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == TimestampNTZType))
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
}
