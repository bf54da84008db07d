package perfbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs on: exactly `graft.Bench`'s session,
  * on `local[cpus]`. Spark's code-generation cache keeps its default of
  * 100 classes, so a caller that rotates over more generated code than
  * that recompiles it every round, as a `GraftApi` or `Serve` user
  * would. */
object Session {
  def cpus: Int = Runtime.getRuntime.availableProcessors

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.openCostInBytes", graft.Sessions.openCostInBytes)
      .config("spark.sql.adaptive.enabled", graft.Sessions.adaptiveEnabled)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
