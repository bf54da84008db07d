package graft

import org.apache.spark.sql.SparkSession

/** The one harness session: every runner main and the test session build
  * from [[builder]], so the gate, the bench and the specs plan and write
  * under the same conf. */
object Sessions {
  /** Local cores for harness sessions: `SPARK_GRAFT_CPUS`, else every
    * core this JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(
    Runtime.getRuntime.availableProcessors) { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** Parquet open-cost charged per file when packing scan splits
    * (`spark.sql.files.openCostInBytes`). Spark's 4 MB default floors
    * maxSplitBytes at 4 MB, so the sub-11 MB single-file gate tables
    * scan as 1–3 tasks and any heavy per-row stage chained onto the
    * scan (tokenize+hash, embedding scoring) runs near-single-threaded
    * — the r16 ProfileKey finding (a 5000-doc signature build on ONE
    * core). At 16 KB, bytesPerCore = totalBytes/defaultParallelism
    * takes over and small files split ~1 per core; at cluster scale
    * bytesPerCore ≫ openCost, so maxSplitBytes stays maxPartitionBytes
    * (128 MB) and behavior is UNCHANGED — a scale-adaptive setting,
    * not a local[32] constant. `SPARK_GRAFT_OPEN_COST` overrides (a
    * cluster on seek-bound disks with millions of tiny files may want
    * Spark's default back). */
  def openCostInBytes: String =
    sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "16384")

  /** Adaptive query execution default for harness sessions. AQE
    * materializes every exchange as its OWN job behind a scheduling
    * barrier — measured ~40–90 ms per extra job in local mode, which at
    * gate SFs (KB–MB shuffles, sub-second stages) buys nothing: there
    * is nothing to coalesce, no join to re-plan, no skew to split,
    * while the fixed cost multiplies across 351 short queries
    * (text_bpe_train alone: 67 → 33 jobs, warm 6.4 → 4.3 s with AQE
    * off). This is the short-query regime Spark's own tuning guidance
    * flags for AQE overhead. At cluster scale the trade inverts
    * (coalescing/skew handling dominate), so `SPARK_GRAFT_PROFILE=
    * cluster` turns AQE back on — the r15 per-face state-store
    * precedent: measured local default, measured cluster default, one
    * profile switch. Explicit `SPARK_GRAFT_AQE` (true/false) beats the
    * profile. */
  def adaptiveEnabled: String =
    sys.env.get("SPARK_GRAFT_AQE")
      .orElse(if (sys.env.get("SPARK_GRAFT_PROFILE")
          .exists(_.equalsIgnoreCase("cluster"))) Some("true") else None)
      .getOrElse("false")

  /** The harness conf for a `local[cpus]` session. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.files.openCostInBytes" -> openCostInBytes,
    "spark.sql.adaptive.enabled" -> adaptiveEnabled,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet may carry TIMESTAMP(NANOS); Tables.normalizeTs
    // reads it as a long
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // written timestamps are plain micros, the same under gate and bench
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.ui.enabled" -> "false",
    // broadcast/shuffle state is reclaimed by the ContextCleaner only
    // when a GC actually runs, and the default periodicGC interval
    // (30 min) never fires inside a bench chunk
    "spark.cleaner.periodicGC.interval" -> "1min")

  /** `local[cpus]` with the harness conf; callers add only deployment
    * settings before `getOrCreate()`. */
  def builder(cpus: Int = Sessions.cpus): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]").config(conf(cpus))
}
