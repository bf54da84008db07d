package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes every measurement to a JSON artifact,
  * which `run.py` checks and reduces to metrics.
  *
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --work DIR --out FILE --launch-ms T [--setup-only 1]`
  *
  * Set-up is timed from process launch (`--launch-ms`, stamped by the
  * caller just before it starts the JVM) until the session, the
  * workload's inputs and one warm-up query are done. With
  * `--setup-only 1` the process stops there, so that a caller can time
  * several set-ups from launch. Otherwise round 0 runs every operation
  * once, cold; then a fixed number of warm rounds run, as many as take
  * about `--seconds` at the workload's nominal round time
  * ([[Workload.warmRounds]]). A fixed count, not a deadline, so that
  * every run measures the same work from the same state, however fast
  * the box is at the time. With tracing on, four warm rounds alternate
  * untraced and traced, so that the traced run carries its own overhead
  * figure.
  */
object Main {
  val FirstWarm = 1

  final case class OpRec(name: String, check: Check, round: Int, traced: Boolean,
      t0: Double, tb: Double, t1: Double, marks: Map[String, Double],
      rows: Long, digest: String, error: Option[String], jvm: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val w = Workloads(opt("workload"), opt("seed").toLong, opt("data"))

    val spark = Session.build()
    w.setup(spark, Files.createDirectories(work))
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (Clock.ms - opt("launch-ms").toDouble) / 1000
    if (opt.get("setup-only").contains("1")) {
      Files.write(Paths.get(opt("out")), Json.render(Map("setup_s" -> setupS)).getBytes("UTF-8"))
      spark.stop()
      return
    }

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    // a round's own time, t0 to t1, leaves out building its operation list
    // (and the reference digests the list computes)
    def runRound(r: Int, traced: Boolean): Unit = {
      val ops = w.round(r)
      if (traced) tracer.foreach(_.attach())
      val n0 = recs.size
      Jvm.resetHeapPeak()
      val (gc0, cg0, jit0, cpu0, t0) = (Jvm.gcMs, Codegen.read(), Jvm.jitCpuMs, Jvm.cpuMs, Clock.ms)
      ops.foreach(op => recs += runOp(spark, op, r, traced))
      val (t1, cpu1, jit) = (Clock.ms, Jvm.cpuMs, Jvm.jitCpuMsSince(jit0))
      val mine = recs.drop(n0)
      val cg = Codegen.read()
      rounds += Map("round" -> r, "traced" -> traced, "t0" -> t0, "t1" -> t1, "ops" -> mine.size,
        "cpu_ms" -> (cpu1 - cpu0), "jit_cpu_ms" -> jit,
        "gc_ms" -> (Jvm.gcMs - gc0), "compiles" -> (cg.compiles - cg0.compiles),
        "compile_ms" -> (cg.ms - cg0.ms), "compile_ms_exact" -> cg.exact,
        "heap_peak_mb" -> (Jvm.heapPeakMb +: mine.flatMap(_.jvm.get("heap_peak_mb")).toSeq).max)
      if (traced) tracer.foreach(_.detach())
    }

    runRound(0, trace)
    val written0 = localBytesWritten
    val facts0 = w.facts
    val warm0 = Clock.ms
    val warmRounds = if (trace) 4 else w.warmRounds(seconds)
    var r = FirstWarm
    while (r < FirstWarm + warmRounds) {
      // untraced and traced rounds in u t t u blocks, so a JIT that still
      // speeds up over the run does not bias the overhead figure
      runRound(r, trace && Set(1, 2)((r - FirstWarm) % 4))
      r += 1
    }
    val warm1 = Clock.ms
    val untraced = rounds.filter(x => x("round").asInstanceOf[Int] >= FirstWarm && x("traced") == false)
    val heapPeak = untraced.map(_("heap_peak_mb").asInstanceOf[Double]).max
    // the time the untraced warm rounds spent running operations
    def sum(k: String) = untraced.map(_(k).asInstanceOf[Double]).sum
    val warmOpMs = sum("t1") - sum("t0")
    val written = localBytesWritten - written0

    val kernels = (tracer, w) match {
      case (Some(_), c: CurateWrite) => c.kernels(spark)
      case _ => Seq.empty
    }
    val traceOut = tracer.map { t =>
      t.drain()
      Ledger.render(t, recs.toSeq) + ("dropped_events" -> t.droppedEvents)
    }

    val artifact = Map(
      "workload" -> w.name, "seed" -> opt("seed").toLong, "seconds" -> seconds, "trace" -> trace,
      "host" -> host(spark), "setup_s" -> setupS, "rounds" -> rounds.toSeq,
      "warm" -> Map("t0" -> warm0, "t1" -> warm1, "rounds" -> (r - FirstWarm), "first_warm_round" -> FirstWarm,
        "op_s" -> warmOpMs / 1000, "cpu_s" -> sum("cpu_ms") / 1000,
        "heap_peak_mb" -> heapPeak, "local_bytes_written" -> written,
        "tmp_left_bytes" -> treeBytes(Paths.get(System.getProperty("java.io.tmpdir")))),
      "facts" -> w.facts, "facts_at_warm_start" -> facts0,
      "ops" -> recs.toSeq.sortBy(_.t0).map(render),
      "kernels" -> kernels.map { case (k, n, s) => Map("kernel" -> k, "rows" -> n, "s" -> s) },
      "trace" -> traceOut)
    Files.write(Paths.get(opt("out")), Json.render(artifact).getBytes("UTF-8"))
    spark.stop()
  }

  private def runOp(spark: SparkSession, op: OpSpec, r: Int, traced: Boolean): OpRec = {
    val marks = mutable.Map.empty[String, Double]
    val (gc0, cg0) = if (traced) { Jvm.resetHeapPeak(); (Jvm.gcMs, Codegen.read()) } else (0L, null)
    val t0 = Clock.ms
    var tb = Double.NaN
    val out = try {
      val dfs = op.build(k => marks(k) = Clock.ms)
      tb = Clock.ms
      Right(dfs.map(Digest.of))
    } catch { case e: Throwable => Left(e.toString.take(300)) }
    val t1 = Clock.ms
    if (tb.isNaN) tb = t1
    val jvm = if (!traced) Map.empty[String, Double] else {
      val cg = Codegen.read()
      Map("gc_ms" -> (Jvm.gcMs - gc0).toDouble, "heap_peak_mb" -> Jvm.heapPeakMb,
        "compiles" -> (cg.compiles - cg0.compiles).toDouble, "compile_ms" -> (cg.ms - cg0.ms),
        "compile_ms_exact" -> (if (cg.exact) 1.0 else 0.0))
    }
    // outside the operation's time, as graft.Bench does between queries
    graft.Caches.release()
    spark.catalog.clearCache()
    OpRec(op.name, op.check, r, traced, t0, tb, t1, marks.toMap,
      out.map(_.map(_.rows).sum).getOrElse(0L), out.map(_.map(_.digest).mkString("+")).getOrElse(""),
      out.left.toOption, jvm)
  }

  private def render(o: OpRec): Map[String, Any] = Map(
    "name" -> o.name, "round" -> o.round, "traced" -> o.traced,
    "t0" -> o.t0, "tb" -> o.tb, "t1" -> o.t1, "marks" -> o.marks, "rows" -> o.rows,
    "digest" -> o.digest, "error" -> o.error, "jvm" -> o.jvm,
    "check" -> (o.check match {
      case Check.Stored(id) => Map("stored" -> id)
      case Check.Same(ref) => Map("rows" -> ref.rows, "digest" -> ref.digest)
      case Check.Effect => Map("effect" -> true)
    }))

  /** Bytes Spark and Hadoop wrote through the local file system. */
  private def localBytesWritten: Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  private def host(spark: SparkSession): Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val memBytes = os match {
      case b: com.sun.management.OperatingSystemMXBean => b.getTotalMemorySize
      case _ => -1L
    }
    Map(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "memory_bytes" -> memBytes,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
        .filter { case (k, _) => k.startsWith("spark.") && !k.contains("app.id") && !k.contains("driver.port") &&
          !k.contains("driver.host") && !k.contains("startTime") },
      "graft_env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")))
  }
}
