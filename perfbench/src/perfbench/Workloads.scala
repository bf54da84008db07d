package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftApi, SparkEntry, Tables}

/** How an operation's result is checked. */
sealed trait Check
object Check {
  /** Against the digest stored under this id in `expected/digests.json`. */
  final case class Stored(id: String) extends Check
  /** Against a digest computed from the operation's input (a round trip). */
  final case class Same(ref: Digest.Result) extends Check
  /** The operation returns nothing; a later operation reads its effect. */
  case object Effect extends Check
}

/** One closed-loop operation: `build` calls into the program and returns
  * the results the caller reads; each is then reduced by [[Digest.of]].
  * `mark` records a named instant inside the build. */
final case class OpSpec(name: String, check: Check, build: (String => Unit) => Seq[DataFrame])

/** A workload: the inputs it builds during set-up and the operations of
  * each round. Round 0 is the cold round. */
trait Workload {
  def name: String
  /** Builds this set-up's inputs under `dir` on a fresh session. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** The operations of round `r`, in the order they run. */
  def round(r: Int): Seq[OpSpec]
  /** Workload facts for the artifact (corpus size, bytes stored, ...). */
  def facts: Map[String, Any] = Map.empty
  /** A warm round's time on a 4-core box at the commit that set it. */
  def nominalRoundS: Double
  /** Warm rounds for a run of `seconds`: as many as take about that
    * long at the nominal round time, and at least one. */
  def warmRounds(seconds: Int): Int = math.max(1, math.round(seconds / nominalRoundS).toInt)
}

object Workloads {
  def apply(name: String, seed: Long, data: String): Workload = name match {
    case "short_queries" => new ShortQueries(seed, data)
    case "curate_write" => new CurateWrite(seed, data)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def query(data: String, tag: String, key: String): OpSpec =
    OpSpec(key, Check.Stored(s"$tag/$key"), _ => Seq(SparkEntry.queries(key)(SparkSession.active, data)))

  def shuffled[T](xs: Seq[T], seed: Long, r: Int): Seq[T] =
    new Random(seed * 1000003L + r * 1009L).shuffle(xs)

  /** The cold round runs in panel order, so that what each cold operation
    * inherits from the ones before it is the same on every seed; warm
    * rounds run in seeded order. */
  def ordered[T](xs: Seq[T], seed: Long, r: Int): Seq[T] = if (r == 0) xs else shuffled(xs, seed, r)
}

/** Short queries at sf0.01: one client, a fixed stratified panel of
  * `SparkEntry.queries` keys. Every round runs the panel in one cycle,
  * which the seed rotates: the seed picks which key comes first, but
  * each key always follows the same others, so Spark's code cache, which
  * holds less than a round, misses the same classes on every seed (a
  * fresh shuffle per round makes the warm round compile 107 to 175
  * classes, depending on the seed). */
final class ShortQueries(seed: Long, data: String) extends Workload {
  val name = "short_queries"
  val nominalRoundS = 7.5
  def setup(spark: SparkSession, dir: Path): Unit = ()
  def round(r: Int): Seq[OpSpec] = {
    val k = java.lang.Math.floorMod(seed, Panels.shortQueries.size.toLong).toInt
    (Panels.shortQueries.drop(k) ++ Panels.shortQueries.take(k)).map(Workloads.query(data, "sf0.01", _))
  }
}

/** A library user's session over a ScaleGen replica of the sf0.01
  * documents: a `WorkflowSession` curation DAG of builtin operations
  * processed from the stored corpus, the data-heavy curation keys, a
  * store, alias, read-back, queued job and archive export and import of
  * a seeded lineitem sample, and a streaming key. */
final class CurateWrite(seed: Long, data: String) extends Workload {
  val name = "curate_write"
  val nominalRoundS = 8.5
  val replicas = 2
  private var corpus: String = _
  private var dir: Path = _
  private var api: GraftApi = _
  private var docs = 0L

  def setup(spark: SparkSession, d: Path): Unit = {
    dir = d
    corpus = d.resolve("corpus").toString
    graft.ScaleGen.generate(spark, data, corpus, replicas, only = Set("documents"))
    api = new GraftApi(spark, d.resolve("registry").toString)
    api.storeValue("corpus", Tables.t(spark, corpus, "documents"))
    docs = api.getValue("corpus").count()
    api.registerOperation("perfbench.large_lines", large)
  }

  private def dag: OpSpec = OpSpec("curate_dag", Check.Stored(s"corpus_x$replicas/curate_dag"), mark => {
    val wf = api.createWorkflow(s"curate-${System.nanoTime()}")
    wf.addStep("nfc", "text.nfc", "docs")
      .addStep("clean", "text.clean", "nfc")
      .addStep("quality", "text.quality", "clean")
      .addStep("exact", "dedup.exact_groups", "nfc")
      .addStep("minhash", "dedup.minhash_pairs", "nfc")
      .addStep("simhash", "dedup.simhash", "nfc")
    wf.setInput("docs", "corpus")
    val res = wf.process()
    mark("plans")
    Seq("quality", "exact", "minhash", "simhash").map(res(_))
  })

  /** The operation queued on each stored value. */
  private def large(df: DataFrame): DataFrame =
    df.filter(col("l_quantity") > 25).select("l_orderkey", "l_linenumber", "l_extendedprice")

  /** Store, alias, read back, queue a job on, export and re-import a
    * seeded quarter of lineitem; checked as round trips. */
  private def valueChain(r: Int): Seq[OpSpec] = {
    val spark = SparkSession.active
    val v = Tables.t(spark, data, "lineitem")
      .where(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed), lit(r)), lit(4)) === 0)
    val ref = Digest.of(v)
    val queuedRef = Digest.of(large(v))
    val id = s"v$r"
    val archive = dir.resolve(s"archive-$r").toString
    Seq(
      OpSpec("registries.store", Check.Effect, _ => { api.storeValue(id, v); Seq.empty }),
      OpSpec("registries.alias", Check.Effect, _ => { api.registerValueAlias(id, s"a$r"); Seq.empty }),
      OpSpec("registries.get", Check.Same(ref), _ => Seq(api.getValue(s"a$r"))),
      OpSpec("api.queue_job", Check.Same(queuedRef), mark => {
        val job = api.queueJob("perfbench.large_lines", id)
        mark("queued")
        Seq(api.getJobResult(job))
      }),
      OpSpec("registries.export_archive", Check.Effect, _ => { api.exportArchive(archive, Seq(id)); Seq.empty }),
      OpSpec("registries.import_archive", Check.Same(ref), _ => {
        val fresh = new GraftApi(spark, dir.resolve(s"import-$r").toString)
        fresh.importArchive(archive)
        Seq(fresh.getValue(id))
      }))
  }

  def round(r: Int): Seq[OpSpec] = {
    val ops = Workloads.ordered(dag +:
      (Panels.curateKeys.map(Workloads.query(corpus, s"corpus_x$replicas", _)) ++
        Panels.writeKeys.map(Workloads.query(data, "sf0.01", _))), seed, r)
    // the value chain stays in order; the other operations go around it
    val at = if (r == 0) ops.size else new Random(seed * 31 + r).nextInt(ops.size + 1)
    ops.take(at) ++ valueChain(r) ++ ops.drop(at)
  }

  /** Corpus size, and parquet bytes of the values stored so far. */
  override def facts: Map[String, Any] = Map("replicas" -> replicas, "corpus_docs" -> docs,
    "dag_steps" -> 6, "user_bytes" -> api.data.list.filter(_ != "corpus").map { id =>
      val s = Files.walk(java.nio.file.Paths.get(api.data.path(id)))
      try s.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum finally s.close()
    }.sum)

  /** Kernel-only projections of the graftext expressions over the corpus
    * (the sf0.01 embeddings for `dot`): (name, rows, seconds), each timed
    * after one untimed pass over cached input. */
  def kernels(spark: SparkSession): Seq[(String, Long, Double)] = {
    import org.apache.spark.sql.graftext.{NfcNormalize, Shingles, SimHash, VectorFunctions}
    val d = Tables.t(spark, corpus, "documents").select(col("text")).persist()
    val e = Tables.t(spark, data, "embeddings").select(col("embedding")).persist()
    val rows = (d.count(), e.count())
    val toks = graft.operators.TextOps.tokens(col("text"))
    val cases = Seq(
      ("minhash", d, Shingles.minhashSig(toks, 3, graft.operators.Dedup.NumHashes), rows._1),
      ("simhash", d, SimHash.simhash(toks), rows._1),
      ("nfc", d, NfcNormalize.nfc(col("text")), rows._1),
      ("dot", e, VectorFunctions.dot(col("embedding"), col("embedding")), rows._2))
    val out = cases.map { case (k, df, expr, n) =>
      Digest.of(df.select(expr.as("k")))
      val t0 = System.nanoTime()
      Digest.of(df.select(expr.as("k")))
      (k, n, (System.nanoTime() - t0) / 1e9)
    }
    d.unpersist(); e.unpersist()
    out
  }
}

/** The fixed operation panels. The seed orders the rounds and picks the
  * stored samples; it does not pick the operations, so that medians
  * compare across seeds. */
object Panels {
  val shortQueries: Seq[String] = Seq("q3_join", "evt_cuped", "dq_expectations", "text_shared_spans",
    "dedup_minhash", "sim_topk_exact", "rel_item_cf")
  val curateKeys: Seq[String] = Seq("pipeline_curate", "dedup_minhash_verified")
  val writeKeys: Seq[String] = Seq("stream_dedup_wm")
}
