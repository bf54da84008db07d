package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic self-replication of a testdata SF directory — the
  * empirical scale probe's corpus builder (verdict r7 "Next round" #1:
  * measure the heaviest plans past sf0.1 instead of arguing
  * asymptotics). `ScaleGen <srcSfDir> <outDir> <replicas>` writes every
  * table with `replicas` key-shifted copies unioned:
  *
  *  - fact keys shift by k·10⁷ (order keys k·10⁸) so replicas are
  *    disjoint: graphs gain components, customers/users/docs multiply,
  *    per-entity cardinalities stay constant — the scale-out shape of a
  *    growing corpus.
  *  - events shift ts by k·(span+1 day) AND user_id, so both the
  *    calendar domain and the user domain grow with scale (stressing
  *    the "calendar-bounded" collected dimensions, e.g. evt_holt).
  *  - document text is SALTED per replica (every ~4th token by
  *    token-hash gets a replica suffix): cross-replica shingle overlap
  *    drops well below near-dup thresholds, so dedup/similarity pair
  *    densities scale like a real corpus instead of exploding
  *    quadratically on 10 identical copies. Replica 0 is bit-identical
  *    to the source. Vocabulary grows sublinearly with replicas
  *    (distinct salted types), Heaps-law-ish.
  *  - embeddings perturb each component by a deterministic ±5% factor
  *    keyed on (vec_id, position) — replicas stop being exact cosine
  *    twins.
  *  - region/nation are true dimensions: copied once, never replicated.
  *
  * `ScaleGen <src> <out> <reps> planted` (r12) switches documents to
  * PLANTED-STRUCTURE mode: replicas become fully token-disjoint (no
  * gram survives across replicas, so posting-join volume scales
  * linearly) and each replica plants token-prefix twins at controlled
  * containment (=1.0) / jaccard (0.55–0.90 spread) — the corpus that
  * probes a candidate-generation ALGORITHM instead of boilerplate-gram
  * pressure or answer cardinality. Other tables are unchanged.
  *
  * Everything is pure column arithmetic on the normalized Tables.t
  * view; output parquet re-reads through the same Tables.t path (ts
  * written as plain TIMESTAMP micros, keys already widened to long).
  */
object ScaleGen {

  private val DimKey = 10000000L   // customer/supplier/part/user/doc/vec shift
  private val OrderKey = 100000000L // orderkey/event_id shift
  private val TwinKey = 5000000L   // planted-twin doc shift (inside the replica band)

  def main(args: Array[String]): Unit = {
    require(args.length == 3 ||
      (args.length == 4 && (args(3) == "planted" || args(3).startsWith("only="))),
      "usage: ScaleGen <srcSfDir> <outDir> <replicas> [planted|only=t1,t2]")
    val (src, out, reps) = (args(0), args(1), args(2).toInt)
    require(reps >= 1, s"replicas must be >= 1, got $reps")
    // only=embeddings (r12): write just the named tables — an ANN probe
    // at x600 needs 1.2M vectors, not 9 GB of salted documents/lineitem
    val only: Set[String] =
      if (args.length == 4 && args(3).startsWith("only="))
        args(3).stripPrefix("only=").split(",").map(_.trim).toSet
      else Set.empty
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, reps,
      planted = args.length == 4 && args(3) == "planted", only = only)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, reps: Int,
               planted: Boolean = false, only: Set[String] = Set.empty): Unit = {
    def write(name: String, df: => DataFrame): Unit =
      if (only.isEmpty || only(name)) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[scalegen] $name x$reps written")
      }
    def replicated(name: String)(shift: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = Tables.t(spark, src, name)
      (0 until reps).map(k => shift(base, k)).reduce(_ unionAll _)
    }
    // true dimensions: copy once
    write("region", Tables.t(spark, src, "region"))
    write("nation", Tables.t(spark, src, "nation"))
    write("customer", replicated("customer")((d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + k * DimKey)))
    write("supplier", replicated("supplier")((d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + k * DimKey)))
    write("part", replicated("part")((d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + k * DimKey)))
    write("orders", replicated("orders")((d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + k * OrderKey)
        .withColumn("o_custkey", col("o_custkey") + k * DimKey)))
    write("lineitem", replicated("lineitem")((d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + k * OrderKey)
        .withColumn("l_partkey", col("l_partkey") + k * DimKey)
        .withColumn("l_suppkey", col("l_suppkey") + k * DimKey)))
    // events: user AND calendar domains both grow with scale
    val ev = Tables.t(spark, src, "events")
    val spanDays = ev.agg(
      (datediff(max(col("ts")), min(col("ts"))) + 1).cast("long")).head().getLong(0)
    write("events", (0 until reps).map { k =>
      ev.withColumn("event_id", col("event_id") + k * OrderKey)
        .withColumn("user_id", col("user_id") + k * DimKey)
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * spanDays} DAYS"))
    }.reduce(_ unionAll _))
    // documents: replica-salted text (see scaladoc); n_chars re-derived.
    // PLANTED mode (r12, verdict task): the default salting leaves ~24%
    // of 3-grams IDENTICAL across replicas (per-gram P(all 3 tokens
    // unsalted) ≈ 0.625³), so posting dfs grow with the replica count
    // and Σ df² candidate-join volume grows ~quadratically — an x300
    // probe of a posting-join operator then measures boilerplate-gram
    // pressure, not the algorithm (the r11 dedup_containment OOM;
    // measured r12: the true ANSWER was always linear — x3 of sf0.1 is
    // 1653 pairs vs 3×512 in-replica + 117 cross). Planted mode makes
    // replicas fully DISJOINT at the token level (every token suffixed,
    // zero cross-replica grams → linear join volume) and PLANTS
    // controlled near-dup structure instead: every (doc_id % 101 == 0,
    // ≥ 12-token) doc gains a token-PREFIX twin at 55–90% length —
    // containment(twin→orig) = 1.0 exactly, gram-jaccard ≈ the length
    // fraction (a 0.55–0.90 spread across both the 0.7 prefix-filter
    // and 0.8 LSH-verify thresholds) — so the true pair set stays
    // ~N/101, linear, and the probes measure candidate generation.
    def plantTwins(rep: DataFrame): DataFrame = {
      val twins = rep
        .withColumn("toks", split(col("text"), " "))
        .filter(pmod(col("doc_id"), lit(101)) === 0 && size(col("toks")) >= 12)
        .withColumn("text", array_join(expr(
          "slice(toks, 1, cast(ceil(size(toks) * " +
            "(0.55e0 + 0.05e0 * pmod(doc_id, 8))) as int))"), " "))
        .withColumn("doc_id", col("doc_id") + TwinKey)
        .drop("toks")
      rep.unionByName(twins)
    }
    write("documents", (0 until reps).map { k =>
      val d = Tables.t(spark, src, "documents")
      val rep =
        if (k == 0) d
        else if (planted) d
          .withColumn("doc_id", col("doc_id") + k * DimKey)
          .withColumn("text", array_join(transform(split(col("text"), " "),
            w => concat(w, lit("x"), lit(k))), " "))
        else d
          .withColumn("doc_id", col("doc_id") + k * DimKey)
          // every 6th POSITION (replica-offset) salted — a deterministic
          // bound: any 3-gram window shares at most half its grams with a
          // twin, so cross-replica jaccard ≤ 1/3, far under the 0.8
          // near-dup threshold — plus ~every 4th token by hash (so salting
          // is type-consistent and vocabulary grows Heaps-ish), plus one
          // appended marker so even a 1-token doc differs from its twins
          .withColumn("text", concat(array_join(transform(split(col("text"), " "),
            (w, i) => when(pmod(i + lit(k), lit(6)) === 0 ||
                pmod(xxhash64(w, lit(k)), lit(4)) === 0,
              concat(w, lit("x"), lit(k))).otherwise(w)), " "),
            lit(s" zzrep$k")))
      (if (planted) plantTwins(rep) else rep)
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionAll _))
    // embeddings: deterministic ±5% per-component perturbation
    write("embeddings", (0 until reps).map { k =>
      val d = Tables.t(spark, src, "embeddings")
      if (k == 0) d
      else d
        .withColumn("vec_id", col("vec_id") + k * DimKey)
        .withColumn("embedding", expr(
          "transform(embedding, (x, j) -> CAST(x * (1.0D + " +
            "(pmod(vec_id * 31 + j, 11) - 5) / 100.0D) AS FLOAT))"))
    }.reduce(_ unionAll _))
  }
}
