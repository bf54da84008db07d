package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.sources.{Bucketing, Export}

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin result identical to a plain join on a skewed key") {
    // 90% of rows on one hot key
    val big = (1L to 1000L).map(i => (if (i <= 900) 1L else i, i)).toDF("k", "payload")
    val small = Seq((1L, "hot"), (950L, "cold"), (999L, "cold")).toDF("k", "label")
    val plain = big.join(small, "k").select("k", "payload", "label")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
      .select("k", "payload", "label").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.count(_.head == 1L) == 900)
  }

  test("keySkew surfaces the hot key with its share") {
    val big = (1L to 1000L).map(i => (if (i <= 900) 1L else i, i)).toDF("k", "payload")
    val top = Skew.keySkew(big, "k", 3).collect()
    assert(top.head.getLong(0) == 1L)
    assert(top.head.getLong(1) == 900L)
    assert(top.head.getDouble(2) == 0.9)
  }

  test("AQE splits the hot partition of a skewed sort-merge join at runtime") {
    // cloned session: tuned-down skew thresholds must not leak into the
    // shared test session
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true") // the premise under test
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "262144")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    // 90% of 120k rows land on hot key 7; the tail spreads over the id
    // space. The payload is an md5 string so column pruning can't drop it
    // and shuffle compression can't shrink the hot partition below the
    // skew threshold.
    val big = s.range(1, 120001)
      .selectExpr("if(id % 10 != 0, 7L, id) AS k", "id AS v",
        "md5(cast(id AS string)) AS pad")
    val small = s.range(0, 120001, 1000).selectExpr("id AS k", "concat('d', id) AS label")
      .union(s.sql("SELECT 7L AS k, 'hot' AS label"))
    val joined = big.join(small, "k").groupBy("label")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("pad").as("mp"))
    val rows = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // correctness: the hot key's 108000 rows all arrive despite the split
    assert(rows("hot") == 108000L)
    // the post-AQE join node must be marked as skew-split
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val all = flattenPlan(joined.queryExecution.executedPlan)
    val skewJoins = all.collect { case j: SortMergeJoinExec if j.isSkewJoin => j }
    assert(skewJoins.nonEmpty,
      s"expected AQE to mark the join skew=true:\n${joined.queryExecution.executedPlan}")
  }

  test("salted skewed join query matches the plain join and spreads the hot key") {
    // the registered q26 shape at spec scale: result parity is the point
    val d = sfDir
    val viaSalt = graft.queries.Relational.q26SkewSalted(spark, d)
      .collect().map(_.toSeq).toSeq
    val li = Tables.t(spark, d, "lineitem").select(
      when(col("l_quantity") <= 45, lit(0L))
        .otherwise(pmod(col("l_partkey"), lit(100)).cast("long")).as("k"),
      col("l_extendedprice"))
    val dim = Tables.t(spark, d, "part")
      .select(pmod(col("p_partkey"), lit(100)).cast("long").as("k")).distinct()
      .withColumn("bucket_name", concat(lit("b"), lpad(col("k").cast("string"), 3, "0")))
    val plain = li.join(dim, "k").groupBy("bucket_name")
      .agg(count(lit(1)).as("n_rows"), round(sum("l_extendedprice"), 2).as("revenue"))
      .orderBy("bucket_name").collect().map(_.toSeq).toSeq
    assert(viaSalt == plain)
    // and the hot bucket dominates (the skew premise holds on the data)
    assert(viaSalt.head.head == "b000" &&
      viaSalt.head(1).asInstanceOf[Long] > viaSalt.tail.map(_(1).asInstanceOf[Long]).max * 5)
  }

  test("co-bucketed join plans with zero shuffles") {
    val li = Tables.t(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables.t(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val base = Export.tempDir("graft_skewspec_bucketed_").toString
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 8, s"$base/lineitem")
    Bucketing.writeBucketed(o, "b_orders", "l_orderkey", 8, s"$base/orders")
    val joined = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
    val nRows = joined.count() // execute first so the walked plan is post-AQE
    // tree walk (not string matching): no shuffle anywhere in the plan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = flattenPlan(joined.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"expected exchange-free bucketed join, found ${shuffles.size}:\n" +
        joined.queryExecution.executedPlan)
    assert(nRows == li.count()) // every lineitem row has its order
  }
}
