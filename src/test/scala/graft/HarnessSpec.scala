package graft

import java.nio.file.Files

/** The harness contract shared by the runner mains and the specs: one
  * session conf ([[Sessions.builder]]) and one key selection
  * ([[SparkEntry.selectKeys]]). */
class HarnessSpec extends SparkTestBase {

  test("the test session is the harness session with three named overrides") {
    // the builder's conf, not spark.conf: specs may set runtime conf on
    // the shared session
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.files.openCostInBytes") == Sessions.openCostInBytes)
    assert(conf.get("spark.sql.adaptive.enabled") == Sessions.adaptiveEnabled)
    assert(conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Sessions.conf(4).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    // the overrides: four cores, a private warehouse, no broadcast joins
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.warehouse.dir").contains("graft_wh_"))
    assert(conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
  }

  test("key selection: all keys sorted, a named subset, unknown keys fail") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(SparkEntry.selectKeys(Nil) == all)
    assert(SparkEntry.selectKeys(Seq("q2_filter", "q1_agg")) == Seq("q1_agg", "q2_filter"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectKeys(Seq("q1_agg", "typo_key")))
    assert(e.getMessage.contains("typo_key"))
  }

  test("Verify and Bench reject an unknown key before running anything") {
    val root = Files.createTempDirectory("graft_verify_")
    try {
      val out = root.resolve("out")
      intercept[IllegalArgumentException](
        Verify.main(Array(sfDir, out.toString, "typo_key")))
      assert(!Files.exists(out), "no dumps and no oracle_sql.json for a typo")
      intercept[IllegalArgumentException](Bench.main(Array("typo_key")))
    } finally Files.delete(root)
  }
}
