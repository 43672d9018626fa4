package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the pipeline-parity operators (SURVEY.md §5.2):
  * dedup idempotence, replace-by-key cardinality, TTL monotonicity — the
  * invariants the reference's design leans on (at-least-once + idempotent
  * storage, ref: cmd/gh-load/main.go:257-261, README.md:14).
  */
class PipelineSemanticsSpec extends SparkSpec {

  test("dedup_exact is idempotent and keyed: one row per event_id") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf)
    val n = out.count()
    assert(n == out.select("event_id").distinct().count())
    // replaying the dedup over its own output changes nothing
    assert(out.dropDuplicates("event_id").count() == n)
  }

  test("replace_by_key keeps exactly one row per (user_id, event_type)") {
    val out = SparkEntry.queries("replace_by_key")(spark, sf)
    val keys = out.select("user_id", "event_type").distinct().count()
    assert(out.count() == keys)
    // kept row is the max-(ts, event_id) version of its key group
    val e = Tables.events(spark, sf)
    val latest = e.groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"))).as("v"))
      .select(col("user_id"), col("event_type"), col("v.event_id").as("event_id"))
    val mismatch = out.select("user_id", "event_type", "event_id")
      .exceptAll(latest).count()
    assert(mismatch == 0)
  }

  test("ttl_filter keeps only rows within 3 days of max ts") {
    val out = SparkEntry.queries("ttl_filter")(spark, sf)
    val e = Tables.events(spark, sf)
    val mx = e.agg(max("ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(mx.toInstant.minus(java.time.Duration.ofDays(3)))
    assert(out.filter(col("ts") < lit(cutoff)).count() == 0)
    assert(out.count() == e.filter(col("ts") >= lit(cutoff)).count())
  }

  test("sink round-trip loses no rows and preserves values") {
    val out = SparkEntry.queries("sink_partitioned_write")(spark, sf)
    val e = Tables.events(spark, sf)
    assert(out.count() == e.count())
    val diff = out.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .exceptAll(e.select("event_id", "ts", "user_id", "event_type", "value", "props"))
      .count()
    assert(diff == 0)
  }

  test("parallelFloor: a source without size statistics gets the cores floor") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dp = spark.sparkContext.defaultParallelism
    val rdd = spark.sparkContext.parallelize(1 to 100, 3)
    // a LogicalRDD, and an object RDD whose projection rescales the
    // placeholder size below spark.sql.defaultSizeInBytes
    val rows = spark.createDataFrame(rdd.map(Row(_)),
      StructType(Seq(StructField("x", IntegerType))))
    for (df <- Seq(rows, rdd.toDF("x")))
      assert(operators.PipelineOps.parallelFloor(spark, df).rdd.getNumPartitions == dp)
  }

  test("join_asof: every purchase appears once, click never after purchase") {
    val out = SparkEntry.queries("join_asof")(spark, sf)
    val purchases = Tables.events(spark, sf).filter(col("event_type") === "purchase")
    assert(out.count() == purchases.count())
    assert(out.filter(col("asof_click_ts") > col("p_ts")).count() == 0)
  }
}
