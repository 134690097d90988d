package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Runtime/operational surface: observe() metrics, cache/persist, and
  * explicit repartitioning (the knobs a 100 TB pipeline turns). */
class RuntimeOpsSpec extends SparkSpec {

  test("observe() collects pipeline metrics without a second pass") {
    val df = Tables.load(spark, SF, "lineitem")
      .observe("li_metrics", count(lit(1)).alias("rows"),
        sum(col("l_quantity")).alias("qty"))
      .filter(col("l_returnflag") === "R")
    df.collect() // drives THIS dataset's QueryExecution (write would spawn its own)
    val m = df.queryExecution.observedMetrics("li_metrics")
    assert(m.getAs[Long]("rows") === 6000L)
    assert(m.getAs[Double]("qty") > 0)
  }

  test("cache() serves the second action from memory") {
    val df = Tables.load(spark, SF, "orders").filter(col("o_totalprice") > 1000)
    df.cache()
    try {
      val n1 = df.count()
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"), plan)
      assert(df.count() === n1)
    } finally df.unpersist()
  }

  test("schema evolution: mergeSchema unions parquet file schemas") {
    val out = tmpDir("evolve")
    Tables.load(spark, SF, "region").write.parquet(s"$out/v=1")
    Tables.load(spark, SF, "region")
      .withColumn("r_comment", concat(lit("c-"), col("r_name")))
      .write.parquet(s"$out/v=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.toSet === Set("r_regionkey", "r_name", "r_comment", "v"))
    assert(merged.count() === 10)
    // old files surface the new column as NULL
    assert(merged.filter(col("v") === 1 && col("r_comment").isNull).count() === 5)
  }

  test("stratified sampling (sampleBy) is seeded-deterministic and ratio-sane") {
    val events = Tables.load(spark, SF, "events")
    val fractions = Map("click" -> 0.5, "purchase" -> 0.1)
    def run() = events.stat.sampleBy("event_type", fractions, seed = 42L)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s1 = run()
    assert(s1 === run(), "same seed, same sample")
    assert(s1.keySet === Set("click", "purchase"))
    assert(s1("click") > 50 && s1("click") < 160)
  }

  test("unionByName aligns by name and tolerates missing columns") {
    val a = Tables.load(spark, SF, "region").select("r_regionkey", "r_name")
    val b = Tables.load(spark, SF, "region")
      .select(col("r_name"), col("r_regionkey")) // reversed order
      .withColumn("extra", lit(1))
    val u = a.unionByName(b, allowMissingColumns = true)
    assert(u.count() === 10)
    assert(u.columns.toSeq === Seq("r_regionkey", "r_name", "extra"))
    assert(u.filter(col("extra").isNull).count() === 5)
  }

  test("StreamingQueryListener observes query lifecycle and progress") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        seen.add("started")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        seen.add(s"progress:${e.progress.numInputRows}")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        seen.add("terminated")
    }
    spark.streams.addListener(listener)
    try {
      val src = tmpDir("listen_src")
      Tables.load(spark, SF, "region").write.mode("overwrite").parquet(src)
      spark.readStream.schema(Tables.load(spark, SF, "region").schema)
        .parquet(src)
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("listen_cp"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      // listener events are async; wait for the lifecycle to flush
      val deadline = System.currentTimeMillis() + 15000
      while (!seen.contains("terminated") && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(seen.contains("started"), seen.toString)
      assert(seen.toArray.exists(_.toString.startsWith("progress:")), seen.toString)
      assert(seen.contains("terminated"), seen.toString)
    } finally spark.streams.removeListener(listener)
  }

  test("repartition strategies produce the expected exchanges") {
    val df = Tables.load(spark, SF, "lineitem")
    val hashed = df.repartition(8, col("l_orderkey"))
    assert(hashed.queryExecution.explainString(ExplainMode.fromString("simple"))
      .contains("hashpartitioning(l_orderkey"), "hash repartition")
    val ranged = df.repartitionByRange(8, col("l_shipdate"))
    assert(ranged.queryExecution.explainString(ExplainMode.fromString("simple"))
      .contains("rangepartitioning(l_shipdate"), "range repartition")
    // coalesce narrows without a shuffle
    val coalesced = df.coalesce(1)
    val cp = coalesced.queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(cp.contains("Coalesce") && !cp.contains("Exchange"), cp)
  }
}
