package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSessionExtensions}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.PipelineQueries
import graft.sources.Tables

/** Jobs and plans of the two fixed per-query costs graft removes: the
  * parquet schema job (schemas are read on the driver) and the range
  * sampling job of a small root sort ([[SingleTaskSort]]). */
class SingleTaskSortSpec extends SparkSpec {

  /** Jobs started while `body` runs, listener bus drained both sides. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      n.get
    } finally sc.removeSparkListener(listener)
  }

  private def plan(df: Dataset[_]): String =
    df.queryExecution.executedPlan.toString.toLowerCase

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }

  test("building the testdata tables runs no job") {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val jobs = jobsDuring {
      val t = Tables(s, sf("sf0.001"))
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem, t.events, t.documents, t.embeddings)
    }
    assert(jobs == 0)
  }

  test("t01 sorts in one partition: no range partitioning, drained in " +
      "at most 2 jobs") {
    val df = PipelineQueries.t01.run(spark, sf("sf0.001"))
    val jobs = jobsDuring(df.queryExecution.toRdd.foreach(_ => ()))
    assert(jobs <= 2)
    assert(!plan(df).contains("rangepartitioning"), plan(df))
    assert(plan(df).contains("singlepartition"), plan(df))
  }

  test("the sort is the same with the rule disabled by threshold -1") {
    val on = PipelineQueries.t01.run(spark, sf("sf0.001"))
    val onRows = on.collect().toSeq
    withThreshold("-1") {
      val off = PipelineQueries.t01.run(spark, sf("sf0.001"))
      assert(plan(off).contains("rangepartitioning"), plan(off))
      assert(!plan(off).contains("singlepartition"), plan(off))
      assert(off.collect().toSeq == onRows)
    }
  }

  test("a small sort under a root Project runs in one partition") {
    GraftPlanner.install(spark)
    val df = spark.range(0, 1000).orderBy(col("id").desc)
      .select((col("id") * 2).as("x"))
    assert(!plan(df).contains("rangepartitioning"), plan(df))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      (0L until 1000L).reverse.map(_ * 2))
  }

  test("over-threshold, limited and streaming sorts keep their plan") {
    GraftPlanner.install(spark)
    // 4M longs: an estimated 32 MB, over the 10 MB default threshold
    val big = spark.range(0, 4000000).orderBy(col("id").desc)
    assert(plan(big).contains("rangepartitioning"), plan(big))
    // orderBy + limit is a top-k, not a root sort
    val topK = PipelineQueries.t01.run(spark, sf("sf0.001")).limit(5)
    assert(plan(topK).contains("takeorderedandproject"), plan(topK))
    assert(!plan(topK).contains("singlepartition"), plan(topK))
    // a complete-mode streaming aggregation sorted per batch
    val src = java.nio.file.Files.createTempDirectory("sort_stream")
    spark.range(0, 100).select((col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(s"$src/in")
    val q = spark.readStream.schema("k BIGINT").parquet(s"$src/in")
      .groupBy(col("k")).count().orderBy(col("k"))
      .writeStream.format("memory").queryName("single_task_sort_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString.toLowerCase
      assert(streamed.contains("rangepartitioning"), streamed)
      assert(spark.table("single_task_sort_stream").count() == 7)
    } finally q.stop()
  }

  test("GraftExtensions injects the rule and the strategy; install is " +
      "idempotent") {
    val exts = new SparkSessionExtensions
    new graft.api.GraftExtensions().apply(exts)
    assert(exts.buildOptimizerRules(spark).contains(SingleTaskSort))
    assert(exts.buildPlannerStrategies(spark)
      .contains(PackedCountAgg.Strategy))
    val s = spark.newSession()
    GraftPlanner.install(s)
    GraftPlanner.install(s)
    assert(s.experimental.extraOptimizations == Seq(SingleTaskSort))
    assert(s.experimental.extraStrategies == Seq(PackedCountAgg.Strategy))
  }
}
