package perfbench

import graft.operators.DataChecks
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a call site is billed to its innermost engine frame") {
    val site = Seq(
      "org.apache.spark.sql.DataFrameWriter.json(DataFrameWriter.scala:500)",
      "graft.sources.LandingZone$.write(LandingZone.scala:31)",
      "graft.pipeline.Runner.$anonfun$runWith$1(Runner.scala:117)",
      "perfbench.PipelineWeekly$.cycle(PipelineWeekly.scala:10)").mkString("\n")
    assert(Attribution.module(site).contains("sources.landing"))
    assert(Attribution.module("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "app//graft.operators.Dedup$.clusters(Dedup.scala:99)").contains("operators.scalar_fetch"))
    assert(Attribution.module("org.apache.spark.rdd.RDD.fold(RDD.scala:1)\n" +
      "perfbench.Stats$.resultHash(Main.scala:150)").contains(Attribution.Harness))
    assert(Attribution.module("java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)")
      .isEmpty)
  }

  test("an unattributed job fails the attribution check") {
    val op = new OpTrace(0L)
    op.jobs += JobRec(1, None, "run at CompletableFuture.java:1768", 0L, 1L)
    val res = new Result
    Layers.checkAttributed(Seq(op), res)
    assert(res.attempted == 1 && res.failed == 1, res.problems)
    assert(res.problems.head.contains("CompletableFuture.java"), res.problems)
  }

  test("an AQE join and an engine data check leave no job unattributed") {
    val tracer = new Tracer(spark)
    try {
      val (_, join) = tracer.op {
        val left = spark.range(0, 20000).selectExpr("id % 500 AS k", "id AS v")
        val right = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS w")
        left.join(right, "k").groupBy("w").count().collect()
      }
      // AQE submits its query-stage jobs from a pool thread; only the SQL
      // execution remembers that this file asked for them
      assert(join.jobs.exists(_.finalStage.contains("CompletableFuture")), join.jobs)
      assert(join.jobs.nonEmpty && join.jobs.forall(_.module.contains(Attribution.Harness)), join.jobs)

      val (_, check) = tracer.op(DataChecks.requireUnique(spark.range(0, 1000).toDF("crime_id"), Seq("crime_id")))
      assert(check.jobs.nonEmpty && check.jobs.forall(_.module.contains("operators.datachecks")), check.jobs)

      val layers = new Result
      Layers.checkAttributed(Seq(join, check), layers)
      assert(layers.failed == 0, layers.problems)
      Layers.fromOps(Seq(join, check), 1.0).emit(layers)
      assert(layers.metrics("unattributed_jobs")._1 == 0.0)
      assert(layers.metrics("operators.datachecks.jobs")._1 == check.jobs.size)
    } finally tracer.stop()
  }
}
