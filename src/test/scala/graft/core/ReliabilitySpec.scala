package graft.core

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec
import graft.operators.{Dedup, GraphRank, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, udf}

/** The reliable-checkpoint policy must be semantically invisible: every
  * iterative operator returns bit-identical results whether its lineage
  * cuts are executor-local (default) or written to the checkpoint
  * directory (`spark.graft.checkpoint.dir` set). A keyed cut declares
  * its hash partitioning under either policy, and writes no session
  * conf that a concurrent planner could observe. */
class ReliabilitySpec extends SparkSpec {
  import spark.implicits._

  private def withReliableDir[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Reliability.CheckpointDirKey, dir)
    try body
    finally spark.conf.unset(Reliability.CheckpointDirKey)
  }

  test("pageRank is bit-identical through the reliable checkpoint path") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val local = GraphRank.pageRank(edges, iters = 3).as[(Long, Long)].collect().toMap
    val reliable = withReliableDir {
      GraphRank.pageRank(edges, iters = 3).as[(Long, Long)].collect().toMap
    }
    assert(reliable == local)
  }

  test("dedupClusters is bit-identical through the reliable checkpoint path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 7L))
      .toDF("id_a", "id_b")
    val local = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    val reliable = withReliableDir {
      Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    }
    assert(reliable == local)
  }

  test("trainCentroids is bit-identical through the reliable checkpoint path") {
    val emb = (0L until 12L)
      .map(i => (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 5).toFloat)))
      .toDF("id", "emb")
    def run() = Similarity.trainCentroids(emb, "id", "emb", k = 3, iters = 2)
      .as[(Long, Array[Float], Double)].collect()
      .map(c => (c._1, c._2.toSeq, c._3)).toSet
    val local = run()
    val reliable = withReliableDir(run())
    assert(reliable == local)
  }

  test("the reliable path actually writes checkpoint files") {
    val dir = Files.createTempDirectory("graft-ckpt-files")
    spark.conf.set(Reliability.CheckpointDirKey, dir.toString)
    try {
      Reliability.cut(Seq(1, 2, 3).toDF("x")).collect()
      // setCheckpointDir mints a UUID subdir; the cut must have
      // populated it with rdd block files
      val written = Files.walk(dir).filter(Files.isRegularFile(_)).count()
      assert(written > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset(Reliability.CheckpointDirKey)
  }

  test("repeated reliable cuts share one checkpoint subdirectory") {
    val dir = Files.createTempDirectory("graft-ckpt-subdir")
    spark.conf.set(Reliability.CheckpointDirKey, dir.toString)
    try {
      Reliability.cut(Seq(1, 2, 3).toDF("x")).collect()
      Reliability.cut(Seq(4, 5, 6).toDF("x")).collect()
      // setCheckpointDir mints a UUID subdir per call: once per base
      val subdirs = Files.list(dir).filter(Files.isDirectory(_)).count()
      assert(subdirs == 1, s"$subdirs checkpoint subdirectories under $dir")
    } finally spark.conf.unset(Reliability.CheckpointDirKey)
  }

  private def declared(c: DataFrame) =
    c.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.outputPartitioning }

  test("a cut of repartition(n, k) declares HashPartitioning(k, n) under either policy") {
    def check(): Unit = {
      val c = Reliability.cut((1L to 100L).toDF("k").repartition(3, col("k")))
      declared(c) match {
        case Some(HashPartitioning(Seq(a: Attribute), 3)) => assert(a.name == "k")
        case other => fail(s"expected hashpartitioning(k, 3), got $other")
      }
      // and the declaration is used: an aggregation on k plans no exchange
      val agg = c.groupBy("k").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        agg.queryExecution.executedPlan.toString)
      assert(agg.count() == 100)
    }
    check()
    withReliableDir(check())
  }

  test("a keyed cut leaves adaptive planning on for a concurrent Par.inParallel builder") {
    import ReliabilitySpec.{cutRunning, planned}
    cutRunning = new CountDownLatch(1)
    planned = new CountDownLatch(1)
    // the cut's tasks hold its job open until the other builder has
    // planned, so the planning happens mid-job by construction
    val hold = udf { (k: Long) =>
      cutRunning.countDown()
      planned.await(60, TimeUnit.SECONDS)
      k
    }
    @volatile var joinPlan: SparkPlan = null
    Par.inParallel(2) {
      case 0 =>
        Reliability.cut(spark.range(0, 100).select(hold(col("id")).as("k")).repartition(4, col("k")))
      case _ =>
        try {
          assert(cutRunning.await(60, TimeUnit.SECONDS), "the keyed cut's job never started")
          val j = spark.range(0, 10).toDF("k").join(spark.range(5, 15).toDF("k"), "k")
          joinPlan = j.queryExecution.executedPlan
          j
        } finally planned.countDown()
    }
    assert(joinPlan.isInstanceOf[AdaptiveSparkPlanExec],
      s"a join planned during a keyed cut lost AQE:\n$joinPlan")
  }
}

object ReliabilitySpec {
  // latches the cut's tasks reach through this object: executor-side
  // closures are deserialized copies, but a static reference is shared
  // in local mode
  @volatile var cutRunning: CountDownLatch = new CountDownLatch(0)
  @volatile var planned: CountDownLatch = new CountDownLatch(0)
}
