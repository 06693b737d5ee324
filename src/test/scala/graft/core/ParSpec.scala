package graft.core

import java.nio.file.Files

import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkSpec

/** [[Par.widen]]'s width estimate must be FILE-AWARE (r22): the
  * bytes-only estimate said "1" for any sub-128MB table regardless of
  * file count, so a multi-file mid-size input was round-robin
  * re-shuffled even though its scan is already parallel — measured as
  * a regression at every site on an 8-file copy of the bench tables.
  * Widen also requires a real parallelism multiple
  * ([[Par.WidenMinGain]]×) before paying the exchange. The test
  * session runs local[4], so target = 4 and the gain gate means a
  * 1-file scan (4× deficit exactly) must already no-op.
  *
  * [[Reliability.keyedWidth]] sizes a keyed repartition from a cut's
  * measured bytes under either checkpoint policy.
  *
  * [[Par.inParallel]] returns only once every builder has stopped, so a
  * failing builder can never leave a sibling running past the call.
  */
class ParSpec extends SparkSpec {
  import spark.implicits._

  private def partsOf(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions

  test("widen no-ops on a multi-file scan (width >= target/gain)") {
    val dir = Files.createTempDirectory("graft-widen-mf").toString
    (1 to 400).toDF("x").repartition(4).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val w = Par.widen(df)
    // no extra exchange: the plan has no Repartition node
    assert(!w.queryExecution.optimizedPlan.toString.contains("Repartition"),
      "widen must not re-shuffle an already-parallel multi-file scan")
  }

  test("widen no-ops on a materialized cut with enough blocks") {
    val cut = Reliability.cut((1 to 100).toDF("x").repartition(4))
    val before = partsOf(cut)
    val w = Par.widen(cut)
    assert(partsOf(w) == before, "widen must read the cut's actual block count, not byte stats")
  }

  /** Run `body` with the AQE advisory partition size set to `bytes`. */
  private def withAdvisory[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // The next two cases keep the names of the helpers `keyedWidth`
  // replaced; they check the same contracts through it.
  test("keyedPartitions derives width from measured bytes, clamped to the shuffle width") {
    val max = spark.sessionState.conf.numShufflePartitions
    val c = Reliability.cut((1 to 1000).toDF("x"))
    // a few KB of blocks against the 64 MB advisory size: the floor of
    // two, the narrowest width a keyed repartition keeps its hash layout
    assert(Reliability.keyedWidth(c) == 2)
    // one byte per partition: clamped to the shuffle width
    assert(withAdvisory(1L)(Reliability.keyedWidth(c)) == max)
    // nothing materialized to measure: the full shuffle width
    assert(Reliability.keyedWidth((1 to 1000).toDF("x")) == max)
  }

  test("cutSized reports the stored size of executor-local blocks") {
    val c = Reliability.cut((1 to 1000).toDF("x"))
    assert(c.count() == 1000)
    val rdd = c.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
    assert(rdd.isDefined, "a cut must read from a LogicalRDD")
    val bytes = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.get.id).map(i => i.memSize + i.diskSize)
    assert(bytes.exists(_ > 0L), s"expected measured block bytes, got $bytes")
    // the measurement, not the full-width fallback, sizes the width
    assert(Reliability.keyedWidth(c) < spark.sessionState.conf.numShufflePartitions)
  }

  test("keyedWidth measures the checkpoint files under the reliable policy") {
    val max = spark.sessionState.conf.numShufflePartitions
    val dir = Files.createTempDirectory("graft-keyed-width").toString
    spark.conf.set(Reliability.CheckpointDirKey, dir)
    try {
      val c = Reliability.cut((1 to 1000).toDF("x"))
      assert(Reliability.keyedWidth(c) == 2,
        "the reliable cut's file length must size the width, not the full-width fallback")
      assert(withAdvisory(1L)(Reliability.keyedWidth(c)) == max)
    } finally spark.conf.unset(Reliability.CheckpointDirKey)
  }

  test("inParallel waits for every builder before it rethrows a failure") {
    val thrown = new java.util.concurrent.CountDownLatch(1)
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.inParallel(2) {
        case 0 =>
          thrown.countDown()
          throw new IllegalStateException("builder 0")
        case _ =>
          // starts only once builder 0 is failing, then is still busy
          // when that failure reaches a fail-fast caller
          thrown.await()
          Thread.sleep(300)
          finished.set(true)
          spark.emptyDataFrame
      }
    }
    assert(e.getMessage == "builder 0")
    assert(finished.get, "inParallel rethrew while builder 1 was still running")
  }

  test("inParallel rethrows the first failure in index order, the others suppressed") {
    val e = intercept[IllegalStateException] {
      Par.inParallel(3) { i => if (i == 1) spark.emptyDataFrame else throw new IllegalStateException(s"builder $i") }
    }
    assert(e.getMessage == "builder 0")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("builder 2"))
  }

  test("inParallel returns any result type, in index order") {
    assert(Par.inParallel(3)(i => i * 2) == IndexedSeq(0, 2, 4))
  }
}
