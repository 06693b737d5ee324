package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.internal.SQLConf

/** Lineage-cut policy for the engine's iterative operators (PageRank,
  * min-label cluster propagation, k-means training).
  *
  * Each round of an iterative operator materializes its working set and
  * cuts lineage — otherwise round k's job re-derives rounds 1..k-1 and
  * the plan grows without bound. HOW the cut stores its blocks is a
  * fault-tolerance choice, not a semantics choice:
  *
  *   - `localCheckpoint()` keeps blocks on executors. Fast (no
  *     filesystem round trip), right for `local[*]` and short-lived
  *     jobs — but lineage is GONE, so on a real cluster one lost
  *     executor after round k kills the whole job unrecoverably.
  *   - reliable `checkpoint()` writes blocks to the checkpoint
  *     directory (HDFS/S3 on a cluster). A lost executor re-reads the
  *     checkpoint files and the job continues — the recovery contract a
  *     1000-executor, hours-long iteration needs (the reference's
  *     checkpoint/resume capability, crime_etl.py:132-168, applied at
  *     the operator level).
  *
  * The knob is the session conf [[Reliability.CheckpointDirKey]]: unset
  * (the default) → executor-local cut; set to a directory → reliable
  * cut through that directory. Results are bit-for-bit the same either
  * way — the reliable path is spec-gated on exactly that equality.
  *
  * Partitioning contract: [[cut]] plans adaptively like any query and
  * writes no session conf, so it is safe from concurrent
  * [[Par.inParallel]] builders. A cut whose final plan is hash
  * partitioned declares that partitioning on its `LogicalRDD`, so a
  * downstream join or aggregation on the same key reads the blocks
  * without a shuffle — under either policy. AQE never coalesces a
  * `repartition(n, key)`, so that is how a caller asks for a keyed
  * layout; a bare `repartition(key)` comes back coalesced and the cut
  * declares no partitioning.
  */
object Reliability {

  /** Session conf: directory for reliable checkpoints. Unset → cuts are
    * executor-local (`localCheckpoint`).
    *
    * Storage lifecycle: each round of an iterative operator writes a
    * working-set snapshot under this directory, so superseded rounds
    * must be garbage-collected or a long job accumulates unbounded
    * checkpoint storage. [[GraftSession]] enables
    * `spark.cleaner.referenceTracking.cleanCheckpoints` (Spark's
    * ContextCleaner then deletes a round's files once its RDD is
    * unreachable); that flag is read ONCE at SparkContext start, so a
    * deployment building its own session must set it in the submit
    * conf — or point the dir at storage with an external TTL/lifecycle
    * rule. */
  val CheckpointDirKey = "spark.graft.checkpoint.dir"

  /** Materialize `df` and cut its lineage under the session's
    * checkpoint policy (see object doc), keeping the final plan's hash
    * partitioning.
    *
    * `eager = false` defers the block write to the first action on the
    * result, saving one job where the next step is a single total
    * aggregation over the cut. Under AQE the cut still runs the plan's
    * shuffle stages here, since planning the final stage needs them.
    * Callers that fan the result into several actions keep the eager
    * default so the materialization isn't attributed to an arbitrary
    * first consumer. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val c = spark.conf.getOption(CheckpointDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir mints a fresh UUID subdirectory per call —
        // apply it once per configured base, not once per round
        val base = new Path(dir)
        val qualified = base.getFileSystem(sc.hadoopConfiguration).makeQualified(base)
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
    // the adaptive wrapper reports UnknownPartitioning, so Spark's own
    // LogicalRDD drops the layout; the final plan still knows it
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (c.queryExecution.analyzed, finalPlan.outputPartitioning) match {
      case (l: LogicalRDD, h: HashPartitioning) if h.references.subsetOf(l.outputSet) =>
        // makeCopy appends the stats and constraints Spark recorded
        GraftSqlBridge.ofRows(spark, l.makeCopy(Array(
          l.output, l.rdd, h, l.outputOrdering, Boolean.box(l.isStreaming), l.stream)))
      case _ => c
    }
  }

  /** Partition count for a keyed repartition of `copies` times the
    * rows of the cut `c`: `ceil(bytes / advisoryPartitionSizeInBytes)`
    * clamped to `[2, spark.sql.shuffle.partitions]`. The floor is 2
    * because `repartition(1, key)` plans as `SinglePartition`, which no
    * join can co-partition with. The bytes are measured, not estimated
    * — a post-join plan's `sizeInBytes` is off by orders of magnitude,
    * but the blocks just written have an exact size: the executor-local
    * blocks' stored (deserialized) size, or the reliable checkpoint
    * files' length. Deserialized blocks run larger than the serialized
    * shuffle bytes the advisory size is calibrated for, so the local
    * policy can overshoot — the safe direction. Full shuffle width when
    * neither is found. */
  def keyedWidth(c: DataFrame, copies: Int = 1): Int = {
    val conf = c.sparkSession.sessionState.conf
    val max = conf.numShufflePartitions
    val sc = c.sparkSession.sparkContext
    val bytes = c.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.flatMap { rdd =>
      sc.getRDDStorageInfo.find(_.id == rdd.id).map(i => i.memSize + i.diskSize)
        .orElse(rdd.getCheckpointFile.map { f =>
          val p = new Path(f)
          p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength
        })
    }
    bytes match {
      case Some(b) =>
        val adv = math.max(1L, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        math.min(max.toLong, math.max(2L, (b * copies + adv - 1) / adv)).toInt
      case None => max
    }
  }
}
