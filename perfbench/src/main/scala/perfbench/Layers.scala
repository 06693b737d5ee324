package perfbench

import scala.collection.mutable

/** The per-module metrics of a traced run. Every name is printed on
  * every workload, and a module that did no work on a workload reads 0.
  * Counts, bytes and times are totals over one pass of the workload
  * (one sweep of the queries, or one FULL backfill plus its weekly runs
  * and reads). A module's job time is given as its share of the pass's
  * operation wall time, so an idle module prints 0 % rather than a
  * constant 0 s; `trace.pass_s` turns shares back into seconds. */
final class Layers {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  Layers.names.foreach { case (n, u) => values(n) = (0.0, u) }

  def put(name: String, v: Double): Unit = {
    val unit = values.getOrElse(name, throw new IllegalArgumentException(s"undeclared per-layer metric $name"))._2
    values(name) = (v, unit)
  }

  def emit(res: Result): Unit = values.foreach { case (n, (v, u)) => res.put(n, v, u) }
}

object Layers {
  val names: Seq[(String, String)] =
    Attribution.Modules.flatMap(m => Seq(s"$m.job_share" -> "%", s"$m.jobs" -> "count")) ++ Seq(
      "unattributed_jobs" -> "count",
      "ops.driver_only_s" -> "s",
      "ops.catalyst_s" -> "s",
      "ops.jobs" -> "count",
      "ops.tasks" -> "count",
      "ops.failed_tasks" -> "count",
      "ops.shuffle_mb" -> "MB",
      "core.reliability.cached_mb_peak" -> "MB",
      "analytics.build_share" -> "%",
      "analytics.action_share" -> "%",
      "sources.landing.rows" -> "rows",
      "sources.landing.mb_written" -> "MB",
      "operators.upsert.mb_rewritten" -> "MB",
      "operators.upsert.partitions_touched" -> "count",
      "meta.runlog.files" -> "count",
      "pipeline.increment_bytes_written_per_row" -> "B/row",
      "pipeline.stored_bytes_per_row" -> "B/row",
      "trace.pass_s" -> "s")

  /** The metrics every workload derives the same way from its traced
    * operations, `perPass` being 1 / (passes in the run). */
  def fromOps(ops: Seq[OpTrace], perPass: Double): Layers = {
    val l = new Layers
    Attribution.Modules.foreach { m =>
      l.put(s"$m.job_share", share(ops, ops.map(_.jobS(m)).sum))
      l.put(s"$m.jobs", ops.map(_.jobCount(m)).sum * perPass)
    }
    l.put("unattributed_jobs", ops.map(_.unattributed).sum.toDouble)
    l.put("ops.driver_only_s", ops.map(_.driverOnlyS).sum * perPass)
    l.put("ops.catalyst_s", ops.map(_.catalystS).sum * perPass)
    l.put("ops.jobs", ops.map(_.jobs.size).sum * perPass)
    l.put("ops.tasks", ops.map(_.tasks).sum * perPass)
    l.put("ops.failed_tasks", ops.map(_.failedTasks).sum * perPass)
    l.put("ops.shuffle_mb", ops.map(_.shuffleWriteBytes).sum * perPass / 1e6)
    l.put("core.reliability.cached_mb_peak", ops.map(_.cachedPeakBytes).maxOption.getOrElse(0L) / 1e6)
    l
  }

  /** The check on the attribution itself, one attempted operation:
    * every traced job must be billed to a module. */
  def checkAttributed(ops: Seq[OpTrace], res: Result): Unit = {
    val lost = ops.flatMap(_.jobs).filter(_.module.isEmpty)
    res.attempt(lost.isEmpty,
      s"${lost.size} unattributed jobs, final stages: ${lost.map(_.finalStage).distinct.mkString("; ")}")
  }

  /** Share of `ops`' wall time that `part` seconds make up. */
  def share(ops: Seq[OpTrace], part: Double): Double = {
    val wallS = ops.map(_.wallS).sum
    if (wallS > 0) 100.0 * part / wallS else 0.0
  }
}
