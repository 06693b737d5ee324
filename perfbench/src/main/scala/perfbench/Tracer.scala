package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a Spark call site to the engine module that issued the job.
  *
  * A call site's long form is a stack trace: the last Spark method,
  * then the caller's frames, innermost first. The innermost `graft.`
  * frame names the engine file that asked for the job; a job whose only
  * caller frames are the benchmark's own is billed to `harness` (the
  * final action, the reads and the checks). */
object Attribution {

  val Harness = "harness"

  /** (class name, source file stem) of each frame in a long-form call site. */
  def frames(callSite: String): Seq[(String, String)] =
    callSite.split('\n').toSeq.flatMap { raw =>
      val line = raw.trim.stripPrefix("at ").trim
      val open = line.indexOf('(')
      if (open <= 0) None
      else {
        // drop a "loader//module/" prefix, then split class from method
        val qualified = line.substring(line.lastIndexOf('/', open) + 1, open)
        val dot = qualified.lastIndexOf('.')
        val file = line.substring(open + 1).takeWhile(c => c != ':' && c != ')')
        if (dot <= 0 || file.isEmpty) None
        else Some((qualified.substring(0, dot), file.takeWhile(_ != '.')))
      }
    }

  def module(callSite: String): Option[String] = {
    val fs = frames(callSite)
    fs.collectFirst { case (cls, file) if cls.startsWith("graft.") => engineModule(cls, file) }
      .orElse(fs.collectFirst { case (cls, _) if cls.startsWith("perfbench.") => Harness })
  }

  private def engineModule(cls: String, file: String): String =
    (cls.split('.').drop(1).dropRight(1).headOption.getOrElse(""), file) match {
      case ("sources", "LandingZone")  => "sources.landing"
      case ("operators", "DataChecks") => "operators.datachecks"
      case ("operators", "Upsert")     => "operators.upsert"
      case ("operators", _)            => "operators.scalar_fetch"
      case ("meta", "RunLog")          => "meta.runlog"
      case ("pipeline", _)             => "pipeline.runner"
      case ("core", "Reliability")     => "core.reliability"
      case ("analytics", _)            => "analytics.queries"
      case _                           => "engine.other"
    }

  /** Every module a job can be billed to, in report order. */
  val Modules: Seq[String] = Seq(
    "sources.landing", "operators.datachecks", "operators.upsert", "meta.runlog",
    "pipeline.runner", "core.reliability", "operators.scalar_fetch", "analytics.queries",
    "engine.other", Harness)
}

/** One Spark job as the traced run saw it: the module it is billed to,
  * the name of its final stage (`<method> at <File>:<line>`), and its
  * start and end as listener event times in epoch milliseconds. */
final case class JobRec(id: Int, module: Option[String], finalStage: String, startMs: Long, endMs: Long)

/** Everything the listeners saw while one operation ran. */
final class OpTrace(val startMs: Long) {
  var endMs: Long = startMs
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  var catalystS = 0.0
  var tasks = 0L
  var failedTasks = 0L
  var shuffleWriteBytes = 0L
  val outputBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val outputRecords = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var cachedPeakBytes = 0L

  def wallS: Double = (endMs - startMs) / 1e3

  /** Wall time during which no job of this operation was running. */
  def driverOnlyS: Double = {
    val spans = jobs.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    math.max(0.0, wallS - covered / 1e3)
  }

  def jobS(module: String): Double =
    jobs.filter(_.module.contains(module)).map(j => (j.endMs - j.startMs) / 1e3).sum
  def jobCount(module: String): Int = jobs.count(_.module.contains(module))
  def unattributed: Int = jobs.count(_.module.isEmpty)
}

/** The traced run's instruments: one [[SparkListener]] for jobs,
  * stages, tasks and cached blocks, and one [[QueryExecutionListener]]
  * for Catalyst phase times. Both are registered from outside the
  * engine. Events are billed to the operation open when the listener
  * bus delivers them; [[op]] drains the bus on both sides of the
  * operation so nothing leaks across. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  @volatile private var current: Option[OpTrace] = None
  private val executionSite = mutable.Map.empty[Long, String]
  private val stageModule = mutable.Map.empty[Int, Option[String]]
  private val jobStart = mutable.Map.empty[Int, (Long, Option[String], String)]
  private val cached = mutable.Map.empty[String, Long]
  private var cachedTotal = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Runs `body` as one traced operation. */
  def op[T](body: => T): (T, OpTrace) = {
    PerfbenchBridge.flushListeners(spark.sparkContext)
    val t = new OpTrace(System.currentTimeMillis())
    current = Some(t)
    try {
      val r = body
      t.endMs = System.currentTimeMillis()
      (r, t)
    } finally {
      PerfbenchBridge.flushListeners(spark.sparkContext)
      current = None
    }
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** The module of a job: through its SQL execution's call site when
    * it has one (AQE query-stage jobs are submitted from a pool thread,
    * so only the execution remembers the caller), else through the call
    * site of its final stage. */
  private def attribute(j: SparkListenerJobStart): Option[String] = {
    val viaExecution = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .flatMap(Attribution.module)
    viaExecution.orElse {
      val last = j.stageInfos.maxByOption(_.stageId)
      last.flatMap(s => Attribution.module(s.details))
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => executionSite(e.executionId) = e.details
    case _                                 => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val m = attribute(j)
    jobStart(j.jobId) = (j.time, m, j.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
    j.stageIds.foreach(s => stageModule(s) = m)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobStart.remove(j.jobId).foreach { case (start, m, stage) =>
      current.foreach(_.jobs += JobRec(j.jobId, m, stage, start, j.time))
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = current.foreach { o =>
    o.tasks += 1
    if (t.reason != org.apache.spark.Success) o.failedTasks += 1
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = current.foreach { o =>
    val m = Option(s.stageInfo.taskMetrics)
    m.foreach { tm =>
      o.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
      val module = stageModule.getOrElse(s.stageInfo.stageId, None).getOrElse("unattributed")
      o.outputBytes(module) += tm.outputMetrics.bytesWritten
      o.outputRecords(module) += tm.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
    val info = b.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedTotal += bytes - cached.getOrElse(key, 0L)
      if (bytes == 0L) cached.remove(key) else cached(key) = bytes
      current.foreach(o => o.cachedPeakBytes = math.max(o.cachedPeakBytes, cachedTotal))
    }
  }

  private def phasesS(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum / 1e3

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.foreach(_.catalystS += phasesS(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    current.foreach(_.catalystS += phasesS(qe))
}
