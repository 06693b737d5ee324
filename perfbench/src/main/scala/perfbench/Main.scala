package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark entry point: one workload, one fresh JVM, one session.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --work <dir> --cpus <n> --golden <dir>`
  * (`perfbench/run.py` builds the classpath and passes these). The
  * untraced run prints the end-to-end metrics; the traced run prints the
  * per-module metrics. Either way the last stdout line is one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`. */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      work: String,
      cpus: Int,
      golden: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      data = need("data"),
      work = need("work"),
      cpus = need("cpus").toInt,
      golden = need("golden"))
  }

  def session(a: Args): SparkSession = {
    val spark = graft.core.GraftSession.configure(SparkSession.builder().master(s"local[${a.cpus}]"))
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config(graft.plans.RangeJoinRewrite.SmallRightBytesKey, "65536")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${a.work}/checkpoints")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val result =
      try a.workload match {
        case "pipeline_weekly" => PipelineWeekly.run(spark, a, tracer)
        case w if QueryWorkload.workloads.contains(w) => QueryWorkload.run(spark, a, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally {
        tracer.foreach(_.stop())
        spark.stop()
      }
    result.print()
  }

  /** Seconds from JVM start until now: the set-up cost a user pays
    * before the first measured operation. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** What a workload hands back: counts, checks and named metrics. */
final class Result {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** name -> (value, unit), in insertion order. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Further figures printed for people, not part of the JSON line. */
  val report = mutable.LinkedHashMap.empty[String, String]

  def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }

  /** Runs `body`; a throw counts as a failed operation. */
  def guarded[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        attempted += 1; failed += 1; problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def print(): Unit = {
    problems.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
    report.foreach { case (k, v) => println(f"  $k%-44s $v") }
    metrics.foreach { case (k, (v, u)) => println(f"  $k%-44s $v%.6f $u") }
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean: every operation weighs the same, however long. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of nothing")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** JSON number with all measured digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Order-insensitive hash of a result: columns sorted by name, each
    * value rendered canonically (doubles to 6 significant digits, as
    * the oracle compare does), each row hashed, the row hashes summed
    * with the row count. Runs as one Spark job. */
  def resultHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val (sum1, sum2, n) = df.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*).rdd
      .map { r =>
        val s = canonRow(r)
        (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong,
          scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong, 1L)
      }
      .fold((0L, 0L, 0L)) { case ((a1, a2, a3), (b1, b2, b3)) => (a1 + b1, a2 + b2, a3 + b3) }
    f"$n:$sum1%016x$sum2%016x"
  }

  private def canon(v: Any): String = v match {
    case null                      => "null"
    case d: Double                 => "%.6g".formatLocal(java.util.Locale.ROOT, d)
    case f: Float                  => "%.6g".formatLocal(java.util.Locale.ROOT, f.toDouble)
    case r: Row                    => canonRow(r)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${canon(k)}=${canon(x)}" }.sorted.mkString("{", ",", "}")
    case b: Array[Byte]            => b.map("%02x".format(_)).mkString
    case x                         => x.toString
  }

  private def canonRow(r: Row): String = r.toSeq.map(canon).mkString("\u0001")
}
