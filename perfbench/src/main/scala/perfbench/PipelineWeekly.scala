package perfbench

import java.io.File
import java.time.LocalDate
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import graft.pipeline.Runner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The paper's weekly ETL workload through `graft.pipeline.Runner`.
  *
  * One pass: a FULL backfill of one year of month windows, then
  * [[Weeks]] INCREMENT runs, each followed by a fixed read of the two
  * catalog tables the runner registers. Rows come from the `graft-api`
  * connector's simulator transport; the engine sees only the options.
  * Row `i` of the simulator is key `C<1000000+i>` and lives on day
  * `baseDate + i % nDays`, and an INCREMENT fetches the eight days
  * `[day(high-water), loadDate]`. So a week's options decide its batch:
  * keys whose residue `i % nDays` falls on those days land, keys below
  * the previous key range are updates, keys above it are inserts, and
  * an update whose new day falls in another year moves the key to
  * another `occ_year` partition.
  *
  * The weekly mix is synthetic (the reference publishes no volumes):
  * a FULL year's keys / 52 new keys, and [[UpdatesPerNewKey]] updates
  * to existing keys for each. */
object PipelineWeekly {

  val FullRows = 20000
  val PageSize = 5000
  val Weeks = 2
  /** 4 updates per new key: 80 % of a weekly batch updates existing keys. */
  val UpdatesPerNewKey = 4
  private val YearEnd = LocalDate.of(2026, 1, 1)

  final case class Week(load: LocalDate, base: LocalDate, nDays: Int, totalRows: Int) {
    def options: Map[String, String] = Map(
      "totalRows" -> totalRows.toString, "pageSize" -> PageSize.toString,
      "baseDate" -> base.toString, "nDays" -> nDays.toString)
  }

  /** The FULL run (`full`) and the weekly runs. The batch sizes are
    * fixed; the seed picks only which week crosses into the new year
    * and, for each week, which keys it updates. */
  final case class Schedule(epoch: LocalDate, full: Week, weeks: Seq[Week], crossWeek: Int)

  def schedule(seed: Long, fullRows: Int, months: Int, weeks: Int): Schedule = {
    val rnd = new scala.util.Random(seed)
    val cross = 1 + rnd.nextInt(weeks)
    val fullLoad = YearEnd.minusDays(7L * cross - rnd.nextInt(7))
    val epoch = fullLoad.minusMonths(months).plusDays(1)
    val full = Week(fullLoad, epoch, ChronoUnit.DAYS.between(epoch, fullLoad).toInt + 1, fullRows)
    val newKeys = fullRows / 52
    val updates = newKeys * UpdatesPerNewKey
    var keys = fullRows
    val ws = (1 to weeks).map { w =>
      val load = fullLoad.plusDays(7L * w)
      // 8 of the nDays residues land, so about 8 / nDays of the existing
      // keys update and 8 / nDays of the key growth lands as inserts;
      // nDays and the growth are set so both come out at the fixed mix
      val nDays = math.round(8.0 * keys / updates).toInt
      keys += newKeys * nDays / 8
      // the landing residues are [shift, shift + 7]; the seed picks them
      val shift = rnd.nextInt(nDays - 7)
      Week(load, load.minusDays(7L + shift), nDays, keys)
    }
    Schedule(epoch, full, ws, cross)
  }

  /** The state the schedule must produce, replayed from the simulator's
    * row rule and the runner's documented window
    * `[day(high-water), loadDate]`. */
  final class Expected(s: Schedule) {
    private val day = Array.fill(s.weeks.last.totalRows)(Long.MinValue)
    val batchRows: Seq[Int] = {
      (0 until s.full.totalRows).foreach(i => day(i) = s.full.base.toEpochDay + i % s.full.nDays)
      var hw = s.full.load.toEpochDay
      s.weeks.map { w =>
        val load = w.load.toEpochDay
        var n = 0
        (0 until w.totalRows).foreach { i =>
          val d = w.base.toEpochDay + i % w.nDays
          if (d >= hw && d <= load) { n += 1; if (d >= day(i)) day(i) = d }
        }
        hw = load
        n
      }
    }
    private def live = day.iterator.filter(_ != Long.MinValue)
    def keys: Long = live.size.toLong
    /** occ_year -> live keys after the last week. */
    def perYear: Map[Int, Long] =
      live.map(d => LocalDate.ofEpochDay(d).getYear).toSeq.groupBy(identity).map { case (y, v) => y -> v.size.toLong }
    def maxUpdated: java.sql.Timestamp = java.sql.Timestamp.valueOf(s"${s.weeks.last.load} 12:00:00")
  }

  /** Every file under `dir`: path -> (bytes, modification time). */
  private def listing(dir: File): Map[String, (Long, Long)] =
    if (!dir.exists()) Map.empty
    else {
      val out = mutable.Map.empty[String, (Long, Long)]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else out(f.getPath) = (f.length(), f.lastModified())
      walk(dir)
      out.toMap
    }

  private def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Seq[(String, Long)] =
    after.toSeq.collect { case (p, v @ (len, _)) if !before.get(p).contains(v) => (p, len) }

  /** Per-pass records of one cycle. */
  final class Cycle {
    val opS = mutable.ArrayBuffer.empty[Double] // full, then (increment, read) per week
    val incS = mutable.ArrayBuffer.empty[Double]
    val readS = mutable.ArrayBuffer.empty[Double]
    var fullS = 0.0
    var writtenBytes = 0L
    var batchRows = 0L
    var storedBytes = 0L
    var liveKeys = 0L
    var partitionsTouched = 0
    var runlogFiles = 0
    val traces = mutable.ArrayBuffer.empty[OpTrace]
  }

  /** Runs one timed operation of cycle `c`, keeping its trace when
    * tracing; returns its result and wall seconds. */
  private def timedOp[T](c: Cycle, tracer: Option[Tracer])(body: => T): (T, Double) = tracer match {
    case Some(t) =>
      val (m, tr) = t.op(Main.timed(body))
      c.traces += tr
      m
    case None => Main.timed(body)
  }

  /** One FULL backfill plus the weekly runs into a fresh directory,
    * then the output checks. */
  def cycle(spark: SparkSession, dir: File, prefix: String, s: Schedule, res: Result, tracer: Option[Tracer],
      checked: Boolean = true): Cycle = {
    val c = new Cycle
    val exp = new Expected(s)
    val runner = new Runner(spark, dir.getPath, epochStart = s.epoch.toString, tablePrefix = prefix)
    /** One runner call; returns the bytes it wrote. */
    def run(id: String, w: Week): Long = {
      val before = listing(dir)
      val (status, secs) = timedOp(c, tracer)(runner.runWithConnector(id, w.load.toString, w.options))
      val changed = written(before, listing(dir))
      res.attempt(status == "SUCCESS", s"$prefix $id: status $status")
      c.opS += secs
      if (id == "full") c.fullS = secs else c.incS += secs
      c.partitionsTouched += changed.flatMap { case (p, _) =>
        "warehouse_[ab]/crime/occ_year=[^/]+".r.findFirstIn(p)
      }.distinct.size
      c.runlogFiles += changed.count { case (p, _) => p.contains("/logs/") && new File(p).getName.startsWith("part-") }
      changed.map(_._2).sum
    }
    def read(): Unit = {
      val (rows, secs) = timedOp(c, tracer)(Seq("a", "b").map { side =>
        spark.table(s"${prefix}_crime_$side").groupBy("occ_year")
          .agg(count(lit(1)).as("n"), max("source_updated_on").as("hw"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      })
      res.attempt(rows.distinct.size == 1, s"$prefix read: replicas disagree ${rows.mkString(" vs ")}")
      c.opS += secs
      c.readS += secs
    }

    run("full", s.full)
    s.weeks.zip(exp.batchRows).zipWithIndex.foreach { case ((w, rows), k) =>
      c.writtenBytes += run(s"week-${k + 1}", w)
      c.batchRows += rows
      read()
    }
    c.storedBytes = listing(dir).values.map(_._1).sum
    c.liveKeys = exp.keys
    if (checked) check(spark, runner, prefix, s, exp, res)
    c
  }

  /** Output checks; each counts as one attempted operation. */
  private def check(spark: SparkSession, runner: Runner, prefix: String, s: Schedule, exp: Expected, res: Result): Unit = {
    def ok(what: String)(cond: => Boolean): Unit =
      res.guarded(s"$prefix $what")(cond).foreach(b => res.attempt(b, s"$prefix $what"))
    val a = spark.read.parquet(runner.replicaA)
    ok("replica A equals replica B")(Stats.resultHash(a) == Stats.resultHash(spark.read.parquet(runner.replicaB)))
    ok("crime_id unique and key count as generated") {
      val r = a.agg(count(lit(1)), countDistinct("crime_id")).first()
      r.getLong(0) == exp.keys && r.getLong(1) == exp.keys
    }
    ok("latest source_updated_on as generated")(
      a.agg(max("source_updated_on")).first().getTimestamp(0) == exp.maxUpdated)
    ok("live keys per occ_year as generated")(
      spark.table(s"${prefix}_crime_a").groupBy("occ_year").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap == exp.perYear)
    val dates = (s.full +: s.weeks).map(w => java.sql.Date.valueOf(w.load)).toSet
    Seq(runner.logsA, runner.logsB).zip(Seq("a", "b")).foreach { case (log, side) =>
      ok(s"run log $side reads SUCCESS for every load date") {
        val rows = log.read().select("load_date", "status").collect()
        rows.length == dates.size && rows.map(_.getDate(0)).toSet == dates && rows.forall(_.getString(1) == "SUCCESS")
      }
    }
    ok("syncRepair finds nothing to repair")(runner.syncRepair(s"$prefix-sync") == 0)
  }

  def run(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Result = {
    val res = new Result
    val sched = schedule(a.seed, FullRows, 12, Weeks)

    // set-up: a one-month backfill and one week into a throwaway
    // directory, so JIT, codegen and class loading are paid here
    val warm = schedule(a.seed, FullRows / 10, 1, 1)
    cycle(spark, new File(a.work, "warmup"), "warmup", warm, res, None, checked = false)
    val setupS = Main.sinceJvmStartS()

    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val t0 = System.nanoTime()
    while (cycles.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val n = cycles.size + 1
      cycles += cycle(spark, new File(a.work, s"pipeline-$n"), s"bench$n", sched, res, tracer)
    }

    val passS = cycles.head.opS.indices.map(i => Stats.median(cycles.map(_.opS(i)).toSeq)).sum
    val incs = cycles.flatMap(_.incS).toSeq
    val backfill = FullRows / Stats.median(cycles.map(_.fullS).toSeq)
    val bytesPerRow = cycles.map(_.writtenBytes).sum.toDouble / cycles.map(_.batchRows).sum
    val storedPerRow = cycles.map(c => c.storedBytes.toDouble / c.liveKeys).sum / cycles.size
    val readS = Stats.median(cycles.flatMap(_.readS).toSeq)
    res.report("workload") =
      s"pipeline_weekly seed=${a.seed} cycles=${cycles.size} full_rows=$FullRows weeks=$Weeks " +
        s"year_crossed_in_week=${sched.crossWeek} batch_rows=${new Expected(sched).batchRows.mkString(",")}"
    res.report("backfill_rows_per_s") = f"$backfill%.1f rows/s"
    res.report("increment_s") = f"${Stats.median(incs)}%.4f s (${incs.size} samples)"
    res.report("increment_bytes_written_per_row") = f"$bytesPerRow%.1f B/row"
    res.report("stored_bytes_per_row") = f"$storedPerRow%.1f B/row"
    res.report("warehouse_read_s") = f"$readS%.4f s"
    res.report("failure_ratio") = f"${res.failed.toDouble / math.max(1, res.attempted)}%.4f (${res.failed}/${res.attempted})"

    if (tracer.isEmpty) {
      res.put("setup_s", setupS, "s")
      res.put("pass_s", passS, "s")
      res.put("op_geomean_s", Stats.geomean(incs), "s")
    } else {
      val perPass = 1.0 / cycles.size
      val ops = cycles.flatMap(_.traces).toSeq
      Layers.checkAttributed(ops, res)
      val layers = Layers.fromOps(ops, perPass)
      layers.put("trace.pass_s", passS)
      layers.put("sources.landing.rows", ops.map(_.outputRecords("sources.landing")).sum * perPass)
      layers.put("sources.landing.mb_written", ops.map(_.outputBytes("sources.landing")).sum * perPass / 1e6)
      layers.put("operators.upsert.mb_rewritten", ops.map(_.outputBytes("operators.upsert")).sum * perPass / 1e6)
      layers.put("operators.upsert.partitions_touched", cycles.map(_.partitionsTouched).sum * perPass)
      layers.put("meta.runlog.files", cycles.map(_.runlogFiles).sum * perPass)
      layers.put("pipeline.increment_bytes_written_per_row", bytesPerRow)
      layers.put("pipeline.stored_bytes_per_row", storedPerRow)
      layers.emit(res)
    }
    res
  }
}
