package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.analytics.Queries
import org.apache.spark.sql.SparkSession

/** The query workloads over `graft.analytics.Queries.all`.
  *
  * A closed loop with one caller: each query is built (`QueryDef.fn`)
  * and forced through a `noop` sink, and the next starts only when it
  * returns. A pass runs every query of the workload once, in an order
  * drawn from the seed; passes repeat whole until `--seconds` have
  * passed and at least the workload's `minPasses` ran, so every query
  * has the same number of samples.
  * Set-up runs one untimed pass that checks every query's canonical
  * result hash against the golden hash recorded from the seed code;
  * that pass is also the warm-up. */
object QueryWorkload {

  /** A workload's queries, and the fewest whole passes it measures:
    * cheap queries take more passes, so each query's median rests on
    * more than one sample. */
  final case class QuerySet(queries: Seq[String], minPasses: Int)

  val workloads: Map[String, QuerySet] = Map(
    // multi-job queries with eager lineage cuts and driver-side loops:
    // cut work, scalar fetches and driver-only time dominate
    "query_iterative" -> QuerySet(Seq("t28_curation_chain", "t27_quantile_maintenance", "g01_graph_rank"), 1),
    // one action each and no lineage cut: Catalyst planning and plain
    // execution dominate
    "query_single_pass" -> QuerySet(Seq(
      "q03_groupby_agg", "j04_band_join_auto", "v01_view_chain", "st01_tumbling", "s01_ann_bruteforce",
      "s11_pq_adc", "t01_lang_id", "m04_real_decode"), 3))

  def run(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Result = {
    val res = new Result
    val QuerySet(queries, minPasses) = workloads(a.workload)
    val byName = Queries.all.map(q => q.name -> q).toMap
    val golden = Golden.load(s"${a.golden}/${a.workload}.tsv")
    def clearCache(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def runOnce(name: String): (Double, Double) = {
      val (df, buildS) = Main.timed(byName(name).fn(spark, a.data))
      val (_, actionS) = Main.timed(df.write.format("noop").mode("overwrite").save())
      (buildS, actionS)
    }

    // set-up: one untimed pass that checks each result against its
    // golden hash and warms plans, codegen and JIT
    val coldS = mutable.Map.empty[String, Double]
    val healthy = new scala.util.Random(a.seed).shuffle(queries).filter { n =>
      val (h, secs) = Main.timed(res.guarded(s"$n hash")(Stats.resultHash(byName(n).fn(spark, a.data))))
      coldS(n) = secs
      clearCache()
      h.foreach { hash =>
        res.attempt(golden.get(n).contains(hash), s"$n: result hash $hash, golden ${golden.getOrElse(n, "missing")}")
      }
      h.isDefined
    }.toSet
    val setupS = Main.sinceJvmStartS()

    // measured closed loop, whole passes only
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traces = mutable.ArrayBuffer.empty[(OpTrace, Double, Double)]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      new scala.util.Random(a.seed * 1000003L + pass + 1).shuffle(queries).foreach { n =>
        if (healthy(n)) {
          val (timing, s) = Main.timed(res.guarded(n)(tracer match {
            case Some(t) =>
              val ((b, ac), tr) = t.op(runOnce(n))
              traces += ((tr, b, ac)); (b, ac)
            case None => runOnce(n)
          }))
          if (timing.isDefined) {
            res.attempted += 1
            samples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
          }
        }
        clearCache()
      }
      pass += 1
    }

    val medians = queries.flatMap(n => samples.get(n).map(xs => n -> Stats.median(xs.toSeq))).toMap
    val all = samples.values.flatten.toSeq
    val sweepS = medians.values.sum
    val geoS = Stats.geomean(medians.values.toSeq)
    res.report("workload") = s"${a.workload} seed=${a.seed} queries=${queries.size} passes=$pass samples=${all.size}"
    res.report("sweep_s") = f"$sweepS%.4f s"
    res.report("query_p50_s") = f"${Stats.median(all)}%.4f s (${all.size} samples)"
    res.report("query_p90_s") =
      if (all.size >= 100) f"${Stats.quantile(all, 0.9)}%.4f s (${all.size} samples)"
      else s"not reported: ${all.size} samples, fewer than 10 beyond p90"
    queries.foreach { n =>
      res.report(s"query $n") = f"cold ${coldS.getOrElse(n, Double.NaN)}%.3f s, median ${medians.getOrElse(n, Double.NaN)}%.3f s"
    }
    res.report("failure_ratio") = f"${res.failed.toDouble / math.max(1, res.attempted)}%.4f (${res.failed}/${res.attempted})"

    if (tracer.isEmpty) {
      res.put("setup_s", setupS, "s")
      res.put("pass_s", sweepS, "s")
      res.put("op_geomean_s", geoS, "s")
    } else {
      val traced = traces.map(_._1).toSeq
      Layers.checkAttributed(traced, res)
      val layers = Layers.fromOps(traced, 1.0 / pass)
      layers.put("trace.pass_s", sweepS)
      layers.put("analytics.build_share", Layers.share(traced, traces.map(_._2).sum))
      layers.put("analytics.action_share", Layers.share(traced, traces.map(_._3).sum))
      layers.emit(res)
    }
    res
  }
}

/** Golden result hashes, one `name<TAB>hash` per line. */
object Golden {
  def load(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.toSeq.map(_.split('\t')).collect { case Array(n, h) => n -> h }.toMap
  }
}
